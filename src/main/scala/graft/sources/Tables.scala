package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed loaders for the driver-generated parquet testdata (TESTDATA.md,
  * FIXTURES.md §1). Capability parity with the reference's source scans
  * ([R] etl.py process_song_data / process_log_data — `spark.read.json`
  * over S3 globs); here the at-rest format is parquet per the harness
  * contract. Parquet scans use the file-footer schema — no inference —
  * which is the right 100 TB stance (SURVEY.md §7.5).
  */
object Tables {
  /** Footer schema per source path, inferred once per JVM (r19): the
    * testdata is immutable within a run, but every plain
    * `spark.read.parquet` re-runs the footer-inference job — ~0.03 s ×
    * one-to-three source reads × 227 bench queries. Keyed on the two
    * session confs that change what a footer infers to, so differently
    * configured test sessions never share an entry. Schema METADATA
    * only — no data or results are ever cached across runs. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val key = p + "|" +
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") + "|" +
      spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val sch = schemaCache.computeIfAbsent(key, _ => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(p)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** events.ts normalization — the generator's at-rest form has varied
    * across driver versions, and every variant lands here as µs
    * TimestampType (LTZ) so the whole engine and its oracles see ONE
    * type:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with
    *    spark.sql.legacy.parquet.nanosAsLong (set by every graft
    *    session) it surfaces as epoch-nanos LongType → convert to µs
    *    (identical to DuckDB's ns→TIMESTAMP truncation);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ (inferTimestampNTZ defaults on) → cast to
    *    TimestampType, which under the fixture's UTC session timezone
    *    keeps the same wall-clock instant DuckDB's naive read sees. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
