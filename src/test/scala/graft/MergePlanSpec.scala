package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** The MERGE plan (ManifestTable.merge): the target's files are
  * scanned twice — a live probe of the candidates, a rewrite of the
  * affected files — and a source under the broadcast threshold runs no
  * shuffle. Pins the plan through a SparkListener (jobs, parquet
  * records read, shuffle bytes written), and the live probe's
  * contract: a target row hidden by a deletion vector or a lazy
  * tombstone matches nothing, so its key inserts and its file carries
  * by reference. */
class MergePlanSpec extends AnyFunSuite with SparkFixture {

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_mplan").toString

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("id", "v")
  }

  private val TagKey = "mergePlanSpec.tag"

  /** (jobs, parquet records read, shuffle bytes written) of the Spark
    * jobs `body` launches from this thread (broadcasts included: they
    * inherit the thread's local properties). */
  private def measured(body: => Unit): (Int, Long, Long) = {
    val tag = java.util.UUID.randomUUID().toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val records = new AtomicLong
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(TagKey) == tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try body
    finally {
      sc.setLocalProperty(TagKey, null)
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, records.get, shuffled.get)
  }

  test("a 1,000-row local MERGE into a 2-file table: no shuffle, at most 6 jobs, two scans") {
    val t = fresh()
    // 20,000 even ids in two range files: [0, 19998] and [20000, 39998]
    ManifestTable.commit(spark, t,
      spark.range(0, 20000).select((col("id") * 2).as("id"),
        concat(lit("v"), col("id").cast("string")).as("v"))
        .repartitionByRange(2, col("id")),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    val before = ManifestTable.snapshotFiles(spark, t)
    assert(before.size === 2)
    assert(ManifestTable.deleteVectors(spark, t).isEmpty)
    val stats = ManifestTable.snapshotStats(spark, t)
    def rowsOf(f: String): Long = stats(f)(ManifestTable.RowsKey)._1.toLong
    // 500 matched keys and 500 new ones, all inside the first file's range
    val updates = df((0 until 500).flatMap(i =>
      Seq(i * 4L -> s"u$i", (i * 4L + 1) -> s"n$i")): _*)
    val (lo, hi) = (0.0, 1997.0)
    val candidates = before.filter { f =>
      val (mn, mx) = stats(f)("id"); mn <= hi && mx >= lo }
    assert(candidates.size === 1)
    val (jobs, records, shuffled) =
      measured(ManifestTable.merge(spark, t, updates, Seq("id")))
    info(s"jobs $jobs, parquet records read $records, shuffle bytes $shuffled")
    val affected = before.filterNot(ManifestTable.snapshotFiles(spark, t).toSet)
    assert(affected === candidates)
    assert(shuffled === 0L, "a broadcastable source must not shuffle")
    assert(jobs <= 6, s"MERGE ran $jobs jobs")
    assert(records <= candidates.map(rowsOf).sum + affected.map(rowsOf).sum,
      s"MERGE read $records parquet records: more than one probe of the " +
        "candidates plus one rewrite of the affected files")
    val got = ManifestTable.read(spark, t)
    assert(got.count() === 20500L)
    assert(got.filter(col("v").startsWith("u")).count() === 500L)
    assert(got.filter(col("v").startsWith("n")).count() === 500L)
    assert(got.groupBy("id").count().filter(col("count") > 1).isEmpty)
  }

  test("a key whose only row a deletion vector hides inserts; its file carries by reference") {
    val t = fresh()
    ManifestTable.commit(spark, t,
      df((1L to 20L).map(i => i -> s"v$i"): _*).repartitionByRange(2, col("id")),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.deleteWhereVector(spark, t, col("id") === 5L)
    val vectors = ManifestTable.deleteVectors(spark, t)
    assert(vectors.size === 1)
    val before = ManifestTable.snapshotFiles(spark, t).toSet
    ManifestTable.merge(spark, t, df(5L -> "new"), Seq("id"))
    assert(before.subsetOf(ManifestTable.snapshotFiles(spark, t).toSet),
      "the hidden row matches nothing: no file rewrites")
    assert(ManifestTable.deleteVectors(spark, t) === vectors)
    val got = ManifestTable.read(spark, t)
    assert(got.count() === 20L)
    assert(got.filter(col("id") === 5L).collect().map(_.getString(1)).toSeq === Seq("new"))
  }

  test("a key whose only row a lazy tombstone hides inserts; its file carries by reference") {
    val t = fresh()
    ManifestTable.commit(spark, t,
      df((1L to 20L).map(i => i -> s"v$i"): _*).repartitionByRange(2, col("id")),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.deleteWhereLazy(spark, t, col("id") === 15L)
    val tombs = ManifestTable.deleteTombstones(spark, t)
    assert(tombs.size === 1)
    val before = ManifestTable.snapshotFiles(spark, t).toSet
    ManifestTable.merge(spark, t, df(15L -> "new"), Seq("id"))
    assert(before.subsetOf(ManifestTable.snapshotFiles(spark, t).toSet),
      "the hidden row matches nothing: no file rewrites")
    assert(ManifestTable.deleteTombstones(spark, t) === tombs)
    val got = ManifestTable.read(spark, t)
    assert(got.count() === 20L)
    assert(got.filter(col("id") === 15L).collect().map(_.getString(1)).toSeq === Seq("new"))
  }
}
