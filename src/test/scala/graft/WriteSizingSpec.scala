package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.ManifestTable

/** Write sizing (ManifestTable.sizedPartitions): a write whose frame
  * declares no layout lands one file per
  * `adaptive.coalescePartitions.minPartitionSize` (1 MB) of input, not
  * one per input task — while a declared layout, a write estimated at
  * `defaultParallelism` MB or more, and a write of unknown size keep
  * the file count they had. The fixture session is `local[4]`, so
  * every "1 file" below was 4 or more files without the rule. */
class WriteSizingSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_sizing").toString

  private def rows(from: Int, to: Int): DataFrame = {
    import spark.implicits._
    (from to to).map(i => (i.toLong, s"v$i")).toDF("id", "v")
  }

  private def added(t: String, before: Int): Set[String] =
    ManifestTable.snapshotFiles(spark, t).toSet --
      ManifestTable.snapshotFiles(spark, t, before).toSet

  test("a 1,000-row append writes one file") {
    assert(spark.sparkContext.defaultParallelism === 4)
    val local = freshTable()
    ManifestTable.commit(spark, local, rows(1, 1000))
    assert(ManifestTable.snapshotFiles(spark, local).size === 1)
    // a frame spread over 4 tasks: still one file
    val spread = freshTable()
    ManifestTable.commit(spark, spread,
      spark.range(0, 1000, 1, 4).withColumn("v", col("id").cast("string")))
    assert(ManifestTable.snapshotFiles(spark, spread).size === 1)
    assert(ManifestTable.read(spark, spread).count() === 1000L)
  }

  test("a MERGE whose rewritten files plus source total under 1 MB writes one file") {
    val t = freshTable()
    // four range files, each holding keys the merge matches
    ManifestTable.commit(spark, t, rows(1, 1000).repartitionByRange(4, col("id")))
    assert(ManifestTable.snapshotFiles(spark, t).size === 4)
    assert(ManifestTable.snapshotSizes(spark, t).values.sum < (1L << 20))
    val v1 = ManifestTable.currentVersion(spark, t)
    import spark.implicits._
    val updates = ((1 to 1000 by 50).map(i => (i.toLong, s"u$i")) ++
      (2001 to 2010).map(i => (i.toLong, s"n$i"))).toDF("id", "v")
    ManifestTable.merge(spark, t, updates, Seq("id"))
    assert(ManifestTable.snapshotFiles(spark, t).size === 1,
      "every base file held a matched key, so all four rewrite into one")
    assert(added(t, v1).size === 1)
    val got = ManifestTable.read(spark, t)
    assert(got.count() === 1010L)
    assert(got.filter(col("id") === 51L).select("v").as[String].collect().toSeq === Seq("u51"))
  }

  test("UPDATE and DELETE rewrites of small files write one file") {
    val t = freshTable()
    ManifestTable.commit(spark, t, rows(1, 1000).repartitionByRange(4, col("id")))
    val v1 = ManifestTable.currentVersion(spark, t)
    ManifestTable.updateWhere(spark, t, Seq("v" -> lit("x")), col("id") % 100 === 0)
    assert(added(t, v1).size === 1)
    val v2 = ManifestTable.currentVersion(spark, t)
    ManifestTable.deleteWhere(spark, t, col("id") % 100 === 1)
    assert(added(t, v2).size === 1)
    assert(ManifestTable.read(spark, t).count() === 990L)
    assert(ManifestTable.read(spark, t).filter(col("v") === "x").count() === 10L)
  }

  test("an explicit repartition(n) or repartitionByRange(n, …) still writes n files") {
    val hashed = freshTable()
    ManifestTable.commit(spark, hashed, rows(1, 1000).repartition(3))
    assert(ManifestTable.snapshotFiles(spark, hashed).size === 3)
    val ranged = freshTable()
    ManifestTable.commit(spark, ranged,
      rows(1, 1000).repartitionByRange(3, col("id")))
    assert(ManifestTable.snapshotFiles(spark, ranged).size === 3)
    // a range layout's files keep disjoint key ranges
    val bounds = ManifestTable.read(spark, ranged)
      .groupBy(input_file_name()).agg(min("id"), max("id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted
    bounds.sliding(2).foreach { case Array(a, b) => assert(a._2 < b._1) }
  }

  test("a write estimated above defaultParallelism × 1 MB keeps its file count") {
    val t = freshTable()
    val big = spark.range(0, 600000, 1, 4).toDF("id")
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(4L << 20))
    ManifestTable.commit(spark, t, big)
    assert(ManifestTable.snapshotFiles(spark, t).size === 4)
  }

  test("a write of unknown size keeps its file count") {
    val t = freshTable()
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val rdd = spark.sparkContext.parallelize(
      (1 to 400).map(i => Row(i.toLong, s"v$i")), 4)
    val unknown = spark.createDataFrame(rdd, schema)
    ManifestTable.commit(spark, t, unknown)
    assert(ManifestTable.snapshotFiles(spark, t).size === 4)
  }

  test("a partitioned append writes one file per partition value") {
    val t = freshTable()
    ManifestTable.commit(spark, t, rows(1, 1000).withColumn("p", col("id") % 3),
      SaveMode.Overwrite, partitionBy = Seq("p"))
    assert(ManifestTable.snapshotFiles(spark, t).size === 3)
    assert(ManifestTable.read(spark, t).count() === 1000L)
  }

  test("a small write leaves the shared session's parallelismFirst untouched") {
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val before = spark.conf.getOption(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!done.get) {
        seen.add(spark.conf.getOption(key).toString)
        Thread.onSpinWait()
      }
    })
    reader.start()
    try {
      val t = freshTable()
      ManifestTable.commit(spark, t, rows(1, 1000))
      ManifestTable.merge(spark, t, rows(990, 1010), Seq("id"))
      ManifestTable.deleteWhere(spark, t, col("id") > 1005)
    } finally { done.set(true); reader.join() }
    assert(seen.size() === 1 && seen.contains(before.toString),
      s"a concurrent reader saw $seen, expected only $before")
  }

  test("a large write leaves a concurrent reader's parallelismFirst unchanged") {
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val before = spark.conf.getOption(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!done.get) {
        seen.add(spark.conf.getOption(key).toString)
        Thread.onSpinWait()
      }
    })
    val t = freshTable()
    // a declared layout over defaultParallelism MB: the write is not
    // coalesced, so AQE's own partition sizing decides its files
    val big = spark.range(0, 600000, 1, 4).toDF("id").repartition(col("id"))
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(4L << 20))
    reader.start()
    try ManifestTable.commit(spark, t, big)
    finally { done.set(true); reader.join() }
    assert(seen.size() === 1 && seen.contains(before.toString),
      s"a concurrent reader saw $seen, expected only $before")
    assert(ManifestTable.read(spark, t).count() === 600000L)
    assert(spark.conf.getOption(key) === before)
  }
}
