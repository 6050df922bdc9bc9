package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.sources.{GraftCatalog, ManifestTable}

/** One manifest index under every read: SQL on `graft.<name>`,
  * `read(…).filter(p)` and `readWhere(p)` skip the same files and
  * return the same rows, on every table shape the index serves —
  * stats with NaN, hidden transforms, buckets, blooms, null counts,
  * identity partitions, mixed layout eras, exists-default fills,
  * column mapping, deletion vectors and tombstones. Rows are checked
  * against the same filter over an unindexed local copy of the table. */
class ReadParitySpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_parity").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** The three spellings agree on files and rows; returns the files kept. */
  private def parity(name: String, t: String, pred: Column, where: String): Int = {
    GraftCatalog.register(name, t)
    val sql = spark.sql(s"SELECT * FROM graft.$name WHERE $where")
    val filtered = ManifestTable.read(spark, t).filter(pred)
    val readWhere = ManifestTable.readWhere(spark, t, pred)
    val files = sql.inputFiles.toSeq.sorted
    assert(filtered.inputFiles.toSeq.sorted === files, s"$name: read.filter files")
    assert(readWhere.inputFiles.toSeq.sorted === files, s"$name: readWhere files")
    val all = ManifestTable.read(spark, t)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(all.collect(): _*), all.schema)
    val want = rows(local.filter(pred))
    assert(rows(sql) === want, s"$name: SQL rows")
    assert(rows(filtered) === want, s"$name: read.filter rows")
    assert(rows(readWhere) === want, s"$name: readWhere rows")
    files.size
  }

  private def total(t: String) = ManifestTable.snapshotFiles(spark, t).size

  test("stats with NaN bounds, IS NULL and identity partitions") {
    val t = fresh()
    Seq(Seq(1.0, 2.0), Seq(2.0, Double.NaN), Seq(5.0, 6.0)).zipWithIndex.foreach {
      case (ks, i) =>
        ManifestTable.commit(spark, t,
          ks.map(k => (k, if (k == 5.0) null else s"s$k", i)).toDF("k", "s", "p")
            .coalesce(1),
          if (i == 0) SaveMode.Overwrite else SaveMode.Append,
          statsColumns = Seq("k", "s"), partitionBy = Seq("p"))
    }
    // a NaN range never prunes: both files that may hold 2.0
    assert(parity("par_nan", t, col("k") === 2.0, "k = 2.0") === 2)
    assert(parity("par_nan", t, col("k") === Double.NaN,
      "k = CAST('NaN' AS DOUBLE)") === 3)
    assert(parity("par_nan", t, col("s").isNull, "s IS NULL") === 1)
    assert(parity("par_nan", t, col("p") === 2, "p = 2") === 1)
    assert(parity("par_nan", t, col("p") === 0 || col("k") > 5.5,
      "p = 0 OR k > 5.5") === 3)
  }

  test("hidden transforms and buckets") {
    val ev = (0 until 400).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 3, 1 + i % 10, i % 24, 0)))
    }.toDF("id", "ts")
    val days = fresh()
    ManifestTable.commit(spark, days, ev, SaveMode.Overwrite,
      partitionBy = Seq("days(ts)"))
    val kept = parity("par_days", days,
      col("ts") >= lit(java.sql.Timestamp.valueOf("2024-03-08 00:00:00")),
      "ts >= TIMESTAMP '2024-03-08 00:00:00'")
    assert(kept < total(days))
    val buckets = fresh()
    ManifestTable.commit(spark, buckets, ev, SaveMode.Overwrite,
      partitionBy = Seq("bucket(8,id)"))
    assert(parity("par_bucket", buckets, col("id") === 123L, "id = 123") <=
      total(buckets) / 4)
  }

  /** `batches` one-file commits of hash-scattered ids (no stats); the
    * bloom config lands after the first, which stays unindexed. */
  private def bloomed(batches: Int): String = {
    val t = fresh()
    (0 until batches).foreach { b =>
      ManifestTable.commit(spark, t,
        (0 until 40).map(i => ((b * 40 + i) * 7919L % 100003L, i)).toDF("id", "n")
          .coalesce(1), if (b == 0) SaveMode.Overwrite else SaveMode.Append)
      if (b == 0) ManifestTable.addBloom(spark, t, Seq("id"))
    }
    t
  }

  test("bloom sidecars") {
    val t = bloomed(8)
    // the probe's file plus the unindexed first one
    val probe = 45 * 7919L % 100003L
    assert(parity("par_bloom", t, col("id") === probe, s"id = $probe") === 2)
  }

  test("mixed layout eras and exists-default fills") {
    val t = fresh()
    val base = (1 to 30).map(i => (i.toLong, i % 3)).toDF("id", "p")
    ManifestTable.commit(spark, t, base, SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.setPartitionSpec(spark, t, Seq("p"))
    ManifestTable.commit(spark, t, (31 to 60).map(i => (i.toLong, i % 3)).toDF("id", "p"))
    assert(parity("par_era", t, col("p") === 1, "p = 1") < total(t))
    assert(parity("par_era", t, col("id") > 40L, "id > 40") < total(t))
    GraftCatalog.register("par_fill", t)
    spark.sql("ALTER TABLE graft.par_fill ADD COLUMNS (cat STRING DEFAULT 'legacy')")
    spark.sql("INSERT INTO graft.par_fill (id, p, cat) VALUES (61, 1, 'fresh')")
    parity("par_fill", t, col("cat") === "legacy" && col("id") > 25L,
      "cat = 'legacy' AND id > 25")
    parity("par_fill", t, col("cat") === "fresh", "cat = 'fresh'")
  }

  test("column mapping, deletion vectors and tombstones") {
    val t = fresh()
    (0 until 4).foreach { b =>
      ManifestTable.commit(spark, t,
        (b * 10 + 1 to b * 10 + 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
        if (b == 0) SaveMode.Overwrite else SaveMode.Append, statsColumns = Seq("id"))
    }
    ManifestTable.renameColumn(spark, t, "id", "key")
    assert(parity("par_map", t, col("key") <= 10L, "key <= 10") === 1)
    ManifestTable.deleteWhereVector(spark, t, col("key") === 3L)
    assert(parity("par_map", t, col("key") <= 10L, "key <= 10") === 1)
    ManifestTable.deleteWhereLazy(spark, t, col("key") === 15L)
    assert(parity("par_map", t, col("key").between(5L, 15L),
      "key BETWEEN 5 AND 15") === 2)
    assert(ManifestTable.readWhere(spark, t, col("key") <= 20L).count() === 18)
  }

  test("two references to one snapshot are one scan: exchange reuse and cache hits") {
    val t = fresh()
    ManifestTable.commit(spark, t,
      (1 to 40).map(i => (i.toLong, i % 4)).toDF("k", "g").repartition(2),
      SaveMode.Overwrite, statsColumns = Seq("k"))
    GraftCatalog.register("par_self", t)
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val join = spark.sql(
        "SELECT a.k, a.g, b.g FROM graft.par_self a JOIN graft.par_self b ON a.k = b.k")
      val reused = join.queryExecution.executedPlan.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
      assert(reused.nonEmpty, join.queryExecution.executedPlan.treeString)
      assert(join.count() === 40)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val cached = ManifestTable.read(spark, t).cache()
    try {
      val again = ManifestTable.read(spark, t).filter(col("k") > 10L)
      assert(again.queryExecution.withCachedData.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
      assert(again.count() === 30)
    } finally cached.unpersist()
  }

  test("EXPLAIN of a bloom-pruned SQL lookup shows the pinned decision") {
    val t = bloomed(4)
    GraftCatalog.register("par_explain", t)
    val probe = 45 * 7919L % 100003L
    val plan = spark.sql(s"EXPLAIN SELECT * FROM graft.par_explain WHERE id = $probe")
      .collect().head.getString(0)
    assert(plan.contains("ManifestFileIndex(kept 2/4 files, min/max 4->4, bloom 4->2)"),
      plan)
    // the literal hashes need no optimizer rule to fold them
    val rule = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    spark.conf.set("spark.sql.optimizer.excludedRules", rule)
    try assert(spark.sql(s"SELECT * FROM graft.par_explain WHERE id = $probe")
      .inputFiles.length === 2)
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
