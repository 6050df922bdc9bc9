package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** r19 optimization: small write batches collect per-file stats from
  * the just-written parquet FOOTERS (driver-side, zero Spark jobs)
  * instead of a second distributed pass (ManifestTable.footerScanStats).
  * The fast path is gated to types whose footer min/max equals the
  * distributed encoder's output EXACTLY; these tests pin that equality
  * by writing the same data through both paths
  * (a scoped cap of -1 forces the distributed pass) and
  * comparing the recorded manifest stats verbatim. */
class FooterStatsSpec extends AnyFunSuite with SparkFixture {

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_fstat").toString

  /** stats keyed by the part-file index (stable across two identical
    * writes; the uuid dir differs), minus the SizeKey byte size which
    * is recorded outside both stats passes. */
  private def byPart(t: String): Map[String, Map[String, (Double, Double)]] =
    ManifestTable.snapshotStats(spark, t).map { case (f, m) =>
      val base = f.substring(f.lastIndexOf('/') + 1)
      base.split("-").take(2).mkString("-") -> (m - ManifestTable.SizeKey)
    }

  /** Spark jobs `body` launches from this thread. */
  private def jobsOf(body: => Unit): Int = {
    val key = "footer.stats.spec.tag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def sample() = {
    import spark.implicits._
    // negatives, nulls, an all-null partition slice, boolean and date
    // extremes — every shape the encoder distinguishes
    (1 to 300).map { i =>
      val k = i % 3
      ( k.toLong,
        if (k == 2) null else Int.box(i - 150),
        if (i % 7 == 0) null else Boolean.box(i % 2 == 0),
        if (k == 2 && i % 2 == 0) null
        else java.sql.Date.valueOf(f"19${i % 80 + 10}%d-0${i % 9 + 1}%d-15"))
    }.toDF("k", "i", "b", "d")
      .repartition(3, col("k"))
  }

  /** strings (6-byte-prefix encoding: shared prefixes, high-bit utf8,
    * empties), timestamps (µs precision, negatives pre-1970) and
    * int-backed decimals — the r19 gate extension */
  private def sample2() = {
    import spark.implicits._
    (1 to 300).map { i =>
      val k = i % 3
      ( k.toLong,
        if (i % 11 == 0) null
        else if (i % 5 == 0) "" // empty string sorts first
        else if (i % 3 == 0) s"prefix-shared-${i}%04d suffix"
        else if (i % 2 == 0) s"ünïcode-$i"
        else s"z$i",
        if (k == 2) null
        else java.sql.Timestamp.valueOf(f"19${i % 60 + 40}%d-0${i % 9 + 1}%d-15 12:34:56.${i % 1000}%03d"),
        if (i % 13 == 0) null else BigDecimal((i - 150) * 7, 2).bigDecimal)
    }.toDF("k", "s", "ts", "dec")
      .withColumn("dec", col("dec").cast("decimal(12,2)"))
      .repartition(3, col("k"))
  }

  test("footer fast path records byte-identical stats to the distributed pass") {
    val df = sample()
    val cols = Seq("k", "i", "b", "d")
    val fast = fresh(); val slow = fresh()
    val fastJobs = jobsOf(
      ManifestTable.commit(spark, fast, df, SaveMode.Overwrite, statsColumns = cols))
    val slowJobs = jobsOf(ManifestTable.footerStatsCap.withValue(-1) {
      ManifestTable.commit(spark, slow, df, SaveMode.Overwrite, statsColumns = cols)
    })
    // the scoped cap really forced the distributed pass: its stats job
    assert(slowJobs > fastJobs, s"fast $fastJobs jobs, forced $slowJobs")
    val (a, b) = (byPart(fast), byPart(slow))
    assert(a.keySet === b.keySet)
    a.keys.foreach { p => assert(a(p) === b(p), s"stats diverge for $p") }
    // the fast path must actually have engaged (all four types gated in)
    assert(a.values.exists(_.contains("d")), "date stats missing entirely")
  }

  test("string/timestamp/decimal stats are byte-identical to the distributed pass") {
    val df = sample2()
    val cols = Seq("k", "s", "ts", "dec")
    val fast = fresh(); val slow = fresh()
    ManifestTable.commit(spark, fast, df, SaveMode.Overwrite, statsColumns = cols)
    ManifestTable.footerStatsCap.withValue(-1) {
      ManifestTable.commit(spark, slow, df, SaveMode.Overwrite, statsColumns = cols)
    }
    val (a, b) = (byPart(fast), byPart(slow))
    assert(a.keySet === b.keySet)
    a.keys.foreach { p => assert(a(p) === b(p), s"stats diverge for $p") }
    assert(a.values.exists(m => m.contains("s") && m.contains("ts") && m.contains("dec")),
      "new gated types missing entirely")
  }

  test("a non-gated stats type (double) falls back whole-batch and still records") {
    import spark.implicits._
    val df = Seq((1L, "aa", 1.5), (2L, "zz", -2.5), (3L, null: String, 0.0))
      .toDF("k", "s", "x").coalesce(1)
    val t = fresh()
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite,
      statsColumns = Seq("k", "s", "x"))
    val m = ManifestTable.snapshotStats(spark, t).values.head
    assert(m.contains("k") && m.contains("s") && m.contains("x"))
    assert(m("x") === ((-2.5, 1.5)))
  }

  test("a batch over the file cap falls back and matches the fast path stats") {
    val df = sample()
    val cols = Seq("k", "i")
    val fast = fresh(); val slow = fresh()
    ManifestTable.commit(spark, fast, df, SaveMode.Overwrite, statsColumns = cols)
    ManifestTable.footerStatsCap.withValue(2) { // 3 part files > cap 2 → distributed pass
      ManifestTable.commit(spark, slow, df, SaveMode.Overwrite, statsColumns = cols)
    }
    assert(byPart(fast) === byPart(slow))
  }
}
