package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the given scale
  * factor and prints one JSON line. A query whose Spark job fails is a
  * bench FAILURE — it is listed in "failed" and the process exits
  * non-zero (ADVICE.md r01: an aborted job must never be silently
  * reported as a timing).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.mainSession()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: JIT/codegen/classloading outside the timed region, so the
    // first timed queries don't absorb one-time JVM startup cost. Touches
    // each heavyweight codepath once: scan, agg, broadcast join, window,
    // shuffle write, parquet sink. Non-fatal: if the data dir is bad,
    // the per-query loop reports it.
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val li = graft.sources.Tables.lineitem(spark, sfDir).limit(1000)
      li.groupBy("l_returnflag").count().count()
      li.withColumn("rn",
          row_number().over(Window.partitionBy("l_returnflag").orderBy("l_orderkey")))
        .join(broadcast(li.select(col("l_orderkey").as("k")).limit(10)),
          col("l_orderkey") === col("k"))
        .groupBy("l_returnflag").agg(count(lit(1))).count()
      li.limit(10).write.mode("overwrite")
        .parquet(s"${sys.props("java.io.tmpdir")}/graft_bench_warmup")
    } catch { case _: Throwable => () }
    // Calibration probe (r9, VERDICT r8 item 5): a CONSTANT reference
    // scan — full-width lineitem aggregate, a plan no round's code
    // changes touch — timed min-of-2 right after warm-up and recorded
    // in the artifact as "probe_sec". Same-code artifact refreshes in
    // r8 varied 109.6–115.1 s and the driver's window sat 34% above a
    // fresh run: window-to-window machine drift swamps real plan
    // regressions. Dividing any query's time by probe_sec of ITS OWN
    // artifact normalizes the machine out, so cross-round comparison
    // becomes arithmetic instead of archaeology.
    // r17: the window's speed drifts WITHIN a run (three same-code
    // runs measured probes 0.47–0.84 s around identical ~246 s
    // bodies), so a start-only probe can misrepresent the window the
    // queries actually ran in. The probe is now SAMPLED at start,
    // after the first pass, and after stabilization; probe_sec is the
    // MEDIAN (all samples recorded as probe_samples for transparency).
    def probeOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      graft.sources.Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    var probeSamples: List[Double] =
      try List(math.min(probeOnce(), probeOnce()))
      catch { case _: Throwable => Nil }
    def probeSec: Double = probeSamples.sorted match {
      case Nil => -1.0
      case s => s(s.length / 2)
    }
    // The drift-net anchor: the COMMITTED round-start artifact
    // (bench_anchor.json — refreshed from the round-boundary
    // bench_full.json at the start of each round), NOT whatever
    // bench_full.json this round last wrote. r17 anchored to the
    // on-disk bench_full.json, so any mid-round bench run reset the
    // anchor and the committed artifact shipped 28 keys >2× vs the
    // previous ROUND with no stabilization entry (VERDICT r17 item 2).
    // Fallback order: $SPARK_GRAFT_BENCH_ANCHOR → bench_anchor.json →
    // the previous bench_full.json. Absent/corrupt → no drift net.
    val prevBench: Option[(Double, Map[String, Double])] = try {
      val anchor = sys.env.get("SPARK_GRAFT_BENCH_ANCHOR")
        .map(java.nio.file.Paths.get(_))
        .filter(java.nio.file.Files.exists(_))
        .orElse(Some(java.nio.file.Paths.get("bench_anchor.json"))
          .filter(java.nio.file.Files.exists(_)))
      val p = anchor.getOrElse(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")))
      if (!java.nio.file.Files.exists(p)) None
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readAllBytes(p))
        import scala.jdk.CollectionConverters._
        val qs = node.path("queries").fields().asScala.collect {
          case kv if kv.getValue.isNumber => kv.getKey -> kv.getValue.asDouble()
        }.toMap
        Some((node.path("probe_sec").asDouble(-1.0), qs))
      }
    } catch { case _: Throwable => None }
    var failed = List.empty[String]
    // min of 2 runs per query: the first run of a query JIT-compiles its
    // generated code; the min is the steady-state number a warmed
    // cluster would see (each run still reads parquet from disk/cache).
    // The action is a noop-sink write, NOT count(): count() lets
    // Catalyst prune output columns and even eliminate joins (a
    // left-join + count plan collapsed to a bare scan and measured
    // 0.6s for a 100s query) — the noop sink forces every output
    // column of the declared query to be fully computed.
    // A failed query reports null (not the exception-path duration —
    // ADVICE.md r02: min-of-2 could pick a meaningless fast failure
    // time) and contributes nothing to "value".
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 recordFailure: Boolean = true): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          // the tail-stabilization re-run passes recordFailure = false:
          // its query already succeeded twice in the main pass, so a
          // flaky third run must not turn a measured query into a bench
          // failure — the first-pass timing stands
          if (recordFailure && !failed.contains(name)) {
            failed ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
          None
      }
    }
    val firstPass: Seq[(String, Option[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> (1 to 2).flatMap(_ => timeOnce(name, fn)).sorted.headOption
      }
    try probeSamples ::= probeOnce() catch { case _: Throwable => () }
    // Tail stabilization: the slowest committed numbers have measured
    // up to ~8× above a fresh-JVM run (r13's c37_history charged ~13 s
    // of cold segment-cache fills and first-touch JIT to one query) —
    // accumulated GC and code-cache pressure from the ~190 queries
    // before them, not plan cost. The 5 slowest get a post-GC
    // re-measure, and — per the r13 verdict — the re-time REPLACES the
    // first-pass number in "queries"/"value": every key's protocol is
    // "min over all runs taken", so a one-off warm-up artifact cannot
    // inflate the judged total. The "stabilized" field still records
    // exactly which keys were re-timed (and their final numbers), so a
    // reader can tell a 3-run minimum from a 2-run one.
    val slowest5 = firstPass.collect { case (n, Some(t)) => (n, t) }
      .sortBy(-_._2).take(5).map(_._1).toSet
    // r17 (VERDICT r16 item 3): ALSO re-time any key whose
    // probe-normalized time exceeds 2× its value in the previous
    // artifact — the committed r16 numbers carried ~4× window noise on
    // keys (c46, c41, b2_cc) that a same-day re-run refuted; the
    // 5-slowest net was too small to catch mid-pack outliers. The
    // previous artifact is read BEFORE this run overwrites it (on the
    // driver's committed tree that IS the last round's artifact).
    // Capped at 25 extra keys: if more than that drifted 2×, the whole
    // window is slow and per-key re-timing cannot fix it (probe_sec
    // already records that).
    val drifted: Set[String] = prevBench.fold(Set.empty[String]) {
      case (prevProbe, prevQ) if prevProbe > 0 && probeSec > 0 =>
        firstPass.collect {
          case (n, Some(t)) if prevQ.get(n).exists(p =>
            p > 0 && t / probeSec > 2.0 * (p / prevProbe)) =>
            (n, t / probeSec / (prevQ(n) / prevProbe))
        }.sortBy(-_._2).take(25).map(_._1).toSet
      case _ => Set.empty
    }
    val slowest = slowest5 ++ drifted
    val byName = SparkEntry.queries
    System.gc()
    val stabilized: Seq[(String, Double)] = firstPass.collect {
      case (name, Some(t)) if slowest(name) =>
        name -> math.min(t,
          timeOnce(name, byName(name), recordFailure = false).getOrElse(t))
    }
    val stabMap = stabilized.toMap
    val results: Seq[(String, Option[Double])] = firstPass.map {
      case (name, t) => name -> stabMap.get(name).orElse(t)
    }
    try probeSamples ::= probeOnce() catch { case _: Throwable => () }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val stabJson = stabilized.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","probe_sec":$probeSec,"queries":$qs,"stabilized":$stabJson,"failed":$failedJson,"sf":"$sfDir"}""")
    // The per-query line above is one very long JSON record; the
    // driver's tail capture has truncated its LEADING fields (the r4
    // artifact lost the headline total). Repeat the gate numbers as a
    // final COMPACT line so they always survive a tail of any length.
    println(s"""{"metric":"total","value":$total,"unit":"sec","probe_sec":$probeSec,"n":${results.size},"n_timed":${results.count(_._2.isDefined)},"failed":$failedJson,"sf":"$sfDir"}""")
    // The stdout record is tail-truncated by the driver's capture (r5
    // lost keys a1…f8); also write the full sorted per-query map into
    // the repo tree, where it survives verbatim and gets committed.
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try {
      val body = new StringBuilder
      body.append("{\n  \"metric\": \"total\",\n")
      body.append(s"""  "value": $total,\n  "unit": "sec",\n""")
      body.append(f"""  "probe_sec": $probeSec%.3f,\n""")
      body.append(s"""  "probe_samples": [${probeSamples.sorted
        .map(p => f"$p%.3f").mkString(", ")}],\n""")
      body.append(s"""  "n": ${results.size}, "n_timed": ${results.count(_._2.isDefined)},\n""")
      body.append(s"""  "failed": $failedJson,\n  "sf": "$sfDir",\n""")
      body.append("  \"stabilized\": {")
      body.append(stabilized.map { case (k, v) =>
        f""""$k": $v%.3f""" }.mkString(", "))
      body.append("},\n  \"queries\": {\n")
      body.append(results.map { case (k, v) =>
        s"""    "$k": ${v.fold("null")(t => f"$t%.3f")}"""
      }.mkString(",\n"))
      body.append("\n  }\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
        body.toString.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $artifact: ${e.getMessage}") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
