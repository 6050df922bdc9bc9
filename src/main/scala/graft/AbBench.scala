package graft

/** Focused A/B timer: times ONLY the query keys named in
  * `SPARK_GRAFT_KEYS` (comma-separated), `SPARK_GRAFT_REPS` times each
  * (default 3), interleaved round-robin so a mid-run machine-speed
  * drift hits every key equally. Prints one JSON line with all raw
  * samples plus the min per key, and the same calibration probe Bench
  * uses. Built for regression triage (VERDICT r17 item 1): run it at
  * two git revisions inside ONE bench window and compare mins —
  * cross-window comparison is what made the r16→r17 "regression
  * cluster" ambiguous in the first place.
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val keys = sys.env.getOrElse("SPARK_GRAFT_KEYS", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "set SPARK_GRAFT_KEYS=k1,k2,…")
    // optional in-JVM conf A/B (r19): SPARK_GRAFT_AB_PROP names a
    // runtime-settable spark.* SQL conf, SPARK_GRAFT_AB_VALUES its arms
    // ("unset" clears it). Each rep runs every key once PER ARM, back
    // to back, so both arms share the window, the JIT state, and any
    // machine drift — the cross-window ambiguity this tool exists to
    // remove, applied to a config toggle instead of a git revision.
    // Keys are suffixed "@<value>" in the output.
    val abProp = armedConf(sys.env.get("SPARK_GRAFT_AB_PROP"))
    val abValues: Seq[Option[String]] = abProp match {
      case None => Seq(None)
      case Some(_) => sys.env.getOrElse("SPARK_GRAFT_AB_VALUES", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        .map(v => if (v == "unset") None else Some(v)) match {
          case Nil => sys.error("set SPARK_GRAFT_AB_VALUES=v1,v2,…")
          case vs => vs
        }
    }
    val spark = Graft.mainSession()
    spark.sparkContext.setLogLevel("WARN")
    def probeOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      graft.sources.Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: JIT + codegen + one probe outside the timed region
    try probeOnce() catch { case _: Throwable => () }
    val byName = SparkEntry.queries
    keys.foreach(k => require(byName.contains(k), s"unknown query key $k"))
    def withArm[A](v: Option[String])(body: => A): A = abProp match {
      case None => body
      case Some(p) =>
        val old = spark.conf.getOption(p)
        v match { case Some(x) => spark.conf.set(p, x); case None => spark.conf.unset(p) }
        try body finally old match {
          case Some(x) => spark.conf.set(p, x)
          case None => spark.conf.unset(p)
        }
    }
    def armKey(k: String, v: Option[String]): String =
      if (abProp.isEmpty) k else s"$k@${v.getOrElse("unset")}"
    var samples = Map.empty[String, List[Double]].withDefaultValue(Nil)
    var probes = List.empty[Double]
    (1 to reps).foreach { rep =>
      probes ::= probeOnce()
      // alternate arm order each rep: with a fixed order the first arm
      // systematically pays any per-key warm-up (page cache, temp-dir
      // creation, codegen) and the A/B reads as an arm effect — the
      // first footer-stats A/B showed exactly that confound (keys whose
      // code is IDENTICAL in both arms differed by >1 s, always against
      // the first arm)
      val armsThisRep = if (rep % 2 == 1) abValues else abValues.reverse
      keys.foreach { k =>
        armsThisRep.foreach { v =>
          val t0 = System.nanoTime()
          withArm(v) {
            byName(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          samples += armKey(k, v) ->
            (((System.nanoTime() - t0) / 1e9) :: samples(armKey(k, v)))
        }
      }
    }
    probes ::= probeOnce()
    val probeMed = probes.sorted.apply(probes.length / 2)
    val outKeys = keys.flatMap(k => abValues.map(v => armKey(k, v)))
    val body = outKeys.map { k =>
      val s = samples(k).reverse
      f""""$k":{"min":${s.min}%.3f,"samples":[${s.map(t => f"$t%.3f").mkString(",")}]}"""
    }.mkString(",")
    println(f"""{"probe_median":$probeMed%.3f,"probes":[${probes.sorted
      .map(p => f"$p%.3f").mkString(",")}],"reps":$reps,"queries":{$body}}""")
    spark.stop()
  }

  /** The A/B conf name, refused unless it is a `spark.*` SQL conf: the
    * engine reads no other property, so any other name would time two
    * identical arms and report their noise as an A/B result. */
  private[graft] def armedConf(name: Option[String]): Option[String] = {
    name.foreach(p => require(p.startsWith("spark."),
      s"SPARK_GRAFT_AB_PROP=$p: only spark.* SQL confs can be A/B'd; " +
        "the engine reads no other property"))
    name
  }
}
