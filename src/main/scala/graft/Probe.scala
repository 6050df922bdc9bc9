package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc timing probe: runs the named queries N times each against a
  * noop sink and prints per-run wall-clock, so a slow bench entry can
  * be decomposed (e.g. with/without its final orderBy) without a full
  * Bench pass. Usage: runMain graft.Probe <sfDir> <name> [name ...]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Graft.mainSession()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    // scratch decompositions, not judged queries
    val extra: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "f3_nosort" -> ((s, d) => graft.sources.Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("r1"),
          abs(col("l_discount") - 0.05).as("adiff"),
          ceil(col("l_quantity") / 7.0).as("c7"),
          floor(col("l_quantity") / 7.0).as("f7"),
          round(pow(col("l_quantity"), 1.5), 6).as("p15"),
          round(log(col("l_extendedprice")), 6).as("ln_price"),
          round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
          pmod(col("l_orderkey"), lit(7)).as("pm7"))),
      "f3_sortonly" -> ((s, d) => graft.sources.Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")),
      "scan_only" -> ((s, d) => graft.sources.Tables.lineitem(s, d)),
      // prefix-join stage decomposition (b2_prefix_join = 4 stages)
      "pj_dd" -> ((s, d) => graft.sources.Tables.documents(s, d)
        .select(col("doc_id"),
          array_distinct(graft.operators.MinHash.shingles(
            lower(trim(col("text"))), 3)).as("g"))),
      "pj_prefix" -> ((s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dd = graft.sources.Tables.documents(s, d)
          .select(col("doc_id"),
            array_distinct(graft.operators.MinHash.shingles(
              lower(trim(col("text"))), 3)).as("g"))
        val ex = dd.select(col("doc_id"), size(col("g")).as("n"), explode(col("g")).as("sh"))
        ex.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df").asc, col("sh").asc)))
          .filter(col("rk") <= col("n") - ceil(col("n") * 0.5) + 1)
          .select(col("doc_id"), col("sh"))
      }),
      "pj_cand" -> ((s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dd = graft.sources.Tables.documents(s, d)
          .select(col("doc_id"),
            array_distinct(graft.operators.MinHash.shingles(
              lower(trim(col("text"))), 3)).as("g"))
          .localCheckpoint(true)
        val ex = dd.select(col("doc_id"), size(col("g")).as("n"), explode(col("g")).as("sh"))
        val prefix = ex
          .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df").asc, col("sh").asc)))
          .filter(col("rk") <= col("n") - ceil(col("n") * 0.5) + 1)
          .select(col("doc_id"), col("sh"))
          .localCheckpoint(true)
        prefix.select(col("doc_id").as("a"), col("sh"))
          .join(prefix.select(col("doc_id").as("b"), col("sh")), "sh")
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
      }),
      "pj_full" -> ((s, d) => graft.operators.MinHash.prefixJoin(
        graft.sources.Tables.documents(s, d))),
      // the r7 prefixJoin formulation verbatim (no n column through the
      // self-join, no PPJoin length bound) — the A/B baseline for the
      // r8 regression hunt; judged-query wrapping included for fairness
      "pj_r7" -> ((s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = graft.sources.Tables.documents(s, d)
        val norm = lower(trim(col("text")))
        val keyed = docs.select(col("doc_id"), md5(norm).as("h"))
          .localCheckpoint(true)
        val dd = docs.select(md5(norm).as("h"),
            array_distinct(graft.operators.MinHash.shingles(norm, 3)).as("g"))
          .groupBy("h").agg(first(col("g")).as("g")).localCheckpoint(true)
        val ex = dd.select(col("h"), size(col("g")).as("n"), explode(col("g")).as("sh"))
        val prefix = ex
          .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
          .withColumn("rk", row_number().over(
            Window.partitionBy("h").orderBy(col("df").asc, col("sh").asc)))
          .filter(col("rk") <= col("n") - ceil(col("n") * 0.5) + 1)
          .select(col("h"), col("sh"))
          .localCheckpoint(true)
        val cand = prefix.select(col("h").as("ha"), col("sh"))
          .join(prefix.select(col("h").as("hb"), col("sh")), "sh")
          .filter(col("ha") < col("hb"))
          .select("ha", "hb").distinct()
        val rpairs = cand
          .join(dd.select(col("h").as("ha"), col("g").as("ga")), "ha")
          .join(dd.select(col("h").as("hb"), col("g").as("gb")), "hb")
          .select(col("ha"), col("hb"),
            (graft.operators.MinHash.setJaccard(col("ga"), col("gb"))).as("j"))
          .filter(round(col("j"), 6) >= 0.5)
        val cross = rpairs
          .join(keyed.select(col("h").as("ha"), col("doc_id").as("ida")), "ha")
          .join(keyed.select(col("h").as("hb"), col("doc_id").as("idb")), "hb")
          .select(least(col("ida"), col("idb")).as("doc_a"),
            greatest(col("ida"), col("idb")).as("doc_b"), col("j"))
        val within = keyed.select(col("h"), col("doc_id").as("doc_a"))
          .join(keyed.select(col("h"), col("doc_id").as("doc_b")), "h")
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), lit(1.0).as("j"))
        cross.unionByName(within)
          .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      }))
    names.foreach { name =>
      val fn = extra.getOrElse(name, SparkEntry.queries(name))
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
