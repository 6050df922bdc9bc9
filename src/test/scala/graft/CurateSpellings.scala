package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.{Bpe, IvfAnn}

/** The multi-job formulations of the curate operators: a range-sorted
  * seed and a `groupBy` + collect per Lloyd iteration, a globally
  * `orderBy`-sorted top-k, a plain collected vocabulary, and the IVF
  * quantizer as `array_max` / `array_sort` over per-centroid `typedlit`
  * structs. Kept as the equivalence oracles `CuratePlanSpec` compares
  * the one-job operators and the one-expression quantizer against
  * (same values, same order). */
object CurateSpellings {

  private def rounded(xs: Seq[Double]) =
    xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  private def scored(v: Column, centroids: Seq[Seq[Double]]): Seq[Column] =
    centroids.zipWithIndex.map { case (c, k) =>
      struct(
        (VectorOps.dot(v, typedlit(c)) - lit(c.map(x => x * x).sum / 2)).as("s"),
        lit(k).as("k"))
    }

  /** [[IvfAnn.assign]] as the struct ordering of `array_max`. */
  def assign(v: Column, centroids: Seq[Seq[Double]]): Column =
    array_max(array(scored(v, centroids): _*)).getField("k")

  /** [[IvfAnn.probeCells]] as a reversed `array_sort`. */
  def probeCells(v: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    transform(
      slice(reverse(array_sort(array(scored(v, centroids): _*))), 1, nProbe),
      s => s.getField("k"))

  /** [[IvfAnn.centroids]] as `orderBy` seed + per-iteration groupBy. */
  def centroids(embeddings: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    var cs: Seq[Seq[Double]] = embeddings.filter(col("vec_id") < k).orderBy("vec_id")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(r => rounded(r.getSeq[Double](0))).toSeq
    for (_ <- 1 to iters) {
      val next = embeddings
        .withColumn("cell", assign(col("embedding"), cs))
        .groupBy("cell").agg(VectorOps.centroid(col("embedding")).as("c"))
        .collect().map(r => r.getInt(0) -> rounded(r.getSeq[Double](1))).toMap
      cs = cs.indices.map(i => next.getOrElse(i, cs(i)))
    }
    cs
  }

  /** [[IvfAnn.topK]] over the centroids above, globally `orderBy`-sorted. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int, k: Int, cells: Int, iters: Int,
              nProbe: Int = 2): DataFrame = {
    val cs = centroids(embeddings, cells, iters)
    val e = embeddings
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("cell", assign(col("v"), cs))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .withColumn("probe", explode(probeCells(col("v"), cs, nProbe)))
      .select(col("probe").as("cell"), col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("cell"), col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid").asc)
    c.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid").as("nid"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rnk")
  }

  /** [[graft.operators.Similarity.cosineTopK]], globally `orderBy`-sorted. */
  def cosineTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("qid").orderBy(round(col("sim"), 6).desc, col("cid").asc)
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid").as("nid"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rnk")
  }

  /** [[Bpe.trainMerges]]' local path over a plainly collected vocabulary. */
  def bpeMerges(docs: DataFrame, nMerges: Int): Seq[(Int, String, String, Long)] = {
    val vocab = docs.select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0).map(_.toString).toIndexedSeq, r.getLong(1)))
    Bpe.trainMergesLocal(vocab, nMerges)
  }
}
