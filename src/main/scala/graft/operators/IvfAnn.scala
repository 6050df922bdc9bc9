package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** IVF-style approximate nearest neighbor (SURVEY.md §2.B B4 scale
  * path, alongside the random-hyperplane LSH in b4_lsh_ann).
  *
  * Coarse quantizer: k-means (fixed iteration count, deterministic
  * init = the k smallest vec_ids, centroids rounded per iteration so
  * float summation order can never flip a cell assignment between
  * runs). Vectors are partitioned into k inverted cells; a query probes
  * only its own cell and reranks exactly — candidate count drops from
  * n to ~n/k per query, the standard IVF trade of recall for scan cost.
  *
  * Scale notes: the only driver-side data is the k×dim centroid matrix
  * (like broadcasting a bounded dim table), tree-aggregated from
  * per-task partial sums so the driver receives about √partitions of
  * them, not one per partition; assignment is a codegen'd argmax over k dot
  * products; the probe join is an equi-join on cell — no all-pairs scan
  * anywhere — and the queries × k result sorts in one partition.
  */
object IvfAnn {

  /** Cell id for a vector: argmax_k of (v·c_k − |c_k|²/2), which is the
    * argmin of squared L2 distance. Ties break to the larger k via the
    * struct ordering of array_max — deterministic. */
  def assign(v: Column, centroids: Seq[Seq[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, k) =>
      struct(
        (VectorOps.dot(v, typedlit(c)) - lit(c.map(x => x * x).sum / 2)).as("s"),
        lit(k).as("k"))
    }
    array_max(array(scored: _*)).getField("k")
  }

  /** k-means centroids: deterministic init (vec_id < k), `iters` Lloyd
    * iterations, each result rounded to 6 decimals (summation-order
    * jitter is ~1e-13 — rounding makes the quantizer bit-stable across
    * runs and partitionings). Empty cells keep their previous centroid.
    * One job per step: the seed collects k rows (sorted on the driver);
    * an iteration assigns cells and tree-aggregates per-partition
    * [[VectorOps.CentroidAgg]] partial sums to the k×dim state (its
    * combining stage runs inside the same job). */
  def centroids(embeddings: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    import VectorOps.CentroidAgg
    def rounded(xs: Seq[Double]) = xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    var cs: Seq[Seq[Double]] = embeddings.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long"), transform(col("embedding"), _.cast("double")))
      .collect().sortBy(_.getLong(0)).map(r => rounded(r.getSeq[Double](1))).toSeq
    val n = cs.size
    for (_ <- 1 to iters) {
      val sums = embeddings.select(assign(col("embedding"), cs), col("embedding")).rdd
        .treeAggregate(Array.fill(n)(CentroidAgg.zero))(
          (acc, r) => { acc(r.getInt(0)) = CentroidAgg.reduce(acc(r.getInt(0)), r.getSeq[Float](1)); acc },
          (a, b) => a.zip(b).map { case (x, y) => CentroidAgg.merge(x, y) })
      cs = cs.indices.map(i =>
        if (sums(i).n == 0) cs(i) else rounded(CentroidAgg.finish(sums(i))))
    }
    cs
  }

  /** The query's nProbe nearest cells, best first (ties → larger k,
    * matching [[assign]]'s rule for the top cell). */
  def probeCells(v: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, k) =>
      struct(
        (VectorOps.dot(v, typedlit(c)) - lit(c.map(x => x * x).sum / 2)).as("s"),
        lit(k).as("k"))
    }
    transform(
      slice(reverse(array_sort(array(scored: _*))), 1, nProbe),
      s => s.getField("k"))
  }

  /** Top-k neighbors for query vectors (vec_id < nQueries): each query
    * probes its nProbe nearest IVF cells (candidates stay in exactly
    * one cell) with exact cosine rerank — the standard IVF recall/cost
    * knob. */
  def topK(embeddings: DataFrame, nQueries: Int, k: Int, cells: Int, iters: Int,
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
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("cid").asc)
    c.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid").as("nid"), round(col("sim"), 4).as("sim"))
      .transform(Similarity.boundedOrder("qid", "rnk"))
  }
}
