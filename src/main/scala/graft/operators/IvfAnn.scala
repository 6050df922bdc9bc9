package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType
import graft.functions.{CentroidMatrix, IvfCells, VectorOps}

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
  * them, not one per partition; assignment is one codegen'd expression
  * that holds the matrix and ranks k dot products; the probe join is an
  * equi-join on cell — no all-pairs scan anywhere — and the queries × k
  * result sorts in one partition.
  */
object IvfAnn {

  /** The `n` nearest cells of a vector, best first: one codegen'd
    * [[IvfCells]] expression holding the centroid matrix, so the plan
    * carries its shape, not k×dim literals. */
  private def cells(v: Column, centroids: Seq[Seq[Double]], n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(IvfCells(ColumnBridge.expression(v), CentroidMatrix(centroids), n))
  }

  /** Cell id for a vector: argmax_k of (v·c_k − |c_k|²/2), which is the
    * argmin of squared L2 distance. Ties break to the larger k, as the
    * struct ordering of `array_max` broke them — deterministic. */
  def assign(v: Column, centroids: Seq[Seq[Double]]): Column =
    cells(v, centroids, 1).getItem(0)

  /** k-means centroids: deterministic init (vec_id < k), `iters` Lloyd
    * iterations, each result rounded to 6 decimals (summation-order
    * jitter is ~1e-13 — rounding makes the quantizer bit-stable across
    * runs and partitionings). Empty cells keep their previous centroid.
    * One job per step: the seed collects k rows (sorted on the driver);
    * the vectors' plan is built once, and each iteration is one
    * `treeAggregate` over it that ranks cells with [[IvfCells]]' own
    * [[CentroidMatrix.rank]] and folds [[VectorOps.CentroidAgg]]
    * partial sums into the k×dim state (its combining stage runs
    * inside the same job). */
  def centroids(embeddings: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    import VectorOps.CentroidAgg
    def rounded(xs: Seq[Double]) = xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    var cs: Seq[Seq[Double]] = embeddings.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long"), transform(col("embedding"), _.cast("double")))
      .collect().sortBy(_.getLong(0)).map(r => rounded(r.getSeq[Double](1))).toSeq
    val n = cs.size
    val vectors = embeddings.select(col("embedding")).queryExecution.toRdd
      .map(r => if (r.isNullAt(0)) null else r.getArray(0))
    for (_ <- 1 to iters) {
      val m = CentroidMatrix(cs)
      val sums = vectors.treeAggregate(Array.fill(n)(CentroidAgg.zero))(
        (acc, v) => {
          val c = m.rank(v, floats = true, 1)(0)
          if (v != null) acc(c) = CentroidAgg.reduce(acc(c), v.toSeq[Float](FloatType))
          acc
        },
        (a, b) => a.zip(b).map { case (x, y) => CentroidAgg.merge(x, y) })
      cs = cs.indices.map(i =>
        if (sums(i).n == 0) cs(i) else rounded(CentroidAgg.finish(sums(i))))
    }
    cs
  }

  /** The query's nProbe nearest cells, best first (ties → larger k,
    * matching [[assign]]'s rule for the top cell). */
  def probeCells(v: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    cells(v, centroids, nProbe)

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
