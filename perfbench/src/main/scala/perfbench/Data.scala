package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the benchmark's inputs. Every column is a pure
  * function of (seed, row key), so the same seed gives the same rows
  * whatever the partitioning. Shapes follow TPC-H orders/lineitem and
  * the repo's documents/embeddings at sf0.1 (150,000 orders, 600,000
  * lineitems, 5,000 documents, 2,000 64-d vectors). Money is integer
  * cents and discounts integer percent, so every aggregate the checks
  * compare is exact in any engine. */
object Data {
  val Orders = 150000L
  val LinesPerOrder = 4
  val Epoch = java.sql.Date.valueOf("1992-01-01")
  val DateSpan = 2400

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((cs :+ lit(seed) :+ lit(salt)): _*)
  private def pick(seed: Long, salt: Int, key: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h(seed, salt, key), lit(xs.size.toLong)) + 1).cast("int"))

  val Statuses = Seq("O", "F", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** The order date depends only on the key, so lineitems can derive
    * their ship dates without a join. */
  def orderDate(seed: Long, key: Column): Column =
    date_add(lit(Epoch), pmod(h(seed, 4, key), lit(DateSpan.toLong)).cast("int"))

  /** Orders rows for (o_orderkey, o_rev) pairs: every non-key column is
    * a function of the key and its revision. */
  def orders(seed: Long, keys: DataFrame): DataFrame = {
    val k = col("o_orderkey"); val r = col("o_rev")
    keys.select(Seq(k,
      pmod(h(seed, 1, k, r), lit(15000L)).as("o_custkey"),
      pick(seed, 2, xxhash64(k, r), Statuses).as("o_orderstatus"),
      (pmod(h(seed, 3, k, r), lit(50000000L)) + 100L).as("o_totalprice"),
      orderDate(seed, k).as("o_orderdate"),
      pick(seed, 5, xxhash64(k, r), Priorities).as("o_orderpriority"),
      r) ++ keys.columns.toSeq.filterNot(Set("o_orderkey", "o_rev")).map(col): _*)
  }

  def ordersRange(spark: SparkSession, seed: Long, n: Long): DataFrame =
    orders(seed, spark.range(n).select(col("id").as("o_orderkey"), lit(0L).as("o_rev")))

  def lineitem(spark: SparkSession, seed: Long, orders: Long): DataFrame = {
    val id = col("id")
    val ok = (id / LinesPerOrder).cast("long")
    spark.range(orders * LinesPerOrder).select(
      ok.as("l_orderkey"),
      (pmod(id, lit(LinesPerOrder.toLong)) + 1).cast("int").as("l_linenumber"),
      pmod(h(seed, 6, id), lit(20000L)).as("l_partkey"),
      pmod(h(seed, 7, id), lit(1000L)).as("l_suppkey"),
      (pmod(h(seed, 8, id), lit(50L)) + 1).as("l_quantity"),
      ((pmod(h(seed, 8, id), lit(50L)) + 1) * (pmod(h(seed, 9, id), lit(100000L)) + 100)).as("l_extendedprice"),
      pmod(h(seed, 10, id), lit(11L)).cast("int").as("l_discount"),
      date_add(orderDate(seed, ok), pmod(h(seed, 11, id), lit(121L)).cast("int")).as("l_shipdate"),
      pick(seed, 12, id, Seq("R", "A", "N")).as("l_returnflag"))
  }

  // ---- documents and embeddings (the curate workload) --------------

  final case class Corpus(docs: Seq[(Long, String, String, String, Long)],
                          exactCopies: Int, plantedPairs: Set[(Long, Long)])

  /** 5,000 documents over a 2,000-word vocabulary. A seeded share are
    * planted clusters: a base text, byte-identical copies of it (exact
    * duplicates) and single-word edits of it (near duplicates). Docs
    * have 40–80 words, so a one-word edit keeps every pair inside a
    * cluster above shingle Jaccard 0.5 and random docs share no
    * 3-word shingle pair anywhere near it. `plantedPairs` lists every
    * within-cluster (smaller id, larger id) pair. */
  def corpus(seed: Long, n: Int = 5000): Corpus = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 2000).map(i => s"w${Integer.toString(i * 7919 % 2003, 36)}")
    def text(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val langs = Seq("en", "en", "en", "de", "fr")
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var pairs = Set.empty[(Long, Long)]
    var exact = 0
    def add(t: String): Long = {
      val id = docs.size.toLong
      docs += ((id, t, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(8)}", t.length.toLong))
      id
    }
    while (docs.size < n) {
      val base = text(40 + rnd.nextInt(41))
      if (rnd.nextDouble() < 0.06 && docs.size + 4 <= n) {
        val ids = scala.collection.mutable.ArrayBuffer(add(base))
        (0 until 1 + rnd.nextInt(2)).foreach { _ => ids += add(base); exact += 1 }
        (0 until 1 + rnd.nextInt(2)).foreach { _ =>
          val ws = base.split(" ")
          ws(5 + rnd.nextInt(ws.length - 10)) = s"edit${rnd.nextInt(1000000)}"
          ids += add(ws.mkString(" "))
        }
        for (a <- ids; b <- ids if a < b) pairs += ((a, b))
      } else add(base)
    }
    Corpus(docs.toSeq, exact, pairs)
  }

  /** 2,000 unit-scale 64-d vectors in 8 seeded clusters; a share of
    * them are planted near-twins (the vector plus 1 % noise) of the
    * first 16 — the query set — so each query's true nearest neighbour
    * is known. */
  def embeddings(seed: Long, n: Int = 2000, dim: Int = 64): (Seq[(Long, Array[Float], Int)], Map[Long, Long]) = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val centers = Array.fill(8, dim)(rnd.nextGaussian())
    val vs = Array.tabulate(n) { i =>
      val c = rnd.nextInt(8)
      (i.toLong, Array.tabulate(dim)(d => (centers(c)(d) * 0.3 + rnd.nextGaussian()).toFloat), c)
    }
    val twins = (0 until 16).map { q =>
      val stride = n / 2 / 16
      val t = n / 2 + q * stride + rnd.nextInt(stride)
      val src = vs(q)._2
      vs(t) = (t.toLong, src.map(x => (x + 0.01 * rnd.nextGaussian()).toFloat), vs(q)._3)
      q.toLong -> t.toLong
    }.toMap
    (vs.toSeq, twins)
  }
}
