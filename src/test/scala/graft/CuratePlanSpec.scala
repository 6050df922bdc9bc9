package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, IvfAnn, Similarity}

/** The curate chain's bounded steps cost one Spark job each: an IVF
  * k-means seed and each Lloyd iteration, the BPE vocabulary probe,
  * and the single-partition sort of a top-k result. Pins the jobs per
  * call through a SparkListener on a fixed corpus (cached inputs, as
  * the curate benchmark holds them), and that every result equals the
  * multi-job formulation in [[CurateSpellings]]: same centroids, same
  * merge table, same rows in the same order. */
class CuratePlanSpec extends AnyFunSuite with SparkFixture {

  private val TagKey = "curatePlanSpec.tag"

  /** Spark jobs `body` launches from this thread, and its value. */
  private def jobs[A](body: => A): (Int, A) = {
    val (n, _, out) = jobsAndResultBytes(body)
    (n, out)
  }

  /** Spark jobs `body` launches from this thread, the bytes their
    * result tasks send to the driver, and its value. */
  private def jobsAndResultBytes[A](body: => A): (Int, Long, A) = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(TagKey) == tag)) {
          n.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskType == "ResultTask" && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    val out = try body
    finally {
      sc.setLocalProperty(TagKey, null)
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (n.get, bytes.get, out)
  }

  /** 500 seeded 16-dim vectors in `parts` partitions. */
  private def vectors(parts: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(1101)
    (0L until 500L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").repartition(parts)
  }

  private lazy val emb = vectors(4).cache()

  /** 400 seeded documents over a 300-word vocabulary. */
  private lazy val docs = {
    import spark.implicits._
    val rnd = new scala.util.Random(1102)
    val words = (0 until 300).map(_ => Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(8)).toChar).mkString)
    (0L until 400L).map(i => (i, Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text").repartition(4).cache()
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("IVF top-k: at most 7 jobs; the same rows in the same order as the multi-job spelling") {
    emb.count()
    val (n, got) = jobs(rows(IvfAnn.topK(emb, nQueries = 16, k = 3, cells = 8, iters = 2)))
    assert(n <= 7, s"IvfAnn.topK ran $n jobs")
    assert(got.size === 48)
    assert(got === rows(CurateSpellings.ivfTopK(emb, 16, 3, 8, 2)))
  }

  test("IVF centroids equal the groupBy spelling at 1, 4 and 7 input partitions") {
    val want = CurateSpellings.centroids(vectors(4), 8, 3)
    Seq(1, 4, 7).foreach { p =>
      val v = vectors(p)
      assert(IvfAnn.centroids(v, 8, 3) === want, s"$p partitions")
      assert(CurateSpellings.centroids(v, 8, 3) === want, s"$p partitions, spelling")
    }
    // one job for the seed, one per Lloyd iteration; at 7 partitions
    // the tree aggregation's combining stage stays inside that job
    val v7 = vectors(7).cache()
    v7.count()
    Seq(emb -> 4, v7 -> 7).foreach { case (v, p) =>
      val (n, _) = jobs(IvfAnn.centroids(v, 8, 3))
      assert(n === 4, s"IvfAnn.centroids(iters = 3) ran $n jobs at $p partitions")
    }
    v7.unpersist()
  }

  test("IVF quantizer: the same cells and probes as the typedlit spelling on ties, NaN, NULL and mismatched dims") {
    import spark.implicits._
    val nan = Float.NaN
    // cells 0 and 2 tie exactly; cell 4 has a NaN component; cell 5 is
    // 3-dimensional, so it scores NULL for every 2-dimensional vector
    val cs = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(0.5, 0.5),
      Seq(Double.NaN, 1.0), Seq(1.0, 0.0, 0.0))
    val vs: Seq[Seq[Float]] = Seq(
      Seq(0.9f, 0.1f), Seq(0.0f, 0.0f), Seq(0.25f, 0.25f), Seq(nan, 1.0f), Seq(nan, nan),
      Seq(1.0f, 0.0f, 0.0f), Seq(1.0f), Seq.empty, null, Seq(-2.0f, 3.0f))
    val df = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
    def cells(spelling: (Column, Int) => Column) =
      df.select(col("i") +: (1 to cs.size + 1).map(n => spelling(col("v"), n)): _*)
        .orderBy("i").collect().map(_.toSeq).toSeq
    val got = cells((v, n) => IvfAnn.probeCells(v, cs, n))
    assert(got === cells((v, n) => CurateSpellings.probeCells(v, cs, n)))
    val assigned = df.select(col("i"), IvfAnn.assign(col("v"), cs), CurateSpellings.assign(col("v"), cs))
      .collect()
    assigned.foreach(r => assert(r.getInt(1) === r.getInt(2), s"vector ${vs(r.getInt(0))}"))
    // NULL and mismatched vectors score NULL in every cell: largest first
    val byRow = got.map(r => r.head.asInstanceOf[Int] -> r.last.asInstanceOf[scala.collection.Seq[Int]].toSeq).toMap
    assert(byRow(8) === (5 to 0 by -1))
    assert(byRow(6) === (5 to 0 by -1))
    assert(byRow(5).head === 5 && byRow(0).last === 5)
  }

  test("IVF top-k's executed plan does not grow with the centroid matrix") {
    def planChars(dim: Int) = {
      import spark.implicits._
      val rnd = new scala.util.Random(1103)
      val v = (0L until 64L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding").cache()
      val n = IvfAnn.topK(v, nQueries = 4, k = 3, cells = 8, iters = 1)
        .queryExecution.executedPlan.toString.length
      v.unpersist()
      n
    }
    val (small, large) = (planChars(64), planChars(256))
    // the typedlit spelling rendered 8 × 192 more doubles per use
    assert(math.abs(large - small) < 64, s"plan text: $small chars at dim 64, $large at dim 256")
  }

  test("cosine top-k: at most 4 jobs; the same rows in the same order as orderBy") {
    emb.count()
    val (n, got) = jobs(rows(Similarity.cosineTopK(emb, col("vec_id") < 16, 3)))
    assert(n <= 4, s"Similarity.cosineTopK ran $n jobs")
    assert(got.size === 48)
    assert(got === rows(CurateSpellings.cosineTopK(emb, col("vec_id") < 16, 3)))
  }

  test("BPE: at most 3 jobs; the same merge table on the local path, the distributed path and the spelling") {
    docs.count()
    def table(df: DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val (n, local) = jobs(table(Bpe.trainMerges(docs, 24)))
    assert(n <= 3, s"Bpe.trainMerges ran $n jobs")
    assert(local.size === 24)
    assert(local.map(_._1) === (1 to 24))
    assert(local === CurateSpellings.bpeMerges(docs, 24))
    assert(table(Bpe.trainMerges(docs, 24, localVocabLimit = 0)) === local)
    // the probe's bound at its edge: a vocabulary of exactly the limit
    // trains locally, one word over it distributedly, both alike
    val words = docs.select(explode(split(col("text"), " "))).distinct().count().toInt
    val (atLimit, l1) = jobs(table(Bpe.trainMerges(docs, 24, localVocabLimit = words)))
    val (overLimit, l2) = jobs(table(Bpe.trainMerges(docs, 24, localVocabLimit = words - 1)))
    assert(l1 === local && l2 === local)
    assert(atLimit <= 3 && overLimit > 3, s"jobs at the limit $atLimit, over it $overLimit")
    // the distributed path checkpoints the probed plan: the corpus is
    // still read once
    val reads = spark.sparkContext.longAccumulator("curatePlanSpec.reads")
    val counted = udf { (_: String) => reads.add(1); true }.asNondeterministic()
    assert(table(Bpe.trainMerges(docs.filter(counted(col("text"))), 24, localVocabLimit = 0)) === local)
    assert(reads.value === 400L, "the distributed path read the corpus again")
  }

  test("the BPE probe sends the driver at most the limit's words, and fetches a skewed vocabulary that fits") {
    import spark.implicits._
    // 400 words of 64 symbols, 100 in each of 4 partitions
    val vocab = spark.range(0, 400, 1, 4).as[Long]
      .map(i => ((0 until 64).map(j => ('a' + (i + j) % 26).toChar.toString), i))
    val all = vocab.collect().toSeq
    val (n1, everything, got) = jobsAndResultBytes(Bpe.probeVocab(vocab, 10000))
    assert(n1 === 1 && got.map(_.toSeq) === Some(all))
    val (_, countsOnly, none) = jobsAndResultBytes(Bpe.probeVocab(vocab, 0))
    assert(none.isEmpty)
    // every partition's 100 words fit a limit of 200, the vocabulary
    // does not: the driver must not receive more than 201 words' worth
    val (n2, over, none2) = jobsAndResultBytes(Bpe.probeVocab(vocab, 200))
    assert(n2 === 1 && none2.isEmpty)
    val perWord = (everything - countsOnly).toDouble / 400
    assert(over - countsOnly <= perWord * 201,
      s"the probe sent ${over - countsOnly} bytes of words, more than 201 words of $perWord bytes")
    // 175 words, 100 in partition 0: over its share of 200 but the
    // whole fits, so a second job fetches that partition alone
    val skewed = vocab.filter(w => w._2 < 100 || w._2 % 4 == 0)
    val (n3, fetched, got3) = jobsAndResultBytes(Bpe.probeVocab(skewed, 200))
    assert(n3 === 2 && got3.map(_.toSeq) === Some(skewed.collect().toSeq))
    assert(fetched - countsOnly <= perWord * 201)
  }
}
