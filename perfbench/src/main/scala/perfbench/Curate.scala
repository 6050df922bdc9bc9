package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft

/** Repeated passes of the LLM-curation chain over 1,000 documents and
  * 500 vectors with planted exact and near duplicates. Each stage is
  * one timed operation; the inputs are cached in memory at setup, so
  * the workload does no table-format work at all. `stages` is the
  * chain a pass runs: [[Curate.Chain]] for `curate`, every stage
  * ([[Curate.Stages]]) for `curate_full`.
  *
  * Checks: exact-dup group count and the exact similarity-join pair set
  * match the plants exactly; fuzzy-dedup recall of planted pairs stays
  * above the unit specs' 85 % floor with no unrelated doc absorbed;
  * cosine top-k matches a brute-force scan and finds every planted twin;
  * IVF and PQ recall@3 stay above the specs' floors (0.5, 0.7); the
  * pipeline's accounting matches an independent count of distinct
  * English texts. */
final class Curate(spark: SparkSession, rec: Recorder, seed: Long, stages: Seq[String]) extends Workload {
  import Curate._
  private val corpus = Data.corpus(seed, Docs)
  private val (vectors, twins) = Data.embeddings(seed, Vectors)
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var passes = 0
  private val passPlan = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)] // (pass, t0, t1)

  def setup(): Unit = {
    import spark.implicits._
    docs = corpus.docs.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(4).cache()
    emb = vectors.map { case (id, v, l) => (id, v, l) }.toDF("vec_id", "embedding", "label").repartition(4).cache()
    docs.count(); emb.count()
    rec.phase("inputs")
    // warm-up, untimed: one pass spread over three threads, then one in
    // order; after a single pass the first timed pass still ran at about
    // half the speed of later ones, and unevenly
    Workload.concurrently(spark)(WarmGroups.map(g =>
      () => g.filter(stages.contains).foreach(s => stage(s, docs, emb, check = false))): _*)
    stages.foreach(s => stage(s, docs, emb, check = false))
    rec.phase("warmup")
  }

  // exact cosine top-3 by brute force, for the ANN checks
  private lazy val exactTop3: Map[Long, Seq[Long]] = {
    def norm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
    (0L until Queries).map { q =>
      val qv = vectors(q.toInt)._2; val qn = norm(qv)
      q -> vectors.filter(_._1 != q).map { case (id, v, _) =>
        val sim = qv.indices.map(i => qv(i).toDouble * v(i)).sum / (qn * norm(v))
        (BigDecimal(sim).setScale(6, BigDecimal.RoundingMode.HALF_UP), id)
      }.sortBy { case (s, id) => (-s, id) }.take(3).map(_._2)
    }.toMap
  }

  private def recall(rows: Array[Row]): Double = {
    val got = rows.map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    exactTop3.map { case (q, truth) => got.getOrElse(q, Set.empty[Long]).intersect(truth.toSet).size / 3.0 }
      .sum / exactTop3.size
  }

  private var bpeMerges: Seq[(String, String)] = Nil

  /** Run one stage; returns its facts (and "ok" when checked). */
  private def stage(s: String, d: DataFrame, e: DataFrame, check: Boolean): Map[String, Any] = {
    val nDocs = corpus.docs.size
    s match {
      case "dedupExact" =>
        val rows = Graft.dedupExact(d).collect()
        val copies = rows.map(_.getLong(1)).sum
        Map("ok" -> (!check || (rows.length == nDocs - corpus.exactCopies && copies == nDocs)),
          "why" -> s"${rows.length} groups / $copies docs, planted ${nDocs - corpus.exactCopies}",
          "rows_in" -> nDocs)
      case "nearDupCandidates" =>
        val candidates = Graft.nearDupCandidates(d).select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val useful = candidates.count(corpus.plantedPairs.contains)
        Map("candidates" -> candidates.size, "useful" -> useful, "rows_in" -> nDocs)
      case "dedupFuzzy" =>
        val g = Graft.dedupFuzzy(d, 0.5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val hits = corpus.plantedPairs.count { case (a, b) => g.get(a).exists(g.get(b).contains) }
        val planted = corpus.plantedPairs.flatMap { case (a, b) => Seq(a, b) }
        val absorbed = g.count { case (id, grp) => !planted.contains(id) && grp != id }
        val rate = hits.toDouble / corpus.plantedPairs.size
        Map("ok" -> (!check || (rate >= 0.85 && absorbed == 0)),
          "why" -> s"planted-pair recall $rate, unrelated absorbed $absorbed", "recall" -> rate, "rows_in" -> nDocs)
      case "similarityJoin" =>
        val pairs = Graft.similarityJoin(d, 0.5).select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        Map("ok" -> (!check || pairs == corpus.plantedPairs),
          "why" -> (s"${pairs.size} pairs, planted ${corpus.plantedPairs.size}, " +
            s"missing ${(corpus.plantedPairs -- pairs).size}, extra ${(pairs -- corpus.plantedPairs).size}"),
          "pairs" -> pairs.size, "rows_in" -> nDocs)
      case "simhash" =>
        val h = d.select(col("doc_id"), Graft.simhash(col("text")).as("h")).collect()
          .map(r => r.getLong(0) -> r.get(1)).toMap
        // identical texts share a fingerprint; near duplicates may (that
        // is the point of simhash), unrelated docs almost never do
        val byText = corpus.docs.groupBy(_._2).values.map(_.map(_._1).filter(h.contains))
        val split = byText.count(ids => ids.map(h).distinct.size > 1)
        val planted = corpus.plantedPairs.flatMap { case (a, b) => Seq(a, b) }
        val loners = corpus.docs.map(_._1).filter(h.contains).filterNot(planted)
        val clashes = loners.size - loners.map(h).distinct.size
        Map("ok" -> (!check || (split == 0 && clashes <= 3)),
          "why" -> s"$split texts with differing simhashes, $clashes chance clashes among ${loners.size} unrelated docs",
          "rows_in" -> nDocs)
      case "bpeTrain" =>
        val m = Graft.bpeTrainMerges(d, BpeMerges).collect()
        bpeMerges = m.map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
        val freqs = m.map(_.getAs[Long]("freq"))
        Map("ok" -> (!check || (m.length == BpeMerges && freqs.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))),
          "why" -> s"${m.length} merges", "digest" -> m.map(_.toString).mkString(";").hashCode, "rows_in" -> nDocs)
      case "bpeTokenize" =>
        val tok = Graft.bpeTokenize(d, bpeMerges)
        val n = tok.agg(sum(size(col("tokens")))).collect()(0).getLong(0)
        val words = corpus.docs.map(_._2.split(" ").length.toLong).sum
        val chars = corpus.docs.map(_._2.replace(" ", "").length.toLong).sum
        Map("ok" -> (!check || (n >= words && n <= chars)), "why" -> s"$n tokens for $words words, $chars chars",
          "rows_in" -> nDocs)
      case "curatePipeline" =>
        val rows = Graft.curatePipeline(d).collect()
        val nd = rows.map(_.getAs[Long]("n_docs")).sum
        val nt = rows.map(_.getAs[Long]("n_tokens")).sum
        val en = corpus.docs.filter(_._3 == "en").map(_._2).distinct
        val wantT = en.map(_.split(" ").length.toLong).sum
        Map("ok" -> (!check || (nd == en.size && nt == wantT)),
          "why" -> s"$nd docs / $nt tokens, want ${en.size} / $wantT", "rows_in" -> nDocs)
      case "cosineTopK" =>
        val rows = Graft.cosineTopK(e, col("vec_id") < Queries, 3).collect()
        val top1 = rows.filter(_.getAs[Int]("rnk") == 1).map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
        val r = recall(rows)
        Map("ok" -> (!check || (r == 1.0 && twins.forall { case (q, t) => top1.get(q).contains(t) })),
          "why" -> s"recall vs brute force $r", "rows_in" -> vectors.size)
      case "annIvf" =>
        val r = recall(Graft.annIvf(e, Queries.toInt, 3).collect())
        Map("ok" -> (!check || r >= 0.5), "why" -> s"recall@3 $r", "recall" -> r, "rows_in" -> vectors.size)
      case "annPq" =>
        val r = recall(Graft.annPq(e, col("vec_id") < Queries, topK = 3).collect())
        Map("ok" -> (!check || r >= 0.7), "why" -> s"recall@3 $r", "recall" -> r, "rows_in" -> vectors.size)
    }
  }

  /** Whole passes (see [[Recorder.anotherCycle]]), so every stage is
    * measured the same number of times in a run. */
  def run(deadlineNs: Long): Unit = {
    while (rec.anotherCycle(deadlineNs, passes)) {
      val p0 = rec.now()
      stages.foreach { s =>
        rec.op(s, "stage") {
          rec.span(s"Graft.$s")(stage(s, docs, emb, check = true)) + ("pass" -> passes)
        }
      }
      passPlan += ((passes, p0, rec.now()))
      passes += 1
    }
  }
  def verify(): Seq[(String, Boolean, String)] = Nil

  def inputs: Map[String, Any] = Map(
    "documents" -> corpus.docs.size, "embeddings" -> vectors.size,
    "exact_copies" -> corpus.exactCopies, "planted_pairs" -> corpus.plantedPairs.size,
    "planted_dup_share" -> corpus.plantedPairs.flatMap { case (a, b) => Seq(a, b) }.size.toDouble / corpus.docs.size,
    "planted_twins" -> twins.size, "queries" -> Queries, "stages" -> stages)

  /** Complete passes only: (pass, start ns, end ns). */
  override def extra: Map[String, Any] = Map("passes" -> passPlan.filter(_._1 < passes).map {
    case (p, a, b) => Map("pass" -> p, "t0" -> a, "t1" -> b,
      "complete" -> (b - a > 0 && rec.opList.count(o => o.fields.get("pass").contains(p)) == stages.size)) })
}

object Curate {
  val Docs = 1000
  val Vectors = 500
  val Queries = 16L
  val BpeMerges = 64
  val Stages = Seq("dedupExact", "nearDupCandidates", "dedupFuzzy", "similarityJoin", "simhash",
    "bpeTrain", "bpeTokenize", "curatePipeline", "cosineTopK", "annIvf", "annPq")
  /** Warm-up groups: one thread each; a BPE train precedes its
    * tokenize. */
  val WarmGroups = Seq(
    Seq("nearDupCandidates", "dedupExact", "dedupFuzzy", "similarityJoin"),
    Seq("annIvf", "cosineTopK", "annPq"),
    Seq("bpeTrain", "bpeTokenize", "simhash", "curatePipeline"))
  /** The chain a `curate` run times: one stage of each family (exact
    * dedup, LSH candidates, simhash, BPE train and tokenize, exact and
    * IVF top-k) without the four slowest — `dedupFuzzy`,
    * `similarityJoin`, `curatePipeline` and `annPq`, 2–5.5 s a call
    * each on four cores — so that set-up, warm-up and one whole pass
    * fit a run of about 45 s. */
  val Chain = Stages.filterNot(Set("dedupFuzzy", "similarityJoin", "curatePipeline", "annPq"))
}
