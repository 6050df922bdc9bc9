package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Iterative byte-pair-encoding merge training (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the full merge LOOP that b5_bpe_pairs' single pair count is the
  * first step of.
  *
  * Scale design — the classic BPE trick: train on the WORD VOCABULARY,
  * never the corpus. One corpus pass builds (word, count) —
  * vocabulary-sized after map-side combine, exactly b5_vocab's shape —
  * and every merge round then runs on that small table: count-weighted
  * adjacent symbol pairs (one hash agg over vocab rows), pick the most
  * frequent pair (a 1-row driver decision with a TOTAL tie-break —
  * freq desc, then left/right lexicographic — the same bounded
  * model-state class as the Lloyd centroids), and rewrite the vocab's
  * symbol arrays in one map pass. N merges cost N vocab passes; the
  * corpus is read ONCE regardless of N. At 100 TB the vocab table is
  * millions of rows (one executor's worth) and standard practice
  * trains on a corpus sample anyway; the resulting merge table — N
  * rows — broadcasts to tokenize the full corpus in a single pass.
  *
  * Typed Dataset ops (flatMap/map) do the vocab rewrites: vocab-sized
  * model training is the sanctioned exception to the expressions-only
  * rule (SURVEY.md §4.2), and left-to-right non-overlapping merge
  * application is inherently sequential per word. Deterministic end to
  * end: exact integer counts, total tie-break, order-defined merge
  * application — the merge table is bit-identical across runs and
  * parallelism levels (BpeSpec asserts this).
  */
object Bpe {

  /** One merge (a, b) → "ab", applied left-to-right, non-overlapping —
    * the standard BPE application rule. */
  private[graft] def applyMerge(syms: IndexedSeq[String], a: String,
                                b: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** A vocabulary at or under this many distinct words trains its
    * merges DRIVER-SIDE (exact incremental pair counts, heap-ordered —
    * the Sennrich reference shape), making a 50k-merge vocabulary a
    * seconds-scale job instead of 50k Spark rounds. Bigger
    * vocabularies fall back to the distributed per-round loop — the
    * same bounded-model-state discipline as the Lloyd centroids and
    * the MinHash union-find (small model on one machine, big model
    * distributed). */
  private[graft] val LocalVocabLimit = 200_000

  /** Train up to `nMerges` BPE merges over whitespace-split lowercased
    * words; stops early when the best pair occurs fewer than 2 times.
    * Output: (rank, left, right, freq), rank 1 = first merge, totally
    * ordered, as a local relation in rank order (no sort job). The
    * corpus is read ONCE (one vocab agg) and probed by one job, two if
    * a partition holds more than its share of the limit
    * ([[probeVocab]]); merge training then runs driver-side under
    * [[LocalVocabLimit]] words (exact,
    * incremental — r13, replacing the per-merge one-row Spark job the
    * r12 verdict flagged as the 50k-merge blocker) or distributedly
    * above it. Both paths produce BIT-IDENTICAL merge tables: exact
    * integer counts, the same (freq desc, left asc, right asc) total
    * tie-break, the same left-to-right application — BpeSpec asserts
    * the parity. `localVocabLimit` is a test seam (0 forces the
    * distributed path). */
  def trainMerges(docs: DataFrame, nMerges: Int,
                  textCol: String = "text",
                  localVocabLimit: Int = LocalVocabLimit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spread (r19): the word explode otherwise runs inside the
    // single-row-group scan task — serial on any core count
    var vocab: Dataset[(IndexedSeq[String], Long)] = graft.QueryRegistry.spread(docs)
      .select(explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => (w.map(_.toString).toIndexedSeq, c) }
    val probe = probeVocab(vocab, localVocabLimit)
    val merges: Seq[(Int, String, String, Long)] =
      if (probe.isDefined) trainMergesLocal(probe.get, nMerges)
      else {
        // re-reads the probed plan's shuffle; truncates per-round lineage
        vocab = vocab.localCheckpoint(true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
        var rank = 1
        var done = false
        while (rank <= nMerges && !done) {
          val top = vocab.flatMap { case (syms, c) =>
            if (syms.length < 2) Iterator.empty
            else syms.sliding(2).map(p => (p(0), p(1), c))
          }.toDF("l", "r", "c")
            .groupBy("l", "r").agg(sum(col("c")).as("freq"))
            .orderBy(col("freq").desc, col("l").asc, col("r").asc)
            .limit(1).collect()
          if (top.isEmpty || top.head.getLong(2) < 2L) done = true
          else {
            val (a, b, f) =
              (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
            buf += ((rank, a, b, f))
            vocab = vocab.map { case (syms, c) => (applyMerge(syms, a, b), c) }
              .localCheckpoint(true)
            rank += 1
          }
        }
        buf.toSeq
      }
    merges.toDF("rank", "left", "right", "freq")
  }

  /** The (word, count) vocabulary if it has at most `limit` words, else
    * None. What reaches the driver is bounded, not only what it keeps:
    * one job over the vocab's own plan counts every partition and ships
    * a partition's words only if they fit its share of `limit`; only
    * when the counts sum to at most `limit` does a second job over the
    * same executed shuffle fetch the partitions over their share. The
    * driver so receives at most `limit` words in all, and the
    * distributed path re-reads that shuffle. */
  private[graft] def probeVocab(vocab: Dataset[(IndexedSeq[String], Long)],
                                limit: Int): Option[Array[(IndexedSeq[String], Long)]] = {
    val sc = vocab.sparkSession.sparkContext
    val rdd = vocab.queryExecution.toRdd
    val parts = new Array[Array[(IndexedSeq[String], Long)]](rdd.getNumPartitions)
    val share = limit / parts.length.max(1)
    var total = 0L
    sc.runJob(rdd, (it: Iterator[InternalRow]) => wordsIfFit(it, share),
      (i: Int, r: (Long, Array[(IndexedSeq[String], Long)])) => { total += r._1; parts(i) = r._2 })
    Option.when(total <= limit) {
      val rest = parts.indices.filter(parts(_) == null)
      if (rest.nonEmpty) sc.runJob(rdd, (it: Iterator[InternalRow]) => wordsIfFit(it, limit)._2, rest)
        .zip(rest).foreach { case (ws, i) => parts(i) = ws }
      parts.flatten
    }
  }

  /** A partition's word count, and its words if there are at most `cap`. */
  private def wordsIfFit(it: Iterator[InternalRow], cap: Int): (Long, Array[(IndexedSeq[String], Long)]) = {
    val ws = Array.newBuilder[(IndexedSeq[String], Long)]
    var n = 0L
    it.foreach { r =>
      n += 1
      if (n <= cap) {
        val a = r.getArray(0)
        ws += (((0 until a.numElements()).map(a.getUTF8String(_).toString), r.getLong(1)))
      }
    }
    (n, if (n <= cap) ws.result() else null)
  }

  /** Exact in-memory merge training over a bounded (word, count)
    * vocabulary: incremental pair counts with an inverted
    * pair → word-set index, best-pair selection through a lazy-deleted
    * max-heap under the SAME total order as the distributed path
    * (freq desc, left asc, right asc). Each merge touches only the
    * words CONTAINING the merged pair (their pair multisets re-derive
    * before/after — Sennrich's reference algorithm), so 50k merges
    * cost seconds, not 50k cluster rounds. Deterministic: hash-map
    * iteration order never reaches a decision — every choice goes
    * through the heap's total order, and count updates commute. */
  private[graft] def trainMergesLocal(words: Array[(IndexedSeq[String], Long)],
                                      nMerges: Int)
      : Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val syms: Array[IndexedSeq[String]] = words.map(_._1)
    val cnt: Array[Long] = words.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // max-heap entries are (freq-at-push, pair); stale entries are
    // discarded at pop when their freq no longer matches the live count
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val f = java.lang.Long.compare(x._1, y._1)
        if (f != 0) f // higher freq = greater = dequeued first
        else {
          val l = y._2.compareTo(x._2) // smaller left = greater
          if (l != 0) l else y._3.compareTo(x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def pairsOf(w: IndexedSeq[String]): Iterator[(String, String)] =
      if (w.length < 2) Iterator.empty
      else w.iterator.zip(w.iterator.drop(1))
    def bump(p: (String, String), by: Long, wi: Int, adding: Boolean): Unit = {
      val now = pairCount.getOrElse(p, 0L) + by
      if (now <= 0L) { pairCount.remove(p); () } else pairCount(p) = now
      if (adding) { occ.getOrElseUpdate(p, mutable.HashSet.empty) += wi; () }
      // occ entries are NOT removed on decrement: a word may still
      // contain the pair elsewhere; stale indices are filtered at use
      if (now > 0L) heap.enqueue((now, p._1, p._2))
    }
    syms.indices.foreach { wi =>
      // a word's REPEATED pair counts each occurrence (aaa → (a,a) ×2),
      // exactly like the distributed sliding(2) count
      pairsOf(syms(wi)).foreach(p => bump(p, cnt(wi), wi, adding = true))
    }
    val out = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      // pop to the first LIVE entry (freq matches the current count)
      var best: Option[(Long, String, String)] = None
      while (best.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        if (pairCount.get((e._2, e._3)).contains(e._1)) best = Some(e)
      }
      best match {
        case None => done = true
        case Some((f, a, b)) if f < 2L => done = true
        case Some((f, a, b)) =>
          out += ((rank, a, b, f))
          val p = (a, b)
          occ.get(p).foreach(_.toArray.foreach { wi =>
            val w = syms(wi)
            // stale index (the word lost the pair in an earlier merge)
            if (pairsOf(w).contains(p)) {
              val c = cnt(wi)
              pairsOf(w).foreach(q => bump(q, -c, wi, adding = false))
              val merged = applyMerge(w, a, b)
              syms(wi) = merged
              pairsOf(merged).foreach(q => bump(q, c, wi, adding = true))
            }
          })
          pairCount.remove(p)
          rank += 1
      }
    }
    out.toSeq
  }

  /** Tokenize with a trained merge table: apply the merges in rank
    * order to each word — the single corpus pass that consumes the
    * model `trainMerges` produced. Output: (id, tokens). */
  def tokenize(docs: DataFrame, merges: Seq[(String, String)],
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spread (r19): the per-word merge application is the heavy pass —
    // without it the whole corpus tokenizes inside the single scan task
    graft.QueryRegistry.spread(docs)
      .select(col(idCol).cast("long").as("id"), lower(col(textCol)).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // per-task word → tokens memo (r19): word frequencies are
        // zipfian, so the merge application runs once per DISTINCT word
        // per task instead of once per occurrence — same output, the
        // derivation is a pure function of the word and the broadcast
        // merge table. Bounded: a full memo resets (never grows past
        // 64k entries), so a pathological all-distinct corpus costs one
        // map clear, not executor memory.
        val memo = new java.util.HashMap[String, Array[String]](1 << 12)
        it.map { case (id, t) =>
          val toks = scala.collection.mutable.ArrayBuffer.empty[String]
          t.split(" ").foreach { w =>
            if (w.nonEmpty) {
              var arr = memo.get(w)
              if (arr == null) {
                var syms: IndexedSeq[String] = w.map(_.toString).toIndexedSeq
                merges.foreach { case (a, b) => syms = applyMerge(syms, a, b) }
                arr = syms.toArray
                if (memo.size >= 65536) memo.clear()
                memo.put(w, arr)
              }
              toks ++= arr
            }
          }
          (id, toks.toSeq)
        }
      }
      .toDF("id", "tokens")
  }
}
