package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MinHash

/** B2 MinHash+LSH fuzzy dedup on planted near-duplicates. */
class MinHashSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val nearDup =
    "the quick brown fox jumps over the lazy dog near the river bank tonight"
  private val unrelated =
    "completely different subject matter about databases and distributed query engines"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, "tiny doc")
  ).toDF("doc_id", "text")

  test("shingles: n-word windows, whole-text fallback under n tokens") {
    val out = docs.select(col("doc_id"), MinHash.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).length === base.split(" ").length - 2)
    assert(out(1L).head === "the quick brown")
    assert(out(4L) === Seq("tiny doc")) // < 3 tokens → whole text
  }

  test("signature is deterministic and k-long") {
    val sig = docs.select(MinHash.signature(MinHash.shingles(col("text"), 3)).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sig.forall(_.length === MinHash.NumHashes))
    val again = docs.select(MinHash.signature(MinHash.shingles(col("text"), 3)).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sig.toSeq === again.toSeq)
  }

  test("codegen'd signature is hash-identical to the built-in formulation") {
    val fast = docs.select(MinHash.signature(MinHash.shingles(col("text"), 3)).as("s"))
      .collect().map(_.getSeq[Long](0)).toSeq
    val hof = docs.select(HofSpellings.signatureHof(MinHash.shingles(col("text"), 3)).as("s"))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(fast === hof)
  }

  test("fused shingle+minhash is identical to signature∘shingles (incl. short docs)") {
    val weird = docs.union(Seq((9L, "single"), (8L, "two words")).toDF("doc_id", "text"))
    val fused = weird.select(col("doc_id"), MinHash.fusedSignature(col("text"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val staged = weird.select(col("doc_id"),
        MinHash.signature(MinHash.shingles(col("text"), 3)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused === staged)
  }

  test("candidate pairs find the planted near-dup, not the unrelated doc") {
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.5 })
    assert(!pairs.exists { case (a, b, _) => Set(a, b).contains(3L) && Set(a, b).intersect(Set(1L, 2L)).nonEmpty })
  }

  test("prefix join finds exactly the planted near-dup pair, with exact jaccard") {
    val out = MinHash.prefixJoin(docs, t = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 14 words → 12 shingles each; only the final shingle contains the
    // differing last word → intersection 11, union 13
    assert(out.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    val expected = 11.0 / 13.0
    assert(math.abs(out.head._3 - expected) < 1e-9)
    // a lower threshold must not invent pairs with the unrelated doc
    val loose = MinHash.prefixJoin(docs, t = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!loose.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("positional bound is lossless: prefixJoin equals brute force on a varied corpus (r19)") {
    // overlapping word windows at many lengths: adjacent docs share
    // most shingles, distant ones share few — borderline pairs at
    // every threshold, exactly where an over-tight positional bound
    // would first drop a qualifying pair
    val words = (0 until 60).map(i => s"w$i")
    val corpus = (0 until 18).map { i =>
      (i.toLong, words.slice(i, i + 8 + (i % 5)).mkString(" "))
    }.toDF("doc_id", "text")
    def brute(t: Double): Set[(Long, Long, Double)] = {
      val sets = corpus.select(col("doc_id"),
          array_distinct(MinHash.shingles(lower(trim(col("text"))), 3)).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      (for {
        a <- sets.keys; b <- sets.keys if a < b
        j = sets(a).intersect(sets(b)).size.toDouble /
          sets(a).union(sets(b)).size
        if math.rint(j * 1e6) / 1e6 >= t
      } yield (a, b, j)).toSet
    }
    Seq(0.3, 0.5, 0.7).foreach { t =>
      val got = MinHash.prefixJoin(corpus, t = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === brute(t), s"prefixJoin(t=$t) diverged from brute force")
    }
    // each bound only ever shrinks the candidate set
    val (raw, bounded, positional) = MinHash.prefixCandidateCounts(corpus)
    assert(positional <= bounded && bounded <= raw)
  }

  test("dupGroups clusters the near-dups under the smallest id") {
    val g = MinHash.dupGroups(docs, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(1L) === 1L)
    assert(g(2L) === 1L) // clustered with doc 1
    assert(g(3L) === 3L) // singleton
    assert(g(4L) === 4L)
  }

  test("connectedComponents closes transitive chains and leaves singletons") {
    // chain 1-2, 2-3 (1≁3 directly), separate pair 7-9, singleton 5
    val ids = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val g = MinHash.connectedComponents(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 7L, 9L -> 7L))
  }

  test("oversize buckets emit linear star edges, same dup group, no pair blowup") {
    // 200 identical docs: one LSH bucket per band, size far above the
    // all-pairs cap. Pairs must stay ~linear (star edges), NOT ~200²/2,
    // and dup-grouping must still put every copy in one group.
    val n = 200
    val docs = (0 until n)
      .map(i => (i.toLong, "the very same boilerplate text repeated everywhere"))
      .toDF("doc_id", "text")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text")
    val cnt = pairs.count()
    assert(cnt <= 2L * n, s"expected ~linear star edges, got $cnt")
    assert(cnt >= n - 1L)
    val groups = MinHash.dupGroups(docs, "doc_id", "text", 0.8)
      .select("dup_group").distinct().collect().map(_.getLong(0))
    assert(groups.toSeq === Seq(0L))
  }

  test("corpus-level dup-group recall floor on planted near-duplicates") {
    // End-to-end quality gate for the judged b2_minhash_dedup path
    // (candidatePairs → jaccard filter → CC → groups), which has no
    // SQL oracle by design: plant 40 near-dup pairs (50-word docs, one
    // word perturbed → shingle Jaccard ≈ 0.89) inside 160 unrelated
    // docs and require the pipeline to group ≥ 85% of the planted
    // pairs (banding theory: P[candidate] = 1−(1−j⁴)⁴ ≈ 0.98 at
    // j≈0.89) with zero cross-contamination of unrelated docs.
    // Deterministic: fixed RNG seed + fixed hash seeds, so this is a
    // stable measurement, not a flaky statistical bound.
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 1000).map(i => s"w$i")
    def doc(): String = Seq.fill(50)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val bases = (0 until 200).map(i => (i.toLong, doc()))
    val planted = bases.take(40).map { case (id, text) =>
      val ws = text.split(" "); ws(25) = "perturbed"
      (id + 1000L, ws.mkString(" "))
    }
    val corpus = (bases ++ planted).toDF("doc_id", "text")
    val g = MinHash.dupGroups(corpus, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 40).count(i => g(i.toLong) == g(i + 1000L))
    info(s"planted-pair recall = $hits/40")
    assert(hits >= 34, s"recall $hits/40 below the 85% floor")
    // precision: unrelated docs stay singleton groups
    val unrelated = (40 until 200).map(_.toLong)
    assert(unrelated.forall(id => g(id) == id),
      "an unrelated doc was absorbed into a dup group")
  }

  test("connectedComponents handles a long path needing several rounds") {
    // path 9-8-7-...-0: component min (0) must propagate the full length
    val n = 10
    val ids = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val g = MinHash.connectedComponents(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g === (0L until n).map(_ -> 0L).toMap)
  }
}
