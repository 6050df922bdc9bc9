package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Multimodal, MediaMeta, SimHash, VectorOps}
import graft.operators.{IvfAnn, MinHash, Similarity}
import graft.streaming.{EventRow, EventStreams, StatefulOps, UserRunning}

/** The public face of the engine: one object a user of the reference
  * project can import to run every operation it supports — plus the
  * training-data-pipeline layer — as plain DataFrame transforms.
  *
  * Everything returns a lazy DataFrame/Dataset; nothing collects to
  * the driver (bounded model state like IVF centroids excepted).
  * Judged query shapes live in SparkEntry and the operators package;
  * this facade is the stable library API over the same implementations.
  */
object Graft {

  // ---- sources -----------------------------------------------------
  /** Typed loaders for the testdata tables (parquet, footer schema). */
  val tables: graft.sources.Tables.type = graft.sources.Tables

  /** Object-store access (the reference's s3a://+dl.cfg story):
    * parse a dl.cfg-shape config into a base URI + Hadoop credential
    * options, then read/write tables through any scheme. */
  val lake: graft.sources.Lake.type = graft.sources.Lake
  def lakeConfig(cfgText: String): graft.sources.LakeConfig =
    graft.sources.LakeConfig.parse(cfgText)

  /** ACID-ish snapshot tables over raw parquet: atomic manifest
    * commits, snapshot reads, time travel (version and timestamp),
    * partition columns, conditional MERGE (matched-clause
    * update/delete) with commit reconciliation on lost races,
    * row-level change feed (rowChanges), schema evolution on append,
    * per-file stats/sizes with manifest-level data skipping
    * (readRange/readWhere incl. strings and OR predicates),
    * OPTIMIZE/Z-ORDER compaction, incremental small-file OPTIMIZE
    * (compactSmall), RESTORE rollback, CHECK constraints
    * (addConstraint/dropConstraint), retention. */
  val manifestTable: graft.sources.ManifestTable.type = graft.sources.ManifestTable

  /** The manifest change feed as a Structured Stream: an idempotent
    * pump publishes committed increments; consumers get checkpointed
    * exactly-once file-source delivery. */
  val changeFeedStream: graft.streaming.ChangeFeedStream.type =
    graft.streaming.ChangeFeedStream

  /** Session builder with the engine's required configs (UTC, ns-as-
    * long events, SQL extensions with dot_product registered). */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession =
    builder(master, shufflePartitions.toString).getOrCreate()

  /** The session every main runs in: `local[$SPARK_GRAFT_CPUS]`
    * (default 4) with one shuffle partition per core, the engine's
    * required configs, the warehouse under the JVM temp dir and no UI. */
  private[graft] def mainSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores ts as TIMESTAMP(NANOS); Spark rejects that
      // physical type unless it is surfaced as a long (Tables.events then
      // converts ns → µs TimestampType explicitly)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fork-free chmod for file: (GraftLocalFileSystem docs)
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.GraftLocalFileSystem")
      // custom expressions + the graft name-resolution rule (touches
      // only relations the built-in resolver left unresolved), so the
      // SQL-surface queries plan in every session
      .withExtensions(new GraftExtensions)

  // ---- deduplication ----------------------------------------------
  /** Exact dedup: one surviving row (smallest id) per normalized-text
    * digest, with the duplicate count. */
  def dedupExact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(lower(trim(col(textCol)))).as("h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(idCol, "n_copies")

  /** MinHash+LSH fuzzy dedup: per-doc group id (smallest near-dup
    * neighbor). `minJaccard` filters candidate pairs by estimated
    * signature overlap. */
  def dedupFuzzy(docs: DataFrame, minJaccard: Double = 0.5,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    MinHash.dupGroups(docs, idCol, textCol, minJaccard)

  /** Candidate near-duplicate pairs with estimated Jaccard (the stage
    * before exact verification). */
  def nearDupCandidates(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    MinHash.candidatePairs(docs, idCol, textCol)

  /** EXACT similarity join (all pairs with shingle Jaccard ≥ t) via
    * PPJoin-style prefix filtering — no all-pairs scan, recall 1.0 by
    * construction. */
  def similarityJoin(docs: DataFrame, t: Double = 0.5,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    MinHash.prefixJoin(docs, idCol, textCol, t)

  /** 32-bit SimHash fingerprint column. */
  def simhash(text: Column): Column = SimHash.simhash(text)

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = SimHash.hamming(a, b)

  // ---- similarity search ------------------------------------------
  /** Exact cosine top-k for a bounded (broadcastable) query set. */
  def cosineTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame =
    Similarity.cosineTopK(embeddings, queryPred, k)

  /** IVF-cell approximate top-k (k-means coarse quantizer). */
  def annIvf(embeddings: DataFrame, nQueries: Int, k: Int,
             cells: Int = 8, iters: Int = 2): DataFrame =
    IvfAnn.topK(embeddings, nQueries, k, cells, iters)

  /** Product-quantization approximate top-k: per-subspace integer
    * codebooks, ADC lookup-table scan over sub-codes, exact-dot refine
    * of the per-query shortlist (the residency-compression ANN path). */
  def annPq(embeddings: DataFrame, queryPred: Column,
            subDim: Int = 8, k: Int = 16, iters: Int = 2,
            shortlist: Int = 100, topK: Int = 3): DataFrame =
    Similarity.pqVerified(embeddings, queryPred, subDim, k, iters, shortlist, topK)

  /** SemDeDup semantic dedup: k-means cells bound the pairwise
    * comparison to within-cell members; a vector is removed when a
    * smaller-id cell mate's int8-code dot clears `minDot`. With
    * `k = 0` (the default) the cell count is derived from the corpus
    * size ([[Similarity.semanticCells]]) so the pair join stays linear
    * in the corpus — pass an explicit k only to pin the geometry. */
  def dedupSemantic(embeddings: DataFrame, k: Int = 0,
                    minDot: Long = 5000L): DataFrame = {
    val cells =
      if (k > 0) k
      else Similarity.semanticCells(
        embeddings.filter(VectorOps.norm(col("embedding")) > 0).count())
    Similarity.semanticDedup(embeddings, k = cells, minDot = minDot)
  }

  /** ColBERT-style late-interaction (MaxSim) top-k for a bounded query
    * set: per-pair m×m max/sum cascade inside one codegen'd
    * expression, zero corpus-sized shuffles. */
  def maxSimTopK(embeddings: DataFrame, queryPred: Column,
                 topK: Int = 3): DataFrame =
    Similarity.maxSimTopK(embeddings, queryPred, topK = topK)

  /** Codegen'd dot product / norm / cosine over array columns. */
  def dot(a: Column, b: Column): Column = VectorOps.dot(a, b)
  def norm(a: Column): Column = VectorOps.norm(a)
  def cosine(a: Column, b: Column): Column = VectorOps.cosine(a, b)

  /** Per-group mean vector (typed UDAF, partial-merging). */
  def centroid(c: Column): Column = VectorOps.centroid(c)

  // ---- text analysis ----------------------------------------------
  /** n-word shingles with whole-text fallback for short docs. */
  def shingles(text: Column, n: Int = 3): Column = MinHash.shingles(text, n)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** Iterative BPE merge training over the word vocabulary — N
    * deterministic merges (freq desc, lexicographic tie-break), early
    * stop when no pair repeats. Output (rank, left, right, freq). */
  def bpeTrainMerges(docs: DataFrame, nMerges: Int): DataFrame =
    graft.operators.Bpe.trainMerges(docs, nMerges)

  /** Tokenize with a trained merge table (rank-ordered pairs) — the
    * single corpus pass that consumes [[bpeTrainMerges]]'s model. */
  def bpeTokenize(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    graft.operators.Bpe.tokenize(docs, merges)

  /** BPE-ish regex token count (letters / digits / punctuation).
    * Whitespace is enumerated rather than \s so the count replays
    * identically under RE2-class engines (Java's \s includes \x0B). */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r\\f]"), lit(0)))

  // ---- corpus curation ---------------------------------------------
  /** Per-training-doc count of distinct n-grams shared with the eval
    * subset (benchmark decontamination). */
  def contamination(docs: DataFrame, isEval: Column, n: Int = 4): DataFrame =
    graft.operators.Curation.contamination(docs, isEval, n)

  /** Redact emails/phones; count PII hits. */
  def scrubPii(text: Column): Column = graft.operators.Curation.scrubPii(text)
  def piiCount(text: Column): Column = graft.operators.Curation.piiCount(text)

  /** Gopher-style top-bigram repetition ratio per doc. */
  def repetitionScores(docs: DataFrame): DataFrame =
    graft.operators.Curation.repetitionScores(docs)

  /** Deterministic md5-hash train/val/test assignment. */
  def splitAssign(key: Column, salt: String = ":graft"): Column =
    graft.operators.Curation.splitAssign(key, salt)

  /** Symmetric int8 quantization codes for an embedding column. */
  def quantize(vec: Column): Column = graft.operators.Curation.quantize(vec)

  /** End-to-end curation pipeline: lang gate → normalize → quality
    * gate → exact dedup → deterministic split → per-(split, source)
    * doc/token accounting, as one lazy plan. */
  def curatePipeline(docs: DataFrame, lang: String = "en",
                     minTokens: Int = 20, maxRep: Double = 0.2): DataFrame =
    graft.operators.Curation.pipeline(docs, lang, minTokens, maxRep)

  /** Dedup a new batch against an existing corpus (anti-join on the
    * normalized digest; idempotent daily-ingest shape). */
  def dedupAgainst(newBatch: DataFrame, corpus: DataFrame,
                   textCol: String = "text"): DataFrame =
    graft.operators.Curation.dedupAgainst(newBatch, corpus, textCol)

  /** One canonical survivor per dup cluster (highest quality, ties by id). */
  def canonicalPerCluster(members: DataFrame, groupCol: String, idCol: String,
                          qualityCol: String): DataFrame =
    graft.operators.Curation.canonicalPerCluster(members, groupCol, idCol, qualityCol)

  /** Resample toward a target domain mixture (stateless md5 keep
    * decision; rate table broadcasts). */
  def domainMix(docs: DataFrame, weight: Column, stratumCol: String,
                keyCol: String): DataFrame =
    graft.operators.Curation.domainMix(docs, weight, stratumCol, keyCol)

  /** Per-stratum keep-rates toward a target mixture. */
  def mixRates(docs: DataFrame, weight: Column, stratumCol: String): DataFrame =
    graft.operators.Curation.mixRates(docs, weight, stratumCol)

  /** md5-derived uniform in [0,1) — the stateless sampling primitive. */
  def hashUniform(key: Column, salt: String): Column =
    graft.operators.Curation.hashUniform(key, salt)

  /** Exactly k rows per stratum by md5 order (deterministic stratified
    * sampling, O(strata × k) state). */
  def stratifiedSample(df: DataFrame, strata: Seq[String], k: Int,
                       keyCol: String): DataFrame =
    graft.operators.Curation.stratifiedSample(df, strata, k, keyCol)

  /** Linear-classifier quality features / logit (IEEE-exact ops only). */
  def qualityFeatures(docs: DataFrame): DataFrame =
    graft.operators.Curation.qualityFeatures(docs)
  def qualityLogit(nTok: Column, ttr: Column, stopRatio: Column,
                   meanWlen: Column): Column =
    graft.operators.Curation.qualityLogit(nTok, ttr, stopRatio, meanWlen)

  /** Corpus-trained bigram-LM average log-prob + perplexity per doc. */
  def lmPerplexity(docs: DataFrame): DataFrame =
    graft.operators.Curation.lmPerplexity(docs)

  /** Within-corpus first-seen n-gram novelty share per doc. */
  def noveltyScores(docs: DataFrame, n: Int = 4): DataFrame =
    graft.operators.Curation.noveltyScores(docs, n)

  // ---- graph / analytics --------------------------------------------
  /** Fixed-iteration PageRank over an edge list. State is fixed-point
    * micro-units (`pr_micro` = pr·10⁶, long) — integer arithmetic
    * only, so iterations are order- and engine-independent. */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5): DataFrame =
    graft.operators.Similarity.pageRank(nodes, edges, iters)

  /** Distributed fixed-iteration k-means over int8-quantized
    * embeddings; one row per cluster
    * (cid, n_members, inertia_micro: long, micro-units of the
    * squared-code scale). */
  def kmeans(embeddings: DataFrame, k: Int = 4, iters: Int = 2): DataFrame =
    graft.operators.Similarity.kmeansQuantized(embeddings, k, iters)

  /** Per-user ordered funnel over an event log. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame =
    graft.operators.Analytics.funnel(events, stages)

  /** First-activity-week cohort × week-offset retention counts. */
  def cohortRetention(events: DataFrame): DataFrame =
    graft.operators.Analytics.cohortRetention(events)

  /** Gap-based sessionization: one row per (user, session) with
    * count/span/value-sum/conversion. */
  def sessionize(events: DataFrame, gapUs: Long = 30L * 60 * 1000000): DataFrame =
    graft.operators.Analytics.sessionize(events, gapUs)

  /** Per-user hourly gap-fill: generated hour spine between first and
    * last active hour, observed hourly sums, LOCF fill (the judged
    * w12_gapfill shape). */
  def gapFillHourly(events: DataFrame, userPred: Column = lit(true)): DataFrame =
    graft.operators.Analytics.gapFillHourly(events, userPred)

  // ---- multimodal -------------------------------------------------
  /** Attach an opaque binary payload column. */
  def withPayload(docs: DataFrame): DataFrame = Multimodal.withPayload(docs)

  /** Partition-wise typed decode (stubbed codec; real plumbing). */
  def decode(spark: SparkSession, docs: DataFrame): Dataset[MediaMeta] =
    Multimodal.decodeStub(spark, docs)

  // ---- streaming ---------------------------------------------------
  /** Tumbling 1-hour windows (watermarked when streaming). */
  def hourlyCounts(events: DataFrame, withWatermark: Boolean = false): DataFrame =
    EventStreams.hourlyCounts(events, withWatermark)

  /** 10-minute-gap session windows per user. */
  def sessions(events: DataFrame, withWatermark: Boolean = false): DataFrame =
    EventStreams.sessions(events, withWatermark)

  /** Stateful dedup (watermark-bounded when streaming). */
  def dedupEvents(events: DataFrame, streaming: Boolean): DataFrame =
    EventStreams.dedupEvents(events, streaming)

  /** transformWithState running per-user (count, sum). */
  def runningCounts(events: Dataset[EventRow]): Dataset[UserRunning] =
    StatefulOps.runningCounts(events)

  /** transformWithState streaming funnel progress (streaming twin of
    * the batch [[funnel]]). */
  def funnelProgress(events: Dataset[EventRow]): Dataset[graft.streaming.FunnelUpdate] =
    StatefulOps.funnelProgress(events)

  /** transformWithState ListState per-user streaming top-k purchases. */
  def topPurchases(events: Dataset[EventRow], k: Int = 3): Dataset[graft.streaming.TopPurchase] =
    StatefulOps.topPurchases(events, k)

  // ---- lakehouse (ACID manifest-commit tables) --------------------
  /** Commit `df` as the table's next version (append or overwrite);
    * returns the committed version. */
  def commitTable(spark: SparkSession, table: String, df: DataFrame,
                  mode: org.apache.spark.sql.SaveMode =
                    org.apache.spark.sql.SaveMode.Append): Int =
    graft.sources.ManifestTable.commit(spark, table, df, mode)

  /** Read a committed snapshot (default: head; pass an older version
    * for time travel). */
  def readTable(spark: SparkSession, table: String, version: Int = -1): DataFrame =
    graft.sources.ManifestTable.read(spark, table, version)

  /** Filtered snapshot read with AUTOMATIC manifest-stats skipping:
    * range constraints are extracted from the predicate itself and
    * files outside them are never listed. */
  def readTableWhere(spark: SparkSession, table: String, pred: Column,
                     version: Int = -1): DataFrame =
    graft.sources.ManifestTable.readWhere(spark, table, pred, version)

  /** MERGE-style keyed upsert as one atomic snapshot (touched-file
    * pruned: only files holding matched keys rewrite). */
  def upsertTable(spark: SparkSession, table: String, updates: DataFrame,
                  keys: Seq[String]): Int =
    graft.sources.ManifestTable.upsert(spark, table, updates, keys)

  /** Conditional MERGE: matched-clause update/delete conditions over
    * target columns (plain names) and the source row (`_src.<col>`). */
  def mergeTable(spark: SparkSession, table: String, updates: DataFrame,
                 keys: Seq[String],
                 whenMatchedUpdate: Option[Column] = None,
                 whenMatchedDelete: Option[Column] = None): Int =
    graft.sources.ManifestTable.merge(spark, table, updates, keys,
      whenMatchedUpdate, whenMatchedDelete)

  /** Row-level change feed: insert / update_post / delete by key. */
  def rowChangeFeed(spark: SparkSession, table: String, sinceVersion: Int,
                    keys: Seq[String], toVersion: Int = -1): DataFrame =
    graft.sources.ManifestTable.rowChanges(spark, table, sinceVersion, keys, toVersion)

  /** Delete-by-predicate with file-level pruning, one atomic snapshot.
    * `scanRanges` additionally skips stats-incompatible files in the
    * victim scan (caller asserts pred implies the ranges). */
  def deleteFromTable(spark: SparkSession, table: String, pred: Column,
                      scanRanges: Seq[(String, Double, Double)] = Nil): Int =
    graft.sources.ManifestTable.deleteWhere(spark, table, pred,
      scanRanges = scanRanges)

  /** File-granular change feed: rows added in versions
    * `sinceVersion+1 .. toVersion` (the incremental-consumer read). */
  def changeFeed(spark: SparkSession, table: String, sinceVersion: Int,
                 toVersion: Int = -1): DataFrame =
    graft.sources.ManifestTable.changes(spark, table, sinceVersion, toVersion)

  /** OPTIMIZE-style compaction (aborts cleanly if a writer races it). */
  def compactTable(spark: SparkSession, table: String, targetFiles: Int = 1,
                   sortBy: Seq[Column] = Nil): Int =
    graft.sources.ManifestTable.compact(spark, table, targetFiles, sortBy)

  /** Retention: keep the last N versions; `graceMs` spares data dirs
    * younger than the window (in-flight writers). */
  def expireTable(spark: SparkSession, table: String, keepLast: Int,
                  graceMs: Long = 0L): Unit =
    graft.sources.ManifestTable.expire(spark, table, keepLast, graceMs)

  // ---- corpus shaping / extreme-scale index fallbacks -------------
  /** Token-budget sequence packing via the two-phase parallel prefix
    * sum (driver state bounded at any corpus size). */
  def packSequences(docs: DataFrame, budget: Long = 2048L): DataFrame =
    graft.operators.TrainingDataQueries.packAssignments(docs, budget)._1

  /** k-means state with centroids trained on a bounded deterministic
    * sample — the corpus pays one assignment pass. */
  def kmeansSampled(embeddings: DataFrame, k: Int = 4, iters: Int = 2,
                    sampleCap: Long = 200000L): (DataFrame, DataFrame) =
    graft.operators.Similarity.kmeansStateSampled(embeddings, k, iters, sampleCap)

  /** IVF-pruned O(n·√k·d) cell assignment for corpus-scaled k. */
  def assignTwoLevel(codes: DataFrame, centroids: DataFrame,
                     stride: Int, wProbe: Int = 2): DataFrame =
    graft.operators.Similarity.assignTwoLevel(codes, centroids, stride, wProbe)
}
