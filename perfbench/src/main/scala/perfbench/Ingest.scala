package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable
import graft.streaming.ManifestSink
import scala.collection.immutable.HashMap
import scala.collection.mutable.ArrayBuffer

/** The Sparkify write path: one writer commits a seeded sequence of
  * orders batches into a lake table — appends, latest-wins MERGE
  * upserts, UPDATE, deletion-vector DELETE, streaming-sink micro-batches
  * (plus one replay of a committed batch id) and retention — and reads
  * each commit back through `rowCount`. Beside it, a maintainer thread
  * runs small-file compaction and a consumer thread polls the
  * `rowChanges` feed, so commits race and reads run beside writes.
  *
  * The step sequence is fixed by the seed: a bench-side model (key →
  * (revision, updated?)) is advanced through it, giving the expected
  * row count after every step and the expected final content. */
final class Ingest(spark: SparkSession, rec: Recorder, seed: Long, dir: java.io.File)
    extends Workload {
  import Ingest._
  private val table = new java.io.File(dir, "lake/orders").toString
  private val rawDir = new java.io.File(dir, "raw/batches")
  private val keys = Seq("o_orderkey")
  private val rnd = new scala.util.Random(seed)
  private val steps = ArrayBuffer.empty[Step]
  /** model state after each step; index 0 is the initial load */
  private val states = ArrayBuffer.empty[Model]

  // run-time facts, filled by the loop
  private val stepVersion = ArrayBuffer.empty[Int] // version current after step i
  private val cdcPolls = ArrayBuffer.empty[(Int, Int, Int, Map[String, Long])] // (op, fromStep, toStep, counts)
  private var initialVersion = 0
  private val mergeFilesTouched = ArrayBuffer.empty[Int]
  private val consumed = ArrayBuffer.empty[Int] // batches the lake took in

  // the model as planned so far: key → (revision, updated?)
  private var model: Model = HashMap.from((0L until InitialRows).map(k => k -> ((1L, false))))
  private var nextKey = InitialRows
  private val batchKeys = scala.collection.mutable.Map.empty[Int, Seq[(Long, Long)]] // step → (key, rev)

  private def liveSample(n: Int): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val k = (rnd.nextDouble() * nextKey).toLong
      if (model.contains(k)) out += k
    }
    out.toSeq
  }

  /** Extend the seeded step sequence, and the model after each step,
    * through step `i`. The sequence is open-ended: the writer plans a
    * step when it reaches it, so a faster engine never runs out of work
    * before the deadline. Planning consumes the seeded generator in step
    * order, so a seed gives the same steps whatever the timing. */
  private def planThrough(i: Int): Unit = while (steps.size <= i) {
    val j = steps.size
    val kind =
      if (j < WarmSteps) Warm(j)
      else if (j == ReplayStep) "sink_replay"
      else Cycle((j - WarmSteps) % Cycle.size)
    val rows = ArrayBuffer.empty[(Long, Long)]
    val step = kind match {
      case "append" =>
        val ks = nextKey until nextKey + BatchRows
        nextKey += BatchRows
        ks.foreach(k => rows += ((k, 1L)))
        model = model ++ ks.map(k => k -> ((1L, false)))
        Step(kind, j, BatchRows, 0, 0, commits = true)
      case "merge" | "sink_batch" =>
        val n = if (kind == "merge") BatchRows else BatchRows / 2
        // the seed picks which keys match, never how many: every batch
        // does the same amount of work whatever the seed
        val matched = liveSample((n * MatchShare).toInt)
        val fresh = nextKey until nextKey + (n - matched.size)
        nextKey += fresh.size
        matched.foreach { k =>
          val cur = model(k)._1
          // a fifth of a MERGE's matched rows are stale events the
          // latest-wins condition must refuse; sink batches always win
          val stale = kind == "merge" && rnd.nextDouble() < 0.2
          val rev = if (stale) cur - 1 else cur + 1
          rows += ((k, rev))
          if (!stale) model = model.updated(k, (rev, false))
        }
        fresh.foreach { k => rows += ((k, 1L)); model = model.updated(k, (1L, false)) }
        Step(kind, j, n, 0, 0, commits = true)
      case "update" | "delete_dv" =>
        val width = if (kind == "update") 150L else 60L
        val lo = (rnd.nextDouble() * (nextKey - width)).toLong
        val hit = (lo to lo + width).filter(model.contains)
        model = if (kind == "update") model ++ hit.map(k => k -> ((model(k)._1, true))) else model -- hit
        if (kind == "delete_dv") dvDeleted(j) = hit.size.toLong
        Step(kind, -1, 0, lo, lo + width, commits = hit.nonEmpty)
      case "sink_replay" => Step(kind, ReplayOf, 0, 0, 0, commits = false)
      case _ => Step(kind, -1, 0, 0, 0, commits = false)
    }
    if (rows.nonEmpty) batchKeys(j) = rows.toSeq
    steps += step
    states += model
  }

  def setup(): Unit = {
    states += model
    planThrough(WarmSteps - 1)
    rec.phase("model")
    val init = Data.orders(seed, spark.range(InitialRows)
      .select(col("id").as("o_orderkey"), lit(1L).as("o_rev")))
    initialVersion = ManifestTable.commit(spark, table, init, statsColumns = keys)
    rec.phase("initial_load")
    // warm-up: the first steps of the sequence run untimed on the lake
    // table itself (the model already counts them), then one CDC poll
    (0 until WarmSteps).foreach { i =>
      val before = ManifestTable.currentVersion(spark, table)
      val f = step(i, before)
      require(f("ok") == true, s"warm-up step $i: ${f("why")}")
      stepVersion += f("v").asInstanceOf[Int]
      if (steps(i).commits) writerCommits += 1
    }
    warmDeletes = cdc(initialVersion, stepVersion.last).getOrElse("delete", 0L)
    rec.phase("warmup")
  }

  /** Batch `i` as the writer receives it: an in-memory frame of orders. */
  private def batch(i: Int): DataFrame = {
    import spark.implicits._
    Data.orders(seed, batchKeys(i).toDF("o_orderkey", "o_rev"))
  }

  /** Commit step `i` and read the row count back; the op's facts. */
  private def step(i: Int, before: Int): Map[String, Any] = {
    val s = steps(i)
    val c0 = rec.now()
    val v: Int = s.kind match {
      case "append" => rec.span("ManifestTable.commit")(ManifestTable.commit(spark, table, batch(i)))
      case "merge" => rec.span("ManifestTable.merge")(ManifestTable.merge(spark, table, batch(i), keys,
        whenMatchedUpdate = Some(col("_src.o_rev") > col("o_rev"))))
      case "sink_batch" | "sink_replay" =>
        rec.span("ManifestSink.upsertBatch")(
          ManifestSink.upsertBatch(table, keys, AppId)(batch(s.batch), s.batch.toLong))
        ManifestTable.currentVersion(spark, table)
      case "update" => rec.span("ManifestTable.updateWhere")(ManifestTable.updateWhere(spark, table,
        Seq("o_orderstatus" -> lit("U")), col("o_orderkey").between(s.lo, s.hi)))
      case "delete_dv" => rec.span("ManifestTable.deleteWhereVector")(
        ManifestTable.deleteWhereVector(spark, table, col("o_orderkey").between(s.lo, s.hi)))
      case "expire" =>
        rec.span("ManifestTable.expire")(ManifestTable.expire(spark, table, KeepVersions))
        ManifestTable.currentVersion(spark, table)
    }
    val c1 = rec.now()
    val n = rec.span("ManifestTable.rowCount")(ManifestTable.rowCount(spark, table, v))
    val c2 = rec.now()
    val want = states(i + 1).size.toLong
    val ok = n.contains(want)
    Map("ok" -> ok, "why" -> s"rowCount $n at v$v, model $want (head before v$before)",
      "v" -> v, "hb" -> before, "commit_ns" -> (c1 - c0), "readback_ns" -> (c2 - c1),
      "rows_in" -> s.rows)
  }

  private def addedFiles(before: Int)(f: Map[String, Any]): Map[String, Any] =
    if (!rec.tracing) Map.empty
    else Map("files_added" -> Workload.filesAdded(spark, table, before, f("v").asInstanceOf[Int]))

  /** Change-type counts of the row-level feed between two versions. */
  private def cdc(fromV: Int, toV: Int): Map[String, Long] =
    rec.span("ManifestTable.rowChanges")(ManifestTable.rowChanges(spark, table, fromV, keys, toV))
      .groupBy("_change_type").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap

  /** The writer runs whole cycles of the step sequence on this thread.
    * A maintainer thread runs `compactSmall` when the writer reaches a
    * compaction step, and a CDC consumer thread polls `rowChanges` over
    * the last five steps each time the writer has taken five (twice a
    * cycle) — both concurrent with the writer's next commits. */
  def run(deadlineNs: Long): Unit = {
    val compactions = new java.util.concurrent.LinkedBlockingQueue[Option[Int]]()
    val polls = new java.util.concurrent.LinkedBlockingQueue[Option[(Int, Int)]]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit): Thread = {
      val t = new Thread(() => {
        SparkSession.setActiveSession(spark)
        try body catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    val maintainer = thread {
      var next = compactions.take()
      while (next.isDefined) {
        val hb = ManifestTable.currentVersion(spark, table)
        val r = rec.op("compact_small", "commit", addedFiles(hb)) {
          val n = rec.span("ManifestTable.compactSmall")(ManifestTable.compactSmall(spark, table))
          Map("bins" -> n, "hb" -> hb, "v" -> ManifestTable.currentVersion(spark, table))
        }
        if (r.ok) bins.addAndGet(r.fields("bins").asInstanceOf[Int])
        next = compactions.take()
      }
    }
    val consumer = thread {
      var next = polls.take()
      while (next.isDefined) {
        val (fromStep, toStep) = next.get
        val (fromV, toV) = stepVersion.synchronized((stepVersion(fromStep - 1), stepVersion(toStep - 1)))
        val r = rec.op("cdc", "read") {
          val counts = cdc(fromV, toV)
          Map("from_v" -> fromV, "to_v" -> toV, "counts" -> counts, "rows_out" -> counts.values.sum)
        }
        if (r.ok) cdcPolls.synchronized {
          cdcPolls += ((r.id, fromStep, toStep, r.fields("counts").asInstanceOf[Map[String, Long]])) }
        next = polls.take()
      }
    }
    var lastPoll = WarmSteps
    var i = WarmSteps
    try {
      while ((i - WarmSteps) % Cycle.size != 0 ||
          rec.anotherCycle(deadlineNs, (i - WarmSteps) / Cycle.size)) {
        planThrough(i)
        val s = steps(i)
        val before = ManifestTable.currentVersion(spark, table)
        if (s.kind == "compact_small") compactions.put(Some(i))
        else {
          val r = rec.op(s.kind, "commit", addedFiles(before))(step(i, before))
          if (r.ok && s.kind == "merge") {
            val v = r.fields("v").asInstanceOf[Int]
            mergeFilesTouched += (ManifestTable.snapshotFiles(spark, table, v - 1).toSet --
              ManifestTable.snapshotFiles(spark, table, v)).size
          }
          if (r.ok && s.rows > 0) consumed += i
          if (r.ok && s.commits) writerCommits += 1
        }
        stepVersion.synchronized(stepVersion += ManifestTable.currentVersion(spark, table))
        i += 1
        if (i - lastPoll == PollEvery) { polls.put(Some((lastPoll, i))); lastPoll = i }
      }
    } finally {
      compactions.put(None); polls.put(None)
      maintainer.join(); consumer.join()
    }
    ranSteps = i
    if (!failures.isEmpty) throw failures.peek()
  }
  private var ranSteps = 0
  private var writerCommits = 0
  private val bins = new java.util.concurrent.atomic.AtomicInteger(0)
  private var warmDeletes = 0L
  private var cdcDeletes = 0L
  /** rows each deletion-vector step removed, by step */
  private val dvDeleted = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)

  def verify(): Seq[(String, Boolean, String)] = {
    // CDC: inserts and updates are exact against the model diff. Deletes
    // are recorded, not gated: rows removed by a deletion vector surface
    // again when their file is rewritten, even after an earlier window
    // reported them (a known defect of the feed), so the feed's delete
    // counts are reported beside the rows the deletion vectors removed
    val cdc = cdcPolls.map { case (op, a, b, got) =>
      val (ins, upd, _) = diff(states(a), states(b))
      cdcDeletes += got.getOrElse("delete", 0L)
      val ok = got.getOrElse("insert", 0L) == ins && got.getOrElse("update_post", 0L) == upd
      (s"cdc op $op", ok, s"got $got, model insert=$ins update_post=$upd")
    }
    // final content: an order-independent hash of every row, against
    // the same hash of the model's rows rebuilt as plain DataFrames
    import spark.implicits._
    val last = states(ranSteps)
    val expected = {
      val base = last.toSeq.map { case (k, (r, u)) => (k, r, u) }.toDF("o_orderkey", "o_rev", "upd")
      Data.orders(seed, base)
        .withColumn("o_orderstatus", when(col("upd"), lit("U")).otherwise(col("o_orderstatus")))
        .drop("upd")
    }
    val cols = expected.columns.toSeq.map(col)
    def fingerprint(df: DataFrame): (Long, String) = {
      val r = df.select(cols: _*).agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string"))
        .collect()(0)
      (r.getLong(0), r.getString(1))
    }
    val got = fingerprint(ManifestTable.read(spark, table))
    val want = fingerprint(expected)
    // exactly-once publishing: every version is one writer commit or one
    // compaction bin — the replayed sink batch and the no-op steps added none
    val head = ManifestTable.currentVersion(spark, table)
    val commits = initialVersion + writerCommits + bins.get
    rec.phase("verify")
    cdc.toSeq :+ ("final content", got == want, s"(rows, row-hash sum) lake $got, model $want") :+
      ("version count", head == commits,
        s"head v$head, v$initialVersion + $writerCommits writer commits + ${bins.get} compaction bins")
  }

  private def diff(a: Model, b: Model): (Long, Long, Long) = {
    var ins, upd, del = 0L
    b.foreach { case (k, v) => a.get(k) match {
      case None => ins += 1
      case Some(w) => if (w != v) upd += 1
    } }
    a.keysIterator.foreach(k => if (!b.contains(k)) del += 1)
    (ins, upd, del)
  }

  def inputs: Map[String, Any] = Map(
    "rows_per_batch" -> BatchRows, "initial_rows" -> InitialRows,
    "merge_match_share" -> MatchShare,
    "merge_stale_share" -> 0.2, "ran_steps" -> ranSteps,
    "cycles" -> (ranSteps - WarmSteps) / Cycle.size,
    "warm_up" -> Warm, "cycle" -> Cycle, "files_touched_per_merge" ->
      (if (mergeFilesTouched.isEmpty) 0.0 else mergeFilesTouched.sum.toDouble / mergeFilesTouched.size))

  override def extra: Map[String, Any] = {
    // write amplification's baseline: the consumed batches written once
    // as plain parquet, after the timed region
    if (consumed.nonEmpty)
      consumed.map(batch).reduce(_ union _).coalesce(1).write.parquet(rawDir.toString)
    val consumedRows = consumed.map(steps(_).rows.toLong).sum
    val consumedPlainBytes = Workload.du(rawDir)._2
    val (files, bytes) = Workload.du(new java.io.File(table))
    val live = ManifestTable.snapshotFiles(spark, table)
      .map(f => new java.io.File(table, f).length).sum
    val polled = cdcPolls.lastOption.map(_._3).getOrElse(WarmSteps)
    Map("cdc_deletes_reported" -> (warmDeletes + cdcDeletes),
      "dv_rows_deleted_in_polled_windows" -> (0 until polled).map(dvDeleted).sum,
      "consumed_rows" -> consumedRows, "plain_bytes" -> consumedPlainBytes,
      "disk_bytes" -> bytes, "disk_files" -> files, "live_bytes" -> live)
  }

  override def filesOnDisk: Long = Workload.du(new java.io.File(table))._1
}

object Ingest {
  type Model = HashMap[Long, (Long, Boolean)]
  /** `commits`: whether the step publishes a version (the model knows) */
  final case class Step(kind: String, batch: Int, rows: Int, lo: Long, hi: Long, commits: Boolean)
  val InitialRows = 20000L
  val BatchRows = 1000
  val MatchShare = 0.5
  val KeepVersions = 8
  /** The steps run untimed, before the clock starts. */
  val Warm = Seq("append", "merge", "sink_batch", "update", "append", "delete_dv")
  val WarmSteps = Warm.size
  val AppId = "perfbench-ingest"
  /** The timed cycle, repeated whole: every kind of step, three MERGEs
    * among them. The step after the compaction is a MERGE, which
    * outlasts it: the compaction always commits inside the MERGE, never
    * astride the start of a shorter step, so whether a commit races it
    * does not vary from run to run. */
  val Cycle = Seq("merge", "compact_small", "merge", "sink_batch", "update", "append", "delete_dv", "append",
    "merge", "expire")
  /** a CDC poll covers this many writer steps: two a cycle */
  val PollEvery = Cycle.size / 2
  /** the one replay: the first timed cycle's second append (step 13)
    * re-delivers warm-up step 2's already-committed sink batch */
  val ReplayStep = WarmSteps + 7
  val ReplayOf = 2
}
