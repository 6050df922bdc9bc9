package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run dir>`.
  *
  * Builds the session the way the engine's judged `Bench` does (master
  * and shuffle partitions are both the core count), sets up the
  * workload's inputs and lake under `--dir`, drives the closed loop for
  * `--seconds`, checks every output, and writes the raw run record to
  * `<dir>/result.json` for `run.py` to turn into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts.get("trace").contains("1")
    val dir = new java.io.File(opts("dir")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", new java.io.File(dir, "warehouse").toString)
      .config("spark.local.dir", new java.io.File(dir, "spark-local").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.sources.GraftLocalFileSystem")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val rec = new Recorder(tracing)
    rec.phase("session")
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, rec, seed, dir)
      case "query" => new Query(spark, rec, seed, dir)
      case "curate" => new Curate(spark, rec, seed, Curate.Chain)
      case "curate_full" => new Curate(spark, rec, seed, Curate.Stages)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val inst = if (tracing) Some(new Instruments(spark)) else None
    inst.foreach(_.start())
    val fs0 = Instruments.fsCounters()
    rec.startClock()
    val deadline = (seconds * 1e9).toLong
    w.run(deadline)
    val timedNs = rec.now()
    rec.phase("timed")
    val fs1 = Instruments.fsCounters()
    inst.foreach(_.drain())
    val checks = w.verify()
    val ops = rec.opList
    val extra = w.extra
    rec.phase("extra")
    val env = Map(
      "nproc" -> cores, "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))
    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> tracing, "env" -> env,
      "jvm_start_epoch_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_epoch_ms" -> sessionReadyMs,
      "first_op_epoch_ms" -> rec.firstOpEpochMs,
      "timed_ns" -> timedNs,
      "cycle_ends_ns" -> rec.cycleEnds.toSeq,
      "inputs" -> w.inputs,
      "phases_s" -> rec.phases.toMap,
      "extra" -> extra,
      "fs_timed" -> fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) },
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "cls" -> o.cls,
        "thread" -> o.thread, "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok, "err" -> o.err) ++ o.fields),
      "peak_rss_kb" -> peakRssKb(),
      "trace_data" -> inst.map(i => Map(
        "spans" -> rec.spans.asScala.toSeq.map { s =>
          Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
            "thread" -> s.thread, "t0" -> s.t0, "t1" -> s.t1) },
        // listener clock is epoch ms; shift it onto the span clock (ns)
        "jobs" -> i.jobs.asScala.toSeq.map { j =>
          Map("job" -> j.job, "op" -> j.op,
            "t0" -> (j.startMs - rec.firstOpEpochMs) * 1000000L,
            "t1" -> (j.endMs - rec.firstOpEpochMs) * 1000000L) },
        "task_totals_by_op" -> i.perOp.map { case (op, v) => op.toString -> Map(
          "tasks" -> v(0), "run_ms" -> v(1), "cpu_ns" -> v(2), "gc_ms" -> v(3),
          "shuffle_bytes" -> v(4), "records_read" -> v(5)) },
        "plan_phases_ms" -> i.phases.asScala.map { case (k, v) => k -> v.get }.toMap,
        "planned_queries" -> i.planned.get,
        "files_on_disk" -> w.filesOnDisk))
    )
    val f = new java.io.File(dir, "result.json")
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(f, out + ("result_epoch_ms" -> System.currentTimeMillis()))
    spark.stop()
  }

  /** Peak resident set (VmHWM) of this JVM, from /proc; -1 elsewhere. */
  def peakRssKb(): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: Throwable => -1L }
}

/** A workload: set up untimed, drive the closed loop until the deadline
  * (ns on the recorder's clock), then check every output untimed. */
trait Workload {
  def setup(): Unit
  def run(deadlineNs: Long): Unit
  /** (check name, passed, detail) for the run-level checks; per-op
    * checks mark their op failed instead. */
  def verify(): Seq[(String, Boolean, String)]
  /** Seeded input properties, recorded in the run's output. */
  def inputs: Map[String, Any]
  /** Workload-specific measurements (amplification, ledgers, …). */
  def extra: Map[String, Any] = Map.empty
  /** Data files under the workload's lake root at the end. */
  def filesOnDisk: Long = 0L
}

object Workload {
  /** Traced runs only: the share of the snapshot's data files a read
    * kept after pruning (`inputFiles` ÷ `snapshotFiles`). */
  def filesKept(spark: SparkSession, df: org.apache.spark.sql.DataFrame, table: String, version: Int,
                sql: Boolean, kind: String): Map[String, Any] = {
    val all = graft.sources.ManifestTable.snapshotFiles(spark, table, version).size
    Map("kind" -> kind, "sql" -> sql, "ratio" -> (if (all == 0) 0.0 else df.inputFiles.length.toDouble / all))
  }

  /** Traced runs only: data files a commit added (version `v` against
    * the head it started from). */
  def filesAdded(spark: SparkSession, table: String, before: Int, v: Int): Int =
    if (v <= before) 0
    else (graft.sources.ManifestTable.snapshotFiles(spark, table, v).toSet --
      graft.sources.ManifestTable.snapshotFiles(spark, table, before)).size

  /** Run each body on its own thread (all on this session) and wait
    * for all; rethrows the first failure. */
  def concurrently(spark: SparkSession)(bodies: (() => Unit)*): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    bodies.map { f =>
      val t = new Thread(() => {
        SparkSession.setActiveSession(spark)
        try f() catch { case e: Throwable => err.compareAndSet(null, e) }
      })
      t.start(); t
    }.foreach(_.join())
    Option(err.get).foreach(e => throw e)
  }

  /** Recursive (files, bytes) under a local directory. */
  def du(f: java.io.File): (Long, Long) =
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (1L, f.length)
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
