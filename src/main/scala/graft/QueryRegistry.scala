package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared conventions for every judged query (SURVEY.md §2, §5.3, §7.4).
  *
  * Determinism discipline for the driver's hash-compare:
  *  - every query ends in a total order (all ties broken);
  *  - double SUMs go through an exact DECIMAL(28,6) accumulator so Spark's
  *    partial-aggregation order and DuckDB's sequential order cannot drift;
  *  - AVGs and float-valued scalars are rounded (error << rounding step);
  *  - ASC sorts spell NULLS FIRST on the DuckDB side (Spark's default).
  */
object QueryRegistry {
  /** Driver contract: (SparkSession, sfDir) => DataFrame. */
  type Q = (SparkSession, String) => DataFrame

  /** One judged operator: name, Spark impl, optional DuckDB oracle SQL. */
  final case class Entry(name: String, q: Q, oracle: Option[String])

  /** Exact sum of a double column: cast each value to DECIMAL(28,6)
    * (identical round-to-nearest on both engines), sum exactly, emit
    * double. SQL twin: CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE). */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")

  /** SQL twin of [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(sum(CAST($expr AS DECIMAL(28,6))) AS DOUBLE)"

  /** Scale-adaptive parallelism for CPU-heavy projections over a SCAN
    * (optimization guide §2: derive partitioning from the input, not a
    * constant). A single-row-group parquet file scans as ONE task no
    * matter the core count, and Spark evaluates map-side expressions —
    * shingling, hashing, per-row text work — inside that scan task, so
    * on local[32] the whole expensive stage runs serial. When the
    * scan's planned partition count is below the cluster's default
    * parallelism, insert one round-robin exchange of the RAW rows so
    * the heavy projection downstream runs on every core; at scale a
    * real table's scan already has ≥ cores partitions and this is the
    * identity — no exchange is added, nothing is reshuffled.
    *
    * Call ONLY on scan-stage frames (no exchanges beneath): planning
    * an AQE frame with shuffles would materialize those stages eagerly
    * at plan time.
    *
    * r20: the split count comes from the frame's OWN QueryExecution
    * (`queryExecution.toRdd`) — `df.rdd` built a SECOND QueryExecution
    * (DeserializeToObject over the analyzed plan) whose full
    * analyze/optimize/plan pass existed only to be thrown away
    * (~10–30 ms per spread site, r19 verdict item 3). */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Eager local checkpoint that records the materialized blocks' REAL
    * byte size as the frame's statistics (CheckpointBridge docs): the
    * optimizer then sizes runtime bloom filters and broadcast choices
    * from the truth instead of `defaultSizeInBytes` at every scale.
    * Used by every operator-level checkpoint of bounded model state. */
  def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointWithStats(df)

  /** Delete a path tree — judged-query scratch teardown (re-runs must
    * not land on a previous run's debris). Hoisted from the per-query
    * copies (r14 verdict ask #8). */
  def rmRf(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(go)
      f.delete(); ()
    }
    go(new java.io.File(path))
  }

  /** Pid-tagged scratch dir for a judged query that materializes state
    * (manifest tables, lake roots), WITH teardown: stale same-tag dirs
    * left by earlier processes are deleted on the way in. Our own dir
    * must outlive this call — the returned DataFrame reads it lazily —
    * so the sweep only touches other pids' dirs, and only ones idle
    * for 30+ minutes (a concurrently-running driver/bench JVM keeps
    * its dirs fresh). Result: /tmp holds at most one generation of
    * scratch per query family instead of one per historical run. */
  def scratchDir(tag: String, sfDir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    val prefix = s"graft_${tag}_"
    val cutoff = System.currentTimeMillis() - 30L * 60 * 1000
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
      f.delete(); ()
    }
    // idleness = the NEWEST mtime anywhere in the tree: a live JVM's
    // writes land in nested data/<uuid>/ dirs and never refresh the
    // top-level dir's mtime, so a top-level-only check would reap a
    // concurrent session's scratch mid-query
    def newestMtime(f: java.io.File): Long =
      (f.lastModified() +:
        Option(f.listFiles()).getOrElse(Array.empty).map(newestMtime).toSeq).max
    // liveness beats mtime (ADVICE r8): a concurrent JVM suspended,
    // swapped, or stalled past the idle window mid-query would have its
    // LIVE scratch reaped underneath it. The dir name ends in the
    // owner's pid — skip dirs whose owner still runs; the mtime cutoff
    // remains only as the fallback for dead-pid (crashed) dirs.
    def ownerAlive(name: String): Boolean =
      name.substring(prefix.length).split('_').lastOption
        .flatMap(p => scala.util.Try(p.toLong).toOption)
        .exists(p => ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        f.getName.startsWith(prefix) && !f.getName.endsWith(s"_$pid") &&
          !ownerAlive(f.getName) && newestMtime(f) < cutoff
      }
      .foreach(rmRf)
    s"${tmp.getAbsolutePath}/$prefix${new java.io.File(sfDir).getName}_$pid"
  }
}
