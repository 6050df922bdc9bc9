package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A Spark job as the listener saw it: wall interval (epoch ms, the
  * listener's own clock) and the op that ran it. */
final case class JobRec(job: Int, op: Int, startMs: Long, endMs: Long)

/** Spark's public instruments, read only in traced runs: a
  * SparkListener for jobs and task metrics, a QueryExecutionListener
  * for the QueryPlanningTracker phase times, and the Hadoop `file`
  * scheme's storage statistics. */
final class Instruments(spark: SparkSession) {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val opTotals = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  // per op: tasks, run ms, cpu ns, gc ms, shuffle bytes (read + write), records read
  private def acc(op: Int) = opTotals.computeIfAbsent(op, _ => new Array[Long](6))
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val phases = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val planned = new AtomicLong(0)

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.op"))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobStart.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        jobs.add(JobRec(e.jobId, op, t0, e.time)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(stageOp.getOrDefault(e.stageId, -1))
        a.synchronized {
          a(0) += 1
          a(1) += m.executorRunTime
          a(2) += m.executorCpuTime
          a(3) += m.jvmGCTime
          a(4) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a(5) += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      planned.incrementAndGet()
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.computeIfAbsent(phase, _ => new AtomicLong()).addAndGet(s.durationMs) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Listener events arrive asynchronously: wait (at most 10 s) until
    * the counters stop moving before reading them. */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 100) {
      waited += 1
      Thread.sleep(100)
      val n = jobs.size.toLong * 1000003L + planned.get
      if (n == last && jobStart.isEmpty) stable += 1 else stable = 0
      last = n
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def perOp: Map[Int, Seq[Long]] =
    opTotals.asScala.map { case (k, v) => k.toInt -> v.toSeq }.toMap
}

object Instruments {
  /** The Hadoop `file` scheme's cumulative storage counters. */
  def fsCounters(): Map[String, Long] =
    Option(FileSystem.getGlobalStorageStatistics.get("file")).map { st =>
      st.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap
    }.getOrElse(Map.empty)
}
