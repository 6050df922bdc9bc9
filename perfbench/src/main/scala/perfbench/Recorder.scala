package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One timed operation of a workload: what it was, on which client
  * thread, when it ran (ns since the timed region began) and whether
  * its output passed its check. `fields` holds the op's own facts —
  * committed version, head before the call, rows returned — that the
  * statistics and checks read later. */
final case class OpRecord(id: Int, kind: String, cls: String, thread: Int,
                          t0: Long, t1: Long, ok: Boolean, err: String,
                          fields: Map[String, Any])

/** A span of one public call, nested under the span open on the same
  * thread when it started. Only recorded in traced runs. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      thread: Int, t0: Long, t1: Long)

/** Collects op records and (when tracing) spans in memory; everything
  * is written out once, after the timed region. Times are
  * `System.nanoTime` relative to [[origin]], which [[startClock]] sets
  * just before the first timed operation. */
final class Recorder(val tracing: Boolean) {
  @volatile var origin: Long = System.nanoTime()
  @volatile var firstOpEpochMs: Long = 0L
  val ops = new ConcurrentLinkedQueue[OpRecord]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val opIds = new AtomicInteger(0)
  private val spanIds = new AtomicInteger(0)
  private val threadIds = new AtomicInteger(0)
  private val threadId = ThreadLocal.withInitial[Integer](() => threadIds.getAndIncrement())
  private val stack = ThreadLocal.withInitial[List[(Int, Int)]](() => Nil)

  /** Named phases of the run (set-up and after the timed region) with
    * their wall seconds, for the run report. */
  val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private var phaseStart = System.nanoTime()
  def phase(name: String): Unit = {
    val t = System.nanoTime()
    phases += ((name, (t - phaseStart) / 1e9))
    phaseStart = t
  }

  def startClock(): Unit = {
    origin = System.nanoTime()
    firstOpEpochMs = System.currentTimeMillis()
  }
  def now(): Long = System.nanoTime() - origin

  /** Runs measure whole cycles of their operation mix, so every run
    * holds the same mix and no cycle is cut: one cycle always, then
    * another while at least half of one (by the mean so far) is left
    * before the deadline, so the window ends at the cycle boundary
    * nearest to it. Called once at the end of each cycle, whose end
    * time it records. */
  def anotherCycle(deadlineNs: Long, cycles: Int): Boolean = {
    val t = now()
    if (cycles > 0) cycleEnds += t
    cycles == 0 || t + t / cycles / 2 < deadlineNs
  }
  val cycleEnds = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** Time one client operation. The body returns the op's facts; a
    * thrown exception or a body-reported `"ok" -> false` marks the op
    * failed. The Spark local property `perfbench.op` tags every job the
    * op runs, so traced runs attribute task time to it. `post` adds
    * facts gathered after the clock stops. */
  def op(kind: String, cls: String, post: Map[String, Any] => Map[String, Any] = _ => Map.empty)
        (body: => Map[String, Any]): OpRecord = {
    val id = opIds.getAndIncrement()
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    sc.setLocalProperty("perfbench.op", id.toString)
    val fs0 = if (tracing) Instruments.fsCounters() else Map.empty[String, Long]
    val t0 = now()
    val res = try Right(withSpan(s"op.$kind", id)(body))
      catch { case e: Throwable => Left(e) }
    val t1 = now()
    sc.setLocalProperty("perfbench.op", null)
    val fsDelta: Map[String, Any] =
      if (!tracing) Map.empty
      else Instruments.fsCounters().map { case (k, v) => s"fs.$k" -> (v - fs0.getOrElse(k, 0L)) }
    val rec = res match {
      case Right(f0) =>
        // facts gathered after the clock stopped (traced runs' extras)
        val f = f0 ++ fsDelta ++ (try post(f0) catch { case _: Throwable => Map.empty[String, Any] })
        val ok = f.get("ok").forall(_ == true)
        OpRecord(id, kind, cls, threadId.get, t0, t1, ok,
          if (ok) null else String.valueOf(f.getOrElse("why", "check failed")), f - "ok" - "why")
      case Left(e) =>
        OpRecord(id, kind, cls, threadId.get, t0, t1, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), Map.empty)
    }
    ops.add(rec)
    rec
  }

  /** A child span around one public call (traced runs only; untraced
    * runs pay one branch). */
  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else stack.get match {
      case (_, op) :: _ => withSpan(name, op)(body)
      case Nil => withSpan(name, -1)(body)
    }

  private def withSpan[A](name: String, op: Int)(body: => A): A =
    if (!tracing) body
    else {
      val id = spanIds.getAndIncrement()
      val st = stack.get
      val parent = st.headOption.map(_._1).getOrElse(-1)
      stack.set((id, op) :: st)
      val t0 = now()
      try body finally {
        spans.add(Span(id, parent, name, op, threadId.get, t0, now()))
        stack.set(st)
      }
    }

  def opList: Seq[OpRecord] = ops.asScala.toSeq.sortBy(_.id)
}
