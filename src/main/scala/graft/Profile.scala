package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.ConcurrentLinkedQueue

/** Measurement harness (optimization guide §1): runs the named queries
  * once each under a SparkListener and prints, per query, the number of
  * Spark jobs it launched, each job's wall time and task count, and the
  * query's total wall time. Built to attribute the fixed per-query cost
  * of the lakehouse/SQL families (many tiny actions) before optimizing.
  * Usage: SPARK_GRAFT_KEYS=k1,k2 runMain graft.Profile
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val keys = sys.env.getOrElse("SPARK_GRAFT_KEYS", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "set SPARK_GRAFT_KEYS=k1,k2,…")
    val spark = Graft.mainSession()
    spark.sparkContext.setLogLevel("WARN")
    final case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = 0L, var stages: Int = 0,
                            var tasks: Int = 0)
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // no explicit description on internal jobs — the final stage's
        // callsite name ("parquet at Foo.scala:123") identifies them
        val desc = Option(e.properties.getProperty("spark.job.description"))
          .filter(_.nonEmpty)
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        val r = JobRec(e.jobId, desc, System.nanoTime())
        jobs.add(r); byId.put(e.jobId, r); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(byId.get(e.jobId)).foreach(_.end = System.nanoTime()); ()
      }
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        // one line per stage, timestamped like log4j, so "Broadcasting
        // large task binary" WARNs (printed at submit time) can be
        // attributed to their exact stage by adjacency in the log
        if (sys.env.contains("SPARK_GRAFT_STAGE_LOG"))
          println(s"[stage-submit] id=${e.stageInfo.stageId} " +
            s"name=${e.stageInfo.name.take(120)}")
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val sid = e.stageInfo.stageId
        jobs.forEach { r =>
          if (byId.containsKey(r.id)) ()
        }
        // attach by most recent running job (approximation: local mode,
        // queries run sequentially, one job at a time)
        val it = jobs.iterator()
        var last: JobRec = null
        while (it.hasNext) { val r = it.next(); if (r.end == 0L || last == null) last = r }
        if (last != null) { last.stages += 1; last.tasks += e.stageInfo.numTasks }
        val _ = sid
      }
    })
    // per-action planning-phase attribution: where the driver time
    // between jobs goes (parse/analyse/optimize/plan vs execute)
    val phaseTotals = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val actionCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val execTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        actionCount.incrementAndGet()
        execTotal.addAndGet(durationNs)
        qe.tracker.phases.foreach { case (ph, summary) =>
          phaseTotals.merge(ph, summary.durationMs, (a, b) => a + b); ()
        }
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    val byName = SparkEntry.queries
    keys.foreach(k => require(byName.contains(k), s"unknown query key $k"))
    // poor-man's sampling profiler for the MAIN thread (the query body
    // runs there; Spark jobs run on executor threads): the histogram of
    // "first interesting frame" attributes the wall-minus-jobs gap to
    // real driver-side code. Frames in spark's await/submit machinery
    // count as "waiting-on-job".
    val sampleHist = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var sampling = false
    @volatile var nSamples = 0
    @volatile var shellDumped = false
    val samplerThreadName = "graft-profile-sampler"
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          nSamples += 1
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            // only threads actually burning CPU; parked/waiting ones
            // are someone else's cost
            if (t.getState == Thread.State.RUNNABLE &&
                t.getName != samplerThreadName && st.nonEmpty) {
              val grp =
                if (t.getName.startsWith("Executor task launch")) "task"
                else if (t.getName == "main") "main"
                else if (t.getName.contains("QueryStageCreator")) "aqe"
                else if (t.getName.contains("broadcast")) "bcast"
                else "other:" + t.getName.takeWhile(c => !c.isDigit)
              val frame = st.find { f =>
                val c = f.getClassName
                c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.") ||
                c.startsWith("org.apache.parquet.") ||
                c.startsWith("org.codehaus.janino.") ||
                c.startsWith("org.codehaus.commons.") ||
                c.startsWith("org.apache.hadoop.")
              }.orElse(st.headOption)
                .map(f => s"${f.getClassName.split('.').last}.${f.getMethodName}")
                .getOrElse("?")
              sampleHist.merge(s"[$grp] $frame", 1, (a: Int, b: Int) => a + b)
              // one full stack per run for the opaque Hadoop forks
              if (frame.contains("Shell.runCommand") && !shellDumped) {
                shellDumped = true
                println("---- Shell.runCommand full stack ----")
                st.take(40).foreach(f => println(s"    at $f"))
              }
            }
          }
        }
        Thread.sleep(5)
      }
    }, samplerThreadName)
    sampler.setDaemon(true); sampler.start()
    // one warm pass (JIT) then the measured pass, like Bench's min-of-2
    keys.foreach { k =>
      (1 to 2).foreach { pass =>
        jobs.clear(); byId.clear()
        phaseTotals.clear(); actionCount.set(0); execTotal.set(0L)
        sampleHist.clear(); nSamples = 0; sampling = (pass == 2)
        val t0 = System.nanoTime()
        try byName(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => println(s"$k FAILED: ${e.getMessage}") }
        sampling = false
        val wall = (System.nanoTime() - t0) / 1e9
        if (pass == 2) {
          println(f"\n===== $k%s wall=$wall%.3f s jobs=${jobs.size}%d =====")
          val it = jobs.iterator()
          var i = 0
          var jobSum = 0.0
          while (it.hasNext) {
            val r = it.next()
            val dur = if (r.end > 0) (r.end - r.start) / 1e9 else -1.0
            if (dur > 0) jobSum += dur
            println(f"  job#$i%-3d ${dur}%8.3f s stages=${r.stages}%-3d tasks=${r.tasks}%-5d ${r.desc.take(100)}%s")
            i += 1
          }
          import scala.jdk.CollectionConverters._
          val phases = phaseTotals.asScala.toSeq.sortBy(-_._2)
            .map { case (p, ms) => f"$p=${ms / 1e3}%.2f" }.mkString(" ")
          println(f"  actions=${actionCount.get}%d execSum=${execTotal.get / 1e9}%.3f jobSum=$jobSum%.3f gap=${wall - jobSum}%.3f phases: $phases")
          val ticks = nSamples.max(1)
          val dt = wall / ticks // seconds per sampling tick
          println(s"  runnable-thread samples ($ticks ticks, ${sampleHist.asScala.values.sum} thread-samples):")
          sampleHist.asScala.toSeq.sortBy(-_._2).take(20).foreach {
            case (tag, n) =>
              println(f"    ${n * dt}%6.2f thread-s $tag")
          }
        }
      }
    }
    spark.stop()
  }
}
