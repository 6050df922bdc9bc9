package graft

/** Task-binary size diagnostic (optimization guide §2.2/§5): for each
  * named query, builds the DataFrame, walks its executed RDD lineage,
  * and prints the java-serialized size of every RDD node — the same
  * object graph DAGScheduler broadcasts as the "task binary" per
  * stage. A node whose serialized size far exceeds its parents' sum
  * is the layer dragging megabytes into every task.
  * Usage: SPARK_GRAFT_KEYS=k1,k2 runMain graft.TaskBin
  */
object TaskBin {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val keys = sys.env.getOrElse("SPARK_GRAFT_KEYS", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "set SPARK_GRAFT_KEYS=k1,k2,…")
    val spark = Graft.mainSession()
    spark.sparkContext.setLogLevel("WARN")
    def size(o: AnyRef): Long = try {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close(); bos.size().toLong
    } catch { case e: Throwable => -1L }
    // instance-census serializer: which classes (and primitive-array
    // payloads) dominate a serialized object graph
    def census(o: AnyRef): Unit = {
      val counts = new java.util.HashMap[String, Array[Long]]() // n, attributed bytes
      val bos = new java.io.ByteArrayOutputStream()
      var lastClass = "(header)"
      var lastOff = 0L
      val oos = new java.io.ObjectOutputStream(bos) {
        enableReplaceObject(true)
        override def replaceObject(x: AnyRef): AnyRef = {
          if (x != null) {
            flush()
            val off = bos.size().toLong
            // attribute the bytes written since the previous callback
            // to the PREVIOUS object's class: custom writeObject bodies
            // (raw byte dumps) land between callbacks and are otherwise
            // invisible to a per-instance census
            val e0 = counts.computeIfAbsent(lastClass, _ => Array(0L, 0L))
            e0(1) += off - lastOff
            lastOff = off
            lastClass = x.getClass.getName
            val e = counts.computeIfAbsent(lastClass, _ => Array(0L, 0L))
            e(0) += 1
          }
          x
        }
      }
      try { oos.writeObject(o); oos.close() } catch { case _: Throwable => () }
      val e0 = counts.computeIfAbsent(lastClass, _ => Array(0L, 0L))
      e0(1) += bos.size().toLong - lastOff
      import scala.jdk.CollectionConverters._
      println(s"    census of ${o.getClass.getSimpleName} (total ${bos.size()} B):")
      counts.asScala.toSeq.sortBy { case (_, v) => -v(1) }
        .take(25).foreach { case (k, v) =>
          println(f"      n=${v(0)}%-7d bytes=${v(1)}%-10d $k")
        }
    }
    val byName = SparkEntry.queries
    keys.foreach { k =>
      println(s"\n===== $k =====")
      val df = byName(k)(spark, sfDir)
      val rdd = df.queryExecution.toRdd
      // walk the whole lineage graph breadth-first, dedup by identity
      val seen = new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()
      var frontier: Seq[org.apache.spark.rdd.RDD[_]] = Seq(rdd)
      while (frontier.nonEmpty) {
        val next = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.rdd.RDD[_]]
        frontier.foreach { r =>
          if (!seen.containsKey(r)) {
            seen.put(r, true)
            val sz = size(r)
            if (sz > 256 * 1024 || sz < 0)
              println(f"  rdd#${r.id}%-5d $sz%10d B  ${r.getClass.getSimpleName}%-28s ${r.toString.take(90)}")
            val parentSum = r.dependencies.map(d => size(d.rdd)).filter(_ > 0).sum
            // own weight ≫ parents: reflect into the node's fields to
            // name WHAT is heavy (closures, captured plans, literals)
            if (sz - parentSum > 1024 * 1024 && sys.env.contains("SPARK_GRAFT_CENSUS"))
              census(r)
            if (sz - parentSum > 1024 * 1024 && sys.env.contains("SPARK_GRAFT_DEEP")) {
              val visited = new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()
              def fieldsOf(o: AnyRef, depth: Int): Unit = {
                if (depth > 16 || o == null || visited.containsKey(o)) return
                visited.put(o, true)
                var c: Class[_] = o.getClass
                while (c != null) {
                  c.getDeclaredFields.foreach { fl =>
                    if (!java.lang.reflect.Modifier.isStatic(fl.getModifiers)) {
                      fl.setAccessible(true)
                      val v = fl.get(o)
                      if (v != null) {
                        val vs = size(v.asInstanceOf[AnyRef])
                        if (vs > 512 * 1024) {
                          println(f"${"    " * depth}    field ${c.getSimpleName}.${fl.getName}%-24s $vs%9d B  ${v.getClass.getName.take(80)}")
                          v match {
                            case arr: Array[Object] =>
                              arr.zipWithIndex.foreach { case (e, i) =>
                                val es = if (e == null) 0L else size(e)
                                if (es > 64 * 1024) {
                                  println(f"${"    " * depth}      ref[$i%d] $es%9d B  ${if (e == null) "null" else e.getClass.getName.take(70)}  ${String.valueOf(e).take(100)}")
                                  if (es > 1024 * 1024 && depth < 14)
                                    fieldsOf(e, depth + 1)
                                }
                              }
                            case _ => fieldsOf(v.asInstanceOf[AnyRef], depth + 1)
                          }
                        }
                      }
                    }
                  }
                  c = c.getSuperclass
                }
              }
              fieldsOf(r, 0)
            }
            r.dependencies.foreach(d => next += d.rdd)
          }
        }
        frontier = next.toSeq
      }
      println("  (rdds under 256 KiB serialized omitted)")
    }
    spark.stop()
  }
}
