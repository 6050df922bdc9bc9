package graft

/** Plan-audit main: dumps the formatted physical plan of each query so
  * pushdown/broadcast/codegen can be inspected (SURVEY.md §4.2).
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.mainSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"(failed to plan: ${e.getMessage})") }
    }
    spark.stop()
  }
}
