package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine has one production path per decision: main code reads no
  * `graft.*` system property and no `GRAFT_*` environment variable (a
  * switch that keeps a losing A/B arm alive), and every main builds its
  * session through the one builder in `Graft`. `SPARK_GRAFT_*` tool
  * inputs and table-metadata keys such as `graft.default` are not
  * switches and stay allowed. */
class EngineSwitchesSpec extends AnyFunSuite {

  private val switchReads = Seq(
    """(sys\.props|System\.getProperty)\b[^"\n]*"graft\.""".r,
    """(sys\.env|System\.getenv)\b[^"\n]*"GRAFT_""".r)

  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File(sys.props("user.dir"), "src/main")
    assert(root.isDirectory, s"no main source tree at $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
      else Nil
    walk(root)
  }

  private def linesOf(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("main code reads no graft.* system property and no GRAFT_* environment variable") {
    val hits = for {
      f <- mainSources
      (line, i) <- linesOf(f).zipWithIndex
      if switchReads.exists(_.findFirstIn(line).isDefined)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("engine switches left in main code:\n", "\n", ""))
  }

  test("main code builds a SparkSession in exactly one place") {
    val builders = mainSources.map(f =>
      f.getName -> linesOf(f).count(_.contains("SparkSession.builder()")))
      .filter(_._2 > 0)
    assert(builders === Seq("Graft.scala" -> 1))
  }

  test("AbBench arms only spark.* SQL confs") {
    assert(AbBench.armedConf(None).isEmpty)
    assert(AbBench.armedConf(Some("spark.sql.shuffle.partitions"))
      .contains("spark.sql.shuffle.partitions"))
    val e = intercept[IllegalArgumentException](
      AbBench.armedConf(Some("graft.partPathFused")))
    assert(e.getMessage.contains("graft.partPathFused"))
    assert(e.getMessage.contains("only spark.*"))
  }
}
