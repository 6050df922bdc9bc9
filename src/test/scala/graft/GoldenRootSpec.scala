package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.RootCodec

/** The root layout is a compatibility contract: builds that read roots
  * with line regexes must still read what this build writes. The
  * fixtures under `src/test/resources/golden-roots/` are the roots the
  * build before [[RootCodec]] wrote for the [[GoldenRoots]] commit
  * sequence (normalized, see there). They are never regenerated from
  * a later build to make this suite pass. */
class GoldenRootSpec extends AnyFunSuite with SparkFixture {

  private lazy val fixtures: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(getClass.getResource("/golden-roots").toURI)
    java.nio.file.Files.list(dir).iterator().asScala.toSeq.map { p =>
      p.getFileName.toString.stripSuffix(".json") ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    }.toMap
  }

  test("a fixed commit sequence writes root bytes identical to the golden roots") {
    val base = java.nio.file.Files.createTempDirectory("graft_golden").toString
    val got = GoldenRoots.roots(spark, base)
    assert(got.map(_._1).toSet === fixtures.keySet)
    got.foreach { case (name, text) =>
      assert(text === fixtures(name), s"root $name differs from its golden bytes")
    }
  }

  test("every golden root decodes and re-encodes to the same bytes") {
    assert(fixtures.size === 16)
    fixtures.foreach { case (name, text) =>
      assert(RootCodec.encode(RootCodec.decode(text, name, 0)) === text, name)
    }
  }
}
