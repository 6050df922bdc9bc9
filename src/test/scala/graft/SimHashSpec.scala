package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SimHash

/** B2 SimHash fingerprints: identical → equal, near → close, far → far;
  * and the fused [[graft.functions.SimHashSignature]] equals the
  * built-in spelling it replaced ([[HofSpellings.simhashHof]]). */
class SimHashSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def hashOf(texts: String*): Seq[Long] =
    texts.toDF("text").select(SimHash.simhash(col("text"))).collect().map(_.getLong(0)).toSeq

  test("identical texts hash identically; hamming(a,a)=0") {
    val Seq(a, b) = hashOf("spark makes big data simple", "spark makes big data simple")
    assert(a === b)
    val d = Seq((a, b)).toDF("x", "y")
      .select(SimHash.hamming(col("x"), col("y"))).collect().head
      .getAs[Number](0).longValue()
    assert(d === 0L)
  }

  test("near-duplicates are closer than unrelated texts") {
    val Seq(base, near, far) = hashOf(
      "the quick brown fox jumps over the lazy dog every single day",
      "the quick brown fox jumps over the lazy dog every single night",
      "orthogonal corpus describing compilers linkers loaders and assemblers")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(base, near) < ham(base, far))
    assert(ham(base, near) <= 8) // one token changed out of twelve
  }

  /** (fused, built-in) simhash per text, nulls as None, codegen'd and
    * interpreted. */
  private def bothSpellings(texts: Seq[String]): Seq[(Option[Long], Option[Long])] = {
    val df = texts.map(Tuple1(_)).toDF("text")
    def run() = df.select(SimHash.simhash(col("text")), HofSpellings.simhashHof(col("text")))
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .toSeq
    val compiled = run()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    assert(interpreted === compiled)
    compiled
  }

  test("the fused kernel equals the built-in spelling on edge-case texts") {
    val manyTokens = (1 to 40).map(i => s"tok$i").mkString(" ")
    val cases = Seq(
      null, "", "   ", " \t ", "a  b", "a   b  a", "x" + " " * 5,
      "Grüße aus Köln — naïve café", "日本語 テキスト 日本語", "ÄÖÜ äöü",
      "single", "SINGLE ", manyTokens, manyTokens + " " + manyTokens.toUpperCase)
    val got = bothSpellings(cases)
    got.zip(cases).foreach { case ((fused, hof), t) => assert(fused === hof, s"text <$t>") }
    assert(got.head === ((None, None)), "null text hashes to NULL")
    assert(got.tail.forall(_._1.isDefined))
    // a run of spaces makes empty tokens, and an empty token votes:
    // "a  b" is not "a b"
    val Seq(one, two) = hashOf("a b", "a  b")
    assert(one !== two)
  }

  test("the fused kernel equals the built-in spelling on a seeded corpus") {
    val rnd = new scala.util.Random(4242)
    val words = Seq("spark", "lake", "Lake", "s3", "é", "", "data", "ω", "the", "a")
    val texts = Seq.fill(300)(Seq.fill(rnd.nextInt(60))(words(rnd.nextInt(words.size))).mkString(" "))
    bothSpellings(texts).zip(texts).foreach { case ((fused, hof), t) => assert(fused === hof, s"text <$t>") }
  }

  // lower() re-encodes an invalid UTF-8 text as valid UTF-8 before
  // either spelling splits it
  test("an invalid UTF-8 text hashes as the built-in spelling hashes it") {
    val df = Seq("c328206162", "ff20ff2061", "6120e282").toDF("hex")
      .select(unhex(col("hex")).cast("string").as("text"))
    val r = df.select(SimHash.simhash(col("text")), HofSpellings.simhashHof(col("text"))).collect()
    r.foreach(row => assert(row.getLong(0) === row.getLong(1)))
  }
}
