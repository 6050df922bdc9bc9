package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.MinHash

/** r19 optimization: MinHash.shingles became a fused byte-scan
  * expression (graft.functions.WordShingles). These tests pin exact
  * equivalence with the built-in HOF spelling it replaced
  * (HofSpellings.shinglesHof) — same shingles, same order, same null
  * behavior — so every b2_* oracle hash is provably unchanged. */
class WordShinglesSpec extends AnyFunSuite with SparkFixture {

  private val corner: Seq[String] = Seq(
    null,
    "",
    " ",
    "  ",
    "one",
    "one two",
    "one two three",
    "one two three four five",
    "a  b   c d", // consecutive spaces → empty words, kept by concat_ws
    " leading and trailing ",
    "tab\tand\nnewline stay single words",
    "ünïcøde wörds œuvre 漢字 テキスト mixed ascii",
    "emoji 🎉 in 🎉🎉 words",
    "x" * 500 + " tail words here",
    (1 to 40).map(i => s"w$i").mkString(" "))

  private def both(n: Int) = {
    import spark.implicits._
    val df = corner.toDF("text")
    val f = df.select(MinHash.shingles(col("text"), n).as("s")).collect()
    val h = df.select(HofSpellings.shinglesHof(col("text"), n).as("s")).collect()
    (f.map(_.getSeq[String](0)), h.map(_.getSeq[String](0)))
  }

  test("fused shingles equal the HOF formulation for n=1,2,3,5") {
    Seq(1, 2, 3, 5).foreach { n =>
      val (f, h) = both(n)
      f.zip(h).zip(corner).foreach { case ((a, b), t) =>
        assert(a === b, s"n=$n text=${Option(t).map(_.take(40))}")
      }
    }
  }

  test("fused shingles survive aggregation buffers (copy discipline)") {
    import spark.implicits._
    // route the arrays through a hash aggregate and a shuffle so any
    // buffer aliasing in the expression would corrupt values
    val out = (1 to 200).map(i => s"alpha beta gamma w$i delta")
      .toDF("text")
      .select(explode(MinHash.shingles(col("text"), 3)).as("g"))
      .groupBy("g").count()
      .orderBy("g")
      .collect()
    // 'alpha beta gamma' shared ×200; 'beta gamma w$i' and
    // 'gamma w$i delta' distinct per row
    assert(out.length === 401)
    assert(out.count(_.getLong(1) == 200L) === 1)
  }

  test("lower/trim composition matches the judged-query spelling") {
    import spark.implicits._
    val df = Seq("  MiXeD Case TEXT here  ", "SINGLE", null: String).toDF("text")
    val f = df.select(array_distinct(MinHash.shingles(lower(trim(col("text"))), 3)).as("s")).collect()
    val h = df.select(array_distinct(HofSpellings.shinglesHof(lower(trim(col("text"))), 3)).as("s")).collect()
    assert(f.map(_.getSeq[String](0)).toSeq === h.map(_.getSeq[String](0)).toSeq)
  }
}
