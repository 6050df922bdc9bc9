package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.MinHash

/** r19 optimization: the `size(array_intersect)/size(array_union)`
  * exact-Jaccard became one fused pass (graft.functions.SetJaccard).
  * These tests pin bit-identical doubles against the built-in spelling
  * (HofSpellings.setJaccardBuiltin) over every set shape the built-ins
  * distinguish: duplicates, null elements, empty and null arrays. */
class SetJaccardSpec extends AnyFunSuite with SparkFixture {

  private val cases: Seq[(Seq[String], Seq[String])] = Seq(
    (Seq("a", "b", "c"), Seq("b", "c", "d")),
    (Seq("a", "a", "b"), Seq("a", "b", "b", "b")), // duplicates collapse
    (Seq("a"), Seq("z")),
    (Seq("same"), Seq("same")),
    (Seq.empty, Seq("a")),
    (Seq("a", null, "b"), Seq("b", null)), // null counts once, both sides
    (Seq(null, null), Seq("x")), // null on one side only
    (null, Seq("a")), // null array → NULL
    (Seq("ü", "漢字", ""), Seq("", "漢字", "zz")),
    ((1 to 300).map(i => s"g$i"), (150 to 450).map(i => s"g$i")))

  test("fused set-Jaccard is bit-identical to the built-in spelling") {
    import spark.implicits._
    val df = cases.toDF("a", "b")
    val rows = df.select(
      MinHash.setJaccard(col("a"), col("b")).as("fused"),
      HofSpellings.setJaccardBuiltin(col("a"), col("b")).as("builtin")).collect()
    rows.zip(cases).foreach { case (r, c) =>
      val f = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val b = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      assert(f === b, s"case $c")
    }
  }

  test("empty-empty follows Divide's 0-divisor contract (ANSI error)") {
    import spark.implicits._
    val df = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    def run(c: org.apache.spark.sql.Column) =
      df.select(c.as("j")).collect().head
    def divByZero(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
    }
    if (spark.conf.get("spark.sql.ansi.enabled") == "true") {
      divByZero(run(MinHash.setJaccard(col("a"), col("b"))))
      divByZero(run(HofSpellings.setJaccardBuiltin(col("a"), col("b"))))
    } else {
      assert(run(MinHash.setJaccard(col("a"), col("b"))).isNullAt(0))
      assert(run(HofSpellings.setJaccardBuiltin(col("a"), col("b"))).isNullAt(0))
    }
  }

  test("fused set-Jaccard matches through a join + filter pipeline") {
    import spark.implicits._
    val docs = (1 to 100).map(i =>
      (i.toLong, (0 until 20).map(k => s"w${(i + k) % 60}"))).toDF("id", "g")
    val a = docs.select(col("id").as("ia"), col("g").as("ga"))
    val b = docs.select((col("id") - 1).as("ia"), col("g").as("gb"))
    val out = a.join(b, "ia")
      .select(col("ia"),
        MinHash.setJaccard(col("ga"), col("gb")).as("f"),
        HofSpellings.setJaccardBuiltin(col("ga"), col("gb")).as("o"))
      .collect()
    assert(out.length === 99)
    out.foreach(r => assert(r.getDouble(1) === r.getDouble(2)))
  }

  test("fused slot agreement equals the aggregate-over-zip_with spelling") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cases: Seq[(Seq[Long], Seq[Long])] = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)),
      (Seq.empty, Seq(1L)),
      (Seq(5L), Seq(5L, 5L, 5L)), // length mismatch: zip_with null-pads
      ((1L to 16L), (1L to 16L)),
      ((1L to 16L), (1L to 16L).map(i => if (i % 2 == 0) -i else i)))
    val df = cases.toDF("sig_a", "sig_b")
    val fused = ColumnBridge.column(graft.functions.SlotAgreement(
      ColumnBridge.expression(col("sig_a")), ColumnBridge.expression(col("sig_b"))))
    val builtin = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    df.select(fused.as("f"), builtin.as("b")).collect()
      .zip(cases).foreach { case (r, c) =>
        assert(r.getInt(0) === r.getInt(1), s"case $c")
      }
  }
}
