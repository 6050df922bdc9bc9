package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** NaN and file pruning: a file holding a NaN in a stats column
  * records max NaN, `k = NaN` extracts a NaN constraint, and a NaN
  * source key makes the MERGE envelope's bound NaN. NaN compares false
  * both ways while Spark orders it above every double and matches
  * `NaN = NaN`, so no such bound may prune a file. */
class NanPruningSpec extends AnyFunSuite with SparkFixture {

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_nan").toString

  private def df(rows: (Double, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("k", "v")
  }

  /** Two files: [1.0, 2.0, NaN] and [10.0, 11.0], stats on `k`. */
  private def nanTable(): String = {
    val t = fresh()
    ManifestTable.commit(spark, t,
      df(1.0 -> "a", 2.0 -> "b", Double.NaN -> "n").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("k"))
    ManifestTable.commit(spark, t, df(10.0 -> "x", 11.0 -> "y").coalesce(1))
    // the premise: the NaN-holding file records a NaN bound
    assert(ManifestTable.snapshotStats(spark, t).values
      .exists(_.get("k").exists(_._2.isNaN)))
    t
  }

  private def rows(d: DataFrame): Set[(Double, String)] =
    d.collect().map(r => (r.getDouble(0), r.getString(1))).toSet

  private def same(a: Set[(Double, String)], b: Set[(Double, String)]): Boolean =
    a.map { case (k, v) => (k.toString, v) } == b.map { case (k, v) => (k.toString, v) }

  test("readWhere(k = 2.0) finds the row in a NaN-holding file") {
    val t = nanTable()
    assert(rows(ManifestTable.readWhere(spark, t, col("k") === 2.0)) === Set(2.0 -> "b"))
  }

  test("readWhere(k = NaN) finds the NaN row") {
    val t = nanTable()
    val got = rows(ManifestTable.readWhere(spark, t, col("k") === Double.NaN))
    assert(same(got, Set(Double.NaN -> "n")), got)
  }

  test("a MERGE of a key in a NaN-holding file updates it in place") {
    val t = nanTable()
    ManifestTable.merge(spark, t, df(2.0 -> "B"), Seq("k"))
    val got = rows(ManifestTable.read(spark, t))
    assert(same(got, Set(1.0 -> "a", 2.0 -> "B", Double.NaN -> "n",
      10.0 -> "x", 11.0 -> "y")), got)
  }

  test("a NaN key in the MERGE source does not void the envelope") {
    val t = fresh()
    ManifestTable.commit(spark, t, df(1.0 -> "a", 2.0 -> "b").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("k"))
    ManifestTable.commit(spark, t, df(10.0 -> "x", 11.0 -> "y").coalesce(1))
    ManifestTable.merge(spark, t, df(2.0 -> "B", Double.NaN -> "N"), Seq("k"))
    val got = rows(ManifestTable.read(spark, t))
    assert(same(got, Set(1.0 -> "a", 2.0 -> "B", Double.NaN -> "N",
      10.0 -> "x", 11.0 -> "y")), got)
  }
}
