package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.RelFilePath

/** r20 optimization: the scan-path → manifest-relative derivation
  * (ManifestTable.relFileCol, the `__f` tag of every merge/DV/delete
  * rewrite read) goes through the fused, per-file-memoized
  * graft.functions.RelFilePath instead of the per-row
  * split + url_decode chain. Pins bit-equality of the two spellings
  * over the writer's whole escaping surface, plus the memo's
  * correctness across interleaved paths. */
class RelFilePathSpec extends AnyFunSuite with SparkFixture {

  private def chain(c: org.apache.spark.sql.Column) =
    concat(lit("data/"), url_decode(replace(
      substring_index(c, "/data/", -1), lit("+"), lit("%2B"))))

  private def fused(c: org.apache.spark.sql.Column) =
    ColumnBridge.column(RelFilePath(ColumnBridge.expression(c)))

  test("fused relative path equals the built-in chain on adversarial paths") {
    import spark.implicits._
    val paths = Seq(
      "file:/tmp/t/data/uuid-1/part-00000.parquet",
      "file:/tmp/t/data/uuid-1/k=with%20space/part-1.parquet",
      "file:/tmp/t/data/uuid-2/k=a%2Bb/part-2.parquet",   // '+' escaped
      "file:/tmp/t/data/uuid-2/k=50%25off/part-3.parquet", // '%' escaped
      "file:/tmp/t/data/uuid-3/k=%C3%BC/part-4.parquet",   // unicode
      "file:/tmp/with/data/in/root/data/uuid/part.parquet", // two /data/
      "file:/x/data/data/uuid/part.parquet",                // overlapping
      "no-data-anywhere/part.parquet",                      // absent → whole
      null)
    val df = paths.zipWithIndex.map { case (p, i) => (i, p) }.toDF("i", "p")
    val got = df.select(col("i"), fused(col("p")).as("f"), chain(col("p")).as("c"))
      .collect().sortBy(_.getInt(0))
    got.foreach { r =>
      assert(Option(r.getString(1)) === Option(r.getString(2)),
        s"row ${r.getInt(0)}: fused=${r.getString(1)} chain=${r.getString(2)}")
    }
    // overlapping occurrences resolve to the last one: the manifest's
    // relative form of a table rooted at /x/data
    assert(got(6).getString(1) === "data/uuid/part.parquet")
  }

  test("memo survives interleaved file paths (same thread, alternating keys)") {
    val e = RelFilePath(ColumnBridge.expression(lit("x")))
    val a = org.apache.spark.unsafe.types.UTF8String
      .fromString("file:/t/data/u1/part-0.parquet")
    val b = org.apache.spark.unsafe.types.UTF8String
      .fromString("file:/t/data/u2/part-1.parquet")
    (1 to 3).foreach { _ =>
      assert(e.compute(a).toString === "data/u1/part-0.parquet")
      assert(e.compute(b).toString === "data/u2/part-1.parquet")
    }
  }

  test("a table rooted at …/data records, reads and rewrites") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("graft_relroot").toFile
    val t = new java.io.File(root, "data").getAbsolutePath
    ManifestTable.commit(spark, t,
      (1 to 20).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "p"),
      org.apache.spark.sql.SaveMode.Overwrite, partitionBy = Seq("p"))
    assert(ManifestTable.snapshotFiles(spark, t).forall(f =>
      f.startsWith("data/") && !f.startsWith("data/data/")),
      ManifestTable.snapshotFiles(spark, t))
    ManifestTable.merge(spark, t,
      Seq((3L, "m3", 1), (40L, "n40", 0)).toDF("id", "v", "p"), Seq("id"))
    ManifestTable.deleteWhere(spark, t, col("id") === 4L)
    val got = ManifestTable.read(spark, t)
      .select("id", "v", "p").as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    val want = ((1 to 20).filter(_ != 4).map(i =>
      (i.toLong, if (i == 3) "m3" else s"v$i", i % 2)) :+ ((40L, "n40", 0)))
    assert(got === want)
  }
}
