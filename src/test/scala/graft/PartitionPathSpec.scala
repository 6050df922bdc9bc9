package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** Partition values come from the manifest index: each recorded
  * relative path's `<col>=<value>` dirs, hive-unescaped once and cast
  * to the recorded type (`__HIVE_DEFAULT_PARTITION__` is null). These
  * tests pin the writer's whole escaping surface, typed values, a
  * table root that itself sits under a `<col>=<value>` dir, and a
  * renamed partition column (the dirs keep the physical name). */
class PartitionPathSpec extends AnyFunSuite with SparkFixture {

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_ppath").toString

  test("partition values round-trip the writer's escaping on adversarial values") {
    import spark.implicits._
    // every escaping hazard: space, '+', '%', '=', '/', ':', a
    // %-escape-looking value, a value that LOOKS like the null
    // marker's neighbor, and NULL (written as __HIVE_DEFAULT_PARTITION__)
    // (a unicode value is not writable on this JVM's POSIX file
    // encoding, so "%C3%BC" stands in for its escaped spelling)
    val vals = Seq("plain", "with space", "a+b", "50%off", "k=v", "a/b",
      "c:d", "%C3%BC", "a++b", "__HIVE_DEFAULT_partition__", null)
    val df = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "k")
    val t = fresh()
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite,
      partitionBy = Seq("k"))
    val got = ManifestTable.read(spark, t).select("id", "k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq.sortBy(_._1)
    assert(got === vals.zipWithIndex.map { case (v, i) => (i.toLong, Option(v)) })
    // a filter on an escaped value selects exactly its partition's file
    Seq("k=v", "a/b", "50%off", "a+b").foreach { v =>
      val hit = ManifestTable.read(spark, t).filter(col("k") === v)
      assert(hit.inputFiles.length === 1, v)
      assert(hit.select("id").as[Long].collect().toSeq ===
        Seq(vals.indexOf(v).toLong), v)
    }
    val nul = ManifestTable.read(spark, t).filter(col("k").isNull)
    assert(nul.inputFiles.length === 1)
    assert(nul.select("id").as[Long].collect().toSeq === Seq(vals.size - 1L))
  }

  test("typed values, a root under a <col>=<v> dir and a renamed column read back") {
    import spark.implicits._
    val rows = (1 to 40).map(i =>
      (i.toLong, i % 4, java.sql.Date.valueOf(f"202${i % 3}%d-01-0${i % 9 + 1}%d")))
    val df = rows.toDF("id", "bucket", "d")
    // the table root itself sits under dirs spelled like partitions
    val root = new java.io.File(fresh(), "bucket=9/d=1999-01-01").getAbsolutePath
    ManifestTable.commit(spark, root, df, SaveMode.Overwrite,
      partitionBy = Seq("bucket", "d"))
    def read() = ManifestTable.read(spark, root)
    assert(read().schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("id" -> "bigint", "bucket" -> "int", "d" -> "date"))
    val got = read().as[(Long, Int, java.sql.Date)].collect().sortBy(_._1).toSeq
    assert(got === rows)
    // typed pruning on the values: int equality and a date range
    val b2 = read().filter(col("bucket") === 2)
    assert(b2.count() === rows.count(_._2 == 2))
    assert(b2.inputFiles.forall(_.contains("bucket=2/")))
    assert(read().filter(col("d") >= lit(java.sql.Date.valueOf("2022-01-01")))
      .count() === rows.count(_._3.toString >= "2022-01-01"))
    // a renamed partition column keeps its physical dirs
    ManifestTable.renameColumn(spark, root, "bucket", "shard")
    val renamed = read().filter(col("shard") === 3)
    assert(renamed.columns.toSeq === Seq("id", "shard", "d"))
    assert(renamed.select("id").as[Long].collect().toSet ===
      rows.filter(_._2 == 3).map(_._1).toSet)
    assert(renamed.inputFiles.forall(_.contains("bucket=3/")))
  }
}
