package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** Pins the r11 format-safety gates (r10 verdict item 1, shipped r11
  * untested — the refusal paths are the entire value of the feature,
  * so the refusals are what this suite exercises):
  *
  *  1. PROTOCOL FEATURE GATE — a root declaring a required feature
  *     this build does not know is refused with a named error on EVERY
  *     read and write path (they all funnel through the one manifest
  *     accessor), never a silent misread or an empty result.
  *  2. Feature lists are DERIVED, not inherited: a feature whose last
  *     trace leaves the snapshot drops off the next root.
  *  3. UTC WRITER GATE — calendar-transform layouts, TIMESTAMP_NTZ
  *     stats, and NTZ-keyed MERGE refuse a non-UTC session BEFORE any
  *     data is written; zero-offset aliases (Etc/UTC, GMT, +00:00)
  *     pass (ADVICE r11); reads stay un-gated under any zone.
  *
  * Compatibility contract: SCALE.md "Format compatibility".
  */
class ProtocolGateSpec extends AnyFunSuite with SparkFixture {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_pgate_$tag").toString + "/t"

  /** Doctor version `v`'s root: insert an unknown required feature the
    * way a future engine era would — a top-level `"features"` list the
    * current build's SupportedFeatures does not cover. */
  private def doctorRoot(table: String, v: Int, feature: String): Unit = {
    val p = java.nio.file.Paths.get(
      f"$table/_manifests/v$v%08d.json")
    val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val doctored =
      if (text.contains("\"features\"")) text.replaceFirst(
        "(?m)^  \"features\"\\s*:\\s*\\[", s"""  "features": ["$feature", """)
      else text.replaceFirst("(?m)^(  \"commitMs\": \\d+,)$",
        s"""$$1\n  "features": ["$feature"],""")
    require(doctored.contains(feature), s"doctoring failed on $p")
    java.nio.file.Files.write(p, doctored.getBytes("UTF-8"))
  }

  private def interceptUnsupported(feature: String)(body: => Any): Unit = {
    val e = intercept[UnsupportedOperationException](body)
    assert(e.getMessage.contains(feature),
      s"refusal must name the unknown feature, got: ${e.getMessage}")
  }

  test("unknown required feature refuses every read path, loudly") {
    import spark.implicits._
    val t = tmp("read")
    val df = (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite,
      statsColumns = Seq("id"))
    ManifestTable.commit(spark, t, df.filter($"id" < 10)) // v2: a lineage
    doctorRoot(t, 2, "someday")
    interceptUnsupported("someday")(ManifestTable.read(spark, t).collect())
    interceptUnsupported("someday")(
      ManifestTable.readWhere(spark, t, col("id") === 3L).collect())
    interceptUnsupported("someday")(ManifestTable.history(spark, t).collect())
    interceptUnsupported("someday")(ManifestTable.changes(spark, t, 1).collect())
    interceptUnsupported("someday")(ManifestTable.rowCount(spark, t))
    interceptUnsupported("someday")(ManifestTable.snapshotFiles(spark, t))
    // time travel to the PRE-doctor version still works: the gate is
    // per-snapshot, exactly Delta's per-protocol-version semantics
    assert(ManifestTable.read(spark, t, 1).count() == 100)
  }

  test("unknown required feature refuses every write path before any data moves") {
    import spark.implicits._
    val t = tmp("write")
    val df = (0 until 50).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite,
      statsColumns = Seq("id"))
    doctorRoot(t, 1, "someday")
    // every writer reads its parent through the gated accessor — an
    // unreadable head must refuse the commit, never publish a child
    // that silently dropped the section it could not parse
    interceptUnsupported("someday")(
      ManifestTable.commit(spark, t, df.limit(5)))
    interceptUnsupported("someday")(
      ManifestTable.merge(spark, t, df.limit(3), Seq("id")))
    interceptUnsupported("someday")(
      ManifestTable.compact(spark, t, targetFiles = 1))
    interceptUnsupported("someday")(
      ManifestTable.deleteWhere(spark, t, col("id") === 1L))
    interceptUnsupported("someday")(
      ManifestTable.expire(spark, t, keepLast = 1))
    // nothing published: the head is still the (doctored) v1
    assert(ManifestTable.versions(spark, t) == Seq(1))
  }

  test("a legacy feature-free root reads fine and declares no features") {
    import spark.implicits._
    val t = tmp("legacy")
    val df = (0 until 20).map(i => (i.toLong, s"x$i")).toDF("id", "s")
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite)
    // a plain small table carries no gated section → no features line
    // (readable by any engine era, the grandfathering half of the
    // contract: pre-gate roots never declare and are never refused)
    assert(ManifestTable.tableFeatures(spark, t).isEmpty)
    assert(ManifestTable.read(spark, t).count() == 20)
  }

  test("feature lists are derived per root, not inherited") {
    import spark.implicits._
    val t = tmp("derive")
    val df = (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "g")
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite,
      statsColumns = Seq("id"))
    ManifestTable.deleteWhereVector(spark, t, col("id") === 7L)
    assert(ManifestTable.tableFeatures(spark, t).contains("dvs"),
      "a root carrying deletion vectors must require the dvs feature")
    // materializing the last DV rewrites the targets — the next root
    // carries no dvsB64 section and must DROP the gate with it
    ManifestTable.materializeDeletes(spark, t)
    val feats = ManifestTable.tableFeatures(spark, t)
    assert(!feats.contains("dvs"),
      s"a DV-free root must not inherit its parent's dvs gate, got $feats")
    assert(ManifestTable.read(spark, t).count() == 39)
  }

  test("the gate and every accessor read a valid JSON root in any layout") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = tmp("layout")
    val df = (0 until 60).map(i => (i.toLong, i % 3, s"r$i")).toDF("id", "g", "s")
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite, statsColumns = Seq("id"),
      partitionBy = Seq("g"), txn = Some(("app", 1L)))
    ManifestTable.addConstraint(spark, t, "pos", "id >= 0")
    ManifestTable.addBloom(spark, t, Seq("id"))
    ManifestTable.deleteWhereVector(spark, t, col("id") === 7L)
    val v = ManifestTable.deleteWhereLazy(spark, t, col("id") === 8L)
    def accessors(): Seq[Any] = Seq(
      ManifestTable.snapshotFiles(spark, t, v), ManifestTable.snapshotStats(spark, t, v),
      ManifestTable.snapshotSchema(spark, t, v), ManifestTable.partitionColumns(spark, t, v),
      ManifestTable.partitionTransforms(spark, t, v), ManifestTable.tableFeatures(spark, t, v),
      ManifestTable.checkConstraints(spark, t, v), ManifestTable.txnVersion(spark, t, "app", v),
      ManifestTable.deleteTombstones(spark, t, v), ManifestTable.deleteVectors(spark, t, v),
      ManifestTable.bloomConfig(spark, t, v), ManifestTable.commitTimeMs(spark, t, v),
      ManifestTable.commitOp(spark, t, v), ManifestTable.ingestLedgers(spark, t, v),
      ManifestTable.snapshotSegments(spark, t, v),
      ManifestTable.history(spark, t).collect().toSeq,
      ManifestTable.read(spark, t, v).collect().toSet)
    val before = accessors()
    // re-serialize the head root on one line with its keys reversed, so
    // `features` follows `stats` and sits at no particular indent
    val p = java.nio.file.Paths.get(f"$t/_manifests/v$v%08d.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(java.nio.file.Files.readAllBytes(p))
    def rewrite(extraFeature: Option[String], reshapeFiles: Boolean = false): Unit = {
      val out = mapper.createObjectNode()
      tree.fieldNames().asScala.toSeq.reverse.foreach(k =>
        out.set[com.fasterxml.jackson.databind.JsonNode](k, tree.get(k).deepCopy()))
      extraFeature.foreach(f => out.withArray("features").add(f))
      if (reshapeFiles) out.putArray("files").addObject().put("path", "data/x")
      java.nio.file.Files.write(p, mapper.writeValueAsBytes(out))
    }
    rewrite(None)
    assert(!new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains("\n"))
    assert(accessors() == before)
    rewrite(Some("someday"))
    interceptUnsupported("someday")(ManifestTable.read(spark, t).collect())
    interceptUnsupported("someday")(ManifestTable.commit(spark, t, df.limit(2)))
    // a section the unknown feature reshaped so that this build cannot
    // decode it still gets the gate's named refusal, not a parse error
    rewrite(Some("someday"), reshapeFiles = true)
    interceptUnsupported("someday")(ManifestTable.snapshotFiles(spark, t))
    assert(ManifestTable.currentVersion(spark, t) == v)
  }

  private def withSessionZone(tz: String)(body: => Unit): Unit = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("non-UTC session is refused on a calendar-transform write, before any data") {
    import spark.implicits._
    val t = tmp("utcw")
    val df = (0 until 30).map(i =>
        (i.toLong, java.sql.Timestamp.valueOf(s"2024-0${i % 9 + 1}-15 12:00:00")))
      .toDF("id", "ts")
    withSessionZone("America/New_York") {
      val e = intercept[IllegalArgumentException](
        ManifestTable.commit(spark, t, df, SaveMode.Overwrite,
          partitionBy = Seq("months(ts)"), statsColumns = Seq("id")))
      assert(e.getMessage.contains("UTC"), e.getMessage)
      assert(!new java.io.File(t).exists(),
        "the refusal must fire before any data or manifest is written")
    }
    // the same write under UTC succeeds; a non-UTC APPEND to the now
    // transform-partitioned table is refused too (the layout derive
    // would run under the wrong zone)
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite,
      partitionBy = Seq("months(ts)"), statsColumns = Seq("id"))
    withSessionZone("Asia/Tokyo") {
      intercept[IllegalArgumentException](
        ManifestTable.commit(spark, t, df.limit(3)))
      // reads stay un-gated: prune-side arithmetic is fixed-UTC JVM
      // math against UTC-written stats, no session expression anywhere
      assert(ManifestTable.readWhere(spark, t,
        col("ts") >= lit("2024-06-01").cast("timestamp")).count() ==
        df.filter($"ts" >= lit("2024-06-01").cast("timestamp")).count())
    }
  }

  test("non-UTC session is refused on an NTZ-keyed MERGE; zero-offset aliases pass") {
    import spark.implicits._
    val t = tmp("utcm")
    val df = (0 until 20).map(i =>
        (s"2024-03-${i % 9 + 10} 08:00:00", i.toDouble))
      .toDF("k", "v")
      .select(col("k").cast("timestamp_ntz").as("k"), col("v"))
    ManifestTable.commit(spark, t, df, SaveMode.Overwrite)
    val upd = df.limit(2).withColumn("v", col("v") + 100)
    withSessionZone("America/New_York") {
      val e = intercept[IllegalArgumentException](
        ManifestTable.merge(spark, t, upd, Seq("k")))
      assert(e.getMessage.contains("UTC"), e.getMessage)
    }
    // behaviorally-UTC zones must NOT be refused (ADVICE r11: the gate
    // string-compared to "UTC" and rejected equivalent sessions)
    Seq("Etc/UTC", "GMT", "+00:00").foreach { z =>
      withSessionZone(z) {
        ManifestTable.merge(spark, t, upd, Seq("k"))
      }
    }
    assert(ManifestTable.read(spark, t).agg(max("v")).head.getDouble(0) >= 100.0)
  }
}
