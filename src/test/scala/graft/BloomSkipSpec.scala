package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** Per-file BLOOM FILTER indexes (sources/ManifestTable.scala
  * addBloom/bloomPrune): point lookups on a high-cardinality column
  * prune through per-uuid sidecar bit sets where (min, max) ranges
  * prune nothing. Pins: pruning actually happens on hash-scattered
  * layouts, zero false negatives, conservative keeps for unindexed
  * files and era-mismatched configs, write-path coverage (appends,
  * compaction rewrites), IN/OR composition, clone resolution, and
  * sidecar reclaim at expire. */
class BloomSkipSpec extends AnyFunSuite with SparkFixture {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_bloom").toString

  /** n rows (id, tag) hash-scattered over `parts` files: every file
    * spans the whole id range, so range stats cannot prune a point
    * lookup — the bloom's home turf. */
  private def scattered(n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"tag-$i")).toDF("id", "tag")
      .repartition(parts, col("id"))
  }

  test("point lookup prunes to ~1 file on a hash-scattered layout; result exact") {
    val t = freshDir()
    ManifestTable.commit(spark, t, scattered(20000, 20),
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, t, Seq("id", "tag"))
    // the bloomed files are the NEXT write's — rewrite history in place
    ManifestTable.compact(spark, t, targetFiles = 20)
    val total = ManifestTable.snapshotFiles(spark, t).size
    assert(total >= 15)
    val hit = ManifestTable.readWhere(spark, t, col("id") === 12345L)
    assert(hit.inputFiles.length <= 3,
      s"bloom should keep ~1 of $total files, kept ${hit.inputFiles.length}")
    assert(hit.collect().map(_.getString(1)).toSeq === Seq("tag-12345"))
    // string column too
    val hs = ManifestTable.readWhere(spark, t, col("tag") === "tag-777")
    assert(hs.inputFiles.length <= 3)
    assert(hs.collect().map(_.getLong(0)).toSeq === Seq(777L))
  }

  test("no false negatives: every sampled key found through the pruned read") {
    val t = freshDir()
    ManifestTable.commit(spark, t, scattered(5000, 10),
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, t, Seq("id"))
    ManifestTable.compact(spark, t, targetFiles = 10)
    (1 to 50).map(_ * 97L).foreach { k =>
      val got = ManifestTable.readWhere(spark, t, col("id") === k).count()
      assert(got === 1L, s"key $k lost through bloom pruning")
    }
    // a key that does not exist prunes everything (near-certainly) and
    // still answers correctly
    assert(ManifestTable.readWhere(spark, t, col("id") === 999999L).count() === 0L)
  }

  test("copyInto'd files bloom-prune with no OPTIMIZE (indexed at ingest)") {
    // promoted r11 probe 2 — the fact it adjudicated: bloom-at-ingest
    // is INHERENT, not a gap. copyInto funnels through writeData, the
    // same write path every commit uses, so landing files are indexed
    // at birth; the r10 verdict's "copyInto skips the bloom pass" was
    // false, and this pin keeps a future copyInto refactor honest.
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val t = freshDir() + "/t"
    val landing = freshDir()
    val df = (0 until 64).map(i => (i.toLong, s"u$i")).toDF("id", "name")
    ManifestTable.commit(spark, t, df.limit(0), SaveMode.Overwrite,
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, t, Seq("name"), bits = 1L << 12, k = 4)
    // two landings, two COPY INTO commits: two indexed files to prune
    // between
    df.filter(col("id") < 32).write.parquet(s"$landing/b1")
    ManifestTable.copyInto(spark, t, s"$landing/*")
    df.filter(col("id") >= 32).write.parquet(s"$landing/b2")
    ManifestTable.copyInto(spark, t, s"$landing/*")
    val total = ManifestTable.snapshotFiles(spark, t).size
    val hit = ManifestTable.readWhere(spark, t, col("name") === "u3")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(hit.inputFiles.length < total,
      s"bloom pruning must fire on copyInto'd files with no OPTIMIZE " +
        s"(kept ${hit.inputFiles.length} of $total)")
  }

  test("pre-config files are kept conservatively; later appends index") {
    val t = freshDir()
    ManifestTable.commit(spark, t, scattered(2000, 4),
      statsColumns = Seq("id")) // v1: NO blooms
    ManifestTable.addBloom(spark, t, Seq("id"))
    import spark.implicits._
    ManifestTable.commit(spark, t,
      (100001 to 102000).map(i => (i.toLong, s"tag-$i")).toDF("id", "tag")
        .repartition(4, col("id"))) // v3: bloomed
    val total = ManifestTable.snapshotFiles(spark, t).size
    // a v1-resident key: its (unindexed) files are all kept, the four
    // bloomed v3 files drop — and the row is found
    val old = ManifestTable.readWhere(spark, t, col("id") === 1500L)
    assert(old.count() === 1L)
    assert(old.inputFiles.length < total, "bloomed files should drop")
    assert(old.inputFiles.length >= 4, "unindexed files must all be kept")
    // a v3-resident key prunes within the bloomed files
    val nw = ManifestTable.readWhere(spark, t, col("id") === 101500L)
    assert(nw.count() === 1L)
  }

  test("IN-list keeps the union of the owning files; OR with a range composes") {
    val t = freshDir()
    ManifestTable.commit(spark, t, scattered(10000, 10),
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, t, Seq("id"))
    ManifestTable.compact(spark, t, targetFiles = 10)
    val total = ManifestTable.snapshotFiles(spark, t).size
    val in3 = ManifestTable.readWhere(spark, t,
      col("id").isin(11L, 4444L, 9999L))
    assert(in3.count() === 3L)
    assert(in3.inputFiles.length <= 6, "IN-list should prune per-value")
    // OR of an equality and a range: the equality side alone must not
    // prune the range side's files — correctness first
    val mixed = ManifestTable.readWhere(spark, t,
      col("id") === 77L || col("id") > 9990L)
    assert(mixed.count() === 11L)
    assert(mixed.inputFiles.length === total,
      "a disjunct without an equality keeps everything (sound)")
  }

  test("MERGE rewrites re-index their new files") {
    val t = freshDir()
    ManifestTable.commit(spark, t, scattered(4000, 8),
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, t, Seq("id"))
    ManifestTable.compact(spark, t, targetFiles = 8)
    import spark.implicits._
    ManifestTable.upsert(spark, t,
      Seq((1234L, "UPDATED")).toDF("id", "tag"), Seq("id"))
    val hit = ManifestTable.readWhere(spark, t, col("id") === 1234L)
    assert(hit.collect().map(_.getString(1)).toSeq === Seq("UPDATED"))
    assert(hit.inputFiles.length <= 3,
      "the rewritten file must carry a fresh bloom")
  }

  test("a replaced config cannot mis-read old-era sidecars") {
    val t = freshDir()
    ManifestTable.commit(spark, t, scattered(2000, 4),
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, t, Seq("id"), bits = 1L << 17)
    ManifestTable.compact(spark, t, targetFiles = 4) // era-1 sidecars
    ManifestTable.addBloom(spark, t, Seq("id"), bits = 1L << 16,
      maxAttempts = 5)
    // era-1 bit sets are unusable under the new (bits, k): every file
    // is KEPT — never pruned on a mismatched hash space
    val hit = ManifestTable.readWhere(spark, t, col("id") === 555L)
    assert(hit.count() === 1L)
    assert(hit.inputFiles.length === ManifestTable.snapshotFiles(spark, t).size)
  }

  test("bloom pruning works on a shallow clone through the extern ledger") {
    val src = freshDir(); val dst = freshDir()
    ManifestTable.commit(spark, src, scattered(5000, 10),
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, src, Seq("id"))
    ManifestTable.compact(spark, src, targetFiles = 10)
    ManifestTable.cloneShallow(spark, src, dst)
    val total = ManifestTable.snapshotFiles(spark, dst).size
    val hit = ManifestTable.readWhere(spark, dst, col("id") === 4321L)
    assert(hit.count() === 1L)
    assert(hit.inputFiles.length < total,
      "the clone must prune through the donor's sidecars")
  }

  test("dropBloom clears the config: lookups fall back to range stats, correctly") {
    val t = freshDir()
    ManifestTable.commit(spark, t, scattered(2000, 4),
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, t, Seq("id"))
    ManifestTable.compact(spark, t, targetFiles = 4)
    assert(ManifestTable.readWhere(spark, t, col("id") === 77L)
      .inputFiles.length < ManifestTable.snapshotFiles(spark, t).size)
    ManifestTable.dropBloom(spark, t)
    assert(ManifestTable.bloomConfig(spark, t).isEmpty)
    val hit = ManifestTable.readWhere(spark, t, col("id") === 77L)
    assert(hit.count() === 1L)
    assert(hit.inputFiles.length === ManifestTable.snapshotFiles(spark, t).size,
      "without a config the hash-scattered lookup keeps every file")
    // later writes stop producing sidecars
    import spark.implicits._
    ManifestTable.commit(spark, t,
      Seq((999999L, "tag-z")).toDF("id", "tag"))
    assert(ManifestTable.read(spark, t).count() === 2001L)
  }

  test("expire reclaims sidecars of unreferenced uuids, keeps live ones") {
    val t = freshDir()
    ManifestTable.commit(spark, t, scattered(1000, 2),
      statsColumns = Seq("id"))
    ManifestTable.addBloom(spark, t, Seq("id"))
    ManifestTable.compact(spark, t, targetFiles = 2) // sidecar A (live)
    ManifestTable.compact(spark, t, targetFiles = 1) // sidecar B (live), A dead
    ManifestTable.expire(spark, t, keepLast = 1)
    val blooms = new java.io.File(t, "_manifests/blooms")
    // ignore Hadoop LocalFileSystem .crc siblings
    val sidecars = blooms.listFiles().filter(_.getName.endsWith(".json"))
      .filterNot(_.getName.startsWith("."))
    assert(sidecars.map(_.getName).toSeq ===
      Seq(ManifestTable.snapshotFiles(spark, t).head.split("/")(1) + ".json"),
      "exactly the live uuid's sidecar survives")
    val hit = ManifestTable.readWhere(spark, t, col("id") === 500L)
    assert(hit.count() === 1L)
  }

  test("fused bloom positions equal the HOF spelling, and pruning matches (r19)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod, sequence, transform, xxhash64}
    // expression-level: the fused HashPositions against the exact HOF
    // spelling bloomPosCol replaced, over every input type blooms index
    val bits = 1L << 17
    val k = 5
    def hof(c: org.apache.spark.sql.Column) = {
      val h1 = pmod(xxhash64(c), lit(bits))
      val h2 = pmod(xxhash64(c, lit(0x9E3779B97F4A7C15L)), lit(bits))
      transform(sequence(lit(0L), lit((k - 1).toLong)),
        i => pmod(h1 + i * h2, lit(bits)))
    }
    def fused(c: org.apache.spark.sql.Column) = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val h1 = pmod(xxhash64(c), lit(bits))
      val h2 = pmod(xxhash64(c, lit(0x9E3779B97F4A7C15L)), lit(bits))
      ColumnBridge.column(graft.functions.HashPositions(
        ColumnBridge.expression(h1), ColumnBridge.expression(h2), bits, k))
    }
    val df = ((1 to 2000).map(i => (i.toLong, s"value-$i")) ++
      Seq((Long.MinValue, ""), (Long.MaxValue, null: String), (0L, "\u0000")))
      .toDF("id", "s")
    Seq(col("id"), col("s")).foreach { c =>
      val rows = df.select(fused(c).as("f"), hof(c).as("h")).collect()
      rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"col $c"))
    }
    // end-to-end: a bloom-indexed table written through the fused
    // positions prunes a point lookup with exact results
    val t = java.nio.file.Files.createTempDirectory("graft_bloomab").toString
    val data = (1 to 4000).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartition(4, col("id"))
    ManifestTable.commit(spark, t, data.limit(0), org.apache.spark.sql.SaveMode.Overwrite)
    ManifestTable.addBloom(spark, t, Seq("id", "s"))
    ManifestTable.commit(spark, t, data, org.apache.spark.sql.SaveMode.Append)
    val hit = ManifestTable.readWhere(spark, t, col("id") === 1234L)
    assert(hit.inputFiles.length < ManifestTable.snapshotFiles(spark, t).size,
      "bloom pruning must actually fire")
    assert(hit.count() === 1L)
  }
}
