package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.sources.ManifestTable

/** A fixed commit sequence whose root manifests pin the root layout
  * byte for byte. Together the roots carry every protocol feature
  * (segments, externs, dvs, tombstones, transforms, txn, blooms,
  * ingest, checks, colmap) plus rollups and NaN/±Inf stats, once with
  * inline file lists and once segmented (`graft.manifest.segmentFiles`
  * = 2). Each table's data is written by one commit, so the order of
  * every path-sorted section is the same from run to run.
  *
  * [[roots]] returns `(name, text)` per root, normalized: `commitMs`
  * becomes 0 and every uuid (data dirs, part files, segment and ledger
  * names, and uuids inside base64 values) becomes a counter uuid
  * numbered in order of first appearance per table. The normalized
  * text is still a readable root. The fixtures under
  * `src/test/resources/golden-roots/` were produced by this object
  * against the build before the root codec existed. */
object GoldenRoots {

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val QuotedB64 = "\"([A-Za-z0-9+/]{8,}={0,2})\"".r

  def normalize(text: String,
                ids: scala.collection.mutable.Map[String, String]): String = {
    import java.util.regex.Matcher.quoteReplacement
    def uuids(s: String): String = Uuid.replaceAllIn(s, m => quoteReplacement(
      ids.getOrElseUpdate(m.matched, f"00000000-0000-0000-0000-${ids.size}%012d")))
    val b64 = QuotedB64.replaceAllIn(text, m => {
      val raw = m.group(1)
      val decoded = scala.util.Try(
        new String(java.util.Base64.getDecoder.decode(raw), "UTF-8")).toOption
      val out = decoded.filter(d => Uuid.findFirstIn(d).isDefined)
        .map(d => java.util.Base64.getEncoder.encodeToString(uuids(d).getBytes("UTF-8")))
        .getOrElse(raw)
      quoteReplacement("\"" + out + "\"")
    })
    uuids(b64).replaceAll("\"commitMs\": \\d+", "\"commitMs\": 0")
  }

  def roots(spark: SparkSession, base: String): Seq[(String, String)] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val data = (0 until 24).map { i =>
      val x = i match {
        case 0 => Double.NaN
        case 1 => Double.PositiveInfinity
        case 2 => Double.NegativeInfinity
        case _ => i * 0.5
      }
      (i.toLong, s"s$i", x)
    }
    def land(dir: String, cols: Seq[String]): Unit =
      data.take(6).toDF(cols: _*).coalesce(1).write.parquet(dir)
    def rootsOf(name: String, t: String): Seq[(String, String)] = {
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, String]
      ManifestTable.versions(spark, t).map { v =>
        val text = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f"$t/_manifests/v$v%08d.json")), "UTF-8")
        f"$name-v$v%02d" -> normalize(text, ids)
      }
    }
    Seq("inline" -> None, "segmented" -> Some("2")).flatMap { case (form, seg) =>
      val prev = conf.get(ManifestTable.SegmentFilesKey)
      seg.foreach(conf.set(ManifestTable.SegmentFilesKey, _))
      try {
        val t = s"$base/$form/t"
        ManifestTable.commit(spark, t, data.toDF("id", "s", "x").repartition(3),
          SaveMode.Overwrite, statsColumns = Seq("id", "x"),
          partitionBy = Seq("bucket(2, id)"), txn = Some(("golden-app", 1L)))
        ManifestTable.addConstraint(spark, t, "id_nonneg", "id >= 0")
        ManifestTable.addBloom(spark, t, Seq("id"), bits = 1024L, k = 3)
        ManifestTable.deleteWhereVector(spark, t, col("id") === 3L)
        ManifestTable.deleteWhereLazy(spark, t, col("id") === 5L)
        ManifestTable.renameColumn(spark, t, "s", "s2")
        val c = s"$base/$form/clone"
        ManifestTable.cloneShallow(spark, t, c)
        // inline: a table of its own, so no stats block mixes two data
        // dirs; segmented roots keep stats in segments, so the ingest
        // can land on the same table
        val i = if (seg.isEmpty) s"$base/$form/ingest" else t
        val landing = s"$base/$form/landing"
        land(landing, if (seg.isEmpty) Seq("id", "s", "x") else Seq("id", "s2", "x"))
        ManifestTable.copyInto(spark, i, s"$landing/*.parquet")
        rootsOf(s"$form-table", t) ++ rootsOf(s"$form-clone", c) ++
          (if (seg.isEmpty) rootsOf(s"$form-ingest", i) else Nil)
      } finally {
        if (prev == null) conf.unset(ManifestTable.SegmentFilesKey)
        else conf.set(ManifestTable.SegmentFilesKey, prev)
      }
    }
  }
}
