package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A minimal manifest-commit table format over raw parquet — the ACID
  * story a lake user expects from a Delta/Iceberg-class table, built
  * from nothing but the Hadoop FileSystem API (offline sandbox: no
  * external table-format deps, and none are needed to demonstrate the
  * protocol; Delta's LAST checkpointless design is exactly this).
  *
  * Layout:
  * {{{
  *   <table>/data/<uuid>/part-*.parquet   -- immutable data files
  *   <table>/_manifests/v00000042.json    -- snapshot manifests
  * }}}
  *
  * Manifests record file paths RELATIVE to the table root and readers
  * re-qualify them against the root at read time — so a table is
  * location-independent: move/copy it, read it through a session whose
  * default filesystem differs from the one that wrote it (file:// vs
  * hdfs:// vs s3a://), and the snapshot still resolves. Delta and
  * Iceberg store table-relative paths for exactly this reason;
  * absolute paths break the moment the table and the session disagree
  * about the default FS.
  *
  * Protocol (writer):
  *  1. write the new data files COMPLETELY, under a fresh uuid dir no
  *     manifest references yet — crash here leaves garbage, never a
  *     torn table (garbage is reclaimed by [[expire]]);
  *  2. compose the next SNAPSHOT manifest (the complete file list of
  *     the new version — append = old list + new files, overwrite =
  *     new files only, delete = old list with victims rewritten);
  *  3. publish it into the `v<N+1>.json` slot EXCLUSIVELY. On
  *     HDFS-class filesystems rename-without-overwrite is the atomic
  *     primitive; on the local FS POSIX rename() overwrites silently,
  *     so the publish uses link(2) instead — hard-linking the temp
  *     manifest into the slot fails with EEXIST exactly when a
  *     concurrent writer won, making the commit point genuinely
  *     atomic-exclusive for any number of local processes. (On S3A
  *     the equivalent is a conditional PUT / commit coordinator.)
  *     A manifest is either absent or complete — a reader can never
  *     observe half a commit. A lost slot means a concurrent writer
  *     committed first: [[commit]] re-reads the head and retries
  *     (append recomposes; overwrite is last-writer-wins by its own
  *     semantics), while [[upsert]]/[[deleteWhere]] re-DERIVE their
  *     snapshot against the new head before retrying — a stale-read
  *     merge is never silently published (the Delta/Iceberg
  *     optimistic-conflict rule, not just its retry loop).
  *
  * Protocol (reader): list `_manifests/`, take the HIGHEST version,
  * read exactly the files it names. Time travel falls out for free:
  * pass an older version. Readers touch no lock and block no writer.
  */
object ManifestTable {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(table: String) = new Path(table, "_manifests")
  private def versionOf(p: Path): Int =
    p.getName.stripPrefix("v").stripSuffix(".json").toInt
  private def manifestPath(table: String, v: Int) =
    new Path(manifestDir(table), f"v$v%08d.json")
  // only fully-published manifests count: a crashed writer's temp file
  // (.tmp-*) or any foreign file in _manifests/ must be invisible to
  // readers, not a parse crash
  private def isManifest(p: Path): Boolean = p.getName.matches("v\\d{8}\\.json")

  /** Committed manifest versions present on disk, ascending (after
    * [[expire]] the low end is truncated). */
  def versions(spark: SparkSession, table: String): Seq[Int] = {
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    val vs =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).map(_.getPath).filter(isManifest)
        .map(versionOf).toSeq.sorted
    // drop-and-recreate hardening (review r10): (len, mtime)
    // validation leaves a residual hole — a recreated table whose v1
    // manifest matches the old one's byte length inside one mtime tick
    // would serve a stale record. A listing that shows FEWER versions
    // than the cache holds is the observable signature of a recreate,
    // so purge the orphans here; the sub-tick same-length v1-vs-v1 case
    // remains theoretically open (closing it needs content hashing,
    // i.e. re-reading what the cache exists to avoid) and is
    // documented at the cache.
    val head = vs.lastOption.getOrElse(0)
    rootCache.removeIf { case ((t, v), _) => t == table && v > head }
    vs
  }

  /** Highest committed version, or 0 if the table has no commits. */
  def currentVersion(spark: SparkSession, table: String): Int =
    versions(spark, table).lastOption.getOrElse(0)

  /** The data-file list of `version` (default: head), as table-root-
    * RELATIVE paths — exactly what the manifest records. Empty for
    * version 0 (the empty table); error for an [[expire]]d version. */
  def snapshotFiles(spark: SparkSession, table: String,
                    version: Int = -1): Seq[String] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Nil else filesAndStats(spark, table, root(spark, table, v))._1
  }

  /** Files, schema, stats and partition columns of one version, from
    * one root lookup — for the hot derived commits ([[merge]]/
    * [[deleteWhere]]) and pruned reads that need all four. */
  private def snapshotAll(spark: SparkSession, table: String, version: Int)
      : (Seq[String], Option[StructType],
         Map[String, Map[String, (Double, Double)]], Seq[String]) = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) (Nil, None, Map.empty, Nil)
    else {
      val r = root(spark, table, v)
      val (files, stats) = filesAndStats(spark, table, r)
      (files, r.schema, stats, r.partitionBy)
    }
  }

  /** The partition columns `version`'s snapshot was written with
    * (Hive-style `<col>=<value>/` data layout), empty for an
    * unpartitioned table. */
  def partitionColumns(spark: SparkSession, table: String,
                       version: Int = -1): Seq[String] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Nil else root(spark, table, v).partitionBy
  }

  // -----------------------------------------------------------------
  // HIDDEN PARTITIONING — Iceberg's partition transforms: the layout
  // column is DERIVED from a source column — `days(ts)`,
  // `bucket(n, col)`, `truncate(w, col)` — recorded in the manifest,
  // recomputed by every writer (appends, MERGE rewrites, compactions
  // all route through writeData, which derives any missing target),
  // HIDDEN from reads (the target never enters the recorded schema, so
  // readFiles never surfaces it), and pruned through by predicates on
  // the SOURCE column alone: a `ts >= X` scan prunes day partitions
  // without the query ever naming the partition column — the layout
  // can change without breaking a single query, which is the whole
  // point of hiding it.
  // -----------------------------------------------------------------

  /** One partition transform: `target` is the hidden layout column
    * derived from `source` (`n` = bucket count / truncate width). */
  final case class PartitionTransform(kind: String, source: String,
                                      n: Long, target: String)

  private val YearsPat = """years\(\s*([^)\s,]+)\s*\)""".r
  private val MonthsPat = """months\(\s*([^)\s,]+)\s*\)""".r
  private val DaysPat = """days\(\s*([^)\s,]+)\s*\)""".r
  private val HoursPat = """hours\(\s*([^)\s,]+)\s*\)""".r
  private val BucketPat = """bucket\(\s*(\d+)\s*,\s*([^)\s,]+)\s*\)""".r
  private val TruncPat = """truncate\(\s*(\d+)\s*,\s*([^)\s,]+)\s*\)""".r

  /** Parse one partitionBy entry; None means a plain (identity)
    * partition column. The family is Iceberg's: years / months / days
    * / hours (time granularities), bucket (hash residue), truncate
    * (width floor). */
  private[graft] def parseTransform(s: String): Option[PartitionTransform] =
    s.trim match {
      case YearsPat(c) => Some(PartitionTransform("years", c, 0L, s"${c}_year"))
      case MonthsPat(c) => Some(PartitionTransform("months", c, 0L, s"${c}_month"))
      case DaysPat(c) => Some(PartitionTransform("days", c, 0L, s"${c}_day"))
      case HoursPat(c) => Some(PartitionTransform("hours", c, 0L, s"${c}_hour"))
      case BucketPat(n, c) =>
        require(n.toLong > 0, s"bucket($n, $c): need a positive bucket count")
        Some(PartitionTransform("bucket", c, n.toLong, s"${c}_bucket"))
      case TruncPat(w, c) =>
        require(w.toLong > 0, s"truncate($w, $c): need a positive width")
        Some(PartitionTransform("truncate", c, w.toLong, s"${c}_trunc"))
      case _ => None
    }

  /** The non-identity partition transforms `version` was laid out
    * with; empty for flat or identity-partitioned tables. */
  def partitionTransforms(spark: SparkSession, table: String,
                          version: Int = -1): Seq[PartitionTransform] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Nil else root(spark, table, v).transforms
  }

  /** The derived layout value, as the ONE Column definition both the
    * writer and (for bucket) the prune-side literal eval share. Days
    * count epoch days (timestamps through the epoch-seconds cast the
    * stats already use, dates natively); truncate floors numerics to
    * the width; bucket is the xxhash64 residue. */
  private def transformCol(pt: PartitionTransform, c: Column,
                           dt: DataType): Column = {
    import org.apache.spark.sql.functions.{floor, lit, month, pmod, unix_date, xxhash64, year}
    import org.apache.spark.sql.types._
    // epoch seconds of a time-typed column, the shared base for the
    // sub-month granularities (dates scale their day number)
    def secs: Column = dt match {
      case TimestampNTZType => c.cast(TimestampType).cast("double")
      case DateType => unix_date(c).cast("double") * 86400
      case _ => c.cast("double")
    }
    pt.kind match {
      // calendar granularities use year()/month() — session tz is
      // pinned UTC by every entry point, matching the prune-side
      // java.time UTC mapping
      case "years" => (year(c) - 1970).cast("long")
      case "months" => ((year(c) - 1970) * 12 + month(c) - 1).cast("long")
      case "days" => floor(secs / 86400).cast("long")
      case "hours" => floor(secs / 3600).cast("long")
      case "truncate" => floor(c.cast("double") / pt.n).cast("long") * pt.n
      case "bucket" => pmod(xxhash64(c), lit(pt.n))
      case k => throw new IllegalArgumentException(s"unknown transform '$k'")
    }
  }

  /** Does evaluating this transform on a `dt`-typed source depend on
    * the SESSION time zone? years/months go through year()/month(),
    * which localize instants (TimestampType) and NTZ-through-Timestamp
    * casts; days/hours localize only the NTZ→Timestamp cast. DateType
    * has no zone anywhere; bucket/truncate never localize. */
  private def tzSensitiveTransform(kind: String, dt: DataType): Boolean = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    kind match {
      case "years" | "months" => dt != DateType
      case "days" | "hours" => dt == TimestampNTZType
      case _ => false
    }
  }

  /** Runtime enforcement of the UTC invariant (ADVICE r10, medium):
    * calendar transforms and TIMESTAMP_NTZ stats encode through
    * session-zone expressions on the WRITE side but prune through
    * fixed-UTC arithmetic on the read side. Every in-repo entry point
    * pins spark.sql.session.timeZone=UTC, but ManifestTable is a
    * public API — a caller writing under another zone would record a
    * layout/stats image the pruner then uses to skip LIVE files (wrong
    * results, not weak pruning). Reads stay zone-free (leafBounds /
    * calendarIndex are fixed-UTC JVM arithmetic against UTC-written
    * stats), so only writers are gated. */
  private def requireUtcSession(spark: SparkSession, why: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    // any zero-offset zone is behaviorally UTC for the write-side
    // expressions this gate protects — 'Etc/UTC', 'GMT', 'Z', '+00:00'
    // all normalize to ZoneOffset.UTC and must not be refused (ADVICE
    // r11: a string-compare against "UTC" rejected equivalent sessions
    // with a message claiming corruption that could not happen)
    val isUtc =
      try java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS)
        .normalized() == java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    require(isUtc,
      s"$why requires spark.sql.session.timeZone=UTC (session has '$tz'): " +
        "calendar partition transforms and TIMESTAMP_NTZ stats are " +
        "evaluated in the session zone at write time but pruned through " +
        "fixed-UTC arithmetic — a non-UTC writer would record a layout/" +
        "stats image that silently prunes live files")
  }

  /** Prune-side twin of the calendar granularities: map an
    * epoch-SECONDS (or epoch-days, for DateType) stats bound to the
    * transform's index, monotonically. */
  private def calendarIndex(kind: String, statVal: Double,
                            isDate: Boolean): Double = {
    if (statVal.isNaN || statVal.isInfinite) return statVal
    val sec = if (isDate) statVal * 86400 else statVal
    kind match {
      case "days" => math.floor(sec / 86400)
      case "hours" => math.floor(sec / 3600)
      case _ =>
        try {
          val d = java.time.LocalDateTime.ofEpochSecond(
            math.floor(sec).toLong, 0, java.time.ZoneOffset.UTC)
          if (kind == "years") (d.getYear - 1970).toDouble
          else ((d.getYear - 1970) * 12 + d.getMonthValue - 1).toDouble
        } catch {
          // a bound past the calendar's range maps to the matching
          // infinity — monotone, so the constraint only loosens
          case _: java.time.DateTimeException =>
            if (sec < 0) Double.NegativeInfinity else Double.PositiveInfinity
        }
    }
  }

  /** Bounded (table, version) → decoded-root cache. Sound because a
    * published manifest is IMMUTABLE — the only lifecycle event is
    * deletion by [[expire]], which the existence check still observes
    * (an expired version keeps failing loudly; the FS stat it costs is
    * nothing next to re-reading and re-decoding a multi-MB manifest
    * on every accessor — read/merge/reconcile each consult the head
    * root several times per operation). */
  // Each entry remembers the (length, mtime) of the file it was read
  // from, and a hit is validated against a fresh getFileStatus — the
  // same RPC the old existence check cost. This closes the
  // drop-and-recreate hole (ADVICE r9): delete a table directory and
  // re-create it at the same path in one JVM and version numbers
  // restart, so a bare existence check would happily serve the OLD
  // table's v1 root for the NEW table's v1 file. The cache is bounded
  // by WEIGHT, not entry count — at 100k-file scale one root is tens
  // of MB, and 64 such entries would pin GBs of driver heap. The
  // weight is 2 bytes per char of root text plus 4 per decoded
  // deletion-vector ordinal: 64 MB holds 32M chars of text or 16M
  // ordinals, the two bounds the text and vector caches had apart.
  private final case class CachedRoot(root: RootRecord, len: Long, mtime: Long,
                                      weight: Long)

  /** The ONE validated-LRU shape every parsed-manifest-artifact cache
    * in this file uses (decoded roots, segment entries, bloom
    * sidecars, ingest ledgers): synchronized
    * access-order LRU bounded by a caller-chosen WEIGHT — bytes, key
    * counts, whatever the real memory is — never evicting the entry
    * just stored. Extracted r10 (review finding: four hand-rolled
    * copies of the same lock + counter + skip-self eviction loop had
    * to be kept in sync, and one of them was bounded by entry COUNT
    * where entries were KB-sized). */
  private final class BoundedLru[K, V](maxWeight: Long, weight: V => Long) {
    private val map = new java.util.LinkedHashMap[K, V](64, 0.75f, true)
    private var total = 0L
    def get(k: K): V = synchronized(map.get(k)) // null when absent
    def put(k: K, v: V): Unit = synchronized {
      val prev = map.put(k, v)
      total += weight(v) - (if (prev == null) 0L else weight(prev))
      val it = map.entrySet().iterator()
      while (total > maxWeight && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) { total -= weight(e.getValue); it.remove() }
      }
    }
    def remove(k: K): Unit = synchronized {
      val prev = map.remove(k)
      if (prev != null) total -= weight(prev)
    }
    def removeIf(p: (K, V) => Boolean): Unit = synchronized {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey, e.getValue)) { total -= weight(e.getValue); it.remove() }
      }
    }
  }

  private val rootCache =
    new BoundedLru[(String, Int), CachedRoot](64L << 20, _.weight)

  /** A version's manifest is gone — expired by retention or never
    * committed. A DEDICATED IllegalArgumentException subtype so
    * callers that can legitimately degrade (the incremental MV
    * refresh falling back to full when retention races its
    * availability check) catch exactly this and nothing else —
    * a blanket IAE catch also swallows real bugs (ADVICE r18). */
  final class ExpiredVersionException(msg: String)
    extends IllegalArgumentException(msg)

  /** Version `v`'s root, decoded once per (table, version, len, mtime). */
  private def root(spark: SparkSession, table: String, v: Int): RootRecord = {
    val p = manifestPath(table, v)
    val st =
      try fs(spark, p).getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException => throw new ExpiredVersionException(
          s"requirement failed: version $v of $table is expired or was never committed")
      }
    val cached = rootCache.get((table, v))
    if (cached != null && cached.len == st.getLen &&
        cached.mtime == st.getModificationTime) cached.root
    else {
      val in = fs(spark, p).open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      // PROTOCOL GATE (r11) — the Delta reader/writer-feature /
      // Iceberg format-version idiom: validated at parse time, BEFORE
      // the root is cached, so every read AND write path (they all
      // funnel through this one accessor for head/parent roots)
      // refuses an unreadable snapshot loudly — also when the codec
      // cannot decode a section an unknown feature reshaped.
      // What the gate buys is FORWARD protection (honest contract,
      // r12): every gate-aware reader refuses any FUTURE feature it
      // does not understand, instead of the silent misreads each
      // section's absence would cause (an unknown segments-like
      // feature reads as an empty file list — and a vacuum on that
      // view would reclaim every live file). It cannot retrofit
      // safety onto pre-gate binaries: those never check `features`
      // and stay exactly as unsafe as they were. Features are stamped
      // from the next publish onward; pre-gate roots carry no list
      // and are grandfathered — see SCALE.md "Format compatibility".
      val r =
        try RootCodec.decode(text, table, v)
        catch { case scala.util.control.NonFatal(e) =>
          requireFeaturesReadable(RootCodec.features(text), table, v); throw e }
      requireFeaturesReadable(r.features, table, v)
      rootCache.put((table, v), CachedRoot(r, st.getLen, st.getModificationTime,
        2L * text.length + 4L * r.dvs.valuesIterator.map(_.size.toLong).sum))
      r
    }
  }

  // -----------------------------------------------------------------
  // PROTOCOL FEATURE GATES (r11) — Delta's minReaderVersion/
  // readerFeatures and Iceberg's format-version, in one list: every
  // root records the format features a reader MUST understand to read
  // that snapshot correctly ("segments", "dvs", "tombstones", …,
  // computed by tryPublish from the sections it actually wrote — a
  // feature-free table writes no list and stays readable by any
  // engine era). A reader meeting an unknown required feature refuses
  // with a named error on every path, never a silent misread: ignoring
  // dvsB64 resurrects deleted rows, ignoring txnsB64 double-applies a
  // replayed micro-batch, ignoring ingestSegs re-ingests a landing
  // zone, ignoring segments reads an empty snapshot. Widened-type
  // schemas deliberately carry NO gate: the recorded schema is the
  // read contract and Spark's parquet reader up-casts narrower pages
  // natively, so any reader of this format reads both eras correctly.
  // -----------------------------------------------------------------

  /** Every format feature THIS build can read. A future feature lands
    * by (1) teaching the reader, (2) adding it here, (3) letting the
    * writer emit it — in that order, exactly Delta's rollout rule. */
  private[graft] val SupportedFeatures: Set[String] = Set(
    "segments", "externs", "dvs", "tombstones", "transforms",
    "txn", "blooms", "ingest", "checks", "colmap")

  private def requireFeaturesReadable(feats: Seq[String], table: String,
                                      v: Int): Unit = {
    val unknown = feats.filterNot(SupportedFeatures)
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"manifest v$v of $table requires table feature(s) " +
          s"${unknown.mkString("[", ", ", "]")} this reader does not " +
          s"support (supported: ${SupportedFeatures.toSeq.sorted.mkString(", ")}) " +
          "— refusing to read rather than silently misread the snapshot; " +
          "upgrade the engine to a build that understands these features")
  }

  /** The required-feature list `version`'s root declares (empty for
    * legacy / feature-free snapshots) — the compatibility contract an
    * older reader is gated on. */
  def tableFeatures(spark: SparkSession, table: String,
                    version: Int = -1): Seq[String] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Nil else root(spark, table, v).features
  }

  /** The snapshot schema recorded at commit time (Delta-style: the log,
    * not per-file footer sniffing, is the source of truth — at 100 TB a
    * mergeSchema read would touch 100k footers before the first row).
    * None for legacy manifests written before schema tracking. */
  def snapshotSchema(spark: SparkSession, table: String,
                     version: Int = -1): Option[StructType] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) None else root(spark, table, v).schema
  }

  /** Per-file column (min, max) ranges recorded at write time —
    * `relPath -> col -> (min, max)` as doubles. Files or columns absent
    * from the map simply have no stats (they are never pruned). */
  def snapshotStats(spark: SparkSession, table: String, version: Int = -1)
      : Map[String, Map[String, (Double, Double)]] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Map.empty else filesAndStats(spark, table, root(spark, table, v))._2
  }

  // ------------------------------------------------------------------
  // Manifest segmentation (r10): the Delta-checkpoint / Iceberg-
  // manifest-list shape. Beyond `graft.manifest.segmentFiles` files
  // (default 1000) the file list + per-file stats move out of the root
  // manifest into immutable SEGMENT files under `_manifests/segments/`,
  // and the root records only their names. A commit then:
  //   - CARRIES untouched parent segments by reference (zero bytes
  //     rewritten for them — a 1-file append to a 100k-file table
  //     writes one small segment + one tiny root, not a 30 MB text);
  //   - REWRITES only segments some of whose files it removed or
  //     re-statted (the affected-segment cost a delete/compaction
  //     actually owes);
  //   - packs its own new files into fresh segments of up to the
  //     target size, COALESCING accumulated small carried segments
  //     (append leaves one per commit) once more than 8 exist — the
  //     LSM-ish amortization that keeps root size O(files/target).
  // Metadata-only commits (constraints, tombstones, DDL, restore with
  // a donor) carry every segment and write just the root: O(1).
  // Segments are JSON through the same Jackson mapper as the root
  // ([[RootCodec]]). Legacy inline manifests stay
  // readable forever; a table migrates the first time a commit crosses
  // the threshold, with no flag day ([[snapshotSegments]] exposes the
  // layout for tests/ops).
  // ------------------------------------------------------------------

  private[graft] val SegmentFilesKey = "graft.manifest.segmentFiles"

  /** The segment files `version`'s root references (table-relative,
    * under `_manifests/`), empty for an inline (legacy or small)
    * manifest. Ops/tests use it to see carry-by-reference at work. */
  def snapshotSegments(spark: SparkSession, table: String,
                       version: Int = -1): Seq[String] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Nil else root(spark, table, v).segments
  }

  private type SegEntries = IndexedSeq[(String, Map[String, (Double, Double)])]


  /** Write one immutable segment file; returns its manifest-relative
    * name. Written BEFORE the root publish — a lost race deletes it, a
    * crash leaves an orphan [[expire]] sweeps. */
  private def writeSegment(spark: SparkSession, table: String,
                           entries: Seq[(String, Map[String, (Double, Double)])])
      : String = {
    val rel = s"segments/${java.util.UUID.randomUUID()}.json"
    val node = RootCodec.mapper.createObjectNode()
    val arr = node.putArray("entries")
    entries.foreach { case (p, st) =>
      val e = arr.addObject()
      e.put("path", p)
      val s = e.putObject("stats")
      st.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
        val a = s.putArray(c); a.add(mn); a.add(mx)
      }
    }
    val path = new Path(manifestDir(table), rel)
    val f = fs(spark, path)
    val out = f.create(path, false) // uuid name: never contended
    try out.write(RootCodec.mapper.writeValueAsBytes(node)) finally out.close()
    rel
  }

  private def parseSegment(text: String, where: String): SegEntries = {
    val tree = RootCodec.mapper.readTree(text)
    val entries = tree.get("entries")
    require(entries != null && entries.isArray, s"malformed segment $where")
    (0 until entries.size).map { i =>
      val e = entries.get(i)
      val p = e.get("path")
      require(p != null && p.isTextual, s"malformed entry $i in segment $where")
      val stNode = e.get("stats")
      val st =
        if (stNode == null) Map.empty[String, (Double, Double)]
        else {
          import scala.jdk.CollectionConverters._
          stNode.fields().asScala.map { kv =>
            val a = kv.getValue
            require(a.isArray && a.size == 2,
              s"malformed stats for '${kv.getKey}' in segment $where")
            kv.getKey -> (a.get(0).asDouble, a.get(1).asDouble)
          }.toMap
        }
      p.asText -> st
    }
  }

  // segment entry cache: segments are immutable (uuid-named, never
  // rewritten), but the same (len, mtime) validation as the root cache
  // guards the drop-and-recreate-at-same-path hole. Bounded by
  // ESTIMATED BYTES (review r10: an entry-count bound ignored that an
  // entry is path + per-column boxed stats, KBs each — 2M of them
  // could pin GBs where the root cache above is deliberately held to
  // 64 MB); the estimate is computed once at parse and stored.
  private final case class CachedSegment(entries: SegEntries,
                                         len: Long, mtime: Long, bytes: Long)
  private val segmentCache = // 256 MB of parsed segment entries
    new BoundedLru[String, CachedSegment](256L << 20, _.bytes)

  private def segmentEntries(spark: SparkSession, table: String,
                             rel: String): SegEntries = {
    val p = new Path(manifestDir(table), rel)
    val key = p.toString
    val f = fs(spark, p)
    val st =
      try f.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
          s"requirement failed: segment $rel of $table is missing — the " +
            "version referencing it is expired or the table is corrupt")
      }
    val cached = segmentCache.get(key)
    if (cached != null && cached.len == st.getLen &&
        cached.mtime == st.getModificationTime) cached.entries
    else {
      val in = f.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val entries = parseSegment(text, s"$rel of $table")
      val bytes = entries.iterator
        .map(e => 100L + 2L * e._1.length + 150L * e._2.size).sum
      segmentCache.put(key,
        CachedSegment(entries, st.getLen, st.getModificationTime, bytes))
      entries
    }
  }

  /** Files + stats of a root, segment-aware: the ONE accessor every
    * snapshot consumer funnels through. Inline roots carry both;
    * segmented roots concatenate their segments' entries (stats map
    * carries only files that have stats, matching the inline
    * convention). */
  private def filesAndStats(spark: SparkSession, table: String, r: RootRecord)
      : (Seq[String], Map[String, Map[String, (Double, Double)]]) = {
    if (r.segments.isEmpty) (r.files, r.stats)
    else {
      val all = r.segments.map(segmentEntries(spark, table, _))
      (all.flatMap(_.map(_._1)),
        all.iterator.flatten.filter(_._2.nonEmpty).toMap)
    }
  }

  /** Wall-clock commit time of `version`, epoch millis — recorded in
    * the manifest at publish time, STRICTLY increasing along the
    * version line (a commit landing in the same millisecond as its
    * parent records parentMs + 1, the in-commit-timestamp monotonicity
    * adjustment Delta makes), so timestamp-as-of resolution is total.
    * None for legacy manifests written before timestamp tracking. */
  def commitTimeMs(spark: SparkSession, table: String,
                   version: Int = -1): Option[Long] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) None else root(spark, table, v).commitMs
  }

  /** The operation that produced `version` — append / overwrite /
    * merge / delete / compact / compact-small / restore /
    * add-constraint / drop-constraint — recorded at publish. None for
    * legacy manifests written before op tracking. */
  def commitOp(spark: SparkSession, table: String,
               version: Int = -1): Option[String] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) None else root(spark, table, v).op
  }

  /** DESCRIBE HISTORY: one row per surviving version — version, op,
    * commit wall-clock, file/byte totals, and the files added/removed
    * vs the parent. O(versions) driver-side ROOT reads, zero data
    * touched, at any table size: the counters come from each root's
    * publish-time rollup; only legacy roots written before rollup
    * tracking re-derive their file set (and their parent's) the old
    * O(files) way. Expired versions are simply absent (their row
    * count starts where retention left off). */
  def history(spark: SparkSession, table: String): DataFrame =
    historySince(spark, table, 0)

  /** [[history]] restricted to versions AFTER `since` — the windowed
    * form the per-tick append-only assertion uses so its cost tracks
    * new commits, not the table's whole retained history. The first
    * windowed version's added/removed diff derives from its parent
    * manifest directly (the parent existed when `since` was
    * asserted); a parent expired by a concurrent retention race
    * surfaces as [[ExpiredVersionException]]. */
  private[graft] def historySince(spark: SparkSession, table: String,
                                  since: Int): DataFrame = {
    import spark.implicits._
    val vsFull = versions(spark, table) // contiguous: expiry drops a prefix
    val vsFullSet = vsFull.toSet
    val vs = if (since <= 0) vsFull else vsFull.filter(_ > since)
    // parent file set, materialized ONLY when a legacy root needs it
    // (either cached from the previous iteration or re-derived)
    var prevV = -1
    var prevSet: Option[Set[String]] = None
    def setOf(v: Int): Set[String] =
      filesAndStats(spark, table, root(spark, table, v))._1.toSet
    val rows = vs.zipWithIndex.map { case (v, i) =>
      val r = root(spark, table, v)
      // added/removed diff against the parent snapshot — unknowable
      // only for the oldest surviving version when its parent expired
      // (a windowed scan's first version derives from its parent
      // directly while that manifest survives)
      val known = v == 1 || i > 0 || vsFullSet.contains(v - 1)
      val (nFiles, bytes, addedN, removedN, matSet) =
        r.rollup match {
          case Some(u) => (u.nFiles.toInt, u.nBytes, u.nAdded, u.nRemoved, None)
          case None =>
            val (vFiles, vStats) = filesAndStats(spark, table, r)
            val fileSet = vFiles.toSet
            val parent =
              if (!known || v == 1) Set.empty[String]
              else if (prevV == v - 1 && prevSet.isDefined) prevSet.get
              else setOf(v - 1)
            val b = vStats.valuesIterator
              .flatMap(_.get(SizeKey)).map(_._1.toLong).sum
            (fileSet.size, b, (fileSet -- parent).size.toLong,
              (parent -- fileSet).size.toLong, Some(fileSet))
        }
      prevV = v; prevSet = matSet
      (v, r.op.getOrElse("unknown"), r.commitMs.getOrElse(0L),
        nFiles, bytes,
        if (known) Some(addedN) else None,
        if (known) Some(removedN) else None)
    }
    rows.toDF("version", "op", "commit_ms", "n_files", "n_bytes",
      "n_added", "n_removed")
  }

  /** Filename-safe encoding for publish TAGS (temp-manifest names):
    * standard base64 emits '/' — a tag like `addcheck-Y28/` would turn
    * the temp path into a nested directory that the cleanup's
    * non-recursive delete leaves behind forever. */
  private def b64t(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes("UTF-8"))

  /** The CHECK constraints `version`'s snapshot is bound by —
    * `name -> SQL boolean expression`. Every writer path enforces and
    * carries them (see [[addConstraint]]). */
  def checkConstraints(spark: SparkSession, table: String,
                       version: Int = -1): Map[String, String] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Map.empty else root(spark, table, v).checks
  }

  /** The last committed transaction version per application id (the
    * Delta SetTransaction idiom) — the exactly-once hook for replayed
    * streaming micro-batches: a writer passing `txn = (appId, v)` is
    * SKIPPED when the table already records `appId -> v' >= v`, and
    * the record rides the same atomic publish as the data, so "did my
    * batch commit?" has one answer for every observer. One entry per
    * appId (monotonically replaced), carried by every commit. */
  def txnVersion(spark: SparkSession, table: String, appId: String,
                 version: Int = -1): Option[Long] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) None else root(spark, table, v).txns.get(appId)
  }

  // -----------------------------------------------------------------
  // Per-file BLOOM FILTER indexes — the Delta bloom-filter-index /
  // Parquet-bloom idiom: point lookups on a HIGH-CARDINALITY column
  // (id equality, the needle-in-100-TB shape) prune through a per-file
  // bit set where (min, max) ranges prune nothing because every file
  // spans the whole key space. The TABLE records one config
  // (columns, bits, k) in the manifest — carried like constraints, so
  // every later writer indexes its new files with identical hashing —
  // and each data-write records its files' bit sets in a SIDECAR
  // (`_manifests/blooms/<uuid>.json`, keyed by the commit's uuid dir,
  // written BEFORE the manifest that references the uuid publishes, so
  // a referenced uuid's sidecar is always complete). Sidecars stay out
  // of the manifest on purpose: at Delta's default sizing a bloom is
  // KBs–MBs per file, which would undo manifest segmentation; the
  // per-uuid sidecar loads lazily, only for files that survive range
  // pruning, and dies with its uuid dir at [[expire]]. Files without a
  // bloom (pre-config history, evolved columns) are kept
  // conservatively — pruning power degrades, correctness never.
  // -----------------------------------------------------------------

  final case class BloomConfig(cols: Seq[String], bits: Long, k: Int)

  private def bloomsDir(table: String) = new Path(manifestDir(table), "blooms")

  /** The table's bloom index config at `version`, None when not
    * configured. */
  def bloomConfig(spark: SparkSession, table: String,
                  version: Int = -1): Option[BloomConfig] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) None else root(spark, table, v).bloom
  }

  /** The k bit positions a value lights, as a Spark Column — the ONE
    * hashing definition both the write-side indexer and the prune-side
    * literal evaluation run through (Kirsch–Mitzenmacher double
    * hashing over codegen'd xxhash64), so membership can never drift
    * between them. */
  private def bloomPosCol(c: Column, bits: Long, k: Int): Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    // both hashes are reduced mod bits BEFORE combining: bits ≤ 2^31
    // and i ≤ 15, so i*h2 + h1 < 2^36 — no long overflow under ANSI
    val h1 = pmod(xxhash64(c), lit(bits))
    val h2 = pmod(xxhash64(c, lit(0x9E3779B97F4A7C15L)), lit(bits))
    // k-position loop fused into one codegen'd expression (r19): the
    // built-in spelling `transform(sequence(0, k-1), i => pmod(h1 +
    // i*h2, bits))` re-evaluates the whole h1/h2 subtree interpreted
    // per element — two xxhash64 calls × k per row on every
    // bloom-indexed write (BloomSkipSpec pins equality).
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.HashPositions(
      ColumnBridge.expression(h1), ColumnBridge.expression(h2), bits, k))
  }

  /** Configure (or replace) the bloom index: later writes — appends,
    * MERGE rewrites, compactions — index their new files' `cols`
    * values. Existing files are NOT indexed retroactively (they stay
    * conservatively unprunable); [[compact]] afterwards rewrites —
    * and thereby indexes — the history. Sizing: `bits` per file per
    * column; at the default 2^17 bits (16 KB) and k = 5 a file of
    * ~10^4 distinct values sits under 1% false positives — size bits
    * ≈ 10× the per-file distinct count, exactly the Delta
    * bloom-filter-index guidance. */
  def addBloom(spark: SparkSession, table: String, cols: Seq[String],
               bits: Long = 1L << 17, k: Int = 5,
               maxAttempts: Int = 5): Int = {
    require(cols.nonEmpty && bits > 0 && bits <= Int.MaxValue && k > 0 && k <= 16,
      "need columns, 0 < bits <= 2^31-1, and 1 <= k <= 16")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files, "addbloom",
            schema, stats, partBy, op = "add-bloom",
            bloom = Some(Some(BloomConfig(cols, bits, k)))))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"addBloom on $table lost $maxAttempts commit races")
  }

  /** Remove the bloom index config: later writes stop indexing, point
    * lookups fall back to range stats, existing sidecars become inert
    * (never consulted without a config) and die with their uuid dirs
    * at [[expire]]. */
  def dropBloom(spark: SparkSession, table: String,
                maxAttempts: Int = 5): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files, "dropbloom",
            schema, stats, partBy, op = "drop-bloom",
            bloom = Some(None))) // an empty replacement clears the record
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"dropBloom on $table lost $maxAttempts commit races")
  }

  // sidecar cache: immutable uuid-named files, (len, mtime)-validated
  // like every other manifest cache; bounded by total bitset bytes
  /** One sidecar's content: the (bits, k) it was BUILT with — tested
    * against the current config before any pruning decision, so a
    * config replacement can never mis-read old-era bit sets — plus
    * file → col → bits. */
  final case class SidecarBlooms(bits: Long, k: Int,
      blooms: Map[String, Map[String, java.util.BitSet]])
  private val emptySidecar = SidecarBlooms(0L, 0, Map.empty)

  private final case class CachedBlooms(side: SidecarBlooms,
      len: Long, mtime: Long, bytes: Long)
  private val bloomCache = // 256 MB of bloom bit sets
    new BoundedLru[(String, String), CachedBlooms](256L << 20, _.bytes)

  // Negative cache for ABSENT sidecars (ADVICE r11): a table with
  // pre-config history pays one getFileStatus per configless uuid on
  // EVERY point lookup — O(files) driver RPCs that learn nothing,
  // since a uuid that exists without a sidecar never gains one
  // (sidecars are written by writeData BEFORE the manifest that
  // references the uuid publishes; no later op writes into a foreign
  // uuid dir). Keyed (root, uuid) like the positive cache; bounded;
  // random-uuid keys make drop-and-recreate collisions impossible.
  private val bloomNegCache =
    new BoundedLru[(String, String), java.lang.Boolean](200000L, _ => 1L)
  /** Test-visible count of sidecar stat RPCs (pins the negative cache
    * in AdviceR11Spec — behavior is otherwise unobservable). */
  private[graft] val bloomSidecarStats = new java.util.concurrent.atomic.AtomicLong

  /** The bloom bit sets of one commit-uuid's sidecar (file → col →
    * bits), resolving extern (cloned) uuids to the donor's sidecar.
    * Empty when the uuid has no sidecar (pre-config commit). */
  private def bloomSidecar(spark: SparkSession, table: String,
                           uuid: String): SidecarBlooms = {
    val root = externRoots(spark, table).getOrElse(uuid, table)
    if (bloomNegCache.get((root, uuid)) != null) return emptySidecar
    val p = new Path(bloomsDir(root), s"$uuid.json")
    bloomSidecarStats.incrementAndGet()
    val st =
      try fs(spark, p).getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          bloomNegCache.put((root, uuid), java.lang.Boolean.TRUE)
          return emptySidecar
      }
    val key = (root, uuid)
    val hit = bloomCache.get(key)
    if (hit != null && hit.len == st.getLen &&
        hit.mtime == st.getModificationTime) hit.side
    else {
      val in = fs(spark, p).open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val tree = RootCodec.mapper.readTree(text)
      val node = tree.get("blooms")
      import scala.jdk.CollectionConverters._
      var bytes = 0L
      val m: Map[String, Map[String, java.util.BitSet]] =
        if (node == null) Map.empty
        else node.fields().asScala.map { kv =>
          kv.getKey -> kv.getValue.fields().asScala.map { ce =>
            val bs = java.util.BitSet.valueOf(
              java.util.Base64.getDecoder.decode(ce.getValue.asText))
            bytes += bs.size() / 8
            ce.getKey -> bs
          }.toMap
        }.toMap
      val side = SidecarBlooms(
        Option(tree.get("bits")).map(_.asLong).getOrElse(0L),
        Option(tree.get("k")).map(_.asInt).getOrElse(0), m)
      bloomCache.put(key,
        CachedBlooms(side, st.getLen, st.getModificationTime, bytes))
      side
    }
  }

  // -----------------------------------------------------------------
  // COPY INTO — idempotent file ingestion (the Delta COPY INTO /
  // Iceberg add_files idiom): each ingest commit writes ONE immutable
  // ledger file (`_manifests/ingest/<uuid>.json`, the source keys it
  // consumed) and the root manifest lists every ledger file by name,
  // carried verbatim by all later publishes. Exactly-once rides the
  // atomic publish: a ledger file counts ONLY when a surviving root
  // references it, so a crashed or lost-race ingest's orphan ledger is
  // never read (and expire sweeps it), while a referenced ledger
  // survives compactions, merges, and expiry of old versions — the
  // ingestion memory is permanent table state, not file state.
  // -----------------------------------------------------------------

  private def ingestDir(table: String) = new Path(manifestDir(table), "ingest")

  /** The ingest-ledger files `version`'s root references. */
  def ingestLedgers(spark: SparkSession, table: String,
                    version: Int = -1): Seq[String] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Nil else root(spark, table, v).ingestSegs
  }

  private def sourceKey(p: String, len: Long, mtime: Long): String =
    s"$p|$len|$mtime"

  // ledger files are immutable and uuid-named; cache parsed keys —
  // LRU-bounded by total KEY COUNT (the actual memory): a long-lived
  // ingestion service accumulates ledgers without bound on disk by
  // design, but not on the driver heap
  private val ingestCache =
    new BoundedLru[String, Seq[String]](2000000L, _.size.toLong)

  /** Every source key the table has ever ingested (as of `version`). */
  def ingestedKeys(spark: SparkSession, table: String,
                   version: Int = -1): Set[String] =
    ingestLedgers(spark, table, version).flatMap { rel =>
      val cacheKey = s"$table/$rel"
      val hit = ingestCache.get(cacheKey)
      if (hit != null) hit
      else {
        val p = new Path(manifestDir(table), rel)
        val in = fs(spark, p).open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val arr = RootCodec.mapper.readTree(text).get("sources")
        val keys = (0 until arr.size).map { i =>
          val e = arr.get(i)
          sourceKey(e.get("p").asText, e.get("l").asLong, e.get("m").asLong)
        }
        ingestCache.put(cacheKey, keys)
        keys
      }
    }.toSet

  private def writeIngestLedger(spark: SparkSession, table: String,
                                sources: Seq[(String, Long, Long)]): String = {
    val rel = s"ingest/${java.util.UUID.randomUUID()}.json"
    val node = RootCodec.mapper.createObjectNode()
    val arr = node.putArray("sources")
    sources.foreach { case (p, l, m) =>
      val e = arr.addObject(); e.put("p", p); e.put("l", l); e.put("m", m)
    }
    val path = new Path(manifestDir(table), rel)
    val f = fs(spark, path)
    val out = f.create(path, false) // uuid name: never contended
    try out.write(RootCodec.mapper.writeValueAsBytes(node)) finally out.close()
    rel
  }

  /** Idempotent COPY INTO: ingest every data file matching
    * `sourceGlob` that the table has not already consumed — re-running
    * the same command is a NO-OP, concurrent runs ingest each source
    * exactly once (the loser re-reads the winner's ledger and drops
    * the overlap), and a crash anywhere leaves either nothing or a
    * complete ingest, never a partial or doubled one. Source identity
    * is (path, length, mtime): an overwritten landing file re-ingests
    * as new content. Returns the committed version (the current head
    * when nothing new matched). */
  def copyInto(spark: SparkSession, table: String, sourceGlob: String,
               format: String = "parquet",
               statsColumns: Seq[String] = Nil,
               maxAttempts: Int = 5): Int = {
    val gfs = fs(spark, new Path(sourceGlob))
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      val known = ingestedKeys(spark, table, head)
      val found = Option(gfs.globStatus(new Path(sourceGlob)))
        .getOrElse(Array.empty).toSeq
        .flatMap { st =>
          if (st.isDirectory)
            gfs.listStatus(st.getPath).toSeq.filterNot(_.isDirectory)
          else Seq(st)
        }
        .filterNot(st => st.getPath.getName.startsWith(".") ||
          st.getPath.getName.startsWith("_"))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .sortBy(_._1)
      val fresh = found.filterNot { case (p, l, m) =>
        known.contains(sourceKey(p, l, m)) }
      if (fresh.isEmpty) return head
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      val raw = spark.read.format(format).load(fresh.map(_._1): _*)
      // append discipline, same as commit(): the batch must match the
      // recorded schema exactly (COPY INTO is ingestion, not evolution)
      val df = schema match {
        case Some(s) =>
          val have = raw.schema.map(f => f.name -> f.dataType).toMap
          // spec-bearing columns ABSENT from the landing files FILL
          // themselves (r16) — the landing-zone surrogate-key shape:
          // DEFAULT re-evaluates, IDENTITY allocates (base re-read per
          // attempt from THIS head's schema, so a lost race re-derives
          // — never duplicates), GENERATED computes from the completed
          // row. A GENERATED column PRESENT in the source refuses
          // (recomputation is the table's job — accepted drift would
          // break the generation invariant silently); ALWAYS-identity
          // present refuses the same way. Spec-free columns keep the
          // exact-match contract.
          s.fields.foreach { f =>
            if (have.contains(f.name)) {
              require(have(f.name) == f.dataType,
                s"copyInto source schema mismatch on ${f.name}: table has " +
                  s"${f.dataType}, source has ${have.get(f.name)}")
              ColumnSpecs.generatedOf(f).foreach(g => throw
                new IllegalArgumentException(
                  s"copyInto source carries GENERATED column ${f.name} " +
                    s"(ALWAYS AS ($g)) — drop it from the landing data; " +
                    "the table recomputes it"))
              ColumnSpecs.identityOf(f).filterNot(_.byDefault).foreach(_ =>
                throw new IllegalArgumentException(
                  s"copyInto source carries ${f.name}, a GENERATED ALWAYS " +
                    "AS IDENTITY column — drop it from the landing data; " +
                    "the table allocates it"))
            } else require(ColumnSpecs.autoFillable(f),
              s"copyInto source schema mismatch on ${f.name}: table has " +
                s"${f.dataType}, source has None")
          }
          // EXACT match cuts both ways (ADVICE r11): a source column
          // the table lacks used to be silently projected away — data
          // loss in an op whose contract says "match exactly". Refuse
          // it; the pipeline must drop/rename deliberately upstream.
          val extra = have.keySet -- s.fieldNames
          require(extra.isEmpty,
            s"copyInto source carries column(s) ${extra.toSeq.sorted.mkString(", ")} " +
              s"the table schema lacks — COPY INTO is ingestion, not evolution; " +
              "drop or rename them in the landing data, or addColumn first")
          import org.apache.spark.sql.functions.{col => fcol}
          var filled = raw
          s.fields.filterNot(f => have.contains(f.name)).foreach { f =>
            ColumnSpecs.identityOf(f) match {
              case Some(is) => filled = filled.withColumn(f.name,
                org.apache.spark.sql.graftbridge.ColumnBridge.column(
                  graft.functions.NextIdentityValue(is.base, is.step)))
              case None => ColumnSpecs.defaultOf(f).foreach(d =>
                filled = filled.withColumn(f.name,
                  ColumnSpecs.defaultColumn(spark, d, f.dataType)))
            }
          }
          s.fields.filterNot(f => have.contains(f.name)).foreach { f =>
            ColumnSpecs.generatedOf(f).foreach(g =>
              filled = filled.withColumn(f.name,
                ColumnSpecs.generatedColumn(spark, g, f.dataType)))
          }
          // the recorded schema never contains hidden transform
          // targets (recordedSchema drops them; commit/addColumn
          // refuse collisions), so selecting its fields verbatim is
          // exactly the writer-frame shape writeData expects
          filled.select(s.fieldNames.map(fcol(_)).toSeq: _*)
        case None => raw
      }
      val cons = checkConstraints(spark, table, head)
      requireSatisfied(df, cons, s"a COPY INTO batch for $table")
      val stats = (statsColumnsOf(headStats) ++
        configStatsColumns(spark, table, df.columns.toSeq) ++
        statsColumns).distinct.sorted
      val (uuid, newFiles, newStats) = writeData(spark, table, df, stats, partBy)
      val ledger = writeIngestLedger(spark, table, fresh)
      val parentLedgers = ingestLedgers(spark, table, head)
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, rel ++ newFiles, uuid,
            schema.orElse(Some(recordedSchema(df.schema, partBy))),
            headStats ++ newStats, partBy, op = "copy-into",
            ingestSegs = Some(parentLedgers :+ ledger)))
        return head + 1
      // lost the race: another writer (possibly a concurrent copyInto
      // of the same landing zone) advanced the head — discard this
      // attempt's data AND ledger, re-derive against the new state
      val f = fs(spark, new Path(table))
      f.delete(new Path(table, s"data/$uuid"), true)
      f.delete(new Path(manifestDir(table), ledger), false)
    }
    throw new java.util.ConcurrentModificationException(
      s"copyInto on $table lost $maxAttempts commit races")
  }

  /** Pending lazy-delete tombstones of `version` — `(predicate SQL,
    * targeted files)`. A tombstone hides rows matching its predicate
    * in exactly its TARGET files (the stats-pruned candidates at
    * delete time): rows appended later are untouched even when they
    * match, which is what makes the lazy delete equal to the eager
    * one it defers ([[deleteWhereLazy]]). */
  def deleteTombstones(spark: SparkSession, table: String,
                       version: Int = -1): Seq[(String, Seq[String])] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Nil else root(spark, table, v).tombstones
  }

  /** Row-granular DELETION VECTORS of `version` — `relPath -> sorted
    * row ordinals deleted from that file` (the Delta deletion-vector
    * shape: per-file row bitmaps, here delta-varint-coded positions).
    * The scattered-delete complement to predicate tombstones
    * ([[deleteTombstones]]): one user's rows spread across most files
    * delete in O(deleted rows) of metadata, moving zero data files.
    * Every read path anti-filters on (file, `_metadata.row_index`);
    * rewrites apply their files' vectors during the derive, so a
    * carried entry self-cleans when its file leaves the snapshot;
    * [[materializeDeletes]] clears them all. CDF parity matches
    * tombstones: a vector delete is metadata-only and surfaces in
    * [[rowChanges]] when materialized — live reads hide the rows
    * immediately. */
  def deleteVectors(spark: SparkSession, table: String,
                    version: Int = -1): Map[String, Seq[Long]] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) Map.empty else root(spark, table, v).dvs
  }

  /** True when version `v`'s commit removed ROWS without removing
    * files — its deletion-vector or tombstone state differs from the
    * parent's (delete-lazy, delete-vector, DV-backed update/merge).
    * The row-removal evidence the append-only stream guard
    * ([[graft.streaming.ChangeFeedStream]]) consults for versions
    * whose FILE census looks append-clean: op names alone over-refuse
    * (an insert-only MERGE or a zero-match DELETE is append-safe).
    * Root reads ride the root cache. Throws
    * [[ExpiredVersionException]] when the parent manifest is gone —
    * callers treat unknowable as unsafe. */
  private[graft] def rowStateShrunkAt(spark: SparkSession, table: String,
                                      v: Int): Boolean =
    v > 1 && {
      val cur = root(spark, table, v)
      val par = root(spark, table, v - 1)
      def tombMap(r: RootRecord): Map[String, Set[String]] =
        r.tombstones.map { case (k, vs) => k -> vs.toSet }.toMap
      cur.dvs != par.dvs || tombMap(cur) != tombMap(par)
    }

  /** SQL CHECK semantics: a row violates only when the expression is
    * FALSE — NULL passes (the standard's unknown-is-ok rule). One
    * short-circuiting job per constraint, run BEFORE any data is
    * written, so a refused batch leaves no garbage. */
  private def requireSatisfied(df: DataFrame, cons: Map[String, String],
                               ctx: String): Unit =
    cons.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val violated =
        !df.filter(not(coalesce(expr(sql), lit(true)))).isEmpty
      require(!violated,
        s"CHECK constraint '$name' ($sql) violated by $ctx")
    }

  /** Add a named CHECK constraint: the ENTIRE current table must
    * already satisfy it (one stats-pruned scan, refused otherwise),
    * after which every commit/merge validates its written rows against
    * it and every publish carries it forward — the Delta
    * `ALTER TABLE ADD CONSTRAINT` contract. Conditional commit: a
    * lost race re-validates against the new head. */
  def addConstraint(spark: SparkSession, table: String,
                    name: String, exprSql: String,
                    maxAttempts: Int = 5): Int = {
    require(name.nonEmpty && exprSql.nonEmpty, "need a name and an expression")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      val cons = checkConstraints(spark, table, head)
      require(!cons.contains(name),
        s"constraint '$name' already exists on $table")
      // validate the LIVE table — rows a lazy delete already hides
      // must not block a constraint the visible table satisfies
      requireSatisfied(readLive(spark, table, files, schema, partBy,
          deleteTombstones(spark, table, head),
          skipping(spark, table, head, stats),
          dvs = deleteVectors(spark, table, head)),
        Map(name -> exprSql), s"existing rows of $table")
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files, s"addcheck-${b64t(name)}",
            schema, stats, partBy, Some(cons + (name -> exprSql)),
            op = "add-constraint"))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"addConstraint on $table lost $maxAttempts commit races")
  }

  /** PARTITION EVOLUTION (the Iceberg spec-evolution idiom): change
    * the table's partition layout for FUTURE writes as a metadata-only
    * commit — ZERO files move. Existing files keep their directories
    * (and their data-column sets) forever; new writes, and every
    * rewrite (DML victims, compact, merge), lay out under the new
    * spec, so the table LOCALIZES toward it with use. The read path
    * groups a snapshot's files by layout era from their paths alone
    * ([[eraDirs]]) — each era reads under its own data-vs-path column
    * split — so a mixed-era snapshot stays exactly readable with no
    * per-file metadata and no flag day. Stats-based pruning never
    * cared about directories (per-file ranges are recorded at write
    * time whatever the layout), so data skipping is unchanged across
    * the evolution.
    *
    * At 100 TB this is the point: re-partitioning a table by rewrite
    * is a petabyte job; evolving the spec is one root write, and the
    * next OPTIMIZE localizes whatever actually needs to move.
    *
    * `spec` entries are identity column names or hidden transforms
    * (`days(ts)`, `bucket(16, id)`, `truncate(100, k)`) — the same
    * grammar CREATE/commit accept. Empty `spec` = evolve to FLAT.
    * Refused loudly: unknown columns, transform sources with no sound
    * prune mapping (commit's rule), target collisions, and columns
    * that were RENAMED under column mapping (their physical dir layer
    * and the new spec's dirs would disagree — compact first, or evolve
    * onto an unmapped column). */
  def setPartitionSpec(spark: SparkSession, table: String,
                       spec: Seq[String], maxAttempts: Int = 5): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, oldPartBy) = snapshotAll(spark, table, head)
      val sch = schema.getOrElse(throw new IllegalArgumentException(
        s"setPartitionSpec on $table needs a recorded schema " +
          "(legacy manifests record one on their next commit)"))
      val parsedSpec = spec.map(p => (p, parseTransform(p)))
      val transforms = parsedSpec.flatMap(_._2)
      val partBy = parsedSpec.map { case (p, t) => t.fold(p)(_.target) }
      if (partBy == oldPartBy &&
          transforms == partitionTransforms(spark, table, head))
        return head // already this spec: no-op, no version
      val fieldsByName = sch.fields.map(f => f.name -> f).toMap
      val transformed = transforms.map(_.target).toSet
      partBy.filterNot(transformed).foreach { c =>
        val f = fieldsByName.getOrElse(c, throw new IllegalArgumentException(
          s"setPartitionSpec on $table: no column '$c' in the recorded " +
            s"schema (${sch.fieldNames.mkString(", ")})"))
        require(physName(f) == f.name,
          s"setPartitionSpec on $table: column '$c' was renamed under " +
            "column mapping — its physical dir layer and the new spec's " +
            "dirs would disagree; compact the table first or evolve onto " +
            "an unmapped column")
      }
      transforms.foreach { pt =>
        val f = fieldsByName.getOrElse(pt.source,
          throw new IllegalArgumentException(
            s"setPartitionSpec on $table: transform source column " +
              s"'${pt.source}' is not in the recorded schema"))
        // a RENAMED source is fine here (unlike identity columns): the
        // transform's dirs spell the TARGET name, and both the write
        // derivation and the prune mapping address the source by its
        // LOGICAL name — the physical storage spelling never surfaces
        require(!fieldsByName.contains(pt.target),
          s"setPartitionSpec on $table: derived layout column " +
            s"'${pt.target}' collides with a schema column")
        // commit()'s type discipline: the write-side expression and
        // the prune-side stats mapping must share one numeric space
        import org.apache.spark.sql.types._
        val st = f.dataType
        val ok = pt.kind match {
          case "bucket" => true
          case "truncate" => st.isInstanceOf[NumericType]
          case _ => st == TimestampType || st == TimestampNTZType ||
            st == DateType
        }
        require(ok, s"${pt.kind}(${pt.source}): source type $st has no " +
          "sound prune mapping (time transforms need timestamp/date, " +
          "truncate needs a numeric)")
      }
      // metadata-only: same files, same stats, and the SAME schema
      // ORDER — an ALTER must never reorder the user's columns (the
      // create-time partition-last convention is create-time only;
      // readFiles re-selects the recorded order for every era)
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files,
            s"setspec-${b64t(spec.mkString(","))}",
            Some(sch), stats, partBy,
            Some(checkConstraints(spark, table, head)),
            op = "set-partition-spec",
            tombstones = Some(deleteTombstones(spark, table, head)),
            dvs = Some(deleteVectors(spark, table, head)),
            transforms = Some(transforms)))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"setPartitionSpec on $table lost $maxAttempts commit races")
  }

  /** Drop a named CHECK constraint (no validation needed — loosening
    * can't invalidate anything). */
  def dropConstraint(spark: SparkSession, table: String, name: String,
                     maxAttempts: Int = 5): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      val cons = checkConstraints(spark, table, head)
      require(cons.contains(name), s"no constraint '$name' on $table")
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files, s"dropcheck-${b64t(name)}",
            schema, stats, partBy, Some(cons - name),
            op = "drop-constraint"))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"dropConstraint on $table lost $maxAttempts commit races")
  }

  /** ANALYZE: backfill per-file (min, max) / null-count / row-count
    * stats for `cols` across the CURRENT snapshot and publish the
    * enriched stats as a metadata version (op "analyze", same files).
    * The write paths only collect stats at write time, so a column
    * that started mattering AFTER its data landed has no skipping
    * power over the old files — this is the catch-up: one distributed
    * pass over the snapshot (grouped by file, one collected row per
    * file — bounded by file count, never row count), after which
    * every stats-carrying path tracks the column automatically (the
    * tracked set is derived from the head's recorded stats).
    *
    * Stats describe RAW file contents (tombstones and deletion
    * vectors NOT applied), exactly like write-time collection — the
    * pruning contract compares predicates against whole-file ranges
    * before any filter runs. A lost commit race re-derives against
    * the new head (the snapshot may have changed shape). */
  def analyzeStats(spark: SparkSession, table: String, cols: Seq[String],
                   maxAttempts: Int = 5): Int = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    require(cols.nonEmpty, s"ANALYZE on $table needs at least one column")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schemaOpt, stats, partBy) = snapshotAll(spark, table, head)
      val sch = schemaOpt.getOrElse(throw new IllegalArgumentException(
        s"ANALYZE on $table: no recorded schema to resolve columns against"))
      // resolve case-insensitively to the RECORDED spellings (the
      // stats key every reader prunes by)
      val resolved = cols.map { c =>
        sch.fields.map(_.name).find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"ANALYZE on $table: no column '$c' in the recorded schema " +
              s"(${sch.fieldNames.mkString(", ")})"))
      }.distinct
      if (files.isEmpty) {
        // a files-less snapshot has nothing to describe; re-publishing
        // identical stats would be a no-op version
        return head
      }
      // __f materializes inside each era scan (a
      // mixed-era snapshot reads as a union, where `_metadata` is gone)
      val df = readFiles(spark, table, files, schemaOpt, partBy,
        new Skipping(stats), (_, d) => d.withColumn("__f", relFileCol))
      val encoded = resolved.flatMap(c =>
        statEncoder(sch(c).dataType, col(c)).map(c -> _))
      val aggs = encoded.flatMap { case (c, e) => Seq(
        min(e).as(s"__mn_$c"), max(e).as(s"__mx_$c")) } ++
        resolved.flatMap(c => Seq(
          sum(when(col(c).isNull, lit(1L)).otherwise(lit(0L))).as(s"__nc_$c"),
          count(col(c)).as(s"__nn_$c"))) :+
        count(lit(1)).as("__rc")
      val rows = df.groupBy(col("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect() // bounded: one row per snapshot file
      val computed: Map[String, Map[String, (Double, Double)]] =
        rows.map { r =>
          r.getAs[String]("__f") -> (encoded.flatMap { case (c, _) =>
            val mn = r.getAs[Any](s"__mn_$c")
            val mx = r.getAs[Any](s"__mx_$c")
            if (mn == null || mx == null) None
            else Some(c -> (mn.asInstanceOf[Double], mx.asInstanceOf[Double]))
          }.toMap ++ resolved.flatMap { c =>
            val nc = r.getAs[Long](s"__nc_$c").toDouble
            val nn = r.getAs[Long](s"__nn_$c").toDouble
            Seq(NullsKeyPrefix + c -> (nc, nc),
              NonNullsKeyPrefix + c -> (nn, nn))
          }.toMap + {
            val rc = r.getAs[Long]("__rc").toDouble
            RowsKey -> (rc, rc)
          })
        }.toMap
      // a file the scan grouped zero rows for IS empty: its counts are
      // all zero (writeData's empty-survivor convention)
      val zero: Map[String, (Double, Double)] =
        (resolved.flatMap(c => Seq(NullsKeyPrefix + c -> (0.0, 0.0),
          NonNullsKeyPrefix + c -> (0.0, 0.0))) :+ (RowsKey -> (0.0, 0.0)))
          .toMap
      val enriched = files.map { f =>
        f -> (stats.getOrElse(f, Map.empty) ++ computed.getOrElse(f, zero))
      }.toMap
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files, "analyze",
            schemaOpt, enriched, partBy, op = "analyze"))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"analyzeStats on $table lost $maxAttempts commit races")
  }

  /** The newest committed version whose commit time is ≤ `asOfMillis`
    * (the Delta `TIMESTAMP AS OF` resolution rule). Walks versions
    * newest-first, so the common head-of-line probe reads ONE
    * manifest. Legacy manifests without a recorded time count as
    * epoch 0 (always eligible — a pre-tracking snapshot is by
    * definition older than any queryable instant). Errors when every
    * version is newer than `asOfMillis` (the table did not exist
    * then). */
  def versionAsOf(spark: SparkSession, table: String, asOfMillis: Long): Int = {
    val vs = versions(spark, table)
    vs.reverse.find(v =>
        commitTimeMs(spark, table, v).getOrElse(0L) <= asOfMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"no version of $table existed at epoch-ms $asOfMillis — the " +
          s"earliest surviving commit is v${vs.headOption.getOrElse(0)} at " +
          s"${vs.headOption.flatMap(commitTimeMs(spark, table, _)).getOrElse(0L)}"))
  }

  /** Timestamp-as-of time travel: the snapshot that was current at
    * `asOfMillis` ([[versionAsOf]] ∘ [[read]]). */
  def readAsOf(spark: SparkSession, table: String, asOfMillis: Long): DataFrame =
    read(spark, table, versionAsOf(spark, table, asOfMillis))

  /** Read the table at `version` (default head), re-qualifying the
    * manifest's relative paths against the table root — the read works
    * through any session/default-FS combination that can reach the
    * root URI. */
  // -----------------------------------------------------------------
  // Shallow clones — the extern data-dir ledger
  //
  // A shallow clone's manifests name the donor's files by the SAME
  // table-relative `data/<uuid>/...` spelling the donor uses; the
  // ledger (`_manifests/externs.json`, real JSON via the segment
  // codec) records which uuid dirs live under a FOREIGN root
  // (`uuid -> donor table path`). Keeping the relative spelling means
  // every path-keyed structure — stats, sizes, tombstones, deletion
  // vectors, `__f` tags, segment entries — works on a clone UNCHANGED;
  // only final path resolution consults the ledger. The ledger is
  // written exactly once, by [[cloneShallow]], BEFORE the clone's
  // first manifest exists, so no reader or writer can race it: a
  // table either is a clone from birth or never is. uuid dirs are
  // immutable, so entries never change; an entry whose uuid left
  // every surviving snapshot is inert (it can match no live file).
  // -----------------------------------------------------------------

  // -----------------------------------------------------------------
  // Table config sidecar (`_manifests/config.json`): writer-side
  // properties recorded once at CREATE TABLE (the SQL TBLPROPERTIES
  // face, r13) — currently `graft.statsColumns`, the columns stats
  // collection should BEGIN with. Needed because stats tracking is
  // otherwise derived from the head's per-file stats
  // ([[statsColumnsOf]]) — an EMPTY created table has no files to
  // remember them in, so the first INSERT would silently skip
  // collection. Written exactly once, before the table's first data
  // commit; read-side behavior never depends on it (absent = no
  // config), so it needs no protocol feature flag.
  // -----------------------------------------------------------------

  private def configPath(table: String) =
    new Path(manifestDir(table), "config.json")

  /** The table's recorded writer-side properties; empty when none. */
  def tableConfig(spark: SparkSession, table: String): Map[String, String] = {
    val p = configPath(table)
    val in =
      try fs(spark, p).open(p)
      catch { case _: java.io.FileNotFoundException => return Map.empty }
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val node = RootCodec.mapper.readTree(text)
    import scala.jdk.CollectionConverters._
    node.fields().asScala.map(kv => kv.getKey -> kv.getValue.asText).toMap
  }

  /** The canonical byte serialization of a config — sorted keys, so
    * two writers with the SAME properties produce identical bytes and
    * a content compare can stand in for "same CREATE statement". */
  private[graft] def configBytes(props: Map[String, String]): Array[Byte] = {
    val node = RootCodec.mapper.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    RootCodec.mapper.writeValueAsBytes(node)
  }

  private def readRawBytes(f: FileSystem, p: Path): Option[Array[Byte]] =
    try {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
        Some(buf.toByteArray)
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Atomic-exclusive file create: write a temp sibling completely,
    * then claim `target` with the same primitive the manifest publish
    * uses (link(2) on the local FS, exists+rename on HDFS-class) —
    * a reader can never observe a partial file, and exactly one of
    * any number of concurrent writers wins. Returns whether WE won. */
  private[sources] def createExclusive(f: FileSystem, target: Path,
                                       bytes: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    val won = f match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case _ => !f.exists(target) && f.rename(tmp, target)
    }
    f.delete(tmp, false)
    won
  }

  /** A concurrent CREATE published the table first — the caller must
    * adopt the winner (IF NOT EXISTS) or refuse loudly, never clobber
    * the winner's recorded config. */
  private[graft] final class ConcurrentCreateException(msg: String)
    extends IllegalStateException(msg)

  /** Record `props` as the table's config — once, at table creation,
    * immutable thereafter (like the extern ledger). The write is
    * atomic-exclusive (write-temp-then-link, the manifest publish
    * primitive), so a concurrent reader — e.g. a racing CREATE's
    * commit reading stats columns — can never observe a torn file
    * (ADVICE r13). Contention resolves by CONTENT:
    *  - identical bytes already in the slot = an identical CREATE's
    *    replay or racer — idempotent success (exactly-once composes
    *    with the commit's txn gate);
    *  - different bytes on a table with published versions = a
    *    concurrent CREATE won — [[ConcurrentCreateException]], the
    *    winner's config is never overwritten (ADVICE r13);
    *  - different bytes on a still-version-less path = either a
    *    crashed CREATE's debris (stale → swept and retried, the clone
    *    debris rule) or a LIVE racing CREATE with a different
    *    statement (fresh → refused loudly; racing different CREATEs
    *    at one path is a user error the engine surfaces, not
    *    arbitrates). */
  private[graft] def writeTableConfig(spark: SparkSession, table: String,
                                      props: Map[String, String]): Unit = {
    if (props.isEmpty) return
    val bytes = configBytes(props)
    val p = configPath(table)
    val f = fs(spark, p)
    var attempt = 0
    while (true) {
      attempt += 1
      if (createExclusive(f, p, bytes)) {
        // won the slot — but if a racer's v1 landed while we wrote,
        // the table is THEIRS and our config must not graft onto it
        if (currentVersion(spark, table) > 0) {
          if (readRawBytes(f, p).exists(java.util.Arrays.equals(_, bytes)))
            f.delete(p, false)
          throw new ConcurrentCreateException(
            s"a concurrent CREATE published $table before its config " +
              "was recorded — adopt the winner or pick a fresh path")
        }
        return
      }
      // slot occupied: same content = idempotent success
      if (readRawBytes(f, p).exists(java.util.Arrays.equals(_, bytes))) return
      if (currentVersion(spark, table) > 0)
        throw new ConcurrentCreateException(
          s"table config for $table was recorded by a concurrent CREATE " +
            "with different properties — the published winner keeps it")
      // version-less + different content: stale = crashed-CREATE
      // debris (sweep and retry), fresh = a live racing CREATE with a
      // DIFFERENT statement (refuse — publishing either config would
      // silently drop the other statement's properties)
      val age = System.currentTimeMillis() -
        f.getFileStatus(p).getModificationTime
      require(age > cloneDebrisStaleMs,
        s"table config at $table is ${age / 1000}s old with no published " +
          "version and different properties — either a CREATE with a " +
          "different statement is racing this one (pick one statement), " +
          "or a crashed attempt left debris younger than the " +
          s"${cloneDebrisStaleMs / 1000}s staleness window")
      require(attempt < 3,
        s"table config for $table stayed contested after $attempt sweeps")
      f.delete(p, false)
    }
  }

  /** Stats columns the table was CREATEd to track (config sidecar),
    * resolved to the batch's ACTUAL column spellings; the write paths
    * union these with whatever the head already tracks, so collection
    * begins at the first insert even though an empty table has no
    * per-file stats to inherit from. Resolution is case-INsensitive
    * (ADVICE r13): CREATE validates `graft.statsColumns` names
    * case-insensitively, so a config name differing from the schema
    * only in case must still begin collection — and the resolved name
    * takes the data's casing, so the recorded stats key is always a
    * real column. */
  private def configStatsColumns(spark: SparkSession, table: String,
                                 available: Seq[String]): Seq[String] = {
    val cfg = tableConfig(spark, table)
    // CLUSTER BY columns are stats-tracked from birth (r16): skipping
    // on the clustered dimensions is the clustering's whole point
    (cfg.get("graft.statsColumns").toSeq ++ cfg.get("graft.clusterBy").toSeq)
      .flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))
      .distinct
      .flatMap(c => available.find(_.equalsIgnoreCase(c)))
  }

  private def externsPath(table: String) =
    new Path(manifestDir(table), "externs.json")

  private final case class CachedExterns(map: Map[String, String],
                                         len: Long, mtime: Long)
  private val externsCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedExterns]()

  /** `data/<uuid>` → donor-root map for `table`; empty for non-clones.
    * One driver-side stat RPC per call (same validation discipline as
    * the root cache — a dropped-and-recreated table at the
    * same path can never serve a stale ledger). */
  def externRoots(spark: SparkSession, table: String): Map[String, String] = {
    val p = externsPath(table)
    val st =
      try fs(spark, p).getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          externsCache.remove(table); return Map.empty
      }
    val hit = externsCache.get(table)
    if (hit != null && hit.len == st.getLen &&
        hit.mtime == st.getModificationTime) hit.map
    else {
      val in = fs(spark, p).open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val node = RootCodec.mapper.readTree(text).get("externs")
      require(node != null && node.isObject,
        s"malformed extern ledger at $p")
      import scala.jdk.CollectionConverters._
      val m = node.fields().asScala
        .map(kv => kv.getKey -> kv.getValue.asText).toMap
      externsCache.put(table, CachedExterns(m, st.getLen, st.getModificationTime))
      m
    }
  }

  /** Absolute location of a manifest-relative data file: the table
    * root, unless the file's uuid dir is extern (cloned) — then the
    * recorded donor root. */
  private def dataPath(externs: Map[String, String], table: String,
                       rel: String): Path =
    if (externs.isEmpty) new Path(table, rel)
    else {
      val slash = rel.indexOf('/')
      val next = if (slash < 0) -1 else rel.indexOf('/', slash + 1)
      val uuid = if (next < 0) "" else rel.substring(slash + 1, next)
      new Path(externs.getOrElse(uuid, table), rel)
    }

  /** Zero-copy SHALLOW CLONE (the Delta `CREATE TABLE … SHALLOW CLONE`
    * shape): `dst` is born as a new, fully independent table whose v1
    * manifest references `src`'s version-`version` files BY PATH — no
    * data moves, O(manifest) cost regardless of table size. The clone
    * carries the donor's schema, partition layout, per-file stats
    * (data skipping, sizes, and null-count pruning work from birth),
    * CHECK constraints, and pending lazy-delete tombstones and
    * deletion vectors (a donor row deleted-but-not-yet-materialized
    * stays deleted in the clone). It does NOT carry history (the clone
    * starts at v1), streaming txn watermarks (a replayed micro-batch
    * must re-commit against the clone's own lineage), or catalog
    * identity. Writes to either side never affect the other: clone
    * commits write under the clone's own `data/`, and the donor's
    * files are immutable. Rewrites on the clone (compact / merge /
    * materializeDeletes) progressively LOCALIZE it as extern files
    * leave the snapshot.
    *
    * VACUUM contract (exactly Delta's): the DONOR does not know about
    * clones — a donor-side [[expire]] that reclaims a file the clone
    * still references makes the clone's affected reads fail LOUDLY
    * (missing file), never silently empty. Clone-side [[expire]]
    * walks only the clone's own `data/` dir and can never touch donor
    * bytes. CloneSpec pins both directions. */
  def cloneShallow(spark: SparkSession, src: String, dst: String,
                   version: Int = -1): Int = {
    val v = if (version < 0) currentVersion(spark, src) else version
    require(v > 0, s"cannot clone $src at version $v — nothing committed")
    require(versions(spark, dst).isEmpty,
      s"clone destination $dst already has manifests — clone targets a fresh path")
    val (files, schema, stats, partBy) = snapshotAll(spark, src, v)
    require(files.nonEmpty || schema.nonEmpty,
      s"version $v of $src has no snapshot to clone")
    // clone-of-clone: the donor's own extern entries chain through, so
    // resolution always lands on the dir that physically owns the bytes
    val srcExterns = externRoots(spark, src)
    val srcAbs = fs(spark, new Path(src))
      .makeQualified(new Path(src)).toString
    val ledger = files.map { rel =>
      val uuid = rel.split("/")(1)
      uuid -> srcExterns.getOrElse(uuid, srcAbs)
    }.toMap
    val lp = externsPath(dst)
    val lf = fs(spark, lp)
    // crash-debris recovery (ADVICE r11, hardened per ADVICE r12): a
    // clone killed between the exclusive ledger create and the v1
    // publish leaves externs.json (and copied ingest ledgers) at a
    // destination with ZERO manifests — and the exclusive create then
    // fails every retry forever. But a version-less ledger is debris
    // only when it is STALE: a fresh one is just as likely an
    // IN-FLIGHT clone racing us to the same path, and sweeping it
    // would strand the winner's published v1 with no extern ledger
    // (reads fail) and no COPY INTO memory (silent double-ingest).
    // So: refuse loudly inside the staleness window — the pre-publish
    // window is seconds, so a live racer's ledger is always younger
    // than the threshold — and sweep only past it, re-checking that
    // no v1 appeared since the entry requirement.
    if (lf.exists(lp)) {
      val age = System.currentTimeMillis() -
        lf.getFileStatus(lp).getModificationTime
      require(age > cloneDebrisStaleMs,
        s"clone destination $dst holds a ${age / 1000}s-old extern " +
          "ledger with no published version — either a clone to the " +
          "same path is in flight (let it finish) or a crashed " +
          "attempt left debris younger than the " +
          s"${cloneDebrisStaleMs / 1000}s staleness window (retry " +
          "after the window, or remove _manifests/externs.json)")
      require(versions(spark, dst).isEmpty,
        s"clone destination $dst published a version mid-check — " +
          "clone targets a fresh path")
      lf.delete(lp, false)
      externsCache.remove(dst)
      lf.delete(ingestDir(dst), true)
      // a dead clone's copied table config is debris too — surviving,
      // it would graft the OLD donor's stats config onto a retry from
      // a config-less donor
      lf.delete(configPath(dst), false)
    }
    val node = RootCodec.mapper.createObjectNode()
    val ex = node.putObject("externs")
    ledger.toSeq.sortBy(_._1).foreach { case (u, root) => ex.put(u, root) }
    val ledgerBytes = RootCodec.mapper.writeValueAsBytes(node)
    val out = lf.create(lp, false) // exclusive: a racing clone loses here
    try out.write(ledgerBytes) finally out.close()
    // the donor's COPY INTO memory comes along (metadata-sized file
    // copies): a copyInto pointed at the clone must not re-ingest
    // sources the donor already consumed — without this, cloning an
    // ingestion pipeline's table would double every row on the next run
    val donorLedgers = ingestLedgers(spark, src, v)
    val ledgerCopies = donorLedgers.map { rel =>
      val from = new Path(manifestDir(src), rel)
      val to = new Path(manifestDir(dst), rel)
      val in = fs(spark, from).open(from)
      val bytes =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
          buf.toByteArray
        } finally in.close()
      val o = fs(spark, to).create(to, false)
      try o.write(bytes) finally o.close()
      to -> bytes
    }
    // the donor's table config (graft.statsColumns et al.) comes along
    // too (r13): without it, a clone of a CREATE'd-but-still-small
    // table would silently stop BEGINNING stats collection on its
    // first insert — the config is creation-time state like the
    // constraint set, not history
    val donorConfig = tableConfig(spark, src)
    if (donorConfig.nonEmpty) writeTableConfig(spark, dst, donorConfig)
    // exists-default censuses come along too (r17): the clone reads
    // the donor's pre-add files by the same relPaths, so the copied
    // sidecar classifies them identically (overwrite-create: a
    // crashed attempt's identical copy must not wedge the retry)
    val exdSrc = existsDefaultsDir(src)
    val exdFs = fs(spark, exdSrc)
    if (exdFs.exists(exdSrc)) exdFs.listStatus(exdSrc).foreach { st =>
      if (st.isFile) readRawBytes(exdFs, st.getPath).foreach { bytes =>
        val to = new Path(existsDefaultsDir(dst), st.getPath.getName)
        val o = fs(spark, to).create(to, true)
        try o.write(bytes) finally o.close()
      }
    }
    // a failed publish must take OUR pre-publish files with it, or a
    // retried clone dies on the leftover ledger's exclusive create and
    // the destination is a manual-cleanup dead end (review r10 finding)
    def cleanupCloneDebris(): Unit = {
      // once ANY v1 exists at dst, delete nothing (ADVICE r12): if the
      // winner is a clone, the ledger on disk is load-bearing for its
      // published snapshot; if the winner is a plain writer, our
      // leftover extern entries are inert (their uuids appear in no
      // snapshot of the winner's table) and a retry fails loudly at
      // the fresh-path requirement anyway. Only a still-version-less
      // destination has true debris to take with us.
      if (versions(spark, dst).nonEmpty) return
      lf.delete(lp, false)
      externsCache.remove(dst)
      if (donorConfig.nonEmpty) lf.delete(configPath(dst), false)
      donorLedgers.foreach(rel =>
        lf.delete(new Path(manifestDir(dst), rel), false))
    }
    val ok =
      try tryPublish(spark, dst, 0, files, tag = "clone",
        schema = schema, stats = stats, partitionBy = partBy,
        constraints = Some(checkConstraints(spark, src, v)),
        op = "clone",
        tombstones = Some(deleteTombstones(spark, src, v)),
        dvs = Some(deleteVectors(spark, src, v)),
        bloom = Some(bloomConfig(spark, src, v)),
        transforms = Some(partitionTransforms(spark, src, v)),
        ingestSegs = Some(donorLedgers))
      catch { case e: Throwable => cleanupCloneDebris(); throw e }
    if (!ok) {
      cleanupCloneDebris()
      throw new IllegalStateException(
        s"clone of $src lost the v1 publish race at $dst — another " +
          "writer claimed the fresh table; the destination belongs " +
          "to the winner (any pre-publish files of ours that could " +
          "be removed safely were)")
    }
    // belt-and-braces (ADVICE r12, widened per ADVICE r13): if this
    // attempt stalled past the staleness window, a racer may have
    // swept our in-flight sidecars as crash debris before our v1
    // landed — and its sweep takes not just externs.json but the
    // copied COPY INTO ingest ledgers (losing them = silent
    // double-ingest on the clone's next pipeline run) and the donor's
    // config sidecar (losing it = stats collection silently never
    // begins). Every one is a pure function of (src, version), so
    // verify-and-rewrite is idempotent — a published clone must never
    // be left missing any of them.
    def restore(p: Path, bytes: Array[Byte]): Unit = {
      val intact =
        try {
          val in = lf.open(p)
          val got =
            try {
              val buf = new java.io.ByteArrayOutputStream()
              org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
              buf.toByteArray
            } finally in.close()
          java.util.Arrays.equals(got, bytes)
        } catch { case _: java.io.FileNotFoundException => false }
      if (!intact) {
        val o = lf.create(p, true)
        try o.write(bytes) finally o.close()
      }
    }
    restore(lp, ledgerBytes)
    externsCache.remove(dst)
    ledgerCopies.foreach { case (p, bytes) => restore(p, bytes) }
    if (donorConfig.nonEmpty)
      restore(configPath(dst), configBytes(donorConfig))
    1
  }

  /** A snapshot with zero files but a recorded schema is a REAL state
    * (deleteWhere matched every row): readable as an empty frame. Only
    * a version with neither files nor schema is "no snapshot". */
  private def emptyOrFail(spark: SparkSession, table: String,
                          schema: Option[StructType]): DataFrame =
    schema match {
      case Some(s) => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s)
      case None => throw new IllegalArgumentException(
        s"no committed snapshot in $table")
    }

  def read(spark: SparkSession, table: String, version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion(spark, table) else version
    // CACHE TABLE (r16): the cache key is the SNAPSHOT VERSION, so
    // correctness is by construction — a write advances the head, the
    // next read misses, rebuilds, and retires the stale entry; no
    // invalidation hooks anywhere. Returning the SAME DataFrame object
    // while the version holds is what makes Spark's CacheManager
    // substitute the in-memory blocks (fresh per-read plans would
    // never be plan-equal to the persisted one).
    if (cacheEnabled.contains(table)) {
      val cur = cacheReg.get(table)
      if (cur != null && cur._1 == v) return cur._2
    }
    val (files, schema, stats, partBy) = snapshotAll(spark, table, v)
    val df =
      if (files.isEmpty) emptyOrFail(spark, table, schema)
      else readLive(spark, table, files, schema, partBy,
        deleteTombstones(spark, table, v), skipping(spark, table, v, stats),
        dvs = deleteVectors(spark, table, v))
    if (version < 0 && cacheEnabled.contains(table) && files.nonEmpty) {
      // Concurrent head reads race to populate: the registry keeps
      // exactly one frame per table (the newest version wins; an
      // equal-version race keeps the incumbent) and the OTHER frame
      // is always unpersisted (r17, advisory — the old put-based code
      // skipped unpersist on an equal-version replace and leaked the
      // loser's executor blocks until UNCACHE).
      val persisted = df.persist()
      var evicted: DataFrame = null
      val kept = cacheReg.compute(table, (_, old) =>
        if (old != null && old._1 >= v) { evicted = persisted; old }
        else { if (old != null) evicted = old._2; (v, persisted) })
      if (evicted ne null) evicted.unpersist(false)
      // an even-newer concurrent entry serves ITS version, not ours —
      // hand back the plain frame for snapshot-v consistency
      if (kept._1 == v) kept._2 else df
    } else df
  }

  // -----------------------------------------------------------------
  // CACHE TABLE registry (r16): tables opted into version-keyed block
  // caching. Session-JVM-scoped like the name registry. Only HEAD
  // reads populate the cache (time travel bypasses it — pinning every
  // browsed version would hoard executor memory); an explicit-version
  // read that happens to BE the cached head still hits.
  // -----------------------------------------------------------------

  private val cacheReg =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, DataFrame)]()
  private val cacheEnabled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Opt `table` into version-keyed caching; `eager` materializes the
    * blocks now (SQL `CACHE TABLE` default; LAZY defers to first use). */
  def cacheTable(spark: SparkSession, table: String,
                 eager: Boolean = true): Unit = {
    cacheEnabled.add(table)
    val df = read(spark, table)
    if (eager) { df.count(); () }
  }

  /** Drop `table` from the cache and release its blocks. */
  def uncacheTable(spark: SparkSession, table: String): Unit = {
    cacheEnabled.remove(table)
    Option(cacheReg.remove(table)).foreach(_._2.unpersist(false))
  }

  /** Is a CURRENT-head cached frame live for `table`? (tests/ops) */
  def isCached(spark: SparkSession, table: String): Boolean =
    cacheEnabled.contains(table) && {
      val cur = cacheReg.get(table)
      cur != null && cur._1 == currentVersion(spark, table)
    }

  // -----------------------------------------------------------------
  // COLUMN MAPPING (r12) — the Delta columnMapping idiom, carried the
  // way Delta carries it: each RECORDED schema field may hold the
  // column's PHYSICAL (on-disk parquet) name in its metadata under
  // [[PhysNameKey]]. Logical names are what every API, predicate,
  // stats key, and constraint speaks; physical names are what the
  // parquet files store — assigned once, NEVER changed, so a rename
  // is a pure schema edit and files of every era stay readable.
  // Riding the schema (not a separate manifest section) buys
  // version-correctness for free: every read path already passes the
  // snapshot's own schema to readFiles, time travel and the change
  // feed read each version under ITS mapping, and clone/restore carry
  // it with the schema they already carry. A mapping-bearing schema
  // stamps the `colmap` protocol feature (tryPublish derives it), so
  // a mapping-ignorant reader era REFUSES instead of silently reading
  // nulls for every renamed column — the r11 gate's first real client.
  // -----------------------------------------------------------------

  private[graft] val PhysNameKey = "graftPhys"

  private def physName(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  // ---- nested mapping (r13): PhysNameKey may sit on struct fields at
  // ANY depth (structs, struct elements of arrays, struct values of
  // maps) — `ALTER TABLE … RENAME COLUMN s.a TO s.b` is the same pure
  // schema edit as a top-level rename. The recursive twins below
  // derive the on-disk (physical) spelling of a type and detect
  // whether any level carries a mapping at all.

  /** `dt` with every struct field at every depth renamed to its
    * physical (on-disk) spelling. */
  private def physType(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f =>
        f.copy(name = physName(f), dataType = physType(f.dataType))))
    case org.apache.spark.sql.types.ArrayType(et, n) =>
      org.apache.spark.sql.types.ArrayType(physType(et), n)
    case org.apache.spark.sql.types.MapType(k, v, n) =>
      org.apache.spark.sql.types.MapType(physType(k), physType(v), n)
    case other => other
  }

  /** Does any field at any depth store under a different name? */
  private def hasMapping(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.exists(f =>
      physName(f) != f.name || hasMapping(f.dataType))
    case org.apache.spark.sql.types.ArrayType(et, _) => hasMapping(et)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      hasMapping(k) || hasMapping(v)
    case _ => false
  }

  /** The full logical-path → physical-name mapping, all depths — the
    * commit loop compares it across a race window (a batch's files
    * are laid out under ONE mapping; publishing them under another
    * would silently null the remapped columns). */
  private def mappingOf(s: Option[StructType]): Map[Seq[String], String] = {
    def walk(dt: DataType, prefix: Seq[String]): Seq[(Seq[String], String)] =
      dt match {
        case st: StructType => st.fields.toSeq.flatMap(f =>
          (if (physName(f) != f.name) Seq((prefix :+ f.name) -> physName(f))
           else Nil) ++ walk(f.dataType, prefix :+ f.name))
        case org.apache.spark.sql.types.ArrayType(et, _) => walk(et, prefix)
        case org.apache.spark.sql.types.MapType(k, v, _) =>
          walk(k, prefix) ++ walk(v, prefix)
        case _ => Nil
      }
    s.map(st => walk(st, Nil).toMap).getOrElse(Map.empty)
  }

  /** An OLD version's schema re-spelled to the TO-version logical
    * names through the stable physical identity — what the change
    * feed reads historical groups under, so a rename inside the range
    * cannot desynchronize group columns from the to-version
    * projection (types stay the group's own; union coercion widens a
    * mid-range type evolution). */
  /** Type EQUALITY must ignore the mapping metadata a recorded schema
    * carries inside nested types — a batch's plain `struct<x:double>`
    * IS the recorded `struct<x:double (phys a)>`; StructType equality
    * compares field metadata, so strip it at every depth first. */
  private def sameType(a: DataType, b: DataType): Boolean =
    stripMeta(a) == stripMeta(b)
  /** Equality-normal form: metadata AND nullability erased at every
    * depth. Nullability was already ignored at the TOP level (the
    * append check keys on (name, dataType)); nested levels must agree
    * (r14) — a tuple-built batch's `struct<a:int NOT NULL>` IS the
    * recorded `struct<a:int>`, and the engine never enforces NOT NULL
    * anyway (CREATE refuses the clause for exactly that reason). */
  private def stripMeta(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = stripMeta(f.dataType), nullable = true,
        metadata = org.apache.spark.sql.types.Metadata.empty)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(stripMeta(et), true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(stripMeta(k), stripMeta(v), true)
    case other => other
  }

  /** Nullability-relaxed twin of `dt`, for positional-cast TARGETS:
    * a parquet scan surfaces user schemas nullable (and a file
    * missing an evolution-added nested field null-fills it), so a
    * cast demanding a NOT NULL nested field would refuse plans that
    * are semantically exact renames (r14). */
  private def relaxNulls(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = relaxNulls(f.dataType), nullable = true)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(relaxNulls(et), true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(relaxNulls(k), relaxNulls(v), true)
    case other => other
  }

  private def respellTo(s: StructType, toFields: Seq[StructField]): StructType = {
    // nested renames re-spell recursively through the same physical
    // identity — a to-version rename of `s.a` to `s.b` must surface
    // in historical groups under `s.b` too
    def respellType(dt: DataType, to: DataType): DataType = (dt, to) match {
      case (st: StructType, tst: StructType) =>
        StructType(respellFields(st.fields.toSeq, tst.fields.toSeq).toArray)
      case (org.apache.spark.sql.types.ArrayType(et, n),
            org.apache.spark.sql.types.ArrayType(tet, _)) =>
        org.apache.spark.sql.types.ArrayType(respellType(et, tet), n)
      case (org.apache.spark.sql.types.MapType(k, v, n),
            org.apache.spark.sql.types.MapType(tk, tv, _)) =>
        org.apache.spark.sql.types.MapType(
          respellType(k, tk), respellType(v, tv), n)
      case _ => dt
    }
    def respellFields(fields: Seq[StructField],
                      toF: Seq[StructField]): Seq[StructField] = {
      val byPhys = toF.map(f => physName(f) -> f).toMap
      fields.map { f =>
        byPhys.get(physName(f)) match {
          case Some(tf) =>
            val renamed =
              if (tf.name == f.name) f
              else f.copy(name = tf.name,
                // the re-spelled field must KEEP pointing at its
                // physical storage — a bare rename would read the new
                // logical name off disk (absent there) and null the
                // whole column
                metadata = new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putString(PhysNameKey, physName(f)).build())
            renamed.copy(dataType = respellType(f.dataType, tf.dataType))
          case None => f
        }
      }
    }
    StructType(respellFields(s.fields.toSeq, toFields).toArray)
  }

  /** The partition-dir names a manifest-relative file path carries
    * (`data/<uuid>/p=1/q=2/part-….parquet` → `Set(p, q)`) — the
    * file's LAYOUT ERA, readable from the path alone. Partition
    * evolution (r14, [[setPartitionSpec]]) makes one snapshot span
    * several eras: a file written under an old layout keeps its old
    * dirs (and its old data-column set) forever, so the read path
    * groups files by era and reads each group under its own
    * data/path-column split. Hive-escapes values' own `=` and `/`,
    * so "name = text before the first `=`" is exact. */
  private def eraDirs(file: String): Set[String] = {
    val segs = file.split("/")
    // segs = data, <uuid>, <partition dirs…>, <file name>
    segs.slice(2, segs.length - 1).filter(_.contains("="))
      .map(_.takeWhile(_ != '=')).toSet
  }

  /** What the manifest knows for skipping a file group: per-file stats
    * (also every file's recorded size) and, loaded only when a filter
    * reaches the index, the hidden partition transforms and bloom
    * config. A group read under another version's names (the change
    * feed's older groups) passes [[sizesOnly]], so no filter can prune
    * it by stats keyed under the wrong names. */
  private[sources] final class Skipping(
      val stats: Map[String, Map[String, (Double, Double)]],
      transforms0: => Seq[PartitionTransform] = Nil,
      bloom0: => Option[BloomConfig] = None) {
    lazy val transforms: Seq[PartitionTransform] = transforms0
    lazy val bloom: Option[BloomConfig] = bloom0
  }

  private def skipping(spark: SparkSession, table: String, v: Int,
                       stats: Map[String, Map[String, (Double, Double)]]) =
    new Skipping(stats, partitionTransforms(spark, table, v),
      bloomConfig(spark, table, v))

  private def sizesOnly(stats: Map[String, Map[String, (Double, Double)]]) =
    new Skipping(stats.map { case (f, m) => f -> m.filter(_._1 == SizeKey) })

  /** The one read construction: `files` as manifest-index relations
    * ([[ManifestFileIndex]]), surfaced under the recorded schema. */
  private def readFiles(spark: SparkSession, table: String,
                        files: Seq[String], schema: Option[StructType],
                        partitionBy: Seq[String], skip: Skipping,
                        perGroup: (Seq[String], DataFrame) => DataFrame =
                          (_, d) => d): DataFrame = {
    // partition evolution: a snapshot may mix layout eras, and an
    // exists-default column splits pre-add from post-add files — each
    // group reads under its own data/path column split or fill, then
    // the groups union by name (a homogeneous set is one group, no
    // union). `perGroup` runs INSIDE each group's scan: `_metadata`
    // does not survive the union, so `__f`/`__ri` taggers go there.
    val fillKey = existsFillClassifier(spark, table, schema)
    val groups = files.groupBy(f => (eraDirs(f), fillKey(f))).toSeq
      .sortBy(_._2.head)
    if (groups.size > 1)
      return groups.map { case (_, fs) =>
        readFiles(spark, table, fs, schema, partitionBy, skip, perGroup)
      }.reduce(_.unionByName(_))
    val externs = externRoots(spark, table)
    val roots = scala.collection.mutable.HashMap.empty[Path, Path]
    def pathOf(rel: String): Path = { // qualified once per directory
      val p = dataPath(externs, table, rel)
      new Path(roots.getOrElseUpdate(p.getParent,
        fs(spark, p).makeQualified(p.getParent)), p.getName)
    }
    // only legacy schemaless manifests infer a schema from the footers
    // (they predate mapping and typed partitions: partition columns
    // surface as strings after the data columns)
    val sch = schema.getOrElse {
      val inferred =
        spark.read.parquet(files.map(pathOf(_).toString): _*).schema
      StructType(inferred.fields.filterNot(f => partitionBy.contains(f.name)) ++
        partitionBy.filterNot(inferred.fieldNames.contains)
          .map(StructField(_, org.apache.spark.sql.types.StringType)))
    }
    // the file's OWN era decides which columns its dirs carry (after an
    // evolution away from a column, old hive-era files carry it in
    // dirs, new flat-era files in data). Hidden transform targets are
    // not in the recorded schema: neither read nor surfaced.
    val era = files.headOption.map(eraDirs).getOrElse(Set.empty)
    val (parts, data) = sch.fields.partition(f =>
      if (schema.isEmpty) partitionBy.contains(f.name) else era.contains(physName(f)))
    // the relation speaks PHYSICAL names (column mapping), data columns
    // and dirs alike; a projection surfaces the logical ones in the
    // recorded order. Nested renames ride a same-shape struct cast (a
    // pure positional rename inside codegen). `_metadata` stays
    // resolvable through the projection for the taggers.
    val partitionSchema = StructType(parts.map(f =>
      StructField(physName(f), f.dataType)))
    val index = ManifestFileIndex(spark, table,
      fs(spark, new Path(table)).makeQualified(new Path(table)), files, pathOf,
      rel => skip.stats.get(rel).flatMap(_.get(SizeKey)).map(_._1.toLong),
      partitionSchema,
      sch.fields.iterator.map(f => physName(f) -> f.name)
        .filter(p => p._1 != p._2).toMap,
      sch.fields.iterator.map(f => f.name -> f.dataType).toMap, skip)
    val base = spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
        partitionSchema,
        relaxNulls(physType(StructType(data))).asInstanceOf[StructType],
        None, new ManifestParquet(index.summary), Map.empty)(spark))
    val out = base.queryExecution.analyzed.output
    val shaped =
      if (!hasMapping(sch) && out.map(_.name) == sch.fieldNames.toSeq) base
      else {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        val byName = out.map(a => a.name -> a).toMap
        base.select(sch.fields.toIndexedSeq.map { f =>
          val c = ColumnBridge.column(byName(physName(f)))
          (if (hasMapping(f.dataType)) c.cast(relaxNulls(f.dataType)) else c)
            .as(f.name)
        }: _*)
      }
    // exists-default fill, in place: pre-add files have no physical
    // column, so the scan's null column becomes the frozen literal (a
    // codegen constant; a filter on it folds, never reaching the scan)
    val filled = files.headOption.map(fillKey).getOrElse(Set.empty)
      .foldLeft(shaped) { (d, c) =>
        val f = sch(c)
        d.withColumn(c, org.apache.spark.sql.functions.expr(
          ColumnSpecs.existsDefaultOf(f).get).cast(f.dataType))
      }
    perGroup(files, filled)
  }

  /** [[readFiles]] with pending lazy-delete tombstones applied:
    * targeted files read through a codegen'd NOT-predicate filter,
    * untargeted files read plain — grouped by applying-tombstone set,
    * so the plan is a union of a few scans, never per-file. With
    * `tagFile = true` each scan carries `__f` (the manifest-relative
    * path) — writers need it, and it must be derived per-scan because
    * `_metadata` does not survive a union. */
  private def readLive(spark: SparkSession, table: String,
                       files: Seq[String], schema: Option[StructType],
                       partitionBy: Seq[String],
                       tombs: Seq[(String, Seq[String])],
                       skip: Skipping,
                       tagFile: Boolean = false,
                       dvs: Map[String, Seq[Long]] = Map.empty,
                       tagRowIndex: Boolean = false,
                       tombAugment: Seq[StructField] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, expr, lit, not}
    // `tombAugment` (the change feed's case): tombstone predicates
    // resolve against the TO-version schema, but a feed group reads
    // under an OLDER recorded schema — null-fill the missing columns
    // BEFORE the filters, which is semantically exact (an old file's
    // rows read the added column as null under the head schema too,
    // so `extra = 5` keeps them and `extra IS NULL` deletes them, in
    // both read paths — review r10 finding: without this the feed
    // crashed on the unresolvable column)
    def augment(d: DataFrame): DataFrame =
      tombAugment.filterNot(f => d.columns.contains(f.name))
        .foldLeft(d)((x, f) =>
          x.withColumn(f.name, lit(null).cast(f.dataType)))
    // the `_metadata`-dependent taggers and the vector anti-join run
    // per layout-era / fill group, inside readFiles' union
    def scan(fs: Seq[String]): DataFrame =
      readFiles(spark, table, fs, schema, partitionBy, skip, scanOne)
    def scanOne(fs: Seq[String], base: DataFrame): DataFrame = augment {
      val dvd = fs.filter(dvs.contains)
      if (dvd.isEmpty) {
        val t1 = if (tagFile) base.withColumn("__f", relFileCol) else base
        if (tagRowIndex) t1.withColumn("__ri", col("_metadata.row_index")) else t1
      } else {
        // deletion vectors: anti-join on (file, row position) against
        // the broadcast deleted-pair set — bounded by deleted rows,
        // applied PER SCAN because `_metadata` does not survive unions
        // (or joins: hence __f/__ri are materialized before it)
        import spark.implicits._
        val pairs = dvd.flatMap(f => dvs(f).map(o => (f, o)))
          .toDF("__dvf", "__dvi")
        val withMeta = base.withColumn("__f", relFileCol)
          .withColumn("__ri", col("_metadata.row_index"))
        val kept = withMeta.join(broadcast(pairs),
          withMeta("__f") === pairs("__dvf") &&
            withMeta("__ri") === pairs("__dvi"), "left_anti")
        val t1 = if (tagRowIndex) kept else kept.drop("__ri")
        if (tagFile) t1 else t1.drop("__f")
      }
    }
    val live = tombs.map { case (p, ts) => (p, ts.toSet) }
    if (live.isEmpty || files.isEmpty) scan(files)
    else {
      val groups = files.groupBy(f =>
        live.collect { case (p, ts) if ts.contains(f) => p })
      groups.toSeq.sortBy(_._2.head).map { case (preds, fs) =>
        preds.foldLeft(scan(fs))((d, p) =>
          d.filter(not(coalesce(expr(p), lit(false)))))
      }.reduce(_.unionByName(_))
    }
  }

  /** Read `version` scanning ONLY the files whose recorded (min, max)
    * stats intersect EVERY given `col -> (lo, hi)` range (the index's
    * min/max step on caller-given ranges in the stats' double space;
    * files without stats for a column are kept). Unlike
    * `read(...).filter(p)` this returns EVERY row of the kept files:
    * it prunes I/O, not rows. Pair with
    * [[compact]]`(sortBy = zkey16(...))`: z-ordered files hold tight
    * ranges on BOTH dimensions, so a 2-D box keeps only the files
    * owning its tiles (ZOrderSkipSpec measures the payoff;
    * StatsSkipSpec pins this read path). */
  def readRange(spark: SparkSession, table: String,
                ranges: Seq[(String, Double, Double)],
                version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion(spark, table) else version
    val (files, schema, stats, partBy) = snapshotAll(spark, table, v)
    if (files.isEmpty) return emptyOrFail(spark, table, schema)
    val kept = pruneDnf(files, stats, Seq(rangeConj(ranges)))
    val skip = skipping(spark, table, v, stats)
    if (kept.isEmpty) readFiles(spark, table, files, schema, partBy, skip).limit(0)
    else readLive(spark, table, kept, schema, partBy,
      deleteTombstones(spark, table, v), skip,
      dvs = deleteVectors(spark, table, v))
  }

  /** Filtered read: `read(...).filter(pred)`. The manifest index under
    * the read skips files from the filters the optimizer pushes onto
    * it (min/max over an OR-capable DNF, transforms, buckets, blooms),
    * exactly as for SQL on `graft.<name>` — see [[ManifestFileIndex]].
    * Skipping shows in `inputFiles` when the session runs
    * `graft.GraftExtensions`. */
  def readWhere(spark: SparkSession, table: String, pred: Column,
                version: Int = -1): DataFrame =
    read(spark, table, version).filter(pred)

  /** The files of a read the manifest index keeps for the filters on
    * it: the decision pinned into `df`'s optimized plan (taken here if
    * the session runs no [[PinManifestFiles]]). */
  private def filesKept(df: DataFrame): Seq[String] =
    PinManifestFiles(df.queryExecution.optimizedPlan).collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          org.apache.spark.sql.execution.datasources.HadoopFsRelation(
            i: ManifestFileIndex, _, _, _, _, _), _, _, _, _) => i.files
    }.flatten.distinct

  /** The files of `files` that may hold rows matching `pred`. */
  private def candidatesFor(spark: SparkSession, table: String,
                            files: Seq[String], schema: Option[StructType],
                            partBy: Seq[String], skip: Skipping,
                            pred: Column): Seq[String] = {
    val kept = filesKept(
      readFiles(spark, table, files, schema, partBy, skip).filter(pred)).toSet
    files.filter(kept)
  }

  // --- equality-literal DNF, the bloom-pruning counterpart of the
  // range DNF above: per disjunct, column → the equality literals the
  // disjunct requires one of. Extracted INDEPENDENTLY of the range
  // DNF, which is sound (P ⇒ someRangeDisjunct ∧ someEqDisjunct —
  // each filter alone over-approximates, their conjunction still
  // does); mixed ORs just prune a little less than a joined walk
  // would. AND over one column unions the value lists (testing
  // either value's presence over-approximates requiring both);
  // unrecognized leaves are the unconstrained disjunct.
  private type EqConj = Map[String, Seq[org.apache.spark.sql.catalyst.expressions.Literal]]
  private type EqDnf = Seq[EqConj]

  private def mergeEqConj(a: EqConj, b: EqConj): EqConj =
    (a.keySet ++ b.keySet).iterator.map(c =>
      c -> (a.getOrElse(c, Nil) ++ b.getOrElse(c, Nil))).toMap

  private def andEqDnf(a: EqDnf, b: EqDnf): EqDnf =
    if (a.size.toLong * b.size <= DnfCap)
      for (x <- a; y <- b) yield mergeEqConj(x, y)
    else if (a.size <= b.size) a else b

  private[graft] def extractEqDnf(
      e: org.apache.spark.sql.catalyst.expressions.Expression): EqDnf = {
    import org.apache.spark.sql.catalyst.expressions.{And, Or}
    e match {
      case And(l, r) => andEqDnf(extractEqDnf(l), extractEqDnf(r))
      case Or(l, r) =>
        val u = extractEqDnf(l) ++ extractEqDnf(r)
        if (u.exists(_.isEmpty) || u.size > DnfCap) Seq(Map.empty) else u
      case leaf => Seq(leafEqs(leaf))
    }
  }

  private def leafEqs(
      e: org.apache.spark.sql.catalyst.expressions.Expression): EqConj = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      // same rule as leafBounds: a lossless numeric up-cast of the
      // attribute side is value-preserving — the literal is cast back
      // to the RAW column type before hashing (bloomPositions)
      case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) &&
          c.child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          c.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        attr(c.child)
      case _ => None
    }
    e match {
      case EqualTo(a, l: Literal) if attr(a).isDefined && l.value != null =>
        Map(attr(a).get -> Seq(l))
      case EqualTo(l: Literal, a) if attr(a).isDefined && l.value != null =>
        Map(attr(a).get -> Seq(l))
      case EqualNullSafe(a, l: Literal) if attr(a).isDefined && l.value != null =>
        Map(attr(a).get -> Seq(l))
      case EqualNullSafe(l: Literal, a) if attr(a).isDefined && l.value != null =>
        Map(attr(a).get -> Seq(l))
      // IN: membership in the literal set — null elements never match
      // an equality and simply drop out; one NON-literal element makes
      // the list unextractable (the value could be anything)
      case In(a, list) if attr(a).isDefined && list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        val vs = list.collect { case l: Literal if l.value != null => l }
        if (vs.isEmpty) Map.empty else Map(attr(a).get -> vs)
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        val vs = hset.toSeq.filter(_ != null)
          .map(v => Literal(v, a.dataType))
        if (vs.isEmpty) Map.empty else Map(a.name -> vs)
      case _ => Map.empty
    }
  }

  /** A query literal cast to the column's recorded type, validated
    * driver-side: None when the cast is impossible or nulls out (such
    * an equality matches no stored value — keeping the file is sound
    * and hashing a distorted value is avoided entirely). */
  private def castLit(l: org.apache.spark.sql.catalyst.expressions.Literal,
                      dt: DataType)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    try {
      import org.apache.spark.sql.catalyst.expressions.Cast
      val e = if (l.dataType == dt) l
              else Cast(l, dt)
      if (e.eval(null) == null) None else Some(e)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Evaluate many derived columns at once, on the driver — the prune
    * side batches every literal hash here, so a 50-value IN costs one
    * evaluation, not fifty (review r10 finding). Only the analyzer runs
    * (to resolve the functions), then the expressions evaluate directly:
    * no job and no optimizer rule, so this is safe inside the optimizer
    * rule that pins a manifest index. The columns still route through
    * the SHARED write-side expressions ([[bloomPosCol]] /
    * [[transformCol]]), so hash identity holds. A failure keeps every
    * file and logs why. */
  private def evalOnce(spark: SparkSession, cols: Seq[Column])
      : Option[org.apache.spark.sql.catalyst.InternalRow] =
    if (cols.isEmpty) None
    else try {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.plans.logical.Project
      val analyzed = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row()), StructType(Nil))
        .select(cols: _*).queryExecution.analyzed
      org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(analyzed) match {
        case Project(list, _) =>
          Some(InternalRow.fromSeq(list.map(_.eval(InternalRow.empty))))
      }
    } catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn("bucket/bloom skipping off for this scan: literal hashing failed", e)
      None
    }

  /** Hidden-partitioning pruning, monotone half: a disjunct bounding a
    * transform's SOURCE column also bounds the derived TARGET — days
    * and truncate are monotone, so [lo, hi] on the source maps to
    * [f(lo), f(hi)] on the target, whose per-file partition values sit
    * in the stats as degenerate ranges. The augmentation happens
    * per-disjunct, INSIDE the same conjunction, so it composes exactly
    * with every other constraint the disjunct carries. */
  private def transformDnfAugment(dnf: Dnf, pts: Seq[PartitionTransform],
                                  types: Map[String, DataType]): Dnf = {
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampNTZType, TimestampType}
    // belt-and-braces twin of commit()'s source-type discipline: only
    // augment when the source's stats space matches the write-side
    // expression's (a legacy/hand-written record on an unsupported
    // type must degrade to no pruning, never to wrong pruning)
    val monotone = pts.filter(p => p.kind != "bucket").filter { p =>
      types.get(p.source).exists { st =>
        if (p.kind == "truncate") st.isInstanceOf[NumericType]
        else st == TimestampType || st == TimestampNTZType || st == DateType
      }
    }
    if (monotone.isEmpty) return dnf
    dnf.map { conj =>
      conj ++ monotone.flatMap { pt =>
        conj.get(pt.source).map { case (lo, hi) =>
          val (tlo, thi) = pt.kind match {
            case "truncate" => // target = floor(v / w) * w
              (math.floor(lo / pt.n) * pt.n, math.floor(hi / pt.n) * pt.n)
            case k =>
              // timestamp stats (and leafBounds literals) are epoch
              // SECONDS; date stats are already epoch days
              val isDate = types.get(pt.source).contains(DateType)
              (calendarIndex(k, lo, isDate), calendarIndex(k, hi, isDate))
          }
          pt.target -> (tlo, thi)
        }
      }
    }
  }

  /** Hidden-partitioning pruning, bucket half: equality literals on a
    * bucket transform's source map to the target's bucket id through
    * the SAME xxhash64 expression the writer used (one-row local eval,
    * like the bloom path); a disjunct whose every candidate value maps
    * constrains the target to the ids' hull. None when nothing maps —
    * callers then skip the extra prune entirely. */
  private def bucketDnfOf(spark: SparkSession, eqDnf: EqDnf,
                          pts: Seq[PartitionTransform],
                          types: Map[String, DataType]): Option[Dnf] = {
    val bpts = pts.filter(_.kind == "bucket")
    if (bpts.isEmpty) return None
    // batch every literal's bucket id into ONE local evaluation
    val wanted = eqDnf.flatMap(_.toSeq.flatMap { case (c, lits) =>
      bpts.find(_.source == c).toSeq.flatMap(pt => lits.map(l => (pt, c, l)))
    }).distinct
    val valid = wanted.flatMap { case (pt, c, l) =>
      types.get(c).flatMap(dt =>
        castLit(l, dt).map(e => (pt, c, l, e, dt))) }
    val idMap: Map[(String, Any), Long] =
      evalOnce(spark, valid.zipWithIndex.map { case ((pt, _, _, e, dt), i) =>
        transformCol(pt,
          org.apache.spark.sql.graftbridge.ColumnBridge.column(e), dt)
          .as(s"__b$i")
      }) match {
        case None => Map.empty
        case Some(row) => valid.zipWithIndex.flatMap {
          case ((_, c, l, _, _), i) =>
            if (row.isNullAt(i)) None
            else Some((c, l.value) -> row.getLong(i))
        }.toMap
      }
    val out: Dnf = eqDnf.map { conj =>
      conj.iterator.flatMap { case (c, lits) =>
        bpts.find(_.source == c).flatMap { pt =>
          val ids = lits.flatMap(l => idMap.get((c, l.value)))
          // EVERY candidate value must map, or the unmapped one could
          // live in any bucket and the constraint would be unsound
          if (ids.size == lits.size && ids.nonEmpty)
            Some(pt.target -> (ids.min.toDouble, ids.max.toDouble))
          else None
        }
      }.toMap
    }
    if (out.forall(_.isEmpty)) None else Some(out)
  }

  /** The bloom-index pruning pass the manifest index runs AFTER
    * range/stats pruning: a surviving file is dropped when, for EVERY disjunct of
    * the predicate's equality DNF, some bloom-indexed column's bit
    * sets definitively exclude every candidate value. Files without a
    * sidecar (pre-config history, lost-era configs) and columns
    * without bits are kept; sidecars load lazily per uuid dir, only
    * for files that survived range pruning. */
  private def bloomPrune(spark: SparkSession, table: String, bc: BloomConfig,
                         files: Seq[String], eqDnf: EqDnf,
                         types: Map[String, DataType]): Seq[String] = {
    if (files.isEmpty) return files
    // all distinct (column, literal) pairs any disjunct wants, hashed
    // in ONE batched local evaluation
    val wanted = eqDnf.flatMap(_.toSeq.collect {
      case (c, lits) if bc.cols.contains(c) && types.contains(c) =>
        lits.map(c -> _)
    }.flatten).distinct
    val valid = wanted.flatMap { case (c, l) =>
      castLit(l, types(c)).map(e => (c, l, e)) }
    val posMap: Map[(String, Any), Seq[Long]] =
      evalOnce(spark, valid.zipWithIndex.map { case ((_, _, e), i) =>
        bloomPosCol(
          org.apache.spark.sql.graftbridge.ColumnBridge.column(e),
          bc.bits, bc.k).as(s"__p$i")
      }) match {
        case None => Map.empty
        case Some(row) => valid.zipWithIndex.flatMap { case ((c, l, _), i) =>
          if (row.isNullAt(i)) None
          else Some((c, l.value) -> row.getArray(i).toLongArray().toSeq)
        }.toMap
      }
    // per disjunct: indexed equality columns → candidate-value positions
    val tests: Seq[Map[String, Seq[Seq[Long]]]] = eqDnf.map { conj =>
      conj.iterator.collect {
        case (c, lits) if bc.cols.contains(c) && types.contains(c) =>
          c -> lits.flatMap(l => posMap.get((c, l.value)))
      }.filter(_._2.nonEmpty).toMap
    }
    if (tests.isEmpty || tests.exists(_.isEmpty)) return files
    files.filter { f =>
      val side = bloomSidecar(spark, table, f.split("/")(1))
      val usable = side.bits == bc.bits && side.k == bc.k
      tests.exists(_.forall { case (c, valuePos) =>
        (if (usable) side.blooms.get(f).flatMap(_.get(c)) else None) match {
          case None => true // unindexed file/column: keep
          case Some(bits) =>
            valuePos.exists(_.forall(p => bits.get(p.toInt)))
        }
      })
    }
  }

  /** One conjunctive constraint set: per-column [lo, hi] interval in
    * the stats' double space. An EMPTY map constrains nothing (keeps
    * every file); an empty interval (lo > hi) keeps none. */
  private[graft] type Conj = Map[String, (Double, Double)]

  /** A disjunction of [[Conj]]s over-approximating a predicate: a file
    * may hold matching rows only if its stats intersect SOME disjunct.
    * `Seq(Map.empty)` is the universal DNF (no pruning); `Seq()` is
    * the empty predicate (prunes everything — only ever produced by
    * genuinely unsatisfiable range conjunctions). */
  private[graft] type Dnf = Seq[Conj]

  /** AND of two conjunctive constraint sets: per-column interval
    * intersection. */
  private def andConj(a: Conj, b: Conj): Conj =
    (a.keySet ++ b.keySet).iterator.map { c =>
      val (alo, ahi) = a.getOrElse(c, (Double.NegativeInfinity, Double.PositiveInfinity))
      val (blo, bhi) = b.getOrElse(c, (Double.NegativeInfinity, Double.PositiveInfinity))
      c -> (math.max(alo, blo), math.min(ahi, bhi))
    }.toMap

  /** Upper bound on disjunct fan-out. AND cross-products and OR unions
    * past it collapse to a sound coarser form — pruning power degrades
    * gracefully, the decision cost stays O(files × DNF_CAP) however
    * adversarial the predicate. */
  private val DnfCap = 32

  /** AND of two DNFs: the cross-product of disjuncts (capped — past
    * the cap the SMALLER side alone is returned, which is sound:
    * And(A, B) matches only rows matching A). */
  private def andDnf(a: Dnf, b: Dnf): Dnf =
    if (a.size.toLong * b.size <= DnfCap)
      for (x <- a; y <- b) yield andConj(x, y)
    else if (a.size <= b.size) a else b

  /** Recursive DNF extraction from a predicate tree — the OR-capable
    * generalization of the old conjunct walk: `And` cross-merges the
    * branch DNFs, `Or` unions them (so `status = 'A' OR status = 'B'`
    * prunes exactly like the IN-list form, and mixed-column ORs prune
    * files outside BOTH branches), and every leaf comparison becomes a
    * one-disjunct constraint via [[leafBounds]]. Unrecognized leaves
    * yield the unconstrained disjunct, so any OR containing one
    * correctly prunes nothing. */
  private[graft] def extractDnf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Dnf = {
    import org.apache.spark.sql.catalyst.expressions.{And, Or}
    e match {
      case And(l, r) => andDnf(extractDnf(l), extractDnf(r))
      case Or(l, r) =>
        val u = extractDnf(l) ++ extractDnf(r)
        // a universal disjunct absorbs the union; past the cap the
        // whole OR goes universal
        if (u.exists(_.isEmpty) || u.size > DnfCap) Seq(Map.empty) else u
      case leaf => Seq(leafBounds(leaf))
    }
  }

  /** Conservative CONJUNCTIVE range extraction — the per-column hull
    * of [[extractDnf]]: a column is bounded only when EVERY disjunct
    * bounds it (lo = min of los, hi = max of his); `a = 1 OR a = 5`
    * hulls to a ∈ [1, 5], any disjunct not mentioning a column
    * unbounds it. Kept as the Seq-shaped entry point for callers and
    * specs that want one conjunctive range list ([[readRange]]'s
    * input shape). */
  private[graft] def extractRanges(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Double, Double)] = {
    val dnf = extractDnf(e)
    if (dnf.isEmpty) return Nil
    val common = dnf.map(_.keySet).reduce(_ intersect _)
    common.toSeq.sorted.map { c =>
      val ivs = dnf.map(_(c))
      (c, ivs.map(_._1).min, ivs.map(_._2).max)
    }.filter { case (_, lo, hi) =>
      lo > Double.NegativeInfinity || hi < Double.PositiveInfinity }
  }

  /** Per-column bounds a single leaf comparison implies: folds
    * `col <op> literal` / `literal <op> col` comparisons into a
    * [lo, hi] interval (strict and non-strict alike — keeping one
    * boundary file extra is sound). Numeric literals read directly;
    * timestamp literals convert internal µs → the epoch SECONDS the
    * stats store; string literals encode into [[stringBound]]'s
    * enc-space. Any shape it does not recognize contributes nothing
    * (the empty, keep-everything map). */
  private def leafBounds(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Conj = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.types.{Decimal, TimestampType}
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      // the analyzer widens the ATTRIBUTE side of a mixed-type
      // comparison (int col vs long/double literal → Cast(col, wider)).
      // A lossless numeric up-cast is monotone and value-preserving in
      // the stats' double space, so the bound on the cast value IS a
      // bound on the raw column; anything else (string↔numeric, down-
      // casts) stays unextracted — conservative, never wrong
      case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) &&
          c.child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          c.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        attr(c.child)
      case _ => None
    }
    def lit(x: Expression): Option[Double] = x match {
      // BOTH timestamp flavors store internal µs and stats-encode as
      // epoch SECONDS (statEncoder's double cast). NTZ must be matched
      // EXPLICITLY: its internal Long would otherwise fall through to
      // the generic Number case below and read as a raw µs bound —
      // ~10^6 times too large, pruning every file under a `col >= ts`
      // predicate (wrong empty results, not just weak pruning).
      case Literal(v, TimestampType) => v match {
        case us: java.lang.Long => Some(us.toDouble / 1e6)
        case _ => None
      }
      case Literal(v, org.apache.spark.sql.types.TimestampNTZType) => v match {
        case us: java.lang.Long => Some(us.toDouble / 1e6)
        case _ => None
      }
      case Literal(v, org.apache.spark.sql.types.StringType) => v match {
        // string stats live in [[stringBound]]'s enc-space — encode the
        // literal the same way (monotone, so range tests stay sound)
        case s: org.apache.spark.unsafe.types.UTF8String =>
          Some(stringBound(s.toString))
        case _ => None
      }
      case Literal(v, _) => v match {
        case n: java.lang.Number => Some(n.doubleValue())
        case d: Decimal => Some(d.toDouble)
        case _ => None
      }
      case _ => None
    }
    val lo = scala.collection.mutable.Map.empty[String, Double]
    val hi = scala.collection.mutable.Map.empty[String, Double]
    def atLeast(c: String, v: Double): Unit = lo(c) = math.max(v, lo.getOrElse(c, Double.NegativeInfinity))
    def atMost(c: String, v: Double): Unit = hi(c) = math.min(v, hi.getOrElse(c, Double.PositiveInfinity))
    e match {
      case GreaterThanOrEqual(a, l) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) atLeast(c, v)
      case GreaterThan(a, l) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) atLeast(c, v)
      case LessThanOrEqual(a, l) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) atMost(c, v)
      case LessThan(a, l) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) atMost(c, v)
      case EqualTo(a, l) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) { atLeast(c, v); atMost(c, v) }
      case EqualTo(l, a) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) { atLeast(c, v); atMost(c, v) }
      // null-safe equality against a NON-null literal is plain equality
      // (a null literal selects null rows, which min/max stats cannot
      // see — lit() yields None there, so it constrains nothing)
      case EqualNullSafe(a, l) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) { atLeast(c, v); atMost(c, v) }
      case EqualNullSafe(l, a) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) { atLeast(c, v); atMost(c, v) }
      // IN-list: col ∈ {v…} implies min(v…) ≤ col ≤ max(v…) — only when
      // EVERY element is a recognized literal (one opaque element and
      // the bound no longer holds)
      case In(a, list) if attr(a).isDefined && list.nonEmpty =>
        val vs = list.flatMap(lit(_))
        if (vs.size == list.size)
          attr(a).foreach { c => atLeast(c, vs.min); atMost(c, vs.max) }
      // larger IN-lists optimize to InSet, which drops the Literal
      // wrappers — interpret the raw internal values BY THE ATTRIBUTE'S
      // TYPE (a raw Long under TimestampType is µs, not a number; any
      // uninterpretable element voids the bound)
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        val vs = hset.toSeq.map(v => (v, a.dataType) match {
          case (us: java.lang.Long, TimestampType) => Some(us.toDouble / 1e6)
          case (us: java.lang.Long,
              org.apache.spark.sql.types.TimestampNTZType) =>
            Some(us.toDouble / 1e6)
          case (s: org.apache.spark.unsafe.types.UTF8String,
              org.apache.spark.sql.types.StringType) =>
            Some(stringBound(s.toString))
          case (n: java.lang.Number, _) => Some(n.doubleValue())
          case (d: Decimal, _) => Some(d.toDouble)
          case _ => None
        })
        if (vs.forall(_.isDefined)) {
          val ds = vs.flatten
          atLeast(a.name, ds.min); atMost(a.name, ds.max)
        }
      // nullness predicates constrain the SYNTHETIC null-count keys
      // (recorded per stats column at write): IS NULL can only match
      // in a file with ≥1 null, IS NOT NULL in one with ≥1 non-null —
      // files without the stat (legacy, non-stats columns) are kept by
      // the ordinary absent-stats rule
      case IsNull(a) if attr(a).isDefined =>
        attr(a).foreach(c => atLeast(NullsKeyPrefix + c, 1.0))
      case IsNotNull(a) if attr(a).isDefined =>
        attr(a).foreach(c => atLeast(NonNullsKeyPrefix + c, 1.0))
      // literal-on-the-left comparison forms flip the bound
      case GreaterThanOrEqual(l, a) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) atMost(c, v)
      case GreaterThan(l, a) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) atMost(c, v)
      case LessThanOrEqual(l, a) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) atLeast(c, v)
      case LessThan(l, a) if attr(a).isDefined =>
        for (c <- attr(a); v <- lit(l)) atLeast(c, v)
      case _ => ()
    }
    (lo.keySet ++ hi.keySet).map { c =>
      c -> (lo.getOrElse(c, Double.NegativeInfinity),
        hi.getOrElse(c, Double.PositiveInfinity))
    }.toMap
  }

  /** The pruning decision behind [[readRange]] — the index's min/max
    * step on the given ranges — visible for tests: (files kept, total
    * files in the snapshot). */
  def pruneFiles(spark: SparkSession, table: String,
                 ranges: Seq[(String, Double, Double)],
                 version: Int = -1): (Seq[String], Int) = {
    val (files, _, stats, _) = snapshotAll(spark, table, version)
    (pruneDnf(files, stats, Seq(rangeConj(ranges))), files.size)
  }

  /** Whether the file range [mn, mx] may meet the constraint
    * [lo, hi]: true unless the two are provably disjoint. A NaN on
    * either side proves nothing — NaN compares false both ways — so it
    * never prunes. Spark orders NaN above every double and matches
    * `NaN = NaN`, which no [mn, mx] test can honor: a NaN-holding
    * file records max NaN, `k = NaN` extracts [NaN, NaN], and a NaN
    * source key makes the MERGE envelope's hi NaN. */
  private def mayOverlap(mn: Double, mx: Double, lo: Double, hi: Double): Boolean =
    !(mn > hi || mx < lo)

  /** Caller-given ranges as one conjunct (per-column intersection). */
  private def rangeConj(ranges: Seq[(String, Double, Double)]): Conj =
    ranges.foldLeft(Map.empty: Conj)((m, r) => andConj(m, Map(r._1 -> (r._2, r._3))))

  /** The manifest index's file-skipping decision over `files` for the
    * pushed filters `conds` (already renamed to logical columns):
    * min/max stats over the predicate's OR-capable DNF, then the
    * hidden-partition transform augmentation, then bucket ids, then
    * bloom sidecars — each step narrows the previous one's survivors.
    * Returns the kept files and, per step that ran, (mechanism, files
    * in, files kept). Sound by construction: a predicate implies each
    * of its conjuncts, so a file outside them holds no matching row. */
  private[sources] def skipFiles(spark: SparkSession, table: String,
      skip: Skipping, types: Map[String, DataType], files: Seq[String],
      conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : (Seq[String], Seq[(String, Int, Int)]) = {
    val steps = Seq.newBuilder[(String, Int, Int)]
    def step(name: String, in: Seq[String])(out: Seq[String]): Seq[String] = {
      steps += ((name, in.size, out.size)); out
    }
    val dnf = conds.map(extractDnf).foldLeft(Seq(Map.empty): Dnf)(andDnf)
    val byRange = step("min/max", files)(pruneDnf(files, skip.stats, dnf))
    val aug = transformDnfAugment(dnf, skip.transforms, types)
    val byTransform =
      if (aug == dnf) byRange
      else step("transform", byRange)(pruneDnf(byRange, skip.stats, aug))
    val eqDnf = conds.map(extractEqDnf).foldLeft(Seq(Map.empty): EqDnf)(andEqDnf)
    val byBucket = bucketDnfOf(spark, eqDnf, skip.transforms, types)
      .fold(byTransform)(bd =>
        step("bucket", byTransform)(pruneDnf(byTransform, skip.stats, bd)))
    val kept = skip.bloom.fold(byBucket)(cfg =>
      step("bloom", byBucket)(bloomPrune(spark, table, cfg, byBucket, eqDnf, types)))
    (kept, steps.result())
  }

  /** DNF pruning: a file survives iff SOME disjunct's every interval
    * intersects its stats (absent stats intersect everything). */
  private def pruneDnf(files: Seq[String],
                       stats: Map[String, Map[String, (Double, Double)]],
                       dnf: Dnf): Seq[String] =
    files.filter { f =>
      dnf.exists(_.forall { case (c, (lo, hi)) =>
        stats.get(f).flatMap(_.get(c)) match {
          case Some((mn, mx)) => mayOverlap(mn, mx, lo, hi)
          case None => true
        }
      })
    }

  /** The scan path → manifest-relative form, as a Column: everything
    * from the LAST `/data/` on is the relative path (data files sit at
    * `data/<uuid>/…` whatever the partition-dir depth; a table root
    * containing `/data/` itself still resolves, because the uuid dir's
    * own `/data/` is the final occurrence — partition VALUES cannot
    * smuggle one in, the writer %-escapes `/`). */
  private def relFileCol: Column = {
    import org.apache.spark.sql.functions.col
    // `_metadata.file_path` is the URI form — URL-encoded ON TOP of
    // the on-disk names the manifest records (Path.toString form,
    // verified: value `a}b` is `p=a}b` on disk but `p=a%7Db` here) —
    // so one masked URL-decode recovers the manifest's spelling;
    // without it any hive-escaped partition value made the relative
    // path never match the manifest and merge/deleteWhere silently
    // KEPT their victim files while adding the rewrite (duplicates)
    // fused + per-file memoized (r20, graft.functions.RelFilePath): the
    // built-in chain re-split and re-url_decoded the path PER ROW on
    // every merge/DV/delete rewrite read — the value is constant per
    // file (RelFilePathSpec pins equality with the chain).
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.RelFilePath(
      ColumnBridge.expression(col("_metadata.file_path"))))
  }

  /** Step 1: full data write under a fresh uuid dir — unreferenced (and
    * so invisible) until a manifest names it. Returns the relative
    * file list. With `partitionBy`, the write uses the Hive
    * `<col>=<value>/` layout and every file's partition values are
    * recorded as degenerate [v, v] stats ranges — partition pruning IS
    * stats pruning here, one mechanism, so equality/IN/range predicates
    * on partition columns prune through the same manifest machinery
    * and COMPOSE with data-column ranges. */
  private def writeData(spark: SparkSession, table: String, df0: DataFrame,
                        statsColumns: Seq[String] = Nil,
                        partitionBy: Seq[String] = Nil,
                        transformsOpt: Option[Seq[PartitionTransform]] = None,
                        physOverride: Option[StructType] = None,
                        inputBytes: Option[BigInt] = None)
      : (String, Seq[String], Map[String, Map[String, (Double, Double)]]) = {
    // refuse the reserved name BEFORE writing anything — a refused
    // batch must leave no garbage dir behind
    require(!df0.schema.names.exists(_.startsWith(ReservedStatsPrefix)),
      s"column names starting with '$ReservedStatsPrefix' are reserved " +
        "for the manifest's per-file metadata (sizes, null counts)")
    // __f / __ri are the engine's in-plan file/row tags (merge's file
    // tracking, deletion-vector anti-joins): a data column with either
    // name would be silently CLOBBERED by the tag derivation and then
    // dropped from vectored reads — refuse at the write, like the
    // stats prefix (review r10 finding)
    require(!df0.schema.names.exists(n => n == "__f" || n == "__ri"),
      "column names '__f' and '__ri' are reserved for the engine's " +
        "file/row-position tags")
    // hidden-partitioning targets absent from the batch are DERIVED
    // here, from the recorded transforms (or the commit-provided ones
    // when the layout is being replaced) — so every rewrite path
    // (merge, delete, compact, materialize) preserves the layout with
    // zero call-site cooperation: their row frames carry only source
    // columns, and the transform recomputes the target per row.
    val pts = transformsOpt.getOrElse(
      try partitionTransforms(spark, table)
      catch { case _: IllegalArgumentException => Nil })
    // UTC gate (ADVICE r10): the derive below and the stats pass both
    // evaluate session-zone expressions whose prune-side twins are
    // fixed-UTC — refuse a non-UTC writer BEFORE any data is written
    if (pts.exists(pt => df0.schema.find(_.name == pt.source)
          .exists(f => tzSensitiveTransform(pt.kind, f.dataType))) ||
        statsColumns.exists(c => df0.schema.find(_.name == c)
          .exists(_.dataType == org.apache.spark.sql.types.TimestampNTZType)))
      requireUtcSession(spark,
        s"writing $table (calendar transform / TIMESTAMP_NTZ stats)")
    import org.apache.spark.sql.functions.{col => fcol}
    val df = pts.foldLeft(df0) { (d, pt) =>
      if (partitionBy.contains(pt.target) && !d.columns.contains(pt.target)
          && d.columns.contains(pt.source))
        d.withColumn(pt.target,
          transformCol(pt, fcol(pt.source), d.schema(pt.source).dataType))
      else d
    }
    // column mapping: files store PHYSICAL names, at every depth. The
    // mapping comes from the schema this batch JOINS (the head's
    // recorded schema) — except a schema-REPLACING write (commit
    // Overwrite), which records the batch's own fresh schema and
    // passes an empty physOverride. Hidden transform targets and
    // evolution-added columns are absent from the mapping → identity.
    // Nested renames ride the same positional struct cast the read
    // side uses (readFiles `mapped`), so write and read invert each
    // other exactly.
    val mapSch: Option[StructType] = physOverride.orElse(
      try snapshotSchema(spark, table)
      catch { case _: IllegalArgumentException => None })
    // IDENTITY columns are ALWAYS stats-tracked (r16): the publish path
    // syncs the allocation high-water mark from the recorded per-file
    // ranges, so a write that skipped them would stall the mark and
    // risk duplicate allocation. Sourced from the recorded schema AND
    // the batch's own field metadata (a schema-replacing overwrite
    // carries the specs on its aliases). Zero cost without identity.
    val statsCols2 = (statsColumns ++
      (mapSch.toSeq.flatMap(_.fields) ++ df0.schema.fields)
        .filter(f => ColumnSpecs.identityOf(f).isDefined).map(_.name)).distinct
    // top-level logical → physical, for the stats pass below (stats
    // keys are top-level column names; nested fields carry no stats)
    val physOf: Map[String, String] = mapSch.map(_.fields.collect {
      case f if physName(f) != f.name => f.name -> physName(f)
    }.toMap).getOrElse(Map.empty)
    val dfW = mapSch.filter(hasMapping) match {
      case None => df
      case Some(ms) =>
        val fieldOf = ms.fields.map(f => f.name -> f).toMap
        df.select(df.columns.map { c =>
          fieldOf.get(c) match {
            case Some(f) =>
              (if (hasMapping(f.dataType))
                 fcol(c).cast(relaxNulls(physType(f.dataType)))
               else fcol(c)).as(physName(f))
            case None => fcol(c)
          }
        }.toIndexedSeq: _*)
    }
    val uuid = java.util.UUID.randomUUID().toString
    val dataDir = new Path(table, s"data/$uuid")
    // one file per minPartitionSize of input, not one per task (see
    // [[sizedPartitions]]); a declared layout or a large write is
    // written as the caller's frame partitions it
    val sized = sizedPartitions(spark, df0, inputBytes)
    val w = sized.fold(dfW)(dfW.coalesce).write.mode(SaveMode.ErrorIfExists)
    // partition dirs spell the column's PHYSICAL name (r13): a renamed
    // identity partition column keeps ONE dir grammar across its whole
    // lineage — old and new files agree on the `<phys>=<value>` key,
    // and only the recorded schema knows the logical spelling.
    // Transform targets are absent from the mapping and pass through.
    val physPartBy = partitionBy.map(c => physOf.getOrElse(c, c))
    // an uncoalesced write keeps AQE's parallelism-first sizing:
    // size-first coalescing around it measured flat in a paired
    // AbBench at sf0.1 (SCALE.md "Write sizing")
    (if (partitionBy.nonEmpty) w.partitionBy(physPartBy: _*) else w)
      .parquet(dataDir.toString)
    val f = fs(spark, dataDir)
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s)
        else Nil)
    // manifest-relative form via the same last-/data/ convention as
    // [[relFileCol]] (URI relativize is scheme-sensitive; the string
    // search is not) — the LAST occurrence, overlaps included, so a
    // table rooted at `…/data` records `data/<uuid>/…`, not
    // `data/data/<uuid>/…`
    def relOf(p: Path): String = {
      val s = p.toString
      "data/" + s.substring(s.lastIndexOf("/data/") + 6)
    }
    val newStatuses = walk(dataDir)
    val sizeOfNew: Map[String, Long] = newStatuses
      .map(s => (relOf(s.getPath), s.getLen)).toMap
    // absolute path per new file — the footer fast path below reads
    // the just-written footers without a second directory walk
    val absOfNew: Map[String, Path] = newStatuses
      .map(s => (relOf(s.getPath), s.getPath)).toMap
    val files = sizeOfNew.keysIterator.toSeq.sorted
    // partition values, parsed from each file's own path — free
    // (driver-side, one entry per new file) and exact: a partition
    // file's min = max = its value by construction
    val partStats: Map[String, Map[String, (Double, Double)]] =
      if (partitionBy.isEmpty) Map.empty
      else {
        val types = df.schema.map(x => (x.name, x.dataType)).toMap
        // the dir key is the PHYSICAL spelling — stats record LOGICAL
        val logicalOf: Map[String, String] = physOf.map(_.swap)
        files.map { rel =>
          rel -> rel.split("/").drop(2).dropRight(1).flatMap { seg =>
            val i = seg.indexOf('=')
            if (i <= 0) None
            else {
              // rel came from Path.toString — the ON-DISK names, one
              // hive-escape layer only (verified: value `a%3Ab` is
              // `a%253Ab` here, decoding twice would corrupt it to
              // `a:b` and record stats that prune the live file) —
              // unescape ONCE; the URI layer exists only in
              // _metadata.file_path (see readFiles/relFileCol)
              val k0 = seg.substring(0, i)
              val (k, raw) =
                (logicalOf.getOrElse(k0, k0), unescapePath(seg.substring(i + 1)))
              if (raw == DefaultPartition) None
              else partitionValueBound(raw, types.get(k)).map(v => k -> (v, v))
            }
          }.toMap
        }.toMap
      }
    // per-file (min, max) of the requested stats columns, in ONE pass
    // over just the new files (the footer-stat collection Delta does at
    // write time; at 100 TB this touches the new batch, never the other
    // 100k files). The ranges land as doubles: numerics via cast,
    // timestamps as epoch seconds (time-boxed readRange uses the same
    // cast), STRINGS through the order-preserving 6-byte-prefix
    // encoding ([[stringBound]] — min/max of a monotone encoding bound
    // every row's encoding, so intersection tests in enc-space are
    // sound); any other type yields null ranges and is never pruned on.
    //
    // Bloom indexing rides the SAME per-file pass when the table
    // configures it: every writer — append, MERGE rewrite, compaction —
    // indexes its new files because the config is read from the head
    // manifest HERE, with zero call-site cooperation (a config racing
    // in mid-write just leaves this batch unindexed: unprunable, never
    // wrong).
    val bloomCfg: Option[BloomConfig] =
      try bloomConfig(spark, table)
      catch { case _: IllegalArgumentException => None } // no snapshot yet
    val bloomCols = bloomCfg.toSeq.flatMap(_.cols)
      .filter(df.schema.names.contains).filterNot(partitionBy.contains)
    val scanStats: Map[String, Map[String, (Double, Double)]] =
      if ((statsCols2.isEmpty && bloomCols.isEmpty) || files.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{col, max, min}
        val present = df.schema.map(_.name).toSet
        // partition columns already carry exact path-derived ranges —
        // and do not exist inside the data files to scan
        val cols = statsCols2.filter(present).filterNot(partitionBy.contains)
        // a column name carrying a quote, backslash, or newline is
        // refused at the write: builds before the root codec read the
        // stats block with line regexes and would misread the snapshot
        cols.foreach(c => require(!c.exists(ch => ch == '"' || ch == '\\' || ch == '\n' || ch == '\r'),
          s"stats column name '$c' contains characters the manifest " +
            "grammar cannot carry (quote, backslash, or newline)"))
        if (cols.isEmpty && bloomCols.isEmpty) Map.empty
        else footerScanStats(spark, cols, files, absOfNew, df.schema, physOf,
          bloomCols.nonEmpty).getOrElse {
          // only columns with a sound stats encoding get (min, max) —
          // an unsupported type (binary, array, …) records no range
          // instead of failing the commit after the data write. NULL
          // counts need no encoding, so EVERY stats column gets them
          // (IS NULL pruning works on a binary column too).
          import org.apache.spark.sql.functions.{count, lit, sum, when}
          // the pass re-reads the files just written, which store
          // PHYSICAL names — reference those, alias/key by LOGICAL
          def pcol(c: String) = col(physOf.getOrElse(c, c))
          val encoded = cols.flatMap(c =>
            statEncoder(df.schema(c).dataType, pcol(c)).map(c -> _))
          val cols2 = encoded.map(_._1)
          import org.apache.spark.sql.functions.{array_distinct, collect_list, flatten, when => fwhen}
          val aggs = encoded.flatMap { case (c, e) => Seq(
            min(e).as(s"__mn_$c"),
            max(e).as(s"__mx_$c")) } ++
            cols.flatMap(c => Seq(
              sum(when(pcol(c).isNull, lit(1L)).otherwise(lit(0L))).as(s"__nc_$c"),
              count(pcol(c)).as(s"__nn_$c"))) ++
            bloomCols.map(c => array_distinct(flatten(collect_list(
              fwhen(pcol(c).isNotNull,
                bloomPosCol(pcol(c), bloomCfg.get.bits, bloomCfg.get.k)))))
              .as(s"__bl_$c")) :+
            count(lit(1)).as("__rc") // per-file row count, free here
          val rows = spark.read.parquet(dataDir.toString)
            .groupBy(relFileCol.as("__f"))
            .agg(aggs.head, aggs.tail: _*)
            .collect() // bounded: one row per NEW file
          // bloom sidecar for THIS uuid's files, written before any
          // manifest can reference the uuid — a referenced uuid's
          // sidecar is complete or absent, never torn
          if (bloomCols.nonEmpty) {
            val bc = bloomCfg.get
            val node = RootCodec.mapper.createObjectNode()
            node.put("bits", bc.bits); node.put("k", bc.k)
            val bl = node.putObject("blooms")
            rows.foreach { r =>
              val fobj = bl.putObject(r.getAs[String]("__f"))
              bloomCols.foreach { c =>
                val pos = r.getAs[scala.collection.Seq[Long]](s"__bl_$c")
                val bs = new java.util.BitSet()
                if (pos != null) pos.foreach(p => bs.set(p.toInt))
                fobj.put(c,
                  java.util.Base64.getEncoder.encodeToString(bs.toByteArray))
              }
            }
            val sp = new Path(bloomsDir(table), s"$uuid.json")
            val sfs = fs(spark, sp)
            val out = sfs.create(sp, false) // uuid name: never contended
            try out.write(RootCodec.mapper.writeValueAsBytes(node))
            finally out.close()
          }
          rows.map { r =>
              r.getAs[String]("__f") -> (cols2.flatMap { c =>
                val mn = r.getAs[Any](s"__mn_$c")
                val mx = r.getAs[Any](s"__mx_$c")
                if (mn == null || mx == null) None
                else Some(c -> (mn.asInstanceOf[Double], mx.asInstanceOf[Double]))
              }.toMap ++ cols.flatMap { c =>
                val nc = r.getAs[Long](s"__nc_$c").toDouble
                val nn = r.getAs[Long](s"__nn_$c").toDouble
                Seq(NullsKeyPrefix + c -> (nc, nc),
                  NonNullsKeyPrefix + c -> (nn, nn))
              }.toMap + {
                val rc = r.getAs[Long]("__rc").toDouble
                RowsKey -> (rc, rc)
              })
            }.toMap
        }
      }
    // every new file's byte size rides in the stats map as a reserved
    // degenerate range (SizeKey, (len, len)) — recorded at write time
    // like Delta's log does, so maintenance planning ([[compactSmall]])
    // never stats files. The reserved name is refused as a data column
    // above; carried files keep their entry through the same
    // stats-carry paths every rewrite already uses.
    //
    // A file the stats pass grouped ZERO rows for (an empty part file,
    // e.g. a delete's empty survivor) still gets its row count — (0, 0)
    // — or [[rowCount]] would refuse the whole snapshot over a file
    // that trivially holds nothing.
    val statsPassRan = scanStats.nonEmpty ||
      ((statsCols2.filter(df.schema.names.contains)
          .exists(!partitionBy.contains(_)) || bloomCols.nonEmpty)
        && files.nonEmpty)
    val stats = files.iterator.map { fn =>
      val scanned = scanStats.getOrElse(fn,
        if (statsPassRan) Map(RowsKey -> (0.0, 0.0))
        else Map.empty[String, (Double, Double)])
      fn -> (scanned ++ partStats.getOrElse(fn, Map.empty) +
        (SizeKey -> (sizeOfNew(fn).toDouble, sizeOfNew(fn).toDouble)))
    }.toMap
    (uuid, files, stats)
  }

  /** The partition count a write of `df` is coalesced to, or None to
    * write it as the frame partitions it. Without a shuffle for AQE to
    * coalesce, a write runs one task — and lands one file — per input
    * partition, so a 1,000-row batch became `defaultParallelism` files
    * and a MERGE as many files as its unioned scans had partitions.
    * This applies Spark's own parallelism-first floor to the write:
    * `ceil(inputBytes / adaptive.coalescePartitions.minPartitionSize)`
    * partitions, used only while that is below `defaultParallelism`.
    * `inputBytes` is the caller's figure (rewrites: see
    * [[rewriteBytes]]) or else the optimized plan's `sizeInBytes`; an
    * unknown estimate is Long.MaxValue there and so never coalesces.
    * A frame whose root declares its layout — repartition, coalesce,
    * rebalance, or a sort (coalescing would interleave its sorted
    * runs) — is left as declared, and so is a frame allocating
    * IDENTITY values: [[graft.functions.NextIdentityValue]] interleaves
    * its ordinals over the task count, which a coalesce would shrink
    * below the partition count and so collide. */
  private def sizedPartitions(spark: SparkSession, df: DataFrame,
                              inputBytes: Option[BigInt]): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      RebalancePartitions, Repartition, RepartitionByExpression, Sort}
    val plan = df.queryExecution.analyzed
    plan match {
      case _: Repartition | _: RepartitionByExpression |
           _: RebalancePartitions | _: Sort => None
      case _ if plan.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[graft.functions.NextIdentityValue]))) => None
      case _ =>
        val bytes = inputBytes.getOrElse(planBytes(df))
        val unit = BigInt(spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
        val k = (bytes + unit - 1) / unit
        if (k < spark.sparkContext.defaultParallelism) Some(k.toInt.max(1))
        else None
    }
  }

  /** A rewrite's input size for [[sizedPartitions]], from the manifest:
    * the recorded bytes of the `rewritten` files plus `sourceBytes`
    * (the plan estimate of any new rows). Catalyst cannot give this —
    * its estimate of the rewrite's join is the product of both sides.
    * A rewritten file without a recorded size makes the total unknown
    * (Long.MaxValue, the plan-stats convention), which never coalesces. */
  private def rewriteBytes(stats: Map[String, Map[String, (Double, Double)]],
                           rewritten: Iterable[String],
                           sourceBytes: BigInt = 0): BigInt = {
    val sizes = rewritten.iterator.map(f => stats.get(f).flatMap(_.get(SizeKey))).toSeq
    if (sizes.exists(_.isEmpty)) BigInt(Long.MaxValue)
    else sizes.flatten.map(r => BigInt(r._1.toLong)).sum + sourceBytes
  }

  private def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Hive path-name unescape (`%XX` → char): the writer %-escapes
    * special characters — `/`, `:`, control chars — in partition
    * values; reversing it recovers the exact value for the stats
    * encoding. */
  private[sources] def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** A partition VALUE string → the stats' double enc-space, typed by
    * the table column: strings through [[stringBound]] (matching what
    * [[leafBounds]] does to string literals), dates as epoch DAYS
    * (matching DateType literals' internal day-int), numerics
    * directly. Unparseable or untyped values record no stats — the
    * file is simply never pruned on that column. */
  private def partitionValueBound(raw: String, dt: Option[DataType]): Option[Double] = {
    import org.apache.spark.sql.types._
    dt.flatMap {
      case StringType => Some(stringBound(raw))
      case DateType => scala.util.Try(
        java.time.LocalDate.parse(raw).toEpochDay.toDouble).toOption
      case _: NumericType => raw.toDoubleOption
      case BooleanType => raw.toBooleanOption.map(b => if (b) 1.0 else 0.0)
      case _ => None
    }
  }

  /** The dir value Hive-style writers give a null partition value. */
  private[sources] val DefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Step 3: exclusive publish of `files` as version `head + 1`.
    * True iff this writer won the slot. */
  private def tryPublish(spark: SparkSession, table: String, head: Int,
                         files: Seq[String], tag: String,
                         schema: Option[StructType] = None,
                         stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
                         partitionBy: Seq[String] = Nil,
                         constraints: Option[Map[String, String]] = None,
                         op: String = "write",
                         tombstones: Option[Seq[(String, Seq[String])]] = None,
                         reuseSegmentsOf: Option[Int] = None,
                         txn: Option[(String, Long)] = None,
                         txnExtra: Seq[(String, Long)] = Nil,
                         dvs: Option[Map[String, Seq[Long]]] = None,
                         bloom: Option[Option[BloomConfig]] = None,
                         transforms: Option[Seq[PartitionTransform]] = None,
                         ingestSegs: Option[Seq[String]] = None)
      : Boolean = {
    val fileSet = files.toSet
    val live = stats.filter { case (f, m) => m.nonEmpty && fileSet.contains(f) }
    // IDENTITY high-water-mark sync (r16): every publish advances each
    // identity column's recorded mark to the furthest value (in step
    // direction) the snapshot's per-file stats carry — the SAME ranges
    // data skipping prunes on, so the sync is a driver-side fold over
    // metadata already in hand, zero extra passes. Monotone by
    // construction (never moves backward, never resets on overwrite —
    // ANSI identity may gap, never reuse), and self-healing: explicit
    // values written through any path (BY DEFAULT inserts, MERGE,
    // the DataFrame face) advance the mark the moment their stats
    // land, the behavior Delta needs SYNC IDENTITY to restore.
    // Stats ride as Double — exact for longs below 2^53; past that the
    // bound pads by the double's ulp so a rounded-DOWN max can never
    // cause re-allocation (gaps are legal, duplicates are not).
    val schemaSynced = schema.map { s =>
      StructType(s.fields.map { f =>
        ColumnSpecs.identityOf(f) match {
          case Some(is) =>
            val ranges = live.valuesIterator.flatMap(_.get(f.name)).toSeq
            if (ranges.isEmpty) f
            else {
              val b = if (is.step > 0) ranges.map(_._2).max else ranges.map(_._1).min
              if (b.isNaN) f
              else {
                val pad =
                  if (math.abs(b) < 9007199254740992.0) 0L
                  else math.ulp(b).toLong + 1L
                val bound =
                  if (is.step > 0) Math.addExact(math.ceil(b).toLong, pad)
                  else Math.subtractExact(math.floor(b).toLong, pad)
                val next = is.hwm match {
                  case Some(h) =>
                    if (is.step > 0) math.max(h, bound) else math.min(h, bound)
                  case None => bound
                }
                if (is.hwm.contains(next)) f else ColumnSpecs.withHwm(f, next)
              }
            }
          case None => f
        }
      })
    }
    // a column name with a quote, backslash or newline is refused:
    // builds before the root codec read roots with line regexes that
    // would misread it
    partitionBy.foreach(c => require(!c.exists(ch =>
        ch == '"' || ch == '\\' || ch == '\n' || ch == '\r'),
      s"partition column name '$c' contains characters the manifest " +
        "grammar cannot carry (quote, backslash, or newline)"))
    val parent = if (head == 0) RootRecord(0) else root(spark, table, head)
    // commit wall-clock, forced STRICTLY past the parent's so
    // timestamp-as-of resolution is total even for same-millisecond
    // commit bursts (the Delta in-commit-timestamp monotonicity rule)
    val commitMs = math.max(System.currentTimeMillis(),
      parent.commitMs.getOrElse(0L) + 1)
    // CHECK constraints are table metadata: every commit CARRIES the
    // parent's set unless the caller explicitly replaces it
    // (addConstraint/dropConstraint) — like the Delta metadata action,
    // so a constraint added once binds every later writer with zero
    // call-site cooperation.
    // streaming-txn watermarks: carried like constraints, with this
    // commit's (appId, version) replacing the appId's previous entry —
    // the atomic record that makes a replayed micro-batch detectable
    val txns = parent.txns ++ txnExtra ++ txn
    val cons = constraints.getOrElse(parent.checks)
    // Lazy-delete tombstones (pred SQL → targeted files): carried
    // like constraints unless explicitly replaced, with each entry's
    // target list pruned to files still in THIS snapshot — a rewrite
    // of a targeted file applied the tombstone during its derive, so
    // the shrinking list is self-cleaning; an empty list drops the
    // entry (fully materialized).
    val tombs = tombstones.getOrElse(parent.tombstones)
      .map { case (p, ts) => (p, ts.filter(fileSet.contains)) }
      .filter(_._2.nonEmpty)
    // deletion vectors: carried like tombstones unless replaced, each
    // entry pruned to files still in THIS snapshot (a rewrite of a
    // vectored file applied its vector during the derive — the
    // departing file takes its entry with it)
    val dvsLive = dvs.getOrElse(parent.dvs).filter { case (f, os) =>
      os.nonEmpty && fileSet.contains(f) }
    // bloom index config and partition transforms: carried like
    // constraints unless replaced (addBloom/dropBloom; overwrite,
    // restore and clone pass their own)
    val bloomVal = bloom.getOrElse(parent.bloom)
    val ptVal = transforms.getOrElse(parent.transforms)
    // ingest ledgers: PERMANENT memory — carried verbatim by every
    // publish (compaction must not forget what was ingested), never
    // pruned to the file set
    val ingVal = ingestSegs.getOrElse(parent.ingestSegs)
    require(op.matches("[a-z][a-z-]*"),
      s"op '$op' is not a manifest-safe identifier")
    val target = manifestPath(table, head + 1)
    // The temp name must be unique PER PUBLISH ATTEMPT, not per (tag,
    // slot): metadata-only ops derive their tag from the operation's
    // NAME (constraint/column name, a 16-char predicate prefix), so two
    // concurrent publishers at the same head can share a tag — with a
    // shared temp path, writer B's create(overwrite=true) replaces
    // writer A's body before A links it into the slot, and A publishes
    // B's manifest while reporting its own commit as successful (a
    // silently-lost tombstone/constraint). The tag stays in the name
    // for debuggability only; the uuid carries the uniqueness.
    val tmp = new Path(manifestDir(table),
      s".tmp-$tag-${java.util.UUID.randomUUID().toString.take(8)}-${head + 1}.json")
    val f = fs(spark, target)
    // Commit-point safety gate (ADVICE r5): the non-local branch below
    // is check-then-act (exists + rename). That is atomic-exclusive
    // ONLY where rename refuses an existing destination (HDFS-class);
    // on S3A-class object stores two writers can both pass the exists
    // check and the copy-based rename clobbers. Refuse those schemes
    // unless the caller explicitly opts in (accepting last-writer-wins
    // torn races) — the real fix there is a conditional PUT
    // (If-None-Match) or a commit coordinator, which the sandbox's
    // Hadoop FS API does not expose. Checked BEFORE any segment write
    // so a refused scheme leaves zero garbage behind.
    val isLocal = f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (!isLocal)
      requireAtomicPublish(
        Option(target.toUri.getScheme).getOrElse(f.getScheme),
        spark.sparkContext.hadoopConfiguration
          .getBoolean("graft.manifest.allowNonAtomicPublish", false))
    // ---- file-list layout: inline (small tables, the legacy shape)
    // or segmented (see the segmentation block comment above). A table
    // crosses into segments the first time a commit exceeds the target
    // and stays there; segment REUSE candidates are the parent's
    // segments plus — for by-reference ops like restore — a donor
    // version's, so those stay O(root) instead of O(files).
    val segTarget = math.max(1, spark.sparkContext.hadoopConfiguration
      .getInt(SegmentFilesKey, 1000))
    val parentSegs = parent.segments
    val donorSegs = reuseSegmentsOf.toSeq.filter(_ > 0)
      .flatMap(v => root(spark, table, v).segments)
    val segmented = files.nonEmpty &&
      (files.size > segTarget || parentSegs.nonEmpty || donorSegs.nonEmpty)
    var newSegRefs = Seq.empty[String]
    val segmentRefs =
      if (!segmented) Nil
      else {
        // a candidate segment is carried by reference iff every file in
        // it is in this snapshot with IDENTICAL stats and not already
        // covered (parent and donor lists can overlap)
        var covered = Set.empty[String]
        val carried0 = (parentSegs ++ donorSegs).distinct
          .map(r => r -> segmentEntries(spark, table, r))
          .filter { case (_, entries) =>
            val ok = entries.nonEmpty && entries.forall { case (p, st) =>
              fileSet.contains(p) && !covered(p) &&
                live.getOrElse(p, Map.empty[String, (Double, Double)]) == st
            }
            if (ok) covered ++= entries.map(_._1)
            ok
          }
        // coalesce: appends leave one small segment per commit; once
        // more than 8 under-half-full ones accumulate, demote them so
        // their files repack into full segments (amortized O(1)/file)
        val small = carried0.filter(_._2.size < segTarget / 2).map(_._1).toSet
        val carried = if (small.size > 8)
          carried0.filterNot(c => small(c._1)) else carried0
        val coveredFinal = carried.iterator.flatMap(_._2.map(_._1)).toSet
        val remaining = files.filterNot(coveredFinal)
        // PARTITION-ALIGNED packing (r12): order new files by their
        // hive partition dirs (path segments between the uuid and the
        // file name) before chunking, so each segment covers a
        // CONTIGUOUS partition-value range instead of uuid-interleaved
        // values. A partition-scoped delete then fails the carry rule
        // only for the few segments its value lives in — on a 100k-file
        // table with 1k partition values, ~1 segment rewritten instead
        // of all 100 — while segment COUNT stays files/segTarget (one
        // small segment per value would blow the root up instead).
        // Flat tables sort by bare path, same behavior as before;
        // pre-alignment segments stay value-interleaved until a
        // rewrite repacks them (no flag day).
        val alignKey: String => String =
          rel => rel.split("/").drop(2).dropRight(1).mkString("/")
        newSegRefs = remaining.sortBy(r => (alignKey(r), r))
          .grouped(segTarget).map { chunk =>
          writeSegment(spark, table, chunk.map(p =>
            p -> live.getOrElse(p, Map.empty[String, (Double, Double)])))
        }.toSeq
        carried.map(_._1) ++ newSegRefs
      }
    // required-feature list, derived from what this root ACTUALLY
    // carries (never from the parent's list — a feature whose last
    // trace leaves the snapshot drops its gate with it, e.g. a compact
    // clearing every DV). "externs" is table-level state (the clone
    // ledger, consulted by every file resolution), so any publish on a
    // ledgered table carries it.
    val features = Seq(
      segmented -> "segments",
      (externRoots(spark, table).nonEmpty) -> "externs",
      dvsLive.nonEmpty -> "dvs",
      tombs.nonEmpty -> "tombstones",
      ptVal.nonEmpty -> "transforms",
      txns.nonEmpty -> "txn",
      bloomVal.nonEmpty -> "blooms",
      ingVal.nonEmpty -> "ingest",
      cons.nonEmpty -> "checks",
      // a mapping-bearing schema is unreadable to a mapping-ignorant
      // era (it would surface nulls for every renamed column) — the
      // derived-per-root rule applies here too: a later overwrite
      // recording a mapping-free schema drops the gate with it
      schema.exists(hasMapping) -> "colmap"
    ).collect { case (true, f) => f }
    // per-version rollup counters (r14): file/byte totals and the
    // file-set diff vs the parent, recorded ONCE at publish so
    // DESCRIBE HISTORY is O(versions) ROOT parses at any table size —
    // without them, history() on a 100k-file × 50-version table
    // re-derives 5M file entries driver-side. The parent set comes
    // from the caches the publisher just warmed deriving its own file
    // list, so this costs a set-diff, not extra I/O. Legacy roots
    // without the key fall back to the full parse per version.
    val parentFileSet = filesAndStats(spark, table, parent)._1.toSet
    val body = RootCodec.encode(RootRecord(head + 1, Some(op), Some(commitMs),
      Some(Rollup(fileSet.size, live.valuesIterator.flatMap(_.get(SizeKey))
        .map(_._1.toLong).sum, (fileSet -- parentFileSet).size,
        (parentFileSet -- fileSet).size)),
      features, txns, cons, tombs, dvsLive, bloomVal, ptVal, ingVal, partitionBy,
      schemaSynced, if (segmented) Map.empty else live, segmentRefs,
      if (segmented) Nil else files))
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    beforePublishLink()
    val won = f match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // POSIX rename() overwrites silently — link(2) is the local
        // atomic-exclusive primitive (EEXIST exactly when a concurrent
        // writer, in ANY process, already owns the slot)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case _ =>
        // HDFS-class: rename refuses an existing destination atomically
        !f.exists(target) && f.rename(tmp, target)
    }
    f.delete(tmp, false)
    // a lost race's freshly written segments are garbage on the losing
    // line — reclaim them now (carried ones belong to the parent/donor)
    if (!won) newSegRefs.foreach(r =>
      f.delete(new Path(manifestDir(table), r), false))
    won
  }

  /** The publish-gate decision (visible for tests): schemes whose
    * rename refuses an existing destination atomically may take the
    * exists+rename branch; object-store schemes (s3a, gs, abfs, …)
    * have copy-based renames where two writers can both pass the
    * exists check — refused unless the caller opts into
    * single-writer-only semantics. */
  private[graft] def requireAtomicPublish(scheme: String, optIn: Boolean): Unit =
    require(Set("hdfs", "webhdfs", "viewfs", "file").contains(scheme) || optIn,
      s"manifest publish on scheme '$scheme' has no atomic-exclusive " +
        "rename: concurrent writers could clobber the commit point. Use " +
        "an HDFS-class store, or set graft.manifest.allowNonAtomicPublish" +
        "=true to accept single-writer-only semantics on this table")

  /** Commit `df` as the next version. `SaveMode.Append` unions the new
    * files with the head snapshot's (recomposed on a lost race);
    * `SaveMode.Overwrite` replaces the snapshot (a lost race retries
    * into the next slot — last-writer-wins is what overwrite MEANS;
    * conditional callers use [[upsert]]/[[deleteWhere]], which
    * re-derive instead). Returns the committed version number. */
  def commit(spark: SparkSession, table: String, df: DataFrame,
             mode: SaveMode = SaveMode.Append, maxAttempts: Int = 50,
             mergeSchema: Boolean = false,
             statsColumns: Seq[String] = Nil,
             partitionBy: Seq[String] = Nil,
             txn: Option[(String, Long)] = None,
             txnExtra: Seq[(String, Long)] = Nil,
             constraintsOverride: Option[Map[String, String]] = None,
             identityBase: Map[String, Long] = Map.empty): Int = {
    // idempotence gate, before any data is written: a replayed batch
    // whose (appId, version) is already recorded leaves zero garbage
    txn.foreach { case (app, v) =>
      val head0 = currentVersion(spark, table)
      if (txnVersion(spark, table, app, head0).exists(_ >= v)) return head0 }
    // partitioning discipline: one layout per snapshot LINE — an
    // append inherits the table's recorded partition columns when the
    // caller passes none, and is refused when it names different ones
    // (a mixed flat/partitioned snapshot would make Spark's partition
    // discovery fail on read); overwrite replaces the layout like it
    // replaces the schema.
    val headPartBy = partitionColumns(spark, table)
    val headTransforms = partitionTransforms(spark, table)
    // hidden partitioning: a partitionBy entry may be a TRANSFORM —
    // days(c) / bucket(n, c) / truncate(w, c) — whose derived target
    // becomes the layout column; plain names stay identity columns
    val parsedSpec = partitionBy.map(p => (p, parseTransform(p)))
    val reqTransforms = parsedSpec.flatMap(_._2)
    val reqPartBy = parsedSpec.map { case (p, t) => t.fold(p)(_.target) }
    val (partBy, transforms) =
      if (mode == SaveMode.Append && partitionBy.isEmpty)
        (headPartBy, headTransforms)
      else (reqPartBy, reqTransforms)
    if (mode == SaveMode.Append && currentVersion(spark, table) > 0)
      require(partBy == headPartBy && transforms == headTransforms,
        s"append on $table with layout ($partBy, $transforms) but the " +
          s"table is laid out as ($headPartBy, $headTransforms) — " +
          "overwrite to change the layout")
    val transformed = transforms.map(_.target).toSet
    partBy.filterNot(transformed).foreach(c =>
      require(df.schema.map(_.name).contains(c),
        s"partition column '$c' is not in the batch schema"))
    transforms.foreach { pt =>
      require(df.schema.map(_.name).contains(pt.source),
        s"transform source column '${pt.source}' is not in the batch schema")
      require(!df.schema.map(_.name).contains(pt.target),
        s"derived layout column '${pt.target}' collides with a batch column")
      // type discipline: the write-side expression and the prune-side
      // stats mapping must agree on ONE numeric space. A string source
      // would be written through cast("double") but pruned through the
      // stringBound prefix encoding — two incompatible spaces whose
      // intersection test prunes LIVE files (review r10 finding) —
      // so unsupported source types are refused at the commit.
      import org.apache.spark.sql.types._
      val st = df.schema(pt.source).dataType
      val ok = pt.kind match {
        case "bucket" => true // hashes any type, never range-mapped
        case "truncate" => st.isInstanceOf[NumericType]
        case _ => st == TimestampType || st == TimestampNTZType ||
          st == DateType
      }
      require(ok, s"${pt.kind}(${pt.source}): source type $st has no " +
        "sound prune mapping (time transforms need timestamp/date, " +
        "truncate needs a numeric)")
    }
    // schema enforcement (the Delta rule): an append whose column
    // name/type set differs from the table's would leave the snapshot
    // a mixed-schema parquet union — readers silently drop or null the
    // divergent columns. Fail the writer instead; overwrite replaces
    // the schema by definition and stays unchecked. Validated INSIDE
    // the publish loop against the CURRENT head (ADVICE r5): a
    // concurrent Overwrite can change the schema between attempts, and
    // a lost-race recompose must not publish a mixed-schema snapshot
    // the pre-write check happened to miss. The recorded snapshot
    // schema is the source of truth; only legacy tables fall back to
    // one footer read (enforcement keeps snapshots homogeneous, so at
    // 100 TB this never touches the other 100k files).
    //
    // `mergeSchema = true` is the Delta evolution rule: an append may
    // ADD columns (the widened schema is recorded; files predating a
    // column read it as null) and may OMIT existing ones (nulled the
    // same way) — but may never RETYPE a shared column, which would
    // corrupt both old and new reads.
    def baseSchemaOf(head: Int, base: Seq[String]): Option[StructType] =
      snapshotSchema(spark, table, head).orElse(base.headOption.map(f =>
        spark.read.parquet(
          dataPath(externRoots(spark, table), table, f).toString).schema))
    def widened(head: Int, base: Seq[String]): StructType =
      baseSchemaOf(head, base) match {
        case None => df.schema // first commit constrains nothing
        case Some(have) =>
          val haveTypes = have.map(x => (x.name, x.dataType)).toMap
          if (mergeSchema) {
            df.schema.foreach(f => haveTypes.get(f.name).foreach(t =>
              require(sameType(t, f.dataType),
                s"append on $table would retype column ${f.name}: " +
                  s"table has $t, batch has ${f.dataType} — evolution may " +
                  "only add columns, never change them")))
            // column mapping: an evolution-added name must not collide
            // with an existing column's PHYSICAL storage name (a
            // renamed column's old spelling) — two logical columns
            // would read the same bytes
            val phys = have.fields.map(physName).toSet
            df.schema.filterNot(f => haveTypes.contains(f.name)).foreach(f =>
              require(!phys.contains(f.name),
                s"evolved column '${f.name}' is the physical storage of an " +
                  "existing (renamed) column — use addColumn(freshStorage = true)"))
            StructType(have.fields ++
              df.schema.filterNot(f => haveTypes.contains(f.name)))
          } else {
            val incoming = df.schema.map(x => (x.name, stripMeta(x.dataType))).toSet
            val haveBare = haveTypes.map { case (n, t) => (n, stripMeta(t)) }.toSet
            require(haveBare == incoming,
              s"append schema mismatch on $table: table has $haveBare, " +
                s"batch has $incoming (mergeSchema=true to add columns, " +
                "overwrite to replace the schema)")
            have
          }
      }
    if (mode == SaveMode.Append)
      widened(currentVersion(spark, table), snapshotFiles(spark, table))
    // stats continuity: a stats-tracking table keeps tracking through
    // plain appends/overwrites even when the caller passes no
    // statsColumns — otherwise every routine append would silently
    // decay the manifest's skipping power file by file. (Read before
    // the write; a concurrent commit changing the tracked set between
    // here and publish costs at most one batch of extra/missing
    // ranges, never correctness — pruning treats absent stats as
    // keep.)
    val cols = (statsColumnsOf(
        snapshotStats(spark, table, currentVersion(spark, table))) ++
      configStatsColumns(spark, table, df.columns.toSeq) ++
      statsColumns).distinct.sorted
    // CHECK enforcement happens BEFORE any data is written (a refused
    // batch leaves nothing to vacuum); a lost race re-validates iff
    // the constraint set changed under us. constraintsOverride (the
    // SQL REPLACE TABLE path) swaps the set atomically WITH the data:
    // the batch validates against the DECLARED set, and the publish
    // records it in the same version — never the carried parent set.
    var validatedCons = constraintsOverride.getOrElse(
      checkConstraints(spark, table, currentVersion(spark, table)))
    requireSatisfied(df, validatedCons, s"a batch committed to $table")
    // column mapping resolved HERE (not inside writeData) so the
    // publish loop below can detect a concurrent rename: the batch's
    // files are laid out under THESE physical names, and a mapping
    // that changes before the publish wins would desynchronize them
    val physUsed: StructType =
      if (mode == SaveMode.Overwrite) new StructType()
      else (try snapshotSchema(spark, table)
            catch { case _: IllegalArgumentException => None })
        .getOrElse(new StructType())
    val (uuid, newFiles, newStats) =
      writeData(spark, table, df, cols, partBy, Some(transforms),
        // Overwrite records the batch's OWN fresh schema (no mapping):
        // its files must store the batch's names verbatim, not the
        // replaced schema's physical ones
        physOverride = Some(physUsed))
    var committed = -1
    var attempt = 0
    while (committed < 0) {
      attempt += 1
      val head = currentVersion(spark, table)
      // re-check per attempt: a lost race to a concurrent replay of
      // the same batch must not commit the batch twice (the written
      // data dir becomes unreferenced garbage expire reclaims)
      txn.foreach { case (app, v) =>
        if (txnVersion(spark, table, app, head).exists(_ >= v)) return head }
      // IDENTITY allocation race check (r16): this batch's values were
      // derived from `base`; a concurrent writer that advanced the
      // mark since may have allocated the same range — refuse rather
      // than publish a possible duplicate (the re-run re-reads the
      // moved mark). O(1) metadata against the SAME head the publish
      // is conditioned on, so a winner is always self-consistent.
      identityBase.foreach { case (c, b) =>
        val nowBase = (if (head == 0) None
                       else snapshotSchema(spark, table, head))
          .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
          .flatMap(ColumnSpecs.identityOf).map(_.base)
        if (!nowBase.contains(b))
          throw new java.util.ConcurrentModificationException(
            s"IDENTITY allocation on $table.$c raced a concurrent write " +
              s"(allocation base $b moved to ${nowBase.getOrElse("none")}) — " +
              "re-run the insert against the new mark")
      }
      val consNow = checkConstraints(spark, table, head)
      if (constraintsOverride.isEmpty && consNow != validatedCons) {
        requireSatisfied(df, consNow, s"a batch committed to $table")
        validatedCons = consNow
      }
      // layout re-check INSIDE the loop (same reason as the schema
      // check below): a concurrent Overwrite can change the partition
      // spec between attempts, and a lost-race recompose must not
      // publish a mixed flat/partitioned snapshot — the batch's data
      // files were already laid out for the OLD spec
      if (mode == SaveMode.Append && head > 0) {
        require(partitionColumns(spark, table, head) == partBy &&
            partitionTransforms(spark, table, head) == transforms,
          s"append on $table was laid out for partitioning $partBy but a " +
            "concurrent overwrite changed the table's layout — re-run the append")
        // same discipline for column mapping: this batch's files were
        // written under physUsed's physical names (all depths) — a
        // concurrent rename/overwrite changing the mapping would
        // silently null the remapped columns out of them
        require(mappingOf(snapshotSchema(spark, table, head)) ==
            mappingOf(Some(physUsed)),
          s"append on $table was written under a column mapping a " +
            "concurrent schema change replaced — re-run the append")
      }
      val base =
        if (mode == SaveMode.Append) snapshotFiles(spark, table, head) else Nil
      val schema =
        if (mode == SaveMode.Append) widened(head, base)
        else recordedSchema(df.schema, partBy)
      val carried: Map[String, Map[String, (Double, Double)]] =
        if (mode == SaveMode.Append) snapshotStats(spark, table, head) else Map.empty
      beforeConditionalCommit()
      if (tryPublish(spark, table, head, base ++ newFiles, uuid,
          Some(schema), carried ++ newStats, partBy,
          constraints = constraintsOverride,
          op = if (mode == SaveMode.Append) "append" else "overwrite",
          txn = txn, txnExtra = txnExtra,
          // overwrite REPLACES the transform record (empty clears it);
          // an append inherits (divergence was already refused above) —
          // EXCEPT the table-creating append (head 0), which has no
          // parent to inherit from and must record explicitly or the
          // layout memory is lost at birth (review r10 finding)
          transforms =
            if (mode == SaveMode.Append && head > 0) None else Some(transforms)))
        committed = head + 1
      else {
        // A lost race means another writer occupied slot head+1, so the
        // head MUST now read ≥ head+1. If it does not, the publish
        // failed for a persistent non-race reason (permissions, FS
        // quirk) — spinning would write temp manifests forever
        // (ADVICE r5): fail fast instead, like upsert/deleteWhere do.
        if (currentVersion(spark, table) <= head)
          throw new java.io.IOException(
            s"manifest publish of $table v${head + 1} failed although no " +
              "concurrent commit advanced the head — non-race failure " +
              "(permissions or filesystem misbehavior), not retrying")
        if (attempt >= maxAttempts)
          throw new java.util.ConcurrentModificationException(
            s"commit on $table lost $maxAttempts publish races")
      }
    }
    committed
  }

  /** The schema a manifest records, in the order a partitioned read
    * produces: data columns first, partition columns last (Spark's
    * file relations always surface discovered partition columns at
    * the end — recording any other order would make the recorded
    * schema disagree with every read). */
  private def recordedSchema(s: StructType, partitionBy: Seq[String]): StructType =
    if (partitionBy.isEmpty) s
    else StructType(s.fields.filterNot(f => partitionBy.contains(f.name)) ++
      partitionBy.flatMap(c => s.fields.find(_.name == c)))

  /** Conditional commit: publish `files` (relative paths, typically
    * from [[writeData]]) as version `expectedHead + 1`, or report the
    * conflict. This is the primitive [[upsert]] and [[deleteWhere]]
    * build their re-derive loops on: a snapshot computed from a read
    * of version N may only ever become version N+1. */
  private def commitIfHead(spark: SparkSession, table: String,
                           files: Seq[String], expectedHead: Int,
                           tag: String,
                           schema: Option[StructType] = None,
                           stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
                           partitionBy: Seq[String] = Nil,
                           op: String = "write",
                           tombstones: Option[Seq[(String, Seq[String])]] = None,
                           txn: Option[(String, Long)] = None,
                           dvs: Option[Map[String, Seq[Long]]] = None)
      : Option[Int] =
    if (currentVersion(spark, table) != expectedHead) None
    else if (tryPublish(spark, table, expectedHead, files, tag, schema, stats,
        partitionBy, op = op, tombstones = tombstones, txn = txn, dvs = dvs))
      Some(expectedHead + 1)
    else None

  /** Test seam: invoked after a conditional writer finishes its data
    * write, immediately before its conditional commit — lets specs
    * interleave an interloper's commit at the exact point an optimistic
    * race happens, making the reconcile-vs-re-derive paths
    * deterministic instead of stochastic. A no-op in production (one
    * virtual call per derive attempt, nowhere near any per-row path). */
  /** Age a version-less extern ledger must reach before
    * [[cloneShallow]] may sweep it as crash debris (younger = likely
    * an in-flight clone to the same path; ADVICE r12). Test seam. */
  @volatile private[graft] var cloneDebrisStaleMs: Long = 10L * 60 * 1000

  @volatile private[graft] var beforeConditionalCommit: () => Unit = () => ()

  /** Test seam: invoked inside [[tryPublish]] after the temp manifest
    * is fully written, immediately before the atomic link/rename into
    * the version slot — the window in which a concurrent publisher
    * sharing a temp path could clobber this writer's body (the r10
    * unique-temp-name fix). A no-op in production (one virtual call
    * per publish attempt). */
  @volatile private[graft] var beforePublishLink: () => Unit = () => ()

  /** Conflict-aware retry after a lost commit race (the Delta
    * OptimisticTransaction shape): a writer that derived its result
    * from `baseRel` and lost the slot does NOT have to discard the
    * derivation — if every file it removed is still in the new head
    * (nobody else rewrote its victims), the table's schema and
    * partition spec are unchanged, and the files interlopers ADDED
    * don't semantically conflict (`addedConflict`, caller-defined:
    * MERGE checks them for its source keys, DELETE for rows matching
    * its predicate, OPTIMIZE carries them unconditionally), then
    * publishing `(newHead.files \ removed) ++ newFiles` against the
    * new head is EQUAL to re-deriving: it serializes this transaction
    * after the interleaved ones. The reconcile loop itself moves no
    * data — each attempt is a manifest read plus the caller's
    * O(interloper-churn) conflict scan — which is what breaks the
    * livelock blind re-derive invites: a slow full-rewrite transaction
    * racing fast appenders would otherwise re-derive forever, each
    * derivation outdated by the time it publishes (measured in
    * Stress `maintenance_drill`: a merger starved through 50 straight
    * re-derives under an append+compact storm).
    * Returns None when a semantic conflict demands a true re-derive
    * (or attempts ran out); the caller then falls back to its outer
    * derive loop. */
  private def reconcilePublish(
      spark: SparkSession, table: String,
      baseRel: Seq[String], baseSchema: Option[StructType],
      basePartBy: Seq[String],
      removed: Set[String], newFiles: Seq[String],
      newStats: Map[String, Map[String, (Double, Double)]],
      recordSchema: Option[StructType], uuid: String,
      addedConflict: (Seq[String], Option[StructType],
        Map[String, Map[String, (Double, Double)]], Seq[String]) => Boolean,
      baseConstraints: Map[String, String] = Map.empty,
      op: String = "write",
      baseTombstones: Seq[(String, Seq[String])] = Nil,
      publishTombstones: Option[Seq[(String, Seq[String])]] = None,
      maxAttempts: Int = 5,
      txn: Option[(String, Long)] = None,
      baseDvs: Map[String, Seq[Long]] = Map.empty,
      publishDvs: Option[Map[String, Seq[Long]]] = None,
      baseTransforms: Seq[PartitionTransform] = Nil): Option[Int] = {
    val baseSet = baseRel.toSet
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head2 = currentVersion(spark, table)
      val (rel2, schema2, stats2, partBy2) = snapshotAll(spark, table, head2)
      val rel2Set = rel2.toSet
      val added = rel2.filterNot(baseSet)
      val structuralOk =
        partBy2 == basePartBy && schema2 == baseSchema &&
          // a hidden-transform change can keep the same target NAMES
          // (bucket(16,c) → bucket(32,c)) while invalidating every
          // derived file's layout — the partBy comparison alone cannot
          // see it (review r10 finding; commit()'s append loop checks
          // exactly this per attempt)
          partitionTransforms(spark, table, head2) == baseTransforms &&
          // a constraint added mid-derive means this post-image was
          // never validated against it, and a tombstone change means
          // the derive read under the wrong delete set — re-derive
          checkConstraints(spark, table, head2) == baseConstraints &&
          deleteTombstones(spark, table, head2) == baseTombstones &&
          // a deletion vector added mid-derive means the derive read
          // the wrong live row set — re-derive, like a tombstone change
          deleteVectors(spark, table, head2) == baseDvs &&
          // an interloper recording THIS txn is a concurrent replay of
          // the same batch — reconciling over it would apply the batch
          // twice; bail to the outer loop, whose idempotence gate
          // no-ops on the next attempt
          txn.forall { case (a, v) =>
            !txnVersion(spark, table, a, head2).exists(_ >= v) } &&
          removed.forall(rel2Set)
      if (!structuralOk || addedConflict(added, schema2, stats2, partBy2))
        return None
      commitIfHead(spark, table, rel2.filterNot(removed) ++ newFiles, head2,
          uuid, recordSchema, stats2 ++ newStats, partBy2, op,
          publishTombstones, txn = txn, dvs = publishDvs) match {
        case Some(v) => return Some(v)
        case None => // head moved while reconciling — re-check against it
      }
    }
    None
  }

  /** Order-preserving STRING → double encoding for manifest stats:
    * the first 6 UTF-8 bytes, zero-padded, as an unsigned 48-bit
    * integer — exact in a double's 52-bit mantissa, and monotone
    * non-decreasing under Spark's bytewise-unsigned string order
    * (a shorter string zero-pads, and 0x00 is the smallest byte).
    * Monotone means min/max of the encoding bound every row's
    * encoding, so [minEnc, maxEnc] intersection tests against an
    * encoded predicate range are sound — strings sharing a 6-byte
    * prefix collapse to one value, which only ever KEEPS extra files.
    * [[stringBound]] is the JVM twin used on the QUERY side
    * ([[extractRanges]] encodes string literals with it); a spec pins
    * that both sides produce identical values. */
  private def stringBoundCol(c: Column): Column = {
    import org.apache.spark.sql.functions.{concat, conv, encode, hex, lit, substring}
    conv(hex(substring(
      concat(encode(c, "UTF-8"), lit(Array.fill[Byte](6)(0))), 1, 6)), 16, 10)
      .cast("double")
  }

  /** JVM twin of [[stringBoundCol]] — encode a string literal into the
    * same enc-space the manifest records for string columns. */
  private[graft] def stringBound(s: String): Double = {
    val b = s.getBytes("UTF-8")
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L); i += 1 }
    v.toDouble
  }

  /** A write batch at or under this many files collects its per-file
    * stats from the parquet FOOTERS the write just produced — one
    * driver-side footer read per new file — instead of a second Spark
    * job over the batch (r19 optimization: the stats job was one of
    * the ~15 fixed actions every lifecycle query pays, ~0.1-0.2 s of
    * scheduling floor each on a warm local session). Above the cap the
    * distributed pass runs as before, so at 100 TB a 10k-file batch
    * never serializes 10k footer reads through the driver. */
  private[graft] val FooterStatsFileCap = 64

  /** The cap in force on this thread: [[FooterStatsFileCap]] unless a
    * spec scopes another (`footerStatsCap.withValue(-1) { … }` forces
    * the distributed pass) — thread-scoped, so it never reaches a
    * concurrent session's writes. */
  private[graft] val footerStatsCap = new scala.util.DynamicVariable(FooterStatsFileCap)

  /** Footer-derived twin of writeData's distributed stats pass, or
    * None when any gate fails (the caller then runs the Spark pass).
    * Gates keep the two paths BIT-IDENTICAL where the fast path
    * engages:
    *  - no bloom columns (bloom positions need row values, not stats);
    *  - ≤ [[FooterStatsFileCap]] new files (driver O(files) bound);
    *  - every stats column is integral / boolean / date / string /
    *    timestamp / int-backed decimal — types whose footer min/max
    *    convert to the stats-space double EXACTLY the way the
    *    distributed encoder does (long/int/short/byte → toDouble =
    *    cast(double); boolean → 1/0; date INT32 days → unix_date cast;
    *    string → the monotone 6-byte prefix encoding, so
    *    enc(min)=min(enc); INT64 timestamp µs → /1e6, the double cast;
    *    unscaled int32/int64 decimal → BigDecimal.doubleValue, i.e.
    *    Decimal.toDouble). Floats/doubles are excluded (parquet omits
    *    NaN-bearing min/max where the Spark pass orders NaN largest);
    *    INT96 legacy timestamps carry no footer stats and fall back
    *    via the stats-suppressed guard;
    *  - every non-empty footer chunk of a stats column carries
    *    min/max + null counts.
    * Output matches the distributed pass exactly: per file, encoded
    * (min, max) per column with any non-null value, null/non-null
    * counts per column, and the RowsKey row count. */
  private def footerScanStats(spark: SparkSession, cols: Seq[String],
                              files: Seq[String], absOfNew: Map[String, Path],
                              batchSchema: StructType,
                              physOf: Map[String, String],
                              hasBloom: Boolean)
      : Option[Map[String, Map[String, (Double, Double)]]] = {
    import org.apache.spark.sql.types._
    if (hasBloom || files.size > footerStatsCap.value) return None
    def fastType(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | StringType | TimestampType | TimestampNTZType => true
      // int-backed decimals only: FIXED_LEN_BYTE_ARRAY stats carry
      // raw unscaled bytes whose sort order older writers got wrong
      case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
      case _ => false
    }
    val typed: Seq[(String, String, DataType)] = cols.flatMap { c =>
      batchSchema.fields.find(_.name == c) match {
        case Some(f) if fastType(f.dataType) =>
          Some((c, physOf.getOrElse(c, c), f.dataType))
        case _ => None
      }
    }
    if (typed.size != cols.size) return None
    val conf = spark.sparkContext.hadoopConfiguration
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, DecimalLogicalTypeAnnotation}
    // footer value → the EXACT double the distributed statEncoder
    // computes, per logical type (None = unexpected physical shape —
    // the caller falls back to the distributed pass)
    def toDouble(v: AnyRef, dt: DataType,
                 ann: LogicalTypeAnnotation): Option[Double] = (dt, v) match {
      case (ByteType | ShortType | IntegerType | DateType, i: java.lang.Integer) =>
        Some(i.toDouble)
      case (LongType, l: java.lang.Long) => Some(l.toDouble)
      case (BooleanType, b: java.lang.Boolean) => Some(if (b) 1.0 else 0.0)
      case (StringType, b: org.apache.parquet.io.api.Binary) =>
        // the order-preserving 6-byte prefix encoding (stringBoundCol):
        // monotone, so enc(min)=min(enc) and footer truncation (≥64
        // bytes when configured at all) can never reach byte 6
        val bytes = b.getBytes
        var acc = 0L
        var i = 0
        while (i < 6) {
          acc = (acc << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0L)
          i += 1
        }
        Some(acc.toDouble)
      case (TimestampType | TimestampNTZType, l: java.lang.Long) => ann match {
        // epoch seconds via the double cast: micros/1e6; a MILLIS file
        // scales exactly (×1000 is exact in long) first. INT96 carries
        // no stats and never reaches here (hasNonNullValue is false).
        case t: TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some(l.toDouble / 1e6)
            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some((l * 1000L).toDouble / 1e6)
            case _ => None
          }
        case _ => None
      }
      case (d: DecimalType, _) =>
        // unscaled int32/int64 → BigDecimal.doubleValue, exactly
        // Spark's Decimal.toDouble (the cast the encoder applies)
        val unscaled: Option[Long] = v match {
          case i: java.lang.Integer => Some(i.longValue())
          case l: java.lang.Long => Some(l.longValue())
          case _ => None
        }
        val scaleOk = ann match {
          case a: DecimalLogicalTypeAnnotation => a.getScale == d.scale
          case _ => false
        }
        if (!scaleOk) None
        else unscaled.map(u =>
          new java.math.BigDecimal(java.math.BigInteger.valueOf(u), d.scale)
            .doubleValue())
      case _ => None
    }
    val out = Map.newBuilder[String, Map[String, (Double, Double)]]
    // the options `ParquetFileReader.open(file)` builds per call, built
    // ONCE: each build copies a fresh Hadoop configuration, which
    // profiled as this fast path's top cost
    val options = org.apache.parquet.ParquetReadOptions.builder().build()
    files.foreach { rel =>
      val reader =
        try org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(absOfNew(rel), conf),
          options)
        catch { case _: Throwable => return None }
      try {
        import scala.jdk.CollectionConverters._
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        var m = Map.empty[String, (Double, Double)] + (RowsKey -> (rows.toDouble, rows.toDouble))
        if (rows > 0L) typed.foreach { case (logical, phys, dt) =>
          var nulls = 0L
          var mn = Double.NaN
          var mx = Double.NaN
          var any = false
          blocks.foreach { b =>
            val chunk = b.getColumns.asScala
              .find(c => c.getPath.size == 1 && c.getPath.toDotString == phys)
              .getOrElse(return None)
            val st = chunk.getStatistics
            if (st == null || !st.isNumNullsSet) return None
            nulls += st.getNumNulls
            val ann = chunk.getPrimitiveType.getLogicalTypeAnnotation
            if (st.hasNonNullValue) {
              val lo = toDouble(st.genericGetMin.asInstanceOf[AnyRef], dt, ann)
                .getOrElse(return None)
              val hi = toDouble(st.genericGetMax.asInstanceOf[AnyRef], dt, ann)
                .getOrElse(return None)
              if (!any) { mn = lo; mx = hi; any = true }
              else { mn = math.min(mn, lo); mx = math.max(mx, hi) }
            } else if (b.getRowCount > st.getNumNulls) return None // stats suppressed
          }
          if (any) m += logical -> (mn, mx)
          m += NullsKeyPrefix + logical -> (nulls.toDouble, nulls.toDouble)
          m += NonNullsKeyPrefix + logical ->
            ((rows - nulls).toDouble, (rows - nulls).toDouble)
        }
        out += rel -> m
      } finally reader.close()
    }
    Some(out.result())
  }

  /** The column → stats-space encoding shared by every stats producer
    * (write-time file ranges, the MERGE key envelope): strings through
    * the order-preserving prefix encoding, dates as epoch DAYS
    * (matching [[leafBounds]]' date-literal extraction), timestamps as
    * epoch seconds via the double cast, numerics/booleans as plain
    * doubles. None for types with no sound double embedding — the
    * caller records no stats / derives no bound (never a crash: an
    * unconditional cast("double") used to fail ANALYSIS on DateType,
    * killing every merge on a date-keyed table). */
  private def statEncoder(dt: DataType, c: Column): Option[Column] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(stringBoundCol(c))
      case DateType =>
        Some(org.apache.spark.sql.functions.unix_date(c).cast("double"))
      // NTZ cannot cast to double directly; through TimestampType
      // (session tz, pinned UTC by every entry point) it lands on the
      // same epoch-seconds encoding leafBounds decodes NTZ literals to
      case TimestampNTZType => Some(c.cast(TimestampType).cast("double"))
      case _: NumericType | BooleanType | TimestampType =>
        Some(c.cast("double"))
      case _ => None
    }
  }

  /** The source's per-key-column (min, max) as [[pruneFiles]]
    * ranges. A source whose optimized plan is a local relation (a
    * `toDF`/`createDataFrame` frame, SQL `VALUES`, a view over either)
    * already sits on the driver: its encoded keys are collected with
    * no job and folded here. Any other source pays one tiny aggregate
    * job. A key type without a stats encoding yields no bound, and a
    * NaN key yields a NaN bound; neither prunes anything. */
  private def keyEnvelope(updates: DataFrame, keys: Seq[String])
      : Seq[(String, Double, Double)] = {
    import org.apache.spark.sql.functions.{col, max, min}
    if (keys.isEmpty) return Nil
    // UTC gate (ADVICE r10): an NTZ merge key's envelope encodes
    // through the session-zone cast but is intersected against
    // UTC-written file stats — a non-UTC session would prune files
    // holding real matches (the merge would insert duplicates)
    if (keys.exists(k => updates.schema.find(_.name == k)
          .exists(_.dataType == org.apache.spark.sql.types.TimestampNTZType)))
      requireUtcSession(updates.sparkSession,
        "a MERGE keyed on a TIMESTAMP_NTZ column")
    val encoded = keys.flatMap { k =>
      updates.schema.find(_.name == k)
        .flatMap(f => statEncoder(f.dataType, col(k)))
        .map(k -> _)
    }
    if (encoded.isEmpty) return Nil
    val enc = updates.select(encoded.indices.map(i => encoded(i)._2.as(s"__e$i")): _*)
    val env: Seq[Option[(Double, Double)]] = enc.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val rows = enc.collect()
        encoded.indices.map { i =>
          val ds = rows.collect { case r if !r.isNullAt(i) => r.getDouble(i) }
          if (ds.isEmpty) None
          else Some((ds.reduce(math.min(_, _)), ds.reduce(math.max(_, _))))
        }
      case _ =>
        val aggs = encoded.indices.flatMap(i =>
          Seq(min(col(s"__e$i")), max(col(s"__e$i"))))
        val row = enc.agg(aggs.head, aggs.tail: _*).collect().head
        encoded.indices.map(i =>
          if (row.isNullAt(2 * i)) None
          else Some((row.getDouble(2 * i), row.getDouble(2 * i + 1))))
    }
    encoded.zip(env).flatMap { case ((k, _), e) => e.map { case (lo, hi) => (k, lo, hi) } }
  }

  /** Reserved stats pseudo-column carrying each file's byte size as a
    * degenerate (len, len) range — recorded by [[writeData]] on every
    * commit, carried with the rest of a file's stats through rewrites,
    * surfaced by [[snapshotSizes]]. Reserved: a DATA column with this
    * name is refused at the write (its recorded range would otherwise
    * collide with real column stats and mis-prune). */
  private[graft] val SizeKey = "__graft_bytes"

  /** Reserved stats-key prefixes for per-file NULL accounting (r10,
    * the Delta nullCount idiom): for every stats column `c`,
    * `__graft_nulls:c` records (nullCount, nullCount) and
    * `__graft_nonnulls:c` (nonNullCount, nonNullCount) — degenerate
    * ranges, so `IS NULL` / `IS NOT NULL` pruning is just an ordinary
    * `[1, ∞)` interval constraint on the synthetic key and the whole
    * DNF machinery applies unchanged. Both counts are recorded (not
    * nullCount + rowCount) so each predicate reads exactly one key.
    * All `__graft_`-prefixed names are refused as data columns. */
  private[graft] val NullsKeyPrefix = "__graft_nulls:"
  private[graft] val NonNullsKeyPrefix = "__graft_nonnulls:"
  private[graft] val ReservedStatsPrefix = "__graft_"

  /** Reserved stats pseudo-column carrying each file's ROW COUNT as a
    * degenerate (n, n) range — recorded whenever the write-time stats
    * pass runs (any stats or bloom column configured), the Delta
    * numRecords idiom. [[rowCount]] answers `count(*)` from the
    * manifest alone when every live file carries it. */
  private[graft] val RowsKey = "__graft_rows"

  /** Per-file byte sizes recorded in `version`'s manifest — the
    * metadata [[compactSmall]] plans on without ever stat-ing a file.
    * Files committed before size tracking are simply absent. */
  def snapshotSizes(spark: SparkSession, table: String,
                    version: Int = -1): Map[String, Long] =
    snapshotStats(spark, table, version).flatMap { case (f, m) =>
      m.get(SizeKey).map(r => f -> r._1.toLong)
    }

  /** `count(*)` answered from the MANIFEST alone — zero data files
    * listed, opened, or read (the Delta metadata-only-query
    * optimization): the sum of per-file recorded row counts, minus the
    * rows deletion vectors hide (their per-file ordinal counts are
    * exact). None — never a wrong number — when the count is not fully
    * determined by metadata: a live file without the stat (written
    * before row tracking, or by a stats-less commit), or a pending
    * predicate tombstone (its hidden-row count is unknown until
    * [[materializeDeletes]]). At 100 TB this is the difference between
    * a dashboard's `COUNT(*)` costing one manifest parse and costing a
    * full scan. */
  def rowCount(spark: SparkSession, table: String,
               version: Int = -1): Option[Long] = {
    val v = if (version < 0) currentVersion(spark, table) else version
    if (v == 0) return None
    val (files, _, stats, _) = snapshotAll(spark, table, v)
    if (files.isEmpty) return Some(0L)
    if (deleteTombstones(spark, table, v).nonEmpty) return None
    val per = files.map(f =>
      stats.get(f).flatMap(_.get(RowsKey)).map(_._1.toLong))
    if (per.exists(_.isEmpty)) None
    else {
      val dvHidden = deleteVectors(spark, table, v).values.map(_.size.toLong).sum
      Some(per.flatten.sum - dvHidden)
    }
  }

  /** Column names the head snapshot carries stats for — derived
    * commits ([[upsert]]/[[deleteWhere]]/[[compact]]) keep collecting
    * the same set for their rewritten files, so stats-tracking
    * survives the table's whole lifecycle without a separate
    * table-property store. The size pseudo-entry is NOT a column to
    * scan — writeData records sizes on its own. */
  private def statsColumnsOf(
      stats: Map[String, Map[String, (Double, Double)]]): Seq[String] =
    stats.valuesIterator.flatMap(_.keysIterator).flatMap {
      // an ALL-NULL file records no (min, max) for a column — its
      // null-count key alone must keep the column in the tracked set,
      // or the first all-null batch would silently stop stats
      // collection for every later append
      case k if k.startsWith(NullsKeyPrefix) => Some(k.stripPrefix(NullsKeyPrefix))
      case k if k.startsWith(NonNullsKeyPrefix) => Some(k.stripPrefix(NonNullsKeyPrefix))
      case k if k.startsWith(ReservedStatsPrefix) => None
      case k => Some(k)
    }.toSeq.distinct.sorted

  /** MERGE-style upsert: rows of `updates` replace current rows with
    * equal `keys`; unmatched update rows insert. One new snapshot —
    * readers see the pre-image until the commit point, the full
    * post-image after, never a mix. MERGE precondition: `updates` must
    * be key-unique (both copies of a repeated key would insert).
    * The unconditional special case of [[merge]]. */
  def upsert(spark: SparkSession, table: String, updates: DataFrame,
             keys: Seq[String], maxAttempts: Int = 5,
             txn: Option[(String, Long)] = None): Int =
    merge(spark, table, updates, keys, maxAttempts = maxAttempts, txn = txn)

  /** Conditional MERGE (the full Delta `MERGE INTO` matched-clause
    * shape): for each current row whose `keys` match an `updates` row,
    *  - if `whenMatchedDelete` evaluates true  → the row is deleted;
    *  - else if `whenMatchedUpdate` evaluates true (default: always)
    *                                           → replaced by the
    *    matching update row;
    *  - else                                   → kept unchanged.
    * Update rows matching no current key INSERT — unless
    * `insertUnmatched = false` (a MATCHED-ONLY merge: the
    * UPDATE-/DELETE-without-INSERT idiom; with nothing matched it
    * commits no version, the deleteWhere contract). Conditions are
    * evaluated over the matched pair: TARGET columns by plain name,
    * the matching SOURCE row's fields as `col("_src.<name>")` — e.g.
    * `col("_src.ts") > col("ts")` is latest-wins CDC. A NULL condition
    * is false (SQL semantics: no silent delete/update on null).
    * `whenNotMatchedBySourceDelete` is Delta's third arm: a TARGET row
    * whose key matches NO source row deletes when the condition
    * (target columns only — there is no source row) evaluates true —
    * the sync-deletes idiom. `whenNotMatchedBySourceUpdate` is its
    * UPDATE twin: (assignments, condition) applied to unmatched rows
    * the delete spared, with updateWhere's widen-or-refuse assignment
    * typing — the mark-stale idiom (`seen = false` for rows the feed
    * stopped mentioning). Victim scans are stats-pruned like
    * deleteWhere's; a condition-less by-source clause inherently
    * rewrites every file, and any interleaved append forces the
    * lost-race path to re-derive (appended rows could be
    * unmatched-and-condition-true).
    * `mergeSchema = true` applies [[commit]]'s evolution rule to
    * MERGE: updates may ADD columns (kept rows and pre-evolution
    * files read them as null through the recorded widened schema),
    * never retype one.
    *
    * Concurrency: the post-image is derived from a read of the head;
    * the commit is CONDITIONAL on that head still being current
    * ([[commitIfHead]]). A lost race first tries to RECONCILE
    * ([[reconcilePublish]]): if no interloper touched an affected file
    * and no interloper-added file holds one of this merge's source
    * keys, the already-derived result republishes against the new head
    * without moving data; a semantic conflict re-derives against the
    * new head and rewrites — never publishes a merge of a stale
    * snapshot (the data files of a lost attempt become unreferenced
    * garbage for [[expire]]). An empty table is the same loop with
    * head 0 and no matches, so first-batch initialization races
    * resolve inside the commit protocol too.
    *
    * Scale stance — TOUCHED-FILE pruning, the shape that makes MERGE
    * deployable at 100 TB (a full-table rewrite per merge is not). The
    * target's files are scanned twice: candidates once, affected once.
    *  - Pass 0, the envelope ([[keyEnvelope]]): the source's per-key
    *    (min, max) prunes the manifest to the candidate files, those
    *    whose recorded key range meets it. It runs no job for a local
    *    source and one tiny aggregate otherwise.
    *  - Pass 1, the probe: the candidates' LIVE rows (tombstones and
    *    deletion vectors applied), column-pruned to the keys plus the
    *    file tag, semi-joined to the source keys and collected. That
    *    one job yields the affected files and the matched key set. A
    *    row hidden by a tombstone or vector matches nothing: its file
    *    carries by reference and its key inserts. Driver state is
    *    bounded by MATCHED ROWS (the same bound as
    *    [[deleteWhereVector]]'s victim collect), not by the table.
    *  - Pass 2, the rewrite: the affected files' live rows left-join
    *    the source once; ONE projection yields kept, updated and BY
    *    SOURCE-updated rows (filter `(matched ∧ ¬del) ∨ (¬matched ∧
    *    ¬bySrcDel)`, each column `when(matched ∧ upd, SET value)
    *    .otherwise(kept / BY SOURCE value)`, generated columns
    *    re-derived once). Inserts anti-join the source against the
    *    probe's matched keys, held as a local relation, not against a
    *    re-scan of the affected files.
    * A source under the broadcast threshold therefore runs the merge
    * with no shuffle: every join broadcasts a local or small side.
    * Every untouched file carries into the new snapshot by reference
    * with its stats. Write volume is O(files containing matched keys),
    * not O(table). */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
            keys: Seq[String],
            whenMatchedUpdate: Option[Column] = None,
            whenMatchedDelete: Option[Column] = None,
            maxAttempts: Int = 5,
            mergeSchema: Boolean = false,
            txn: Option[(String, Long)] = None,
            insertUnmatched: Boolean = true,
            whenNotMatchedBySourceDelete: Option[Column] = None,
            whenNotMatchedBySourceUpdate:
              Option[(Seq[(String, Column)], Column)] = None,
            whenMatchedAssign: Option[Seq[(String, Column)]] = None,
            insertCondition: Option[Column] = None,
            insertAssign: Option[Seq[(String, Column)]] = None): Int = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{coalesce, col, lit, struct, when}
    val srcCols = updates.columns.toSeq
    // the NOT MATCHED insert image (r14): the anti-joined source rows,
    // optionally gated by a source-side condition and/or projected
    // through an explicit column list — assigned columns take their
    // (source-frame) expressions under the widen-or-refuse discipline.
    // Unassigned columns (r16) honor their recorded specs first — the
    // surrogate-key CDC pattern: IDENTITY allocates (ALWAYS refuses an
    // explicit assignment), DEFAULT re-evaluates, GENERATED computes
    // over the completed image (and is equality-enforced when assigned
    // explicitly) — and only a spec-free column inserts as a typed
    // null (the standard SQL column-list contract; CHECK constraints
    // then validate the post-image, so a null that violates one
    // refuses the statement). Identity bases re-read per publish
    // attempt (the schema comes from the attempt's OWN head), so a
    // lost race re-derives fresh values — never duplicates.
    def insertImage(src0: DataFrame, tgtSchema: StructType): DataFrame = {
      val filtered = insertCondition.fold(src0)(src0.filter)
      // INSERT * onto a target with spec columns the source doesn't
      // carry (r16): the star expands to the source's own columns and
      // the missing spec columns fill themselves — `WHEN NOT MATCHED
      // THEN INSERT *` allocates the surrogate key
      val starAssigns: Option[Seq[(String, Column)]] =
        if (insertAssign.isDefined) None
        else if (tgtSchema.fields.exists(f => ColumnSpecs.hasSpec(f) &&
            !src0.columns.exists(_.equalsIgnoreCase(f.name))))
          Some(src0.columns.toSeq.map(c => c -> col(c)))
        else None
      insertAssign.orElse(starAssigns) match {
        case None =>
          // pass-through `INSERT *` (r17, advisory): when the source
          // carries EVERY spec-bearing column there is nothing to
          // fill — but a source-supplied GENERATED value must still
          // AGREE with its expression, exactly as the explicit-list
          // and INSERT paths enforce. The frame is pinned
          // (localCheckpoint) before the check so the checked rows
          // ARE the written rows even for a nondeterministic source;
          // the cost is O(insert batch) and only on this rare
          // supplied-generated shape.
          val genCarried = tgtSchema.fields.filter(f =>
            ColumnSpecs.generatedOf(f).isDefined &&
              filtered.columns.exists(_.equalsIgnoreCase(f.name)))
          if (genCarried.isEmpty) filtered
          else {
            import org.apache.spark.sql.functions.not
            val pinned = filtered.localCheckpoint()
            genCarried.foreach { f =>
              val sql = ColumnSpecs.generatedOf(f).get
              require(pinned.filter(not(pinned.col(f.name) <=>
                  ColumnSpecs.generatedColumn(spark, sql, f.dataType))).isEmpty,
                s"MERGE INSERT on $table carries GENERATED column " +
                  s"'${f.name}' values that disagree with GENERATED " +
                  s"ALWAYS AS ($sql)")
            }
            pinned
          }
        case Some(assigns) =>
          require(assigns.map(_._1).distinct.length == assigns.length,
            s"MERGE INSERT on $table assigns a column twice")
          val amap = assigns.toMap
          amap.keys.foreach(c => require(tgtSchema.fieldNames.contains(c),
            s"MERGE INSERT on $table assigns unknown column '$c'"))
          tgtSchema.fields.foreach { f =>
            ColumnSpecs.identityOf(f).foreach(is =>
              require(is.byDefault || !amap.contains(f.name),
                s"MERGE INSERT on $table: '${f.name}' is GENERATED ALWAYS " +
                  "AS IDENTITY — omit it from the column list (BY DEFAULT " +
                  "would permit explicit values)"))
          }
          val base = filtered.select(tgtSchema.fields.toSeq.map { f =>
            amap.get(f.name) match {
              case Some(e) =>
                val aType = filtered.select(e.as("__p")).schema.head.dataType
                (if (sameType(aType, f.dataType)) e
                 else if (safeStoreCast(aType, f.dataType)) e.cast(f.dataType)
                 else throw new IllegalArgumentException(
                   s"MERGE INSERT on $table assigns $aType to column " +
                     s"'${f.name}' (${f.dataType}) — only the widening " +
                     "lattice casts implicitly")).as(f.name)
              case None =>
                ColumnSpecs.identityOf(f) match {
                  case Some(is) => org.apache.spark.sql.graftbridge.ColumnBridge
                    .column(graft.functions.NextIdentityValue(is.base, is.step))
                    .as(f.name)
                  case None => ColumnSpecs.defaultOf(f) match {
                    case Some(sql) =>
                      ColumnSpecs.defaultColumn(spark, sql, f.dataType).as(f.name)
                    case None => lit(null).cast(f.dataType).as(f.name)
                  }
                }
            }
          }: _*)
          // GENERATED columns complete last, over the filled image.
          // When one is ASSIGNED the agree-check below re-executes the
          // frame — pin it first (r17, advisory) so the checked rows
          // are the written rows (the base holds NextIdentityValue /
          // possibly-nondeterministic source expressions).
          val base1 =
            if (tgtSchema.fields.exists(f =>
                ColumnSpecs.generatedOf(f).isDefined && amap.contains(f.name)))
              base.localCheckpoint()
            else base
          tgtSchema.fields.foldLeft(base1) { (d, f) =>
            ColumnSpecs.generatedOf(f) match {
              case Some(sql) if !amap.contains(f.name) =>
                d.withColumn(f.name,
                  ColumnSpecs.generatedColumn(spark, sql, f.dataType))
              case Some(sql) =>
                import org.apache.spark.sql.functions.not
                require(d.filter(not(d.col(f.name) <=>
                    ColumnSpecs.generatedColumn(spark, sql, f.dataType))).isEmpty,
                  s"MERGE INSERT on $table assigns GENERATED column " +
                    s"'${f.name}' values that disagree with GENERATED " +
                    s"ALWAYS AS ($sql)")
                d
              case None => d
            }
          }
      }
    }
    val bounds = keyEnvelope(updates, keys) // head-independent: once
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      // column-spec discipline over the whole statement (r16), against
      // the attempt's OWN head schema: an ALWAYS-identity column may
      // never arrive from the source (SET * / INSERT * / explicit
      // assignment would all write caller-chosen values into a column
      // the table allocates); generated and ALWAYS-identity columns
      // are unassignable in the UPDATE arms (generated ones RECOMPUTE
      // over the post-image below — a stale derived value cannot
      // survive a merge).
      val recFields: Seq[StructField] =
        (if (head == 0) None else snapshotSchema(spark, table, head))
          .map(_.fields.toSeq).getOrElse(Nil)
      val genFields = recFields.filter(f => ColumnSpecs.generatedOf(f).isDefined)
      recFields.foreach { f =>
        ColumnSpecs.identityOf(f).foreach { is =>
          // an ALWAYS-identity column may ride the source ONLY as a
          // pure merge KEY (the update-by-surrogate-key CDC pattern:
          // SET * then writes target id = source id, equal by the
          // join). It may never be WRITTEN from the source: present
          // as a non-key, or feeding an INSERT * arm, refuses.
          val inSource = updates.columns.exists(_.equalsIgnoreCase(f.name))
          val isKey = keys.exists(_.equalsIgnoreCase(f.name))
          val written = inSource &&
            (!isKey || (insertUnmatched && insertAssign.isEmpty))
          require(is.byDefault || !written,
            s"MERGE on $table: the source carries '${f.name}', a GENERATED " +
              "ALWAYS AS IDENTITY column" +
              (if (isKey) " feeding the INSERT * arm — use an explicit " +
                 "column list omitting it (the table allocates it)"
               else " — drop it from the source (the table allocates " +
                 "it; BY DEFAULT would permit explicit values)"))
        }
        val assignedIn: Seq[(Seq[(String, Column)], String)] =
          whenMatchedAssign.map(_ -> "MERGE UPDATE SET").toSeq ++
            whenNotMatchedBySourceUpdate.map(_._1 -> "BY SOURCE UPDATE")
        assignedIn.foreach { case (assigns, what) =>
          if (assigns.exists(_._1.equalsIgnoreCase(f.name))) {
            ColumnSpecs.generatedOf(f).foreach(g =>
              throw new IllegalArgumentException(
                s"$what on $table: '${f.name}' is GENERATED ALWAYS AS " +
                  s"($g) — it recomputes from its expression, assign its " +
                  "source columns instead"))
            ColumnSpecs.identityOf(f).filterNot(_.byDefault).foreach(_ =>
              throw new IllegalArgumentException(
                s"$what on $table: '${f.name}' is GENERATED ALWAYS AS " +
                  "IDENTITY — it cannot be assigned"))
          }
        }
      }
      // re-derive every generated column over a post-image frame —
      // idempotent on untouched rows, and it ADDS the column when a
      // SET * source doesn't carry it
      def regen(d: DataFrame): DataFrame = genFields.foldLeft(d)((dd, f) =>
        dd.withColumn(f.name, ColumnSpecs.generatedColumn(spark,
          ColumnSpecs.generatedOf(f).get, f.dataType)))
      // idempotence gate (checked per attempt, against the head the
      // commit will be conditional on): a replayed micro-batch whose
      // (appId, version) the table already records is a NO-OP — the
      // exactly-once half of the streaming-sink contract. Losing a race
      // to a concurrent replay of the SAME batch lands here on retry.
      txn.foreach { case (app, v) =>
        if (txnVersion(spark, table, app, head).exists(_ >= v)) return head }
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      val headTombs = deleteTombstones(spark, table, head)
      val headDvs = deleteVectors(spark, table, head)
      val headSkip = skipping(spark, table, head, headStats)
      // a merge with no insert arm can change nothing on an empty
      // table — same no-op-no-commit contract as deleteWhere
      if ((head == 0 || rel.isEmpty) && !insertUnmatched) return head
      val (merged, affected) =
        if (head == 0 || rel.isEmpty) {
          // everything is unmatched on an empty table — the insert
          // gate/projection still apply (a column-list insert needs a
          // recorded schema to project into)
          val ts = schema.getOrElse {
            require(insertAssign.isEmpty,
              s"MERGE column-list INSERT on $table needs a recorded " +
                "target schema (commit or CREATE the table first)")
            updates.schema
          }
          (insertImage(updates, ts), Set.empty[String])
        } else {
          val src = updates
            .select(struct(srcCols.map(col): _*).as("_src"))
            .select(keys.map(k => col(s"_src.$k").as(k)) :+ col("_src"): _*)
          // pass 0: the source's key envelope prunes the candidate
          // files before anything is read (sound: a file whose
          // recorded key range misses the envelope cannot hold a
          // match; a key type without a stats encoding, and a NaN on
          // either side, prune nothing)
          val candidates =
            if (bounds.isEmpty) rel
            else pruneDnf(rel, headStats, Seq(rangeConj(bounds)))
          // pass 1, the probe: the candidates' LIVE rows (tombstones
          // and deletion vectors applied — a hidden row matches
          // nothing, so its file carries by reference and its key
          // inserts), column-pruned to the keys and semi-joined to the
          // source keys. One collect yields both the affected files
          // and the matched key set; driver state is O(matched rows).
          val matchedRows =
            if (candidates.isEmpty) Array.empty[Row]
            else readLive(spark, table, candidates, schema, partBy, headTombs,
                headSkip, tagFile = true, dvs = headDvs)
              .select(keys.map(col) :+ col("__f"): _*)
              .join(src.select(keys.map(col): _*), keys, "left_semi")
              .collect()
          val affectedMatched = matchedRows.map(_.getString(keys.length)).toSet
          // NOT MATCHED BY SOURCE widens the victim set: any file that
          // could hold a clause-condition-satisfying row must rewrite
          // (its unmatched rows are deletion candidates) — stats-pruned
          // exactly like deleteWhere's victim scan, so a conditioned
          // sync-delete touches only the files owning the condition's
          // range; a condition-less one inherently rewrites the table.
          val bySrcVictims: Set[String] =
            (whenNotMatchedBySourceDelete.toSeq ++
              whenNotMatchedBySourceUpdate.map(_._2)).map { c =>
              candidatesFor(spark, table, rel, schema, partBy, headSkip, c).toSet
            }.foldLeft(Set.empty[String])(_ ++ _)
          val affected = affectedMatched ++ bySrcVictims
          // no file rewrites and no insert arm: nothing can change —
          // return the head with no commit (the deleteWhere contract)
          if (affected.isEmpty && !insertUnmatched) return head
          // pass 2, the rewrite: the affected files' LIVE rows, read
          // once (a lazily-deleted or vectored row must not resurrect
          // into the post-image — the rewrite materializes its files'
          // tombstones and vectors as a side effect)
          val tgt =
            if (affected.isEmpty)
              readFiles(spark, table, rel, schema, partBy, headSkip).limit(0)
            else readLive(spark, table, affected.toSeq.sorted, schema, partBy,
              headTombs, headSkip, dvs = headDvs)
          // evolution (the commit() mergeSchema rule applied to MERGE):
          // updates may ADD columns — kept target rows read them as
          // null — but never RETYPE one
          if (mergeSchema) {
            val haveTypes = tgt.schema.map(f => (f.name, f.dataType)).toMap
            updates.schema.foreach(f => haveTypes.get(f.name).foreach(t =>
              require(sameType(t, f.dataType),
                s"merge on $table would retype column ${f.name}: " +
                  s"table has $t, batch has ${f.dataType} — evolution may " +
                  "only add columns, never change them")))
          }
          val tgtCols = tgt.columns.toSeq
          val matched = col("_src").isNotNull
          val del = coalesce(whenMatchedDelete.getOrElse(lit(false)), lit(false))
          val upd = coalesce(whenMatchedUpdate.getOrElse(lit(true)), lit(false))
          // an unmatched target row survives unless the BY SOURCE
          // delete claims it (condition over target columns only —
          // there is no source row to reference, by definition); a
          // surviving unmatched row the BY SOURCE UPDATE's condition
          // hits takes its assignments (updateWhere's widen-or-refuse
          // type discipline)
          val bySrcDel = coalesce(
            whenNotMatchedBySourceDelete.getOrElse(lit(false)), lit(false))
          val bySrcUpd = coalesce(
            whenNotMatchedBySourceUpdate.map(_._2).getOrElse(lit(false)),
            lit(false))
          // every clause condition evaluates ONCE per row, into flags
          // the single projection below reads (a nondeterministic
          // condition cannot split one row's columns between arms)
          val UpdFlag = "__graft_upd"
          val BySrcFlag = "__graft_bysrc"
          val KeepFlag = "__graft_keep"
          val joined = tgt.join(src, keys, "left").select(col("*"),
            (matched && !del && upd).as(UpdFlag),
            (!matched && bySrcUpd).as(BySrcFlag),
            ((matched && !del) || (!matched && !bySrcDel)).as(KeepFlag))
          def widened(what: String, c: String, e: Column, over: DataFrame): Column = {
            val target = tgt.schema(c).dataType
            val aType = over.select(e.as("__p")).schema.head.dataType
            if (sameType(aType, target)) e
            else if (safeStoreCast(aType, target)) e.cast(target)
            else throw new IllegalArgumentException(
              s"$what on $table assigns $aType to column '$c' ($target) — " +
                "only the widening lattice casts implicitly")
          }
          val bySrcAssign: Map[String, Column] =
            whenNotMatchedBySourceUpdate.map(_._1.toMap).getOrElse(Map.empty)
          bySrcAssign.keys.foreach(c => require(tgtCols.contains(c),
            s"BY SOURCE UPDATE on $table assigns unknown column '$c'"))
          // a row no UPDATE arm touches: the target value, or the BY
          // SOURCE assignment where that clause hit
          def keptValue(c: String): Column = bySrcAssign.get(c) match {
            case Some(e) => when(col(BySrcFlag),
              widened("BY SOURCE UPDATE", c, e, tgt)).otherwise(col(c))
            case None => col(c)
          }
          // the matched UPDATE arm's value per column (None: the column
          // keeps its kept value). An explicit SET list (r14) assigns
          // only the named columns — values may mix target columns
          // (unqualified in the joined frame) and source columns
          // (through `_src`), with updateWhere's widen-or-refuse type
          // discipline. SET * takes the source row. Merge KEYS are not
          // assignable: the reconcile validity argument ("no interloper
          // file holds one of this merge's source keys") reasons about
          // the post-image through the source keys, which a key rewrite
          // would silently invalidate.
          val (setValue, added): (String => Option[Column], Seq[String]) =
            whenMatchedAssign match {
              case Some(assigns) =>
                require(assigns.map(_._1).distinct.length == assigns.length,
                  s"MERGE UPDATE SET on $table assigns a column twice")
                val amap = assigns.toMap
                amap.keys.foreach { c =>
                  require(tgtCols.contains(c),
                    s"MERGE UPDATE SET on $table assigns unknown column '$c'")
                  require(!keys.exists(_.equalsIgnoreCase(c)),
                    s"MERGE UPDATE SET on $table cannot assign merge key " +
                      s"'$c' — a key rewrite would unmoor the matched rows")
                }
                (c => amap.get(c).map(widened("MERGE UPDATE SET", c, _, joined)),
                  Nil)
              case None =>
                // SET * (r16): spec-bearing columns the source doesn't
                // carry KEEP the target row's value — an update never
                // re-defaults a column or re-allocates a surrogate key;
                // generated columns re-derive in regen below. Any other
                // target column the source lacks nulls under
                // mergeSchema and refuses without it, as do source
                // columns the target lacks.
                def srcOf(c: String) = srcCols.find(_.equalsIgnoreCase(c))
                val specKept = recFields.filter(f => ColumnSpecs.hasSpec(f) &&
                  srcOf(f.name).isEmpty).map(_.name)
                val missing = tgtCols.filter(c => srcOf(c).isEmpty &&
                  !specKept.exists(_.equalsIgnoreCase(c)))
                val extra = srcCols.filterNot(s => tgtCols.exists(_.equalsIgnoreCase(s)))
                require(mergeSchema || (missing.isEmpty && extra.isEmpty),
                  s"MERGE UPDATE SET * on $table: the source columns must " +
                    s"match the target's (missing ${missing.mkString("[", ", ", "]")}, " +
                    s"extra ${extra.mkString("[", ", ", "]")}) — mergeSchema " +
                    "adds columns")
                (c => srcOf(c).map(s => col(s"_src.$s"))
                    .orElse(if (missing.contains(c)) Some(lit(null)) else None),
                  extra)
            }
          // ONE projection over the ONE join: kept, updated and BY
          // SOURCE-updated rows together
          val rewritten = joined.filter(col(KeepFlag)).select(
            tgtCols.map(c => setValue(c).fold(keptValue(c))(v =>
              when(col(UpdFlag), v).otherwise(keptValue(c))).as(c)) ++
              added.map(c => when(col(UpdFlag), col(s"_src.$c")).as(c)): _*)
          // inserts: the source rows whose key matched no live target
          // row — anti-joined against the probe's driver-held matched
          // keys (a local relation, broadcast), not a re-scan. Exact:
          // a source key held live anywhere in the table lies inside
          // the envelope, so its file was a candidate and the probe saw
          // it.
          val merged =
            if (!insertUnmatched) regen(rewritten)
            else {
              val unmatched =
                if (matchedRows.isEmpty) updates
                else {
                  val keyRows = matchedRows.map(r =>
                    Row.fromSeq(r.toSeq.take(keys.length))).distinct
                  updates.join(spark.createDataFrame(
                    java.util.Arrays.asList(keyRows: _*),
                    tgt.select(keys.map(col): _*).schema), keys, "left_anti")
                }
              regen(rewritten).unionByName(insertImage(unmatched, tgt.schema),
                allowMissingColumns = mergeSchema)
            }
          (merged, affected)
        }
      // CHECK enforcement on the post-image before anything is written
      // (kept rows re-validate too — they're bounded by churn, and a
      // constraint added since their file was written must still hold)
      val headCons = checkConstraints(spark, table, head)
      requireSatisfied(merged, headCons, s"the MERGE post-image for $table")
      val (uuid, newFiles, newStats) =
        writeData(spark, table, merged, (statsColumnsOf(headStats) ++
          configStatsColumns(spark, table, merged.columns.toSeq))
          .distinct.sorted, partBy,
          inputBytes = Some(rewriteBytes(headStats, affected, planBytes(updates))))
      val files = rel.filterNot(affected) ++ newFiles
      // carried files keep their recorded stats; rewritten + inserted
      // files get fresh ranges from the write above
      // under evolution the WIDENED union schema must be recorded —
      // keeping the narrow recorded one would make readers drop the
      // added columns silently
      val recordSchema =
        if (mergeSchema) Some(recordedSchema(merged.schema, partBy))
        else schema.orElse(Some(recordedSchema(merged.schema, partBy)))
      beforeConditionalCommit()
      commitIfHead(spark, table, files, head, uuid, recordSchema,
          headStats ++ newStats, partBy, "merge", txn = txn) match {
        case Some(v) => return v
        case None =>
          // Lost the race. Before discarding the derivation, try to
          // RECONCILE (see [[reconcilePublish]]): valid iff no
          // interloper rewrote an affected file and no file they added
          // holds one of this merge's source keys — a source key in an
          // interloper file would change what matches (update) vs
          // inserts, so that forces the re-derive. The check is
          // envelope-pruned then column-pruned: O(interloper churn).
          val srcKeyRows = updates.select(keys.map(col): _*)
          val conflicts = (added: Seq[String], schema2: Option[StructType],
              stats2: Map[String, Map[String, (Double, Double)]],
              partBy2: Seq[String]) => added.nonEmpty && {
            // a BY SOURCE delete/update serializing after an
            // interleaved append must consider the appended rows (any
            // of them could be unmatched-and-condition-true) — carrying
            // the stale derivation would silently exempt them: re-derive
            whenNotMatchedBySourceDelete.isDefined ||
            whenNotMatchedBySourceUpdate.isDefined || {
              val cand =
                if (bounds.isEmpty) added
                else pruneDnf(added, stats2, Seq(rangeConj(bounds)))
              cand.nonEmpty && !readFiles(spark, table, cand, schema2, partBy2,
                  new Skipping(stats2))
                .select(keys.map(col): _*)
                .join(srcKeyRows, keys, "left_semi")
                .isEmpty
            }
          }
          reconcilePublish(spark, table, rel, schema, partBy, affected,
              newFiles, newStats, recordSchema, uuid, conflicts,
              headCons, "merge", headTombs, txn = txn,
              baseDvs = headDvs,
              baseTransforms = partitionTransforms(spark, table, head)) match {
            case Some(v) => return v
            case None => // semantic conflict — discard the data, re-derive
              fs(spark, new Path(table)).delete(new Path(table, s"data/$uuid"), true)
          }
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"merge on $table lost $maxAttempts commit races")
  }

  /** Delete-by-predicate as one committed snapshot, with file-level
    * pruning (the Delta shape): only files that CONTAIN matching rows
    * are rewritten (their surviving rows re-packed into new files);
    * untouched files carry over by reference. No matching rows → no
    * new version (returns the current head). Same conditional-commit
    * re-derive loop as [[upsert]].
    *
    * The find-the-victims scan is AUTOMATICALLY stats-pruned: range
    * constraints extracted from `pred` itself (the [[readWhere]]
    * machinery — sound by construction, since `pred` implies each of
    * its own conjuncts, a file outside them cannot hold a matching
    * row) plus any explicit `scanRanges` skip files without reading
    * them. `scanRanges` stays CALLER-ASSERTED: pred must be false
    * outside them. At 100 TB this turns DELETE's victim scan from a
    * full read into the few files owning the predicate's range. */
  def deleteWhere(spark: SparkSession, table: String, pred: Column,
                  maxAttempts: Int = 5,
                  scanRanges: Seq[(String, Double, Double)] = Nil): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      val headTombs = deleteTombstones(spark, table, head)
      val headDvs = deleteVectors(spark, table, head)
      if (rel.isEmpty) return head
      // the index's decision for `pred`, narrowed by the caller-asserted
      // scanRanges
      val headSkip = skipping(spark, table, head, headStats)
      val scanConj = rangeConj(scanRanges)
      val candidates = pruneDnf(
        candidatesFor(spark, table, rel, schema, partBy, headSkip, pred),
        headStats, Seq(scanConj))
      if (candidates.isEmpty) return head
      // absolute scan path → the manifest's relative form via
      // [[relFileCol]] (everything from the last /data/ on — correct
      // at any partition-dir depth); tombstone-aware so rows another
      // (lazy) delete already hid neither match nor survive a rewrite
      val withFile = readLive(spark, table, candidates, schema, partBy,
        headTombs, headSkip, tagFile = true, dvs = headDvs)
      val affected = withFile.filter(pred).select("__f").distinct()
        .collect().map(_.getString(0)).toSet // bounded: ≤ |snapshot files|
      if (affected.isEmpty) return head
      val survivorsOfAffected =
        // delete rows where pred is TRUE; a NULL predicate keeps the
        // row (SQL DELETE semantics — bare `!pred` would silently drop
        // null-pred rows from rewritten files)
        withFile.filter(col("__f").isin(affected.toSeq: _*))
          .filter(!coalesce(pred, lit(false)))
          .drop("__f")
      val (uuid, newFiles, newStats) =
        writeData(spark, table, survivorsOfAffected, statsColumnsOf(headStats),
          partBy, inputBytes = Some(rewriteBytes(headStats, affected)))
      val files = rel.filterNot(affected) ++ newFiles
      // carried-over files keep their recorded stats (tryPublish drops
      // entries for files no longer in the snapshot); rewritten files
      // get fresh ranges from the write above
      val recordSchema =
        schema.orElse(Some(recordedSchema(survivorsOfAffected.schema, partBy)))
      beforeConditionalCommit()
      commitIfHead(spark, table, files, head, uuid, recordSchema,
          headStats ++ newStats, partBy, "delete") match {
        case Some(v) => return v
        case None =>
          // Lost the race — reconcile unless an interloper rewrote a
          // victim file or added a file holding rows this predicate
          // would delete (those rows would survive a carried publish);
          val conflicts = matchIn(spark, table, pred, scanConj)
          reconcilePublish(spark, table, rel, schema, partBy, affected,
              newFiles, newStats, recordSchema, uuid, conflicts,
              checkConstraints(spark, table, head), "delete",
              headTombs, baseDvs = headDvs,
              baseTransforms = partitionTransforms(spark, table, head)) match {
            case Some(v) => return v
            case None =>
              fs(spark, new Path(table)).delete(new Path(table, s"data/$uuid"), true)
          }
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"deleteWhere on $table lost $maxAttempts commit races")
  }

  /** The reconcile conflict check of a predicate rewrite: does an
    * interloper's added file hold a row `pred` matches? The files are
    * read through an index that skips by `pred`, narrowed first by the
    * caller-asserted ranges `within`. */
  private def matchIn(spark: SparkSession, table: String, pred: Column,
                      within: Conj = Map.empty)
      : (Seq[String], Option[StructType],
         Map[String, Map[String, (Double, Double)]], Seq[String]) => Boolean =
    (added, schema2, stats2, partBy2) => {
      val cand = pruneDnf(added, stats2, Seq(within))
      cand.nonEmpty && !readFiles(spark, table, cand, schema2, partBy2,
        new Skipping(stats2)).filter(pred).isEmpty
    }

  /** TRUNCATE — the metadata-only full clear (ADVICE r14): publish a
    * new version with an EMPTY file list, carrying the schema,
    * partition layout, hidden transforms, and CHECK constraints
    * forward and dropping every tombstone and deletion vector (their
    * targets left the snapshot with the files). No data file is read
    * or written — at 100 TB this is one manifest publish, where the
    * DELETE-with-true-predicate spelling would scan every live row to
    * compute an empty survivor set. History and time travel stay
    * intact: pre-truncate versions read exactly as before, and the
    * truncate is RESTOREable like any other version. An already-empty
    * table commits nothing (the deleteWhere no-op contract). */
  def truncate(spark: SparkSession, table: String,
               maxAttempts: Int = 5): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      val (rel, schema, _, partBy) = snapshotAll(spark, table, head)
      if (head == 0 || rel.isEmpty) return head
      commitIfHead(spark, table, Nil, head, "truncate", schema,
          Map.empty, partBy, op = "truncate",
          tombstones = Some(Nil), dvs = Some(Map.empty)) match {
        case Some(v) => return v
        case None => // lost the race — re-derive against the new head
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"truncate on $table lost $maxAttempts commit races")
  }

  /** REPLACE WHERE — the idempotent region-reload idiom (Delta's
    * `replaceWhere`) as ONE committed snapshot: atomically delete
    * every row matching `pred` AND insert `batch`, whose rows must
    * ALL satisfy `pred` — refused before anything is written
    * otherwise, because the statement's contract is "this region now
    * equals this batch" and a stray out-of-region row would silently
    * leak into a region the statement never claimed. The 100 TB
    * backfill move: recompute one day / one partition and swap it in
    * atomically — a failed job leaves the old region intact, and a
    * re-run converges to the same logical image.
    *
    * Cost is O(region), never O(table): victim files stats-prune
    * through the same DNF machinery as [[deleteWhere]], only files
    * holding matching rows rewrite (their non-matching rows carry
    * through verbatim), the batch writes like an append, and every
    * untouched file carries by reference. Batch discipline matches
    * the append path: exact recorded-schema equality (replace is
    * ingestion, not evolution) and CHECK-constraint validation before
    * any write. Lost races reconcile exactly like [[deleteWhere]] —
    * an interloper whose added files hold predicate-matching rows
    * forces a re-derive (those rows belong to the replaced region). */
  def replaceWhere(spark: SparkSession, table: String, pred: Column,
                   batch: DataFrame, maxAttempts: Int = 5): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    require(batch.filter(!coalesce(pred, lit(false))).isEmpty,
      s"replaceWhere batch on $table carries rows OUTSIDE the predicate " +
        "region — the contract is \"this region now equals this batch\"; " +
        "widen the predicate or filter the batch")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      val headTombs = deleteTombstones(spark, table, head)
      val headDvs = deleteVectors(spark, table, head)
      // append discipline: exact recorded-schema match, checked
      // per-attempt against the CURRENT head (a concurrent overwrite
      // can change the schema between attempts)
      schema.foreach { s =>
        val incoming = batch.schema.map(x => (x.name, stripMeta(x.dataType))).toSet
        val have = s.map(x => (x.name, stripMeta(x.dataType))).toSet
        require(have == incoming,
          s"replaceWhere batch schema mismatch on $table: table has " +
            s"$have, batch has $incoming")
      }
      val cons = checkConstraints(spark, table, head)
      cons.foreach { case (n, sql) =>
        require(batch.filter(not(coalesce(expr(sql), lit(true)))).isEmpty,
          s"replaceWhere batch on $table violates CHECK constraint $n ($sql)")
      }
      // write-time region guard (ADVICE r14): the batch plan
      // re-evaluates between the containment check above and the
      // write below, so a NON-DETERMINISTIC source could pass
      // validation yet materialize out-of-region rows at write time —
      // re-filtering the written image with the predicate makes the
      // "this region now equals this batch" contract hold under any
      // re-evaluation, at zero cost for deterministic batches (the
      // filter folds into the write scan and keeps every row)
      val aligned = schema.map(s =>
        batch.select(s.fieldNames.toIndexedSeq.map(col): _*)).getOrElse(batch)
        .filter(coalesce(pred, lit(false)))
      val headSkip = skipping(spark, table, head, headStats)
      val candidates =
        candidatesFor(spark, table, rel, schema, partBy, headSkip, pred)
      val affected: Set[String] =
        if (candidates.isEmpty) Set.empty
        else readLive(spark, table, candidates, schema, partBy, headTombs,
            headSkip, tagFile = true, dvs = headDvs)
          .filter(pred).select("__f").distinct()
          .collect().map(_.getString(0)).toSet // bounded: ≤ |snapshot files|
      if (affected.isEmpty && aligned.isEmpty) return head
      val toWrite =
        if (affected.isEmpty) aligned
        else readLive(spark, table, affected.toSeq, schema, partBy,
            headTombs, headSkip, dvs = headDvs)
          // SQL DELETE semantics: a NULL predicate keeps the row
          .filter(!coalesce(pred, lit(false)))
          .unionByName(aligned)
      val (uuid, newFiles, newStats) =
        writeData(spark, table, toWrite, statsColumnsOf(headStats), partBy,
          inputBytes = Some(rewriteBytes(headStats, affected, planBytes(aligned))))
      val files = rel.filterNot(affected) ++ newFiles
      val recordSchema =
        schema.orElse(Some(recordedSchema(toWrite.schema, partBy)))
      beforeConditionalCommit()
      commitIfHead(spark, table, files, head, uuid, recordSchema,
          headStats ++ newStats, partBy, "replace-where") match {
        case Some(v) => return v
        case None =>
          // same conflict rule as deleteWhere: an interloper's added
          // files holding predicate-matching rows belong to the
          // replaced region — a carried publish would keep them
          val conflicts = matchIn(spark, table, pred)
          reconcilePublish(spark, table, rel, schema, partBy, affected,
              newFiles, newStats, recordSchema, uuid, conflicts,
              cons, "replace-where", headTombs, baseDvs = headDvs,
              baseTransforms = partitionTransforms(spark, table, head)) match {
            case Some(v) => return v
            case None =>
              fs(spark, new Path(table)).delete(new Path(table, s"data/$uuid"), true)
          }
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"replaceWhere on $table lost $maxAttempts commit races")
  }

  /** UPDATE-by-predicate as one committed snapshot, with file-level
    * pruning (the Delta UPDATE shape, r12): only files that CONTAIN
    * matching rows are rewritten — each matching row gets its
    * `assignments` applied, non-matching rows in the same files carry
    * through verbatim — and untouched files carry over by reference.
    * No matching rows → no new version (returns the head), same
    * contract as [[deleteWhere]], whose victim-scan pruning,
    * NULL-predicate semantics (a NULL predicate updates nothing), and
    * lost-race reconcile this mirrors.
    *
    * Assignment discipline: each assigned expression must produce the
    * column's recorded type, or a type whose sanctioned WIDENING it is
    * (an int literal into a long column up-casts through the same
    * lattice [[widenColumn]] and the SQL INSERT path use) — anything
    * else is refused at analysis, never silently cast. Updated rows
    * re-validate the table's CHECK constraints (an UPDATE can create a
    * violation a DELETE cannot). Updating an identity partition column
    * moves rows between partition dirs naturally (the rewrite lays out
    * by the new value); hidden-transform TARGETS are unassignable by
    * construction (not in the schema — analysis fails loudly) and
    * their sources re-derive inside writeData like every rewrite. */
  def updateWhere(spark: SparkSession, table: String,
                  assignments: Seq[(String, Column)], pred: Column,
                  maxAttempts: Int = 5): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      val headTombs = deleteTombstones(spark, table, head)
      val headDvs = deleteVectors(spark, table, head)
      if (rel.isEmpty) return head
      val headSkip = skipping(spark, table, head, headStats)
      val candidates =
        candidatesFor(spark, table, rel, schema, partBy, headSkip, pred)
      if (candidates.isEmpty) return head
      val withFile = readLive(spark, table, candidates, schema, partBy,
        headTombs, headSkip, tagFile = true, dvs = headDvs)
      val names = withFile.columns.filterNot(_ == "__f").toSeq
      assignments.foreach { case (c, _) => require(names.contains(c),
        s"UPDATE on $table assigns unknown column '$c' " +
          s"(columns: ${names.mkString(", ")})") }
      val hit = coalesce(pred, lit(false)) // NULL predicate: no update
      // analysis-only type probe per assignment; widen-or-refuse
      val assignOf = assignments.toMap
      def valueCol(c: String): Column = {
        val target = withFile.schema(c).dataType
        val e = assignOf(c)
        val aType = withFile.select(e.as("__p")).schema.head.dataType
        if (sameType(aType, target)) e
        else if (safeStoreCast(aType, target)) e.cast(target)
        else throw new IllegalArgumentException(
          s"UPDATE on $table assigns $aType to column '$c' ($target) — " +
            "only the value-preserving widening lattice casts implicitly; " +
            "cast explicitly or widenColumn first")
      }
      val affected = withFile.filter(pred).select("__f").distinct()
        .collect().map(_.getString(0)).toSet // bounded: ≤ |snapshot files|
      if (affected.isEmpty) return head
      val rewritten = withFile.filter(col("__f").isin(affected.toSeq: _*))
        .select(names.map(c =>
          (if (assignOf.contains(c)) when(hit, valueCol(c)).otherwise(col(c))
           else col(c)).as(c)): _*)
      // an UPDATE can mint constraint-violating rows — validate the
      // updated image of the affected files before any data is written
      requireSatisfied(rewritten,
        checkConstraints(spark, table, head), s"an UPDATE on $table")
      val (uuid, newFiles, newStats) =
        writeData(spark, table, rewritten, statsColumnsOf(headStats), partBy,
          inputBytes = Some(rewriteBytes(headStats, affected)))
      val files = rel.filterNot(affected) ++ newFiles
      val recordSchema =
        schema.orElse(Some(recordedSchema(rewritten.schema, partBy)))
      beforeConditionalCommit()
      commitIfHead(spark, table, files, head, uuid, recordSchema,
          headStats ++ newStats, partBy, "update") match {
        case Some(v) => return v
        case None =>
          // lost the race: reconcilable iff no interloper file holds a
          // row this predicate would have updated (it would silently
          // miss the update) and no victim file was itself rewritten
          val conflicts = matchIn(spark, table, pred)
          reconcilePublish(spark, table, rel, schema, partBy, affected,
              newFiles, newStats, recordSchema, uuid, conflicts,
              checkConstraints(spark, table, head), "update",
              headTombs, baseDvs = headDvs,
              baseTransforms = partitionTransforms(spark, table, head)) match {
            case Some(v) => return v
            case None =>
              fs(spark, new Path(table)).delete(new Path(table, s"data/$uuid"), true)
          }
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"updateWhere on $table lost $maxAttempts commit races")
  }

  /** LAZY delete (merge-on-read, the deletion-vector idea at predicate
    * granularity): instead of rewriting the files holding matching
    * rows, record a TOMBSTONE — the predicate's SQL plus the
    * stats-pruned set of files that could hold a match — as a
    * metadata-only commit. O(manifest) at any table size: zero rows
    * move, and every read path (read/readRange/readWhere, MERGE's
    * target scan, OPTIMIZE) applies the predicate to exactly the
    * targeted files, codegen'd. Scoping to the target files is what
    * makes lazy ≡ eager: rows APPENDED after the delete stay visible
    * even when they match (point-in-time DELETE semantics — an
    * unscoped predicate would silently swallow future inserts).
    * Rewrites materialize their files' tombstones as a side effect
    * (target lists self-clean at publish); [[materializeDeletes]] or
    * any [[compact]] clears the rest. File-granular [[changes]] shows
    * nothing for a lazy delete (no file churn) — the rows surface in
    * the CDF when materialized.
    * Returns the committed version, or the current head when nothing
    * can match (no commit — same contract as eager deleteWhere). */
  def deleteWhereLazy(spark: SparkSession, table: String, pred: Column,
                      maxAttempts: Int = 5): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      if (rel.isEmpty) return head
      // resolves the predicate against the recorded schema (bad column
      // references fail HERE, loudly), yields the resolvable SQL text
      // the read paths will re-parse, and — optimized — the files the
      // index keeps for it: the tombstone's targets
      val probe = readFiles(spark, table, rel, schema, partBy,
        skipping(spark, table, head, headStats)).filter(pred)
      val predSql = probe.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.headOption.getOrElse(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(pred)).sql
      val candidates = { val k = filesKept(probe).toSet; rel.filter(k) }
      if (candidates.isEmpty) return head
      val tombs = deleteTombstones(spark, table, head) :+ (predSql, candidates)
      beforeConditionalCommit()
      if (tryPublish(spark, table, head, rel, s"tomb-${b64t(predSql).take(16)}",
          schema, headStats, partBy, op = "delete-lazy",
          tombstones = Some(tombs)))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"deleteWhereLazy on $table lost $maxAttempts commit races")
  }

  /** ROW-granular lazy delete via deletion vectors (the Delta DV
    * shape): find the matching rows' (file, row position) pairs ONCE —
    * a stats-pruned, column-prunable scan — and record them as
    * per-file vectors in a METADATA-ONLY commit. Zero data files move,
    * however scattered the victims: one user's rows spread across most
    * of a 100k-file table delete in O(deleted rows), where the
    * predicate tombstone would target (and eventually rewrite) nearly
    * every file and the eager path would rewrite them today. The
    * complement, not a replacement: a delete matching a large fraction
    * of rows belongs to [[deleteWhere]] (the vector would be as big as
    * the data), and a prunable predicate over few files does fine with
    * either. Reads anti-filter on (file, `_metadata.row_index`) —
    * row positions in immutable parquet files are stable by
    * construction. Rewrites of vectored files apply their vectors
    * during the derive; [[materializeDeletes]]/[[compact]] clear all.
    * Unlike the predicate tombstone, the vector is POSITIONS, so later
    * appends are untouched by construction — no target-list scoping
    * subtlety at all. Returns the committed version, or the head when
    * nothing matches (no commit). */
  def deleteWhereVector(spark: SparkSession, table: String, pred: Column,
                        maxAttempts: Int = 5): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      if (rel.isEmpty) return head
      val headTombs = deleteTombstones(spark, table, head)
      val headDvs = deleteVectors(spark, table, head)
      val headSkip = skipping(spark, table, head, headStats)
      val candidates =
        candidatesFor(spark, table, rel, schema, partBy, headSkip, pred)
      if (candidates.isEmpty) return head
      // the victim scan sees the LIVE table (rows already hidden by a
      // tombstone or an earlier vector neither match nor re-record)
      import org.apache.spark.sql.functions.col
      val victims = readLive(spark, table, candidates, schema, partBy,
          headTombs, headSkip, tagFile = true, dvs = headDvs,
          tagRowIndex = true)
        .filter(pred)
        .select(col("__f"), col("__ri"))
        .collect() // bounded by matched rows — the scattered-delete unit
        .map(r => (r.getString(0), r.getLong(1)))
      if (victims.isEmpty) return head
      val grown = victims.groupBy(_._1).map { case (f, rs) =>
        f -> (headDvs.getOrElse(f, Nil) ++ rs.map(_._2)).distinct.sorted.toSeq
      }
      val merged = headDvs ++ grown
      beforeConditionalCommit()
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, rel, "dv",
            schema, headStats, partBy, op = "delete-vector",
            dvs = Some(merged)))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"deleteWhereVector on $table lost $maxAttempts commit races")
  }

  /** Apply every pending tombstone for real: rewrite ONLY the targeted
    * files with their deletes applied, carry everything else by
    * reference, clear the tombstone set. The background half of the
    * lazy-delete contract — read-visible state does not change, the
    * read-path filters just disappear. Returns the committed version
    * (the head unchanged when there is nothing pending). */
  def materializeDeletes(spark: SparkSession, table: String,
                         maxAttempts: Int = 5): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      val tombs = deleteTombstones(spark, table, head)
      val dvsHead = deleteVectors(spark, table, head)
      if (tombs.isEmpty && dvsHead.isEmpty) return head
      val relSet = rel.toSet
      val targeted = (tombs.flatMap(_._2) ++ dvsHead.keys)
        .distinct.filter(relSet).sorted
      if (targeted.isEmpty) return head
      val survivors = readLive(spark, table, targeted, schema, partBy, tombs,
        new Skipping(headStats), dvs = dvsHead)
      val (uuid, newFiles, newStats) =
        writeData(spark, table, survivors, statsColumnsOf(headStats), partBy,
          inputBytes = Some(rewriteBytes(headStats, targeted)))
      val targetedSet = targeted.toSet
      beforeConditionalCommit()
      commitIfHead(spark, table, rel.filterNot(targetedSet) ++ newFiles, head,
          uuid, schema.orElse(Some(recordedSchema(survivors.schema, partBy))),
          headStats ++ newStats, partBy, "materialize",
          tombstones = Some(Nil), dvs = Some(Map.empty)) match {
        case Some(v) => return v
        case None => // lost the race — discard and re-derive
          fs(spark, new Path(table)).delete(new Path(table, s"data/$uuid"), true)
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"materializeDeletes on $table lost $maxAttempts commit races")
  }

  /** Change feed (file-granular, the Delta CDF shape without
    * per-row _change_type bookkeeping): all rows living in files that
    * version `sinceVersion + 1 .. toVersion` ADDED to the lineage.
    * For an append-only table this is exactly the rows committed in
    * that range — the incremental-consumer primitive (downstream jobs
    * read `changes(lastSeen)` instead of re-scanning the table). For
    * upsert/merge/deleteWhere commits it includes the rewritten
    * survivors of the TOUCHED files (file granularity is the honest
    * unit here) — and, since the touched-file MERGE, is BOUNDED BY
    * CHURN: rows in carried-by-reference files never appear, so a
    * changed row is always in the feed but an unchanged neighbor is
    * only if it shared a file with one. Row-level classification is
    * [[rowChanges]]' job.
    * Empty range or no added files → empty frame with the head schema
    * (a never-committed table has no schema to offer: schemaless empty
    * frame, so the documented consumer pattern of starting from
    * `lastSeen = 0` works before the first commit too — ADVICE r5). */
  def changes(spark: SparkSession, table: String, sinceVersion: Int,
              toVersion: Int = -1): DataFrame = {
    val to = if (toVersion < 0) currentVersion(spark, table) else toVersion
    require(sinceVersion <= to,
      s"sinceVersion $sinceVersion is beyond version $to of $table")
    val before = snapshotFiles(spark, table, sinceVersion).toSet
    // group the range's added files by the version that FIRST added
    // them and read each group under THAT version's recorded schema
    // and partition layout (not footer inference — ADVICE r8 — and not
    // a blanket to-version read, which would strip the physically
    // present columns of files written before a layout-changing
    // overwrite and null them from pathless `<col>=` derivation).
    // unionByName widens across a mid-range evolution; the final
    // projection surfaces the to-version column set.
    var seen = before
    val groups = (sinceVersion + 1 to to).flatMap { v =>
      val fresh = snapshotFiles(spark, table, v).filterNot(seen)
      seen = seen ++ fresh
      if (fresh.isEmpty) None else Some((v, fresh))
    }
    if (groups.nonEmpty) {
      // each group reads LIVE under the TO-version delete state
      // (tombstones target exactly the files that existed at delete
      // time, vectors are per-file — so the filters land on precisely
      // the right groups): a row lazy-deleted as of `to` must not flow
      // to feed consumers as a live insert. Deletes of UNCHURNED files
      // still surface only at materialization (file granularity).
      val toTombs = deleteTombstones(spark, table, to)
      val toDvs = deleteVectors(spark, table, to)
      val toFields = snapshotSchema(spark, table, to)
        .map(_.fields.toSeq).getOrElse(Nil)
      val unioned = groups.map { case (v, fs) =>
        // re-spelled to the TO-version names (see [[layoutAs]]) —
        // without it the projection would null-fill the "missing" new
        // name and silently drop the old one
        val (gSchema, gPartBy) = layoutAs(spark, table, v, to)
        // to-version columns this group's schema lacks: null-filled
        // before the to-version tombstone filters resolve (see
        // readLive's tombAugment note)
        val missing = gSchema.map(g =>
          toFields.filterNot(f => g.fieldNames.contains(f.name)))
          .getOrElse(Nil)
        readLive(spark, table, fs, gSchema, gPartBy, toTombs,
          sizesOnly(snapshotStats(spark, table, v)), dvs = toDvs,
          tombAugment = missing)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      snapshotSchema(spark, table, to) match {
        case Some(s) =>
          import org.apache.spark.sql.functions.{col, lit}
          // surface the FULL to-version column set: a metadata-only
          // addColumn inside the range exists in no group's physical
          // read, so a present-columns-only projection would silently
          // drop it — null-fill at the recorded type instead, exactly
          // as a to-schema read of old files does (ADVICE r9)
          val have = unioned.columns.toSet
          unioned.select(s.fields.toIndexedSeq.map { f =>
            if (have.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*)
        case None => unioned
      }
    }
    else if (to == 0) spark.emptyDataFrame
    else read(spark, table, to).limit(0)
  }

  /** Row-level change feed (the Delta CDF read shape): what happened
    * to each KEY between `sinceVersion` and `toVersion`, as the table's
    * columns plus `_change_type` ∈ {insert, update_post, delete} —
    * insert and update_post carry the post-image row, delete the
    * pre-image. Rows untouched between the versions are absent.
    * Derived, not bookkept: [[multisetDelta]]'s file-granular diff
    * narrows both sides to the CHURNED files only (rows in files added
    * to the lineage vs rows in files dropped from it, plus files whose
    * deletion vector changed — so a vectored delete is reported once,
    * in the range holding its commit), and a full-outer join
    * on `keys` classifies each — a rewritten-but-identical survivor
    * (same key, null-safe-equal row) is filtered out, which is exactly
    * the spurious duplication c23's hand-rolled feed had to `distinct`
    * away. Precondition (same as [[upsert]]): keys are unique per
    * snapshot. At 100 TB the join cost is bounded by the churned file
    * volume, never the table — an append touches only the new files;
    * only a full rewrite pays a full diff. */
  def rowChanges(spark: SparkSession, table: String, sinceVersion: Int,
                 keys: Seq[String], toVersion: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    // tombstones are deferred deletes: they surface exactly once, when
    // a rewrite materializes them
    val (post, pre) = multisetDelta(spark, table, sinceVersion, toVersion,
      deferTombstones = true)
    val cols = post.columns.toSeq
    def keyed(df: DataFrame, as: String): DataFrame =
      df.select(keys.map(col) :+ struct(cols.map(col): _*).as(as): _*)
    keyed(post, "_post").join(keyed(pre, "_pre"), keys, "full_outer")
      .withColumn("_change_type",
        when(col("_pre").isNull, lit("insert"))
          .when(col("_post").isNull, lit("delete"))
          .otherwise(lit("update_post")))
      .filter(col("_change_type") =!= "update_post" ||
        !(col("_post") <=> col("_pre")))
      // whole-row pick, not per-column coalesce: an update that sets a
      // column to NULL must surface that NULL, not the pre-image value
      .withColumn("_row",
        when(col("_post").isNull, col("_pre")).otherwise(col("_post")))
      .select(cols.map(c => col(s"_row.$c").as(c)) :+ col("_change_type"): _*)
  }

  /** Multiset row delta between two versions (r17, incremental
    * materialized-view maintenance; also [[rowChanges]]' two sides):
    * `(entered, left)` — the live rows that ENTERED the snapshot and
    * the live rows that LEFT it, both under the to-version column set.
    * No key columns and no join: a compaction's rewritten-but-identical
    * row appears on both sides and cancels in any additive use; the
    * dirty-GROUP rescan only projects the union's group keys, where
    * double-appearance is harmless. Cost is O(churned files): the
    * added/removed file diff, plus shared files whose row-level delete
    * state — deletion vectors or tombstone targeting — changed between
    * the versions (a metadata-only delete churns no file yet changes
    * the live rowset; both sides read such a file LIVE under their own
    * version's delete state, so the difference is exactly the
    * newly-hidden rows).
    *
    * Each side reads under ITS OWN version's recorded schema and
    * partition layout (the snapshot-homogeneity rule guarantees added
    * ⊆ to-layout and removed ⊆ since-layout; reading the since side
    * under the to layout would strip a physically-present column and
    * re-derive it as null from paths without `<col>=` dirs). The since
    * side is re-spelled to the to-version logical names (column
    * mapping: a rename inside the range keeps its physical identity)
    * and aligned to the to-version column set — missing columns null,
    * dropped ones projected away. With `deferTombstones` tombstones
    * are not row state: a changed target list churns nothing and no
    * side reads under them, so a lazy delete surfaces once, when a
    * rewrite drops its file, and the delta stays additive over any
    * split of the range. */
  private[sources] def multisetDelta(spark: SparkSession, table: String,
      sinceVersion: Int, toVersion: Int = -1,
      deferTombstones: Boolean = false): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, lit}
    val to = if (toVersion < 0) currentVersion(spark, table) else toVersion
    require(sinceVersion <= to,
      s"sinceVersion $sinceVersion is beyond version $to of $table")
    val before = snapshotFiles(spark, table, sinceVersion)
    val after = snapshotFiles(spark, table, to)
    val beforeSet = before.toSet; val afterSet = after.toSet
    val added = after.filterNot(beforeSet)
    val removed = before.filterNot(afterSet)
    val dvS = deleteVectors(spark, table, sinceVersion)
    val dvT = deleteVectors(spark, table, to)
    // deferred tombstones are no row state on either side: every file
    // reads raw of them, so a lazily deleted row stays in the feed until
    // the rewrite that drops its file reports it, whichever ranges the
    // versions are split into
    val tombS = if (deferTombstones) Nil else deleteTombstones(spark, table, sinceVersion)
    val tombT = if (deferTombstones) Nil else deleteTombstones(spark, table, to)
    def predsOf(tb: Seq[(String, Seq[String])]): Map[String, Seq[String]] =
      tb.flatMap { case (p, fs) => fs.map(_ -> p) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val pS = predsOf(tombS)
    val pT = predsOf(tombT)
    val dvChurned = after.filter(beforeSet).filter(f =>
      dvS.get(f) != dvT.get(f) || pS.get(f) != pT.get(f))
    val schema = snapshotSchema(spark, table, to)
    val partedBy = partitionColumns(spark, table, to)
    def emptySide: DataFrame = read(spark, table, to).limit(0)
    val post = {
      val fs = added ++ dvChurned
      if (fs.isEmpty) emptySide
      else readLive(spark, table, fs, schema, partedBy, tombT,
        new Skipping(snapshotStats(spark, table, to)), dvs = dvT)
    }
    val cols = post.columns.toSeq
    val typeOf = post.schema.map(f => f.name -> f.dataType).toMap
    val pre = {
      val fs = removed ++ dvChurned
      if (fs.isEmpty) emptySide
      else {
        val (respelled, partBy) = layoutAs(spark, table, sinceVersion, to)
        val raw = readLive(spark, table, fs, respelled, partBy, tombS,
          sizesOnly(snapshotStats(spark, table, sinceVersion)), dvs = dvS)
        val have = raw.columns.toSet
        raw.select(cols.map(c =>
          if (have.contains(c)) col(c)
          else lit(null).cast(typeOf(c)).as(c)): _*)
      }
    }
    (post, pre)
  }

  /** Version `v`'s recorded schema and partition columns re-spelled to
    * version `to`'s logical names through the stable physical identity
    * (column mapping, r12/r13): a column — partition columns included
    * — renamed between the two keeps its bytes and dirs but surfaces
    * under the name the to-version projection and predicates speak.
    * [[respellTo]] preserves field positions, so a positional zip maps
    * each v-era name to its to-version spelling. */
  private def layoutAs(spark: SparkSession, table: String, v: Int,
                       to: Int): (Option[StructType], Seq[String]) = {
    val toFields = snapshotSchema(spark, table, to).map(_.fields.toSeq).getOrElse(Nil)
    val vSchema = snapshotSchema(spark, table, v)
    val respelled = vSchema.map(respellTo(_, toFields))
    val renameOf = vSchema.map(_.fields.toSeq).getOrElse(Nil)
      .zip(respelled.map(_.fields.toSeq).getOrElse(Nil))
      .map { case (a, b) => a.name -> b.name }.toMap
    (respelled, partitionColumns(spark, table, v).map(p => renameOf.getOrElse(p, p)))
  }

  /** OPTIMIZE-style compaction: rewrite the head snapshot into
    * `targetFiles` larger files (optionally range-sorted by `sortBy` —
    * pair with a z-order key column for multi-dimensional locality, as
    * c13/s6 demonstrate on raw parquet), published as one conditional
    * commit. Prior versions keep referencing the small files until
    * [[expire]] reclaims them, so time travel is unaffected and readers
    * never block. A concurrent writer winning the slot ABORTS the
    * compaction (no retry: maintenance is idempotent — re-run it;
    * retrying here would immediately clobber the writer's new data).
    * Returns the committed version. */
  def compact(spark: SparkSession, table: String, targetFiles: Int = 1,
              sortBy: Seq[Column] = Nil,
              statsColumns: Seq[String] = Nil): Int = {
    require(targetFiles >= 1, "targetFiles must be positive")
    val head = currentVersion(spark, table)
    val (rel0, schema0, stats0, partBy) = snapshotAll(spark, table, head)
    require(head >= 1, s"no committed snapshot in $table")
    if (rel0.isEmpty) return head // a delete-everything snapshot: nothing to pack
    // tombstone-aware full read: OPTIMIZE materializes every pending
    // lazy delete (its publish clears them — see below)
    val tombs0 = deleteTombstones(spark, table, head)
    val dvs0 = deleteVectors(spark, table, head)
    val df0 = readLive(spark, table, rel0, schema0, partBy, tombs0,
      new Skipping(stats0), dvs = dvs0)
    // Hidden partition-transform targets are NOT in the read frame (the
    // read hides them by design) — shuffling "on the partition columns"
    // must recompute them from their sources through the ONE shared
    // transform expression, or OPTIMIZE on a transform-partitioned
    // table dies on an unresolvable column (probe r11: it did).
    val pts0 = partitionTransforms(spark, table, head)
    def layoutCol(c: String): Column = pts0.find(_.target == c) match {
      case Some(pt) => transformCol(pt,
        org.apache.spark.sql.functions.col(pt.source),
        df0.schema(pt.source).dataType)
      case None => org.apache.spark.sql.functions.col(c)
    }
    val df =
      if (partBy.nonEmpty) {
        // partitioned OPTIMIZE: shuffle ON the layout values so each
        // task owns whole partition values — one output file per
        // value, not targetFiles × values small files. With sortBy the
        // rows additionally cluster WITHIN their partition (the Delta
        // OPTIMIZE ZORDER semantics: z-order is per-partition — a
        // global range sort would scatter every partition value across
        // all output files and re-explode the file count).
        val layout = partBy.map(layoutCol)
        // With sortBy the shuffle is RANGE on (layout ++ sortBy) — the
        // Delta OPTIMIZE ZORDER shape done properly (r12, fixing two
        // r11 defects at once):
        //  - each task owns a CONTIGUOUS (value, key) slice, so a
        //    partition value larger than one file splits into files
        //    with tight, disjoint key ranges — the within-partition
        //    clustering that makes a key predicate prune INSIDE the
        //    partitions a layout predicate keeps. (The r11 hash-on-
        //    layout shuffle collapsed each value into ONE task → one
        //    file per value → nothing within a value to prune.)
        //    Output file count stays ~targetFiles + values-straddling-
        //    a-boundary, never targetFiles × values.
        //  - the sort runs ONCE with the layout as prefix (ADVICE
        //    r11): it satisfies the partitioned writer's required
        //    ordering, so no second sort, and within-value clustering
        //    holds by construction, not by sort stability.
        if (sortBy.nonEmpty)
          df0.repartitionByRange(targetFiles, layout ++ sortBy: _*)
            .sortWithinPartitions(layout ++ sortBy: _*)
        else df0.repartition(targetFiles, layout: _*)
      }
      else if (sortBy.nonEmpty)
        df0.repartitionByRange(targetFiles, sortBy: _*)
          .sortWithinPartitions(sortBy: _*)
      else df0.repartition(targetFiles)
    // OPTIMIZE is also where stats collection can BEGIN on a table
    // that never recorded any (`statsColumns`), on top of whatever the
    // head already tracks — the z-order payoff needs both: sorted
    // layout (tight per-file ranges) and recorded ranges to prune on
    val cols = (statsColumnsOf(stats0) ++ statsColumns).distinct.sorted
    val (uuid, files, newStats) = writeData(spark, table, df, cols, partBy)
    val recordSchema = schema0.orElse(Some(recordedSchema(df.schema, partBy)))
    beforeConditionalCommit()
    commitIfHead(spark, table, files, head, uuid, recordSchema,
        newStats, partBy, "compact", tombstones = Some(Nil),
        dvs = Some(Map.empty)) match {
      case Some(v) => v
      case None =>
        // Lost the race. OPTIMIZE removes every base file, so the only
        // reconcilable interleaving is pure ADDITION (appends, or a
        // merge/delete that touched no base file — impossible, so in
        // practice: appends): carry the interloper files alongside the
        // compacted image unconditionally (they are merely not yet
        // compacted — the next OPTIMIZE picks them up, the Delta
        // OPTIMIZE-vs-ingest rule). Any rewrite of a base file means
        // the compacted image holds stale rows → give up loudly.
        reconcilePublish(spark, table, rel0, schema0, partBy, rel0.toSet,
            files, newStats, recordSchema, uuid,
            (_, _, _, _) => false,
            checkConstraints(spark, table, head), "compact",
            tombs0, publishTombstones = Some(Nil),
            baseDvs = dvs0, publishDvs = Some(Map.empty),
            baseTransforms = partitionTransforms(spark, table, head)) match {
          case Some(v) => v
          case None =>
            fs(spark, new Path(table)).delete(new Path(table, s"data/$uuid"), true)
            throw new java.util.ConcurrentModificationException(
              s"compaction of $table lost the commit race to a concurrent writer; re-run")
        }
    }
  }

  /** Metadata-only ADD COLUMN: record the widened schema (new column
    * last among data columns, nullable), move zero data — every
    * existing file reads the column as null through the recorded
    * schema, exactly like a mergeSchema append's evolution but without
    * needing a batch. Name-based mapping caveat (the pre-column-mapping
    * Delta behavior): re-adding a name that an old file PHYSICALLY
    * contains surfaces that file's old values — use fresh names for
    * new semantics, or pass `freshStorage = true` (r12): the new
    * column then maps to a uuid-suffixed PHYSICAL name no old file
    * can contain, so every pre-add row reads null regardless of what
    * the files once stored — the column-mapping fix for the caveat
    * (stamps the `colmap` feature like [[renameColumn]]). */
  def addColumn(spark: SparkSession, table: String, name: String,
                dataType: DataType, maxAttempts: Int = 5,
                freshStorage: Boolean = false): Int =
    addColumns(spark, table, Seq(name -> dataType), maxAttempts, freshStorage)

  /** Multi-column [[addColumn]] as ONE committed version — the SQL
    * `ADD COLUMNS (a INT, b STRING)` statement-atomicity shape (ADVICE
    * r12: one version per column left the table half-altered when a
    * later column's validation failed mid-statement). Every column
    * validates against the same head BEFORE the single publish. */
  def addColumns(spark: SparkSession, table: String,
                 cols: Seq[(String, DataType)], maxAttempts: Int = 5,
                 freshStorage: Boolean = false): Int =
    addColumnsAt(spark, table, cols.map { case (n, t) => Seq(n) -> t },
      maxAttempts, freshStorage)

  /** The type-directed path walk every nested schema edit shares
    * (r14, mirroring [[renameColumnPath]]'s traversal): descend
    * `parent` — struct levels take a FIELD name, arrays the
    * Delta-style `element` step, maps `key`/`value` — and apply
    * `edit` to the struct there. The read/write machinery is already
    * recursive over these shapes (physType / the positional cast
    * rename), so an edited struct at any depth reads and writes
    * correctly with zero call-site changes. */
  private def editStructAt(root: StructType, parent: Seq[String],
                           edit: StructType => StructType,
                           dotted: String, table: String): StructType = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    def inType(dt: DataType, rest: Seq[String]): DataType =
      if (rest.isEmpty) dt match {
        case st: StructType => edit(st)
        case other => throw new IllegalArgumentException(
          s"'$dotted' on $table does not address a struct field " +
            s"(its parent is $other)")
      } else (dt, rest.head) match {
        case (st: StructType, step) =>
          require(st.fieldNames.contains(step),
            s"no column '$dotted' on $table ('$step' not found)")
          StructType(st.fields.map(x =>
            if (x.name == step) x.copy(dataType = inType(x.dataType, rest.tail))
            else x))
        case (ArrayType(et, n), "element") => ArrayType(inType(et, rest.tail), n)
        case (MapType(k, v, n), "key") => MapType(inType(k, rest.tail), v, n)
        case (MapType(k, v, n), "value") => MapType(k, inType(v, rest.tail), n)
        case (other, step) => throw new IllegalArgumentException(
          s"cannot edit '$dotted' on $table: path step '$step' does not " +
            s"address $other — struct levels take a field name, arrays " +
            "take `element`, maps take `key`/`value`")
      }
    inType(root, parent).asInstanceOf[StructType]
  }

  /** [[addColumns]] for NESTED fields, addressed by path (r14):
    * `addColumnsAt(…, Seq(Seq("s", "c")) -> IntegerType)` adds `s.c` —
    * the same metadata-only commit (old files read the new nested
    * field as null through parquet schema clipping, exactly like a
    * top-level add). Sibling uniqueness and physical injectivity
    * gate at the field's OWN nesting level; `freshStorage` maps a
    * re-added name to uuid-suffixed fresh storage at depth, fixing
    * the name-based resurrection caveat there too. Top-level paths
    * additionally gate against hidden-transform targets and the
    * reserved stats key (nested fields carry neither). */
  def addColumnsAt(spark: SparkSession, table: String,
                   cols: Seq[(Seq[String], DataType)], maxAttempts: Int = 5,
                   freshStorage: Boolean = false,
                   defaults: Map[String, String] = Map.empty): Int = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    require(cols.forall(_._1.nonEmpty), "ADD COLUMNS needs non-empty paths")
    require(cols.map(_._1).distinct.length == cols.length,
      s"duplicate column paths in ${cols.map(_._1.mkString(".")).mkString(", ")}")
    cols.filter(_._1.length == 1).foreach { case (path, _) =>
      require(path.head != SizeKey, s"column name '${path.head}' is reserved") }
    // exists-defaults (r17, the Delta allowColumnDefaults shape): an
    // added-with-DEFAULT column records TWO facts — the CURRENT
    // default (future inserts fill it, SET/DROP DEFAULT edits it) and
    // the frozen EXISTS default literal pre-add files surface on read.
    // Top-level only (nested fields have no insert-fill face), and the
    // column stores under a FRESH uuid physical name so no historical
    // file can shadow the fill with resurrected bytes.
    defaults.keys.foreach { n =>
      require(cols.exists(_._1 == Seq(n)),
        s"ADD COLUMNS on $table: DEFAULT for '$n' — exists-defaults " +
          "attach to the statement's own TOP-LEVEL columns only")
    }
    val frozen: Map[String, String] = defaults.map { case (n, sql) =>
      val dt = cols.find(_._1 == Seq(n)).get._2
      ColumnSpecs.validateDefault(spark, s"ADD COLUMNS on $table", n, dt, sql)
      n -> ColumnSpecs.freezeDefault(spark, s"ADD COLUMNS on $table",
        n, dt, sql)
    }
    // one physical identity per statement: retries must not strand a
    // differently-named sidecar per attempt
    val physOf: Map[String, String] = defaults.keys.map(n =>
      n -> s"${n}_${java.util.UUID.randomUUID().toString.take(8)}").toMap
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      val sch = schema.getOrElse(recordedSchema(readFiles(spark, table,
        files.take(1), None, partBy, new Skipping(stats)).schema, partBy))
      val edited = cols.foldLeft(sch) { case (cur, (path, dataType)) =>
        val (parent, name) = (path.init, path.last)
        val dotted = path.mkString(".")
        if (parent.isEmpty)
          // a data column named like a hidden layout column would let
          // a later batch carry its OWN values for it — the writer
          // would lay files out by the data instead of the transform,
          // silently corrupting partition pruning
          require(!partitionTransforms(spark, table, head)
              .exists(_.target == name),
            s"column '$name' collides with a hidden partition-transform target")
        editStructAt(cur, parent, { st =>
          require(!st.fieldNames.contains(name),
            s"column '$dotted' already exists on $table")
          val nf =
            if (parent.isEmpty && defaults.contains(name))
              ColumnSpecs.withExistsDefault(
                ColumnSpecs.withDefault(
                  StructField(name, dataType, nullable = true,
                    metadata = new org.apache.spark.sql.types.MetadataBuilder()
                      .putString(PhysNameKey, physOf(name)).build()),
                  defaults(name)),
                frozen(name))
            else if (!freshStorage) StructField(name, dataType, nullable = true)
            else StructField(name, dataType, nullable = true,
              metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .putString(PhysNameKey,
                  s"${name}_${java.util.UUID.randomUUID().toString.take(8)}")
                .build())
          // physical namespace must stay injective AT THIS LEVEL:
          // adding logical 'a' when a RENAMED sibling still stores
          // under physical 'a' would make two fields read the same bytes
          require(!st.fields.exists(f => physName(f) == physName(nf)),
            s"column name '$dotted' is the physical storage of an existing " +
              "(renamed) sibling — pass freshStorage = true")
          StructType(st.fields :+ nf)
        }, dotted, table)
      }
      val widened = recordedSchema(edited, partBy)
      // the pre-add census publishes BEFORE the schema does: any
      // reader that can see the column can classify its files. A lost
      // commit race re-derives the census against the new head and
      // rewrites the same sidecar (same physical name per statement).
      if (defaults.nonEmpty) {
        val dir = existsDefaultsDir(table)
        val f = fs(spark, dir)
        f.mkdirs(dir)
        physOf.values.foreach { phys =>
          val node = RootCodec.mapper.createObjectNode()
          val arr = node.putArray("files")
          files.sorted.foreach(arr.add)
          val p = new Path(dir, s"$phys.json")
          f.delete(p, false)
          require(createExclusive(f, p, RootCodec.mapper.writeValueAsBytes(node)),
            s"could not publish the exists-default census for $table.$phys")
          existsPreCache.remove((table, phys))
        }
      }
      beforeConditionalCommit()
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files,
            s"addcol-${b64t(cols.map(_._1.mkString(".")).mkString(","))}",
            Some(widened), stats, partBy, op = "add-column"))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"addColumns on $table lost $maxAttempts commit races")
  }

  // -----------------------------------------------------------------
  // Exists-default read support (r17): `_manifests/exists_defaults/
  // <physName>.json` lists the file census at ADD time — the files
  // whose rows PREDATE the column and surface its frozen literal
  // instead of null. Version-independent (a file either predates the
  // add or it doesn't — compaction rewrites bake the fill and leave
  // the list behind), expiry-proof (no historical manifest read), and
  // clone-carried. One cached set per (table, column); classification
  // is a driver-side set lookup per file in hand.
  // -----------------------------------------------------------------

  private def existsDefaultsDir(table: String) =
    new Path(manifestDir(table), "exists_defaults")

  private val existsPreCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Set[String]]()

  private def existsPreSet(spark: SparkSession, table: String,
                           phys: String): Set[String] = {
    val hit = existsPreCache.get((table, phys))
    if (hit != null) return hit
    val p = new Path(existsDefaultsDir(table), s"$phys.json")
    val set =
      try {
        val in = fs(spark, p).open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        import scala.jdk.CollectionConverters._
        RootCodec.mapper.readTree(text).path("files").elements().asScala
          .map(_.asText()).toSet
      } catch { case _: java.io.FileNotFoundException =>
        // no census (hand-built manifest): nothing classifies as
        // pre-add — the pre-r17 null read, never a wrong fill.
        // NOT cached: the add statement's own publish window writes
        // the sidecar moments before the schema lands.
        return Set.empty
      }
    existsPreCache.put((table, phys), set)
    set
  }

  /** file → names of exists-default columns whose ADD it predates
    * (empty classifier when the schema carries none — zero cost). */
  private def existsFillClassifier(spark: SparkSession, table: String,
      schema: Option[StructType]): String => Set[String] = {
    val exCols = schema.map(_.fields.toSeq.filter(f =>
      ColumnSpecs.existsDefaultOf(f).isDefined)).getOrElse(Nil)
    if (exCols.isEmpty) _ => Set.empty
    else {
      val pre = exCols.map(f => f.name -> existsPreSet(spark, table, physName(f)))
      (fl: String) => pre.collect { case (n, s) if s.contains(fl) => n }.toSet
    }
  }

  /** The sanctioned WIDENINGS: value-preserving embeddings Spark's
    * parquet reader up-casts natively when the read schema is wider
    * than a file's physical pages (ColumnEvolutionSpec pins the
    * up-cast). long→double is deliberately absent — |long| can exceed
    * 2^53 and the embedding would silently round. */
  private[sources] val WideningsTo: Map[DataType, Set[DataType]] = {
    import org.apache.spark.sql.types._
    Map(
      ByteType -> Set[DataType](ShortType, IntegerType, LongType, DoubleType),
      ShortType -> Set[DataType](IntegerType, LongType, DoubleType),
      IntegerType -> Set[DataType](LongType, DoubleType),
      FloatType -> Set[DataType](DoubleType))
  }

  /** Store-assignment for the SQL INSERT/UPDATE faces: the widening
    * lattice plus the exact DECIMAL-literal embeddings (`VALUES (1.0)`
    * parses as DECIMAL(2,1)) — still value-preserving ONLY: a decimal
    * fits a double below 16 digits of precision, a scale-0 decimal
    * fits the integer type that holds its precision; anything lossy
    * stays refused. */
  private[sources] def safeStoreCast(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    WideningsTo.get(from).exists(_.contains(to)) || ((from, to) match {
      case (d: DecimalType, DoubleType) => d.precision <= 15
      case (d: DecimalType, LongType) => d.scale == 0 && d.precision <= 18
      case (d: DecimalType, IntegerType) => d.scale == 0 && d.precision <= 9
      // a bare NULL literal (`VALUES (…, NULL)`) types as NullType and
      // stores into ANY nullable column losslessly (r17)
      case (org.apache.spark.sql.types.NullType, _) => true
      case _ => false
    })
  }

  /** Metadata-only TYPE WIDENING (the Delta type-widening / Iceberg
    * schema-evolution `int → long` shape): record the widened schema,
    * move zero data. Old files keep their narrow physical pages and
    * read correctly through the recorded schema (Spark's parquet
    * reader up-casts int32/float pages natively); new appends must
    * carry the widened type (the same strict append discipline as
    * ever). At 100 TB this is the difference between a key outgrowing
    * int32 being one tiny manifest commit and being a full table
    * rewrite.
    *
    * Deliberately carries NO protocol feature gate: the recorded
    * schema IS the read contract and both eras read correctly under
    * it by plain parquet semantics — any engine era reads a widened
    * table right, so there is nothing to refuse.
    *
    * Stats are carried UNCHANGED: recorded ranges are doubles and
    * every sanctioned widening is value-preserving, so each file's
    * (min, max) still brackets its rows exactly.
    *
    * Refused, loudly: narrowing or any non-sanctioned change
    * (long→double rounds above 2^53); a bucket/truncate transform
    * SOURCE (xxhash64 of an int and of the same value as long differ —
    * new layout values would diverge from the recorded dirs and the
    * pruner would skip live files); a bloom-indexed column (same hash
    * drift → false negatives → wrong pruning). Identity partition
    * columns widen fine — their pruning rides type-agnostic
    * degenerate double ranges. */
  def widenColumn(spark: SparkSession, table: String, name: String,
                  to: DataType, maxAttempts: Int = 5): Int =
    widenColumns(spark, table, Seq(name -> to), maxAttempts)

  /** Multi-column [[widenColumn]] as ONE committed version (the SQL
    * statement-atomicity shape — see [[addColumns]]). */
  def widenColumns(spark: SparkSession, table: String,
                   cols: Seq[(String, DataType)], maxAttempts: Int = 5): Int =
    widenColumnsAt(spark, table, cols.map { case (n, t) => Seq(n) -> t },
      maxAttempts)

  /** [[widenColumns]] for NESTED fields, addressed by path (r14):
    * the same metadata-only widening — parquet's reader up-casts
    * narrow physical pages at any nesting depth, so old files read
    * correctly through the widened recorded schema. Bucket-source and
    * bloom gates spell TOP-LEVEL names only (nested fields can be
    * neither), so only the lattice check gates a nested widen. */
  def widenColumnsAt(spark: SparkSession, table: String,
                     cols: Seq[(Seq[String], DataType)],
                     maxAttempts: Int = 5): Int = {
    require(cols.nonEmpty, "ALTER COLUMN needs at least one column")
    require(cols.forall(_._1.nonEmpty), "ALTER COLUMN needs non-empty paths")
    require(cols.map(_._1).distinct.length == cols.length,
      s"duplicate column paths in ${cols.map(_._1.mkString(".")).mkString(", ")}")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      val sch = schema.getOrElse(recordedSchema(readFiles(spark, table,
        files.take(1), None, partBy, new Skipping(stats)).schema, partBy))
      cols.filter(_._1.length == 1).foreach { case (path, _) =>
        val name = path.head
        // bucket is the one type-SENSITIVE transform (xxhash64 of int vs
        // long differ); truncate runs through a double cast and calendar
        // kinds have no widenable source type, so both stay free to widen
        partitionTransforms(spark, table, head).foreach(pt =>
          require(!(pt.kind == "bucket" && pt.source == name),
            s"cannot widen $table.$name: it is the source of the " +
              s"bucket layout transform and xxhash64 is type-sensitive — " +
              "widened writes would lay out differently than the recorded " +
              "dirs and pruning would skip live files"))
        bloomConfig(spark, table, head).foreach(bc =>
          require(!bc.cols.contains(name),
            s"cannot widen $table.$name: it is bloom-indexed and xxhash64 is " +
              "type-sensitive — widened lookups would miss old-era bit sets " +
              "(false negatives). dropBloom first, widen, re-add and OPTIMIZE"))
      }
      val widened = cols.foldLeft(sch) { case (cur, (path, to)) =>
        val (parent, name) = (path.init, path.last)
        val dotted = path.mkString(".")
        editStructAt(cur, parent, { st =>
          val field = st.fields.find(_.name == name).getOrElse(
            throw new IllegalArgumentException(s"no column '$dotted' on $table"))
          require(WideningsTo.get(field.dataType).exists(_.contains(to)),
            s"cannot widen $table.$dotted from ${field.dataType} to $to — " +
              "sanctioned widenings are byte/short/int→(wider int|long|double), " +
              "float→double (value-preserving, natively up-cast by the reader); " +
              "anything else needs an explicit rewrite")
          StructType(st.fields.map(f =>
            if (f.name == name) f.copy(dataType = to) else f))
        }, dotted, table)
      }
      beforeConditionalCommit()
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files,
            s"widencol-${b64t(cols.map(_._1.mkString(".")).mkString(","))}",
            Some(recordedSchema(widened, partBy)), stats, partBy,
            op = "widen-column"))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"widenColumns on $table lost $maxAttempts commit races")
  }

  /** Metadata-only `ALTER TABLE … ALTER COLUMN c SET DEFAULT <expr>` /
    * `DROP DEFAULT` (r16): records (or clears) the column's DEFAULT
    * spec in the versioned schema — one O(metadata) commit, zero data
    * moves. Applies to FUTURE inserts only, the Delta discipline:
    * existing rows are untouched and no exists-default is recorded (a
    * backfill is an explicit UPDATE the user can see the cost of).
    * Refused on GENERATED/IDENTITY columns (their fill IS their spec)
    * and on nested fields (defaults fill INSERT columns — top-level). */
  def setColumnDefaults(spark: SparkSession, table: String,
                        edits: Seq[(String, Option[String])],
                        maxAttempts: Int = 5): Int = {
    require(edits.nonEmpty, "SET/DROP DEFAULT needs at least one column")
    require(edits.map(_._1).distinct.length == edits.length,
      "duplicate columns in the DEFAULT edit")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      val sch = schema.getOrElse(recordedSchema(readFiles(spark, table,
        files.take(1), None, partBy, new Skipping(stats)).schema, partBy))
      val edited = edits.foldLeft(sch) { case (cur, (name, sqlOpt)) =>
        val f = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"no top-level column '$name' on $table (defaults fill " +
              "INSERT columns — nested fields have none)"))
        require(ColumnSpecs.generatedOf(f).isEmpty &&
            ColumnSpecs.identityOf(f).isEmpty,
          s"ALTER COLUMN ${f.name} on $table: a GENERATED/IDENTITY " +
            "column fills itself — it takes no DEFAULT")
        val nf = sqlOpt match {
          case Some(sql) =>
            ColumnSpecs.validateDefault(spark, s"ALTER TABLE $table",
              f.name, f.dataType, sql)
            ColumnSpecs.withDefault(f, sql)
          case None => ColumnSpecs.withoutDefault(f)
        }
        StructType(cur.fields.map(x => if (x.name == f.name) nf else x))
      }
      beforeConditionalCommit()
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files,
            s"setdefault-${b64t(edits.map(_._1).mkString(","))}",
            Some(recordedSchema(edited, partBy)), stats, partBy,
            op = "set-default"))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"setColumnDefaults on $table lost $maxAttempts commit races")
  }

  /** Metadata-only RENAME COLUMN through column mapping (the Delta
    * columnMapping idiom, r12): the recorded schema's field takes the
    * new LOGICAL name and remembers the column's PHYSICAL (on-disk)
    * name in its metadata — assigned once, never changed — so files of
    * every era keep reading correctly and zero data moves. Stats keys
    * re-spell to the new logical name in the same commit (on a
    * segmented table that fails the carry rule and rewrites the
    * segments — an O(table METADATA) cost, still zero data; documented
    * in SCALE.md). The published root stamps the `colmap` protocol
    * feature, so a mapping-ignorant engine era refuses the snapshot
    * instead of silently reading nulls for the renamed column — the
    * r11 feature gate's first real client.
    *
    * Refused, loudly: partition columns and transform sources/targets
    * (the path grammar and layout record spell their names),
    * bloom-indexed columns (sidecar keys — dropBloom, rename, re-add),
    * and columns referenced by a CHECK constraint or pending tombstone
    * (their recorded SQL would dangle — drop/materialize first). */
  def renameColumn(spark: SparkSession, table: String, from: String,
                   to: String, maxAttempts: Int = 5): Int =
    renameColumnPath(spark, table, Seq(from), to, maxAttempts)

  /** [[renameColumn]] for a NESTED struct field, addressed by path —
    * `renameColumnPath(…, Seq("s", "a"), "b")` renames `s.a` to `s.b`
    * (r13, Delta nested-column-mapping parity). The same pure schema
    * edit: the field keeps its physical storage name in metadata at
    * its own nesting level, zero data moves, and time travel / CDF /
    * clone stay version-correct because the mapping rides the schema.
    * Nested fields carry no stats keys, partition/transform/bloom
    * references, so only sibling uniqueness, physical injectivity
    * among siblings, and recorded-SQL (constraint/tombstone)
    * references gate the rename. Paths must traverse STRUCTS —
    * renaming inside array elements or map values is refused. */
  def renameColumnPath(spark: SparkSession, table: String,
                       path: Seq[String], to: String,
                       maxAttempts: Int = 5): Int = {
    require(path.nonEmpty, "rename needs a column path")
    val from = path.head
    require(to.nonEmpty && !to.startsWith(ReservedStatsPrefix) &&
      to != "__f" && to != "__ri",
      s"column name '$to' is reserved")
    require(!to.exists(ch => ch == '"' || ch == '\\' || ch == '\n' || ch == '\r'),
      s"column name '$to' contains characters the manifest grammar cannot carry")
    val dotted = path.mkString(".")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      val sch = schema.getOrElse(recordedSchema(readFiles(spark, table,
        files.take(1), None, partBy, new Skipping(stats)).schema, partBy))
      if (path.length == 1) {
        // top-level-only references: layout transforms and bloom
        // sidecars spell TOP-LEVEL names (existence and
        // sibling-uniqueness live in the shared renameIn below).
        // IDENTITY partition columns are renameable (r13): partition
        // dirs spell the column's PHYSICAL name — stable across the
        // rename — the manifest's partitionBy list re-spells to the
        // new logical name in the same commit, and the read side
        // derives the column from the physical dir key (readFiles).
        // Transform SOURCES/TARGETS stay refused: the transform record
        // and the write-side derivation spell the source by name, and
        // targets are not schema fields at all.
        partitionTransforms(spark, table, head).foreach { pt =>
          require(pt.source != from && pt.target != from,
            s"cannot rename '$from': the ${pt.kind} layout transform names it")
          require(pt.target != to,
            s"column '$to' collides with a hidden partition-transform target")
        }
        bloomConfig(spark, table, head).foreach(bc =>
          require(!bc.cols.contains(from),
            s"cannot rename bloom-indexed column '$from' — " +
              "dropBloom, rename, then re-add the index"))
      }
      // one renamed-field builder, any depth: the edited field takes
      // the new logical name and REMEMBERS its physical storage
      // type-directed path walk: struct levels consume a FIELD name,
      // array/map levels consume the Delta-style `element` / `key` /
      // `value` step (the read/write machinery is already recursive
      // over those shapes — physType / the positional cast rename)
      def renameInType(dt: DataType, rest: Seq[String]): DataType =
        (dt, rest.head) match {
          case (st: StructType, _) =>
            StructType(renameIn(st.fields, rest))
          case (org.apache.spark.sql.types.ArrayType(et, n), "element")
              if rest.length > 1 =>
            org.apache.spark.sql.types.ArrayType(
              renameInType(et, rest.tail), n)
          case (org.apache.spark.sql.types.MapType(k, v, n), "key")
              if rest.length > 1 =>
            org.apache.spark.sql.types.MapType(
              renameInType(k, rest.tail), v, n)
          case (org.apache.spark.sql.types.MapType(k, v, n), "value")
              if rest.length > 1 =>
            org.apache.spark.sql.types.MapType(
              k, renameInType(v, rest.tail), n)
          case (other, step) => throw new IllegalArgumentException(
            s"cannot rename '$dotted' on $table: path step '$step' does " +
              s"not address $other — struct levels take a field name, " +
              "arrays take `element`, maps take `key`/`value`")
        }
      def renameIn(fields: Array[StructField], rest: Seq[String])
          : Array[StructField] = {
        val target = rest.head
        val f = fields.find(_.name == target).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$dotted' on $table ('$target' not found)"))
        if (rest.length == 1) {
          require(!fields.exists(_.name == to),
            s"column '$to' already exists alongside '$dotted' on $table")
          // no physical-injectivity check needed: a rename never
          // changes physical names, so the physical namespace stays
          // exactly as injective as it was (and a back-rename to the
          // field's OWN physical spelling is legal — Delta allows it)
          fields.map(x =>
            if (x.name == target)
              x.copy(name = to,
                metadata = new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(x.metadata)
                  .putString(PhysNameKey, physName(x)).build())
            else x)
        } else fields.map(x =>
          if (x.name == target)
            x.copy(dataType = renameInType(f.dataType, rest.tail))
          else x)
      }
      val renamed = StructType(renameIn(sch.fields, path))
      def stillAnalyzes(sql: String): Boolean =
        try {
          spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), renamed)
            .filter(org.apache.spark.sql.functions.expr(sql))
            .queryExecution.analyzed
          true
        } catch { case _: Exception => false }
      checkConstraints(spark, table, head).foreach { case (n, sql) =>
        require(stillAnalyzes(sql),
          s"CHECK constraint '$n' references '$dotted' — drop it first") }
      deleteTombstones(spark, table, head).foreach { case (sql, _) =>
        require(stillAnalyzes(sql),
          s"a pending lazy delete references '$dotted' — materialize first") }
      // generated-column references (r16): a generated expression
      // spelling the OLD name would dangle — every future INSERT
      // would fail at run time; refuse the rename instead
      renamed.fields.foreach(f => ColumnSpecs.generatedOf(f).foreach { g =>
        val ok =
          try {
            spark.createDataFrame(
                new java.util.ArrayList[org.apache.spark.sql.Row](), renamed)
              .select(org.apache.spark.sql.functions.expr(g))
              .queryExecution.analyzed
            true
          } catch { case _: Exception => false }
        require(ok,
          s"GENERATED column '${f.name}' (ALWAYS AS ($g)) references " +
            s"'$dotted' — its recorded expression would dangle after the " +
            "rename")
      })
      // stats keys are LOGICAL, top-level only — re-spell them with a
      // top-level rename; a nested rename touches no stats key
      def rekey(k: String): String =
        if (k == from) to
        else if (k == NullsKeyPrefix + from) NullsKeyPrefix + to
        else if (k == NonNullsKeyPrefix + from) NonNullsKeyPrefix + to
        else k
      val respelled =
        if (path.length > 1) stats
        else stats.map { case (f, m) =>
          f -> m.map { case (k, v) => rekey(k) -> v } }
      beforeConditionalCommit()
      if (currentVersion(spark, table) == head &&
          {
            // a renamed IDENTITY partition column re-spells the
            // manifest's partitionBy list in the same commit (the
            // dirs keep the stable physical key; this list is the
            // LOGICAL layout the schema speaks)
            val partBy2 =
              if (path.length == 1) partBy.map(p => if (p == from) to else p)
              else partBy
            tryPublish(spark, table, head, files, s"renamecol-${b64t(to)}",
              Some(recordedSchema(renamed, partBy2)), respelled, partBy2,
              op = "rename-column")
          })
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"renameColumnPath on $table lost $maxAttempts commit races")
  }

  /** Metadata-only DROP COLUMN: record the narrowed schema; the
    * physical column stays in the files but no reader requests it
    * again (and its stats entries are dropped, so nothing ever prunes
    * on it). Refused when the column is a partition column or is
    * referenced by a CHECK constraint or a pending tombstone — those
    * must be dropped/materialized first, loudly, not broken
    * silently. */
  def dropColumn(spark: SparkSession, table: String, name: String,
                 maxAttempts: Int = 5): Int =
    dropColumns(spark, table, Seq(name), maxAttempts)

  /** Multi-column [[dropColumn]] as ONE committed version (the SQL
    * statement-atomicity shape — see [[addColumns]]). Constraint and
    * tombstone references validate against the FULLY narrowed schema,
    * so a reference to any dropped column refuses the whole
    * statement. */
  def dropColumns(spark: SparkSession, table: String, names: Seq[String],
                  maxAttempts: Int = 5): Int =
    dropColumnsAt(spark, table, names.map(Seq(_)), maxAttempts)

  /** [[dropColumns]] for NESTED fields, addressed by path (r14):
    * the recorded struct at that level loses the field — the physical
    * bytes stay in the files but no reader requests them again.
    * Dropping a struct's LAST field is refused (an empty struct is
    * unwritable parquet); constraint/tombstone references to the
    * dropped path refuse the statement exactly like top-level. */
  def dropColumnsAt(spark: SparkSession, table: String,
                    paths: Seq[Seq[String]], maxAttempts: Int = 5): Int = {
    require(paths.nonEmpty, "DROP COLUMN needs at least one column")
    require(paths.forall(_.nonEmpty), "DROP COLUMN needs non-empty paths")
    require(paths.distinct.length == paths.length,
      s"duplicate column paths in ${paths.map(_.mkString(".")).mkString(", ")}")
    val names = paths.filter(_.length == 1).map(_.head)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"no committed snapshot in $table")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      val sch = schema.getOrElse(recordedSchema(readFiles(spark, table,
        files.take(1), None, partBy, new Skipping(stats)).schema, partBy))
      names.foreach { name =>
        require(!partBy.contains(name),
          s"cannot drop partition column '$name'")
      }
      val narrowed = paths.foldLeft(sch) { case (cur, path) =>
        val (parent, name) = (path.init, path.last)
        val dotted = path.mkString(".")
        editStructAt(cur, parent, { st =>
          require(st.fieldNames.contains(name),
            s"no column '$dotted' on $table")
          require(st.fields.length > 1,
            if (parent.isEmpty) s"cannot drop every column of $table"
            else s"cannot drop '$dotted' — it is the last field of its " +
              "struct (an empty struct is unwritable; drop the struct)")
          StructType(st.fields.filterNot(_.name == name))
        }, dotted, table)
      }
      def stillAnalyzes(sql: String): Boolean =
        try {
          spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), narrowed)
            .filter(org.apache.spark.sql.functions.expr(sql))
            .queryExecution.analyzed
          true
        } catch { case _: Exception => false }
      checkConstraints(spark, table, head).foreach { case (n, sql) =>
        require(stillAnalyzes(sql),
          s"CHECK constraint '$n' references a dropped column — drop it first") }
      deleteTombstones(spark, table, head).foreach { case (sql, _) =>
        require(stillAnalyzes(sql),
          s"a pending lazy delete references a dropped column — materialize first") }
      // generated-column references (r16): a SURVIVING generated
      // expression must still analyze over the narrowed schema — a
      // dangling reference would fail every future INSERT at run time
      narrowed.fields.foreach(f => ColumnSpecs.generatedOf(f).foreach { g =>
        val ok =
          try {
            spark.createDataFrame(
                new java.util.ArrayList[org.apache.spark.sql.Row](), narrowed)
              .select(org.apache.spark.sql.functions.expr(g))
              .queryExecution.analyzed
            true
          } catch { case _: Exception => false }
        require(ok,
          s"GENERATED column '${f.name}' (ALWAYS AS ($g)) references a " +
            "dropped column — drop it first (or together)")
      })
      val stripped = stats.map { case (f, m) =>
        f -> names.foldLeft(m)((acc, name) =>
          acc - name - (NullsKeyPrefix + name) - (NonNullsKeyPrefix + name)) }
      beforeConditionalCommit()
      if (currentVersion(spark, table) == head &&
          tryPublish(spark, table, head, files,
            s"dropcol-${b64t(paths.map(_.mkString(".")).mkString(","))}",
            Some(recordedSchema(narrowed, partBy)), stripped, partBy,
            op = "drop-column"))
        return head + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"dropColumns on $table lost $maxAttempts commit races")
  }

  /** RESTORE the table to the image of `version`, as a NEW commit —
    * rollback that PRESERVES history (the Delta RESTORE shape): the
    * new head references the target version's files BY REFERENCE
    * (zero rows move), together with its recorded schema, stats,
    * sizes, and partition spec. Readers of intermediate versions are
    * untouched, time travel still sees the pre-restore lineage, and
    * [[expire]]'s reachability keeps the restored files live even
    * after the target version's own manifest ages out. Like
    * Overwrite, restore is declarative ("make the head this image"),
    * so a lost race retries into the next slot — last-writer-wins is
    * what it means. At 100 TB this is the incident-response move: an
    * ingest bug poisons the head, restore flips back in O(manifest)
    * time, the bad versions stay inspectable until expired. */
  def restore(spark: SparkSession, table: String, version: Int,
              maxAttempts: Int = 50): Int = {
    require(version >= 1, "cannot restore to version 0 (pre-first-commit)")
    val (files, schema, stats, partBy) = snapshotAll(spark, table, version)
    require(files.nonEmpty, s"version $version of $table has no snapshot")
    // restore is the whole table STATE: the target's constraint set
    // and pending tombstones come back too (its data was validated /
    // filtered under those, not under whatever changed since)
    val cons = checkConstraints(spark, table, version)
    val tombs = deleteTombstones(spark, table, version)
    val targetDvs = deleteVectors(spark, table, version)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      // the target's segments are reused as-is (donor): a restore of a
      // 100k-file segmented snapshot writes ONE tiny root, no segments
      // restore is the WHOLE state: the target's bloom config and
      // partition-transform record come back too (empty = cleared)
      val target = root(spark, table, version)
      if (tryPublish(spark, table, head, files, s"restore-$version",
          schema, stats, partBy, Some(cons), op = "restore",
          tombstones = Some(tombs), reuseSegmentsOf = Some(version),
          dvs = Some(targetDvs),
          bloom = Some(target.bloom), transforms = Some(target.transforms)))
        return head + 1
      if (currentVersion(spark, table) <= head)
        throw new java.io.IOException(
          s"manifest publish of $table v${head + 1} failed although no " +
            "concurrent commit advanced the head — non-race failure " +
            "(permissions or filesystem misbehavior), not retrying")
    }
    throw new java.util.ConcurrentModificationException(
      s"restore on $table lost $maxAttempts publish races")
  }

  /** Republish the CURRENT snapshot unchanged, carrying `txn` — a
    * metadata-only marker commit: the head's segments are reused by
    * reference (restore's donor mechanics at the head itself), so no
    * data is read or written — O(manifest) at any table size. Exists
    * for writers whose txn marker must advance even when the DATA
    * doesn't: incremental MV refresh under sustained base churn that
    * never touches the view's slice (ADVICE r17 — without this the
    * unconsumed delta window grows until the marker's manifest
    * expires and the refresh silently degrades to a full recompute). */
  private[sources] def recommitWithTxn(spark: SparkSession, table: String,
                                       txn: (String, Long),
                                       txnExtra: Seq[(String, Long)] = Nil,
                                       maxAttempts: Int = 50): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = currentVersion(spark, table)
      require(head >= 1, s"$table has no committed version to re-mark")
      val (files, schema, stats, partBy) = snapshotAll(spark, table, head)
      val cons = checkConstraints(spark, table, head)
      val tombs = deleteTombstones(spark, table, head)
      val dvs = deleteVectors(spark, table, head)
      val r = root(spark, table, head)
      if (tryPublish(spark, table, head, files, s"marker-${txn._1}",
          schema, stats, partBy, Some(cons), op = "marker",
          tombstones = Some(tombs), reuseSegmentsOf = Some(head),
          txn = Some(txn), txnExtra = txnExtra, dvs = Some(dvs),
          bloom = Some(r.bloom), transforms = Some(r.transforms)))
        return head + 1
      if (currentVersion(spark, table) <= head)
        throw new java.io.IOException(
          s"manifest publish of $table v${head + 1} failed although no " +
            "concurrent commit advanced the head — non-race failure " +
            "(permissions or filesystem misbehavior), not retrying")
    }
    throw new java.util.ConcurrentModificationException(
      s"marker commit on $table lost $maxAttempts publish races")
  }

  /** [[restore]] addressed by wall-clock instead of version number —
    * "put the table back the way it was at 14:00". */
  def restoreAsOf(spark: SparkSession, table: String, asOfMillis: Long,
                  maxAttempts: Int = 50): Int =
    restore(spark, table, versionAsOf(spark, table, asOfMillis), maxAttempts)

  /** Incremental bin-packing OPTIMIZE (the Delta OPTIMIZE bin model):
    * compacts only files smaller than `minFileBytes`, packing them
    * into bins of ≤ `maxBinBytes` (within a partition — bins never mix
    * partition values, so each bin lands as one file) and committing
    * EACH BIN as its own conditional snapshot. Three properties a
    * 100 TB table needs that the full-table [[compact]] cannot give:
    *  - work is O(small files), not O(table): a steady-state table
    *    accumulating a few straggler files per ingest batch compacts
    *    in seconds while the petabytes of already-right-sized files
    *    are never read;
    *  - each commit removes only its bin's files, so it conflicts only
    *    with a writer touching THOSE files: concurrent appends
    *    reconcile ([[reconcilePublish]]), and a bin invalidated by an
    *    interleaved rewrite is skipped — the pass commits what it can
    *    and reports how many bins landed, never aborting wholesale,
    *    which is what lets OPTIMIZE run continuously beside ingest
    *    (the full-table compact hard-conflicts with every concurrent
    *    merge in both directions — see Stress `maintenance_drill`);
    *  - planning reads NO file metadata: sizes come from the manifest
    *    ([[snapshotSizes]], recorded at write time); only files from
    *    legacy pre-size manifests fall back to a getFileStatus.
    * Returns the number of bins committed. */
  def compactSmall(spark: SparkSession, table: String,
                   minFileBytes: Long = 32L << 20,
                   maxBinBytes: Long = 128L << 20,
                   statsColumns: Seq[String] = Nil,
                   where: Option[Column] = None): Int = {
    require(minFileBytes > 0 && maxBinBytes >= minFileBytes,
      "need 0 < minFileBytes <= maxBinBytes")
    val head0 = currentVersion(spark, table)
    if (head0 == 0) return 0
    val sizes0 = snapshotSizes(spark, table, head0)
    val rel0 = snapshotFiles(spark, table, head0)
    val f0 = fs(spark, new Path(table))
    val ext0 = externRoots(spark, table)
    def sizeOf(rel: String): Long = sizes0.getOrElse(rel, {
      val p = dataPath(ext0, table, rel) // extern dirs may live on another FS
      fs(spark, p).getFileStatus(p).getLen
    })
    // OPTIMIZE … WHERE (the Delta idiom): scope the bin-pack to the
    // files whose recorded stats could hold predicate rows — the
    // steady-state maintenance move at 100 TB compacts yesterday's
    // partition, not the whole table. Stats-pruned like every
    // predicate read; files without stats are conservatively IN.
    val scoped = where match {
      case None => rel0
      case Some(pred) =>
        val (_, schema0, stats0, partBy0) = snapshotAll(spark, table, head0)
        candidatesFor(spark, table, rel0, schema0, partBy0,
          skipping(spark, table, head0, stats0), pred)
    }
    val small = scoped.map(r => r -> sizeOf(r)).filter(_._2 < minFileBytes)
    // partition-local bins: group by the file's partition dir prefix
    // (everything between data/<uuid>/ and the file name)
    def partKey(rel: String): String =
      rel.split("/").drop(2).dropRight(1).mkString("/")
    val bins = small.groupBy(e => partKey(e._1)).toSeq.sortBy(_._1)
      .flatMap { case (_, group) =>
        // first-fit-decreasing, deterministic via the (size, path) sort
        val acc = scala.collection.mutable.ArrayBuffer
          .empty[(Long, scala.collection.mutable.ArrayBuffer[String])]
        group.sortBy { case (r, s) => (-s, r) }.foreach { case (r, s) =>
          acc.find(_._1 + s <= maxBinBytes) match {
            case Some(bin) =>
              acc(acc.indexOf(bin)) = (bin._1 + s, bin._2 += r)
            case None =>
              acc += ((s, scala.collection.mutable.ArrayBuffer(r)))
          }
        }
        acc.map(_._2.toSeq).filter(_.size >= 2) // a singleton bin gains nothing
      }
    var committed = 0
    bins.foreach { binFiles =>
      // per-bin transaction against the CURRENT head (which already
      // includes this pass's previous bins and any interleaved commits)
      val head = currentVersion(spark, table)
      val (rel, schema, headStats, partBy) = snapshotAll(spark, table, head)
      val relSet = rel.toSet
      val binTombs = deleteTombstones(spark, table, head)
      if (binFiles.forall(relSet)) { // else: an interleaved rewrite ate the bin — skip
        // one task per bin (coalesce, no shuffle): the bin is bounded by
        // maxBinBytes, and one output file is the entire point of packing;
        // tombstone-aware — packing materializes the bin files' deletes
        val df = readLive(spark, table, binFiles, schema, partBy, binTombs,
            new Skipping(headStats), dvs = deleteVectors(spark, table, head))
          .coalesce(1)
        val cols = (statsColumnsOf(headStats) ++ statsColumns).distinct.sorted
        val (uuid, newFiles, newStats) = writeData(spark, table, df, cols, partBy)
        val recordSchema = schema.orElse(Some(recordedSchema(df.schema, partBy)))
        val binSet = binFiles.toSet
        beforeConditionalCommit()
        commitIfHead(spark, table, rel.filterNot(binSet) ++ newFiles, head,
            uuid, recordSchema, headStats ++ newStats, partBy, "compact-small")
          .orElse(reconcilePublish(spark, table, rel, schema, partBy, binSet,
            newFiles, newStats, recordSchema, uuid,
            (_, _, _, _) => false,
            checkConstraints(spark, table, head), "compact-small",
            binTombs, baseDvs = deleteVectors(spark, table, head),
            baseTransforms = partitionTransforms(spark, table, head))) match {
          case Some(_) => committed += 1
          case None => // bin lost to a conflicting rewrite — drop it, move on
            fs(spark, new Path(table)).delete(new Path(table, s"data/$uuid"), true)
        }
      }
    }
    committed
  }

  /** The reclaim decision shared by [[vacuumPreview]] and [[expire]]
    * (one implementation so the dry run can never diverge from the
    * delete): unreferenced `data/<uuid>` dirs whose RECURSIVE max
    * mtime is older than the grace cutoff. The walk must be recursive
    * — an in-flight writer refreshes mtimes at the depth it is
    * writing (multi-level partition dirs, `_temporary` job dirs),
    * which a depth-1 check never sees, so a long write could be
    * reclaimed mid-flight inside its own grace window. Every stat is
    * shielded against the dir vanishing concurrently (a lost-race
    * writer deletes its own dir): gone → not a victim. */
  private def reclaimVictims(spark: SparkSession, table: String,
                             keepVersions: Seq[Int],
                             graceMs: Long): Seq[Path] = {
    val f = fs(spark, new Path(table))
    val referenced: Set[String] = keepVersions
      .flatMap(v => snapshotFiles(spark, table, v))
      .map(_.split("/")(1)) // data/<uuid>/<part> → uuid
      .toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def maxMtimeUnder(p: Path): Long = {
      val self = f.getFileStatus(p)
      if (!self.isDirectory) self.getModificationTime
      else (f.listStatus(p).map(s =>
        if (s.isDirectory) maxMtimeUnder(s.getPath)
        else s.getModificationTime) :+ self.getModificationTime).max
    }
    val dataRoot = new Path(table, "data")
    if (!f.exists(dataRoot)) Nil
    else f.listStatus(dataRoot).map(_.getPath).toSeq
      .filterNot(p => referenced.contains(p.getName))
      .filter { p =>
        try graceMs <= 0L || maxMtimeUnder(p) < cutoff
        catch { case _: java.io.FileNotFoundException => false } // already gone
      }
  }

  /** Dry-run of [[expire]]: the data dirs a vacuum with this retention
    * WOULD reclaim, and the bytes they hold — the
    * check-before-you-delete surface every operator wants before
    * pointing a reclaim at a 100 TB table. Shares [[reclaimVictims]]
    * with expire, so preview and delete cannot diverge; byte totals
    * walk ONLY the unreferenced dirs, shielded against a dir vanishing
    * mid-preview. */
  def vacuumPreview(spark: SparkSession, table: String, keepLast: Int,
                    graceMs: Long = 0L): (Seq[String], Long) = {
    require(keepLast >= 1, "must keep at least the head version")
    val f = fs(spark, new Path(table))
    val victims = reclaimVictims(spark, table,
      versions(spark, table).takeRight(keepLast), graceMs)
    val bytes = victims.map { p =>
      try f.getContentSummary(p).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
    (victims.map(p => "data/" + p.getName).sorted, bytes)
  }

  /** Retention: keep the last `keepLast` versions' manifests, delete
    * older manifests, then delete every `data/<uuid>` directory no
    * surviving manifest references (which also reclaims crashed and
    * lost-race writers' orphan dirs). Expired versions become
    * unreadable; the surviving ones — the head above all — are
    * untouched.
    *
    * `graceMs` is the VACUUM retention clock (Delta's answer to the
    * in-flight-writer hazard): an unreferenced data dir younger than
    * the grace window is SKIPPED, because it may belong to a writer
    * that has finished its data write but not yet published its
    * manifest — deleting it would turn that writer's commit into a
    * torn table. The default 0 preserves the r5 reclaim-everything
    * behavior for single-process maintenance (and every existing
    * test); concurrent deployments pass a grace comfortably above
    * their longest write (Delta defaults to 7 days). Recency is the
    * RECURSIVE max mtime under the dir — a long multi-file write
    * keeps refreshing it at whatever depth it writes.
    *
    * READER contract (pinned by ManifestTableSpec): retention
    * (`keepLast` + `graceMs`) is the operator's promise to in-flight
    * readers, exactly Delta's VACUUM stance. A reader holding a
    * snapshot older than the window may lose its files mid-query and
    * then FAILS LOUDLY (a missing-file error from the scan) — never a
    * silently empty or partial result, because the manifest the plan
    * was built from named exactly those files. The minReaderRetention
    * guard is `graceMs` itself: size it above the longest
    * query/session lifetime and a vacuum can reclaim nothing a live
    * reader's plan may still reference. */
  def expire(spark: SparkSession, table: String, keepLast: Int,
             graceMs: Long = 0L): Unit = {
    require(keepLast >= 1, "must keep at least the head version")
    val vs = versions(spark, table)
    val f = fs(spark, new Path(table))
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepLast))
    drop.foreach(v => f.delete(manifestPath(table, v), false))
    reclaimVictims(spark, table, keep, graceMs)
      .foreach(p => f.delete(p, true))
    // segment files referenced by NO surviving root are garbage too —
    // dropped versions' exclusive segments, plus crashed publishers'
    // orphans. Same grace rule as data dirs: a fresh unreferenced
    // segment may belong to a writer between its segment write and its
    // root publish, so only reclaim past the grace window.
    val segDir = new Path(manifestDir(table), "segments")
    if (f.exists(segDir)) {
      val referenced = keep
        .flatMap(v => root(spark, table, v).segments).toSet
      val cutoff = System.currentTimeMillis() - graceMs
      f.listStatus(segDir)
        .filter(st => !referenced.contains("segments/" + st.getPath.getName))
        .filter(st => graceMs <= 0L || st.getModificationTime < cutoff)
        .foreach(st => f.delete(st.getPath, false))
    }
    // bloom sidecars die with their uuid dirs: one sidecar per commit
    // uuid, garbage once no surviving version references the uuid
    // (covers reclaimed dirs AND lost-race writers' orphans), same
    // grace rule as everything else
    val blDir = bloomsDir(table)
    if (f.exists(blDir)) {
      val refUuids = keep
        .flatMap(v => snapshotFiles(spark, table, v))
        .map(_.split("/")(1)).toSet
      val cutoff = System.currentTimeMillis() - graceMs
      f.listStatus(blDir)
        .filter(st => !refUuids.contains(st.getPath.getName.stripSuffix(".json")))
        .filter(st => graceMs <= 0L || st.getModificationTime < cutoff)
        .foreach(st => f.delete(st.getPath, false))
    }
    // ingest ledgers referenced by NO surviving root are orphans of
    // crashed/lost-race ingests (referenced ones are carried by every
    // publish, so surviving roots are the complete memory)
    val ingDir = ingestDir(table)
    if (f.exists(ingDir)) {
      val referenced = keep
        .flatMap(v => root(spark, table, v).ingestSegs).toSet
      val cutoff = System.currentTimeMillis() - graceMs
      f.listStatus(ingDir)
        .filter(st => !referenced.contains("ingest/" + st.getPath.getName))
        .filter(st => graceMs <= 0L || st.getModificationTime < cutoff)
        .foreach(st => f.delete(st.getPath, false))
    }
  }
}
