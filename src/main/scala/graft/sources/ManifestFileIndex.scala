package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, DynamicPruning, Expression, Literal, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One group of a snapshot's data files (one layout era, one
  * exists-default fill set) as Spark's [[FileIndex]], the Delta
  * `TahoeFileIndex` shape. Everything comes from the manifest: sizes
  * from the recorded `__graft_bytes`, paths from the table (or extern
  * clone) root, partition values from the recorded path's hive-escaped
  * `<col>=<value>` dirs, cast to the recorded type. Nothing is listed
  * or stat-ed (only a legacy file without a recorded size is), so
  * `_metadata.file_modification_time` reads as the epoch (0).
  *
  * The index owns the one file-skipping decision
  * ([[ManifestTable.skipFiles]], then exact partition-value filters).
  * [[PinManifestFiles]] takes it on the filters the optimizer pushed
  * onto the relation and pins it into the optimized plan, so
  * `inputFiles` and `EXPLAIN` show the kept files; an unpinned index
  * takes it in [[listFiles]], so results never depend on the rule.
  * Pushed filters name PHYSICAL columns (column mapping) while stats
  * speak logical names: `logicalOf` renames before the decision. */
final class ManifestFileIndex private (
    spark: SparkSession,
    table: String,
    root: Path,
    entries: IndexedSeq[ManifestFileIndex.Entry],
    override val partitionSchema: StructType,
    logicalOf: Map[String, String],
    types: Map[String, DataType],
    skip: ManifestTable.Skipping,
    val decision: Option[ManifestFileIndex.Decision]) extends FileIndex {
  import ManifestFileIndex._

  /** The manifest-relative paths this index scans. */
  def files: Seq[String] = entries.map(_.rel)

  override def rootPaths: Seq[Path] = Seq(root)
  override def inputFiles: Array[String] =
    entries.iterator.map(_.status.getPath.toUri.toString).toArray
  override def sizeInBytes: Long = entries.iterator.map(_.status.getLen).sum
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // the scan drops partition-key filters from its post-scan filter,
    // so they are applied here exactly, pinned or not
    val kept = decision.fold(prune(partitionFilters ++ dataFilters)._1)(_ => entries)
    byPartition(kept, partitionFilters.filter(evaluable)).groupBy(_.dirs)
      .values.map(es => PartitionDirectory(es.head.values,
        es.map(e => FileStatusWithMetadata(e.status)))).toSeq
  }

  /** This index restricted to the files `filters` may match. */
  def pin(filters: Seq[Expression]): ManifestFileIndex = {
    val (kept, steps) = prune(filters)
    new ManifestFileIndex(spark, table, root, kept, partitionSchema,
      logicalOf, types, skip, Some(Decision(entries.size, steps)))
  }

  private def prune(filters: Seq[Expression])
      : (IndexedSeq[Entry], Seq[(String, Int, Int)]) = {
    val usable = filters.filter(evaluable)
    val conds = usable.map(_.transform {
      case a: AttributeReference if logicalOf.contains(a.name) =>
        a.withName(logicalOf(a.name))
    })
    val (byStats, steps) =
      if (conds.isEmpty) (entries, Nil)
      else {
        val (kept, steps) = ManifestTable.skipFiles(spark, table, skip, types,
          entries.map(_.rel), conds)
        val keep = kept.toSet
        (entries.filter(e => keep(e.rel)), steps)
      }
    val onPartitions = usable.filter(f => f.references.nonEmpty &&
      f.references.forall(a => partitionSchema.fieldNames.contains(a.name)))
    if (onPartitions.isEmpty) (byStats, steps)
    else {
      val out = byPartition(byStats, onPartitions)
      (out, steps :+ (("partition", byStats.size, out.size)))
    }
  }

  private def byPartition(in: IndexedSeq[Entry],
                          filters: Seq[Expression]): IndexedSeq[Entry] =
    if (filters.isEmpty || in.isEmpty) in
    else {
      val p = Predicate.createInterpreted(filters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      in.filter(e => p.eval(e.values))
    }

  /** Files kept out of considered, then per mechanism "in->kept". */
  def summary: String = decision match {
    case None => s"${entries.size} files"
    case Some(d) => (s"kept ${entries.size}/${d.considered} files" +:
      d.steps.map { case (m, in, out) => s"$m $in->$out" }).mkString(", ")
  }

  override def toString: String = s"ManifestFileIndex($summary)[$table]"

  // value equality (InMemoryFileIndex's is by root paths), so a
  // self-join reuses its exchange and a cached read matches a later one;
  // data files are immutable and uniquely named
  private lazy val identity =
    (table, root, entries.map(_.rel).sorted, partitionSchema, decision)
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => m.identity == identity
    case _ => false
  }
  override def hashCode: Int = identity.hashCode
}

object ManifestFileIndex {
  /** One data file: its manifest-relative path, its status built from
    * the manifest, its partition dirs (the grouping key) and typed
    * partition values. */
  final case class Entry(rel: String, status: FileStatus, dirs: String,
                         values: InternalRow)

  /** A pinned index's decision: files considered, then per mechanism
    * (name, files in, files kept). */
  final case class Decision(considered: Int, steps: Seq[(String, Int, Int)])

  /** Filters the decision may evaluate on the driver. */
  private def evaluable(f: Expression): Boolean =
    f.deterministic && !SubqueryExpression.hasSubquery(f) &&
      !f.exists(_.isInstanceOf[DynamicPruning])

  /** The index over `files`, read under `partitionSchema` (physical dir
    * names, recorded types). `pathOf` qualifies a relative path; `size`
    * is the recorded byte size, if any. */
  private[sources] def apply(spark: SparkSession, table: String, root: Path,
      files: Seq[String], pathOf: String => Path, size: String => Option[Long],
      partitionSchema: StructType, logicalOf: Map[String, String],
      types: Map[String, DataType],
      skip: ManifestTable.Skipping): ManifestFileIndex = {
    val tz = Option(spark.conf.get("spark.sql.session.timeZone", null))
    val typed = scala.collection.mutable.HashMap.empty[(Int, String), Any]
    def value(i: Int, raw: Option[String]): Any = raw match {
      case None | Some(ManifestTable.DefaultPartition) => null
      case Some(r) => typed.getOrElseUpdate((i, r), {
        val s = ManifestTable.unescapePath(r)
        partitionSchema(i).dataType match {
          case StringType => UTF8String.fromString(s)
          case dt => Cast(Literal(s), dt, tz).eval()
        }
      })
    }
    val blockSize = root.getFileSystem(
      spark.sparkContext.hadoopConfiguration).getDefaultBlockSize(root)
    val entries = files.toIndexedSeq.map { rel =>
      // data/<uuid>/<col>=<value>/…/<file>: values are hive-escaped,
      // so the first `=` of a dir ends its name
      val segs = rel.split('/')
      val dirSegs = segs.slice(2, segs.length - 1)
      val raw = dirSegs.iterator.filter(_.contains('=')).map { d =>
        val i = d.indexOf('='); d.substring(0, i) -> d.substring(i + 1)
      }.toMap
      val path = pathOf(rel)
      val len = size(rel).getOrElse(
        path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(path).getLen)
      Entry(rel, new FileStatus(len, false, 1, blockSize, 0L, path),
        dirSegs.mkString("/"),
        InternalRow.fromSeq(partitionSchema.fields.indices.map(i =>
          value(i, raw.get(partitionSchema(i).name)))))
    }
    new ManifestFileIndex(spark, table, root, entries, partitionSchema,
      logicalOf, types, skip, None)
  }
}

/** Spark's parquet reader, named with the index's summary: a scan's
  * `EXPLAIN` prints the index's class and root, not the index, so the
  * kept/considered counts ride the scan's `Format` entry. */
final class ManifestParquet(summary: String) extends ParquetFileFormat {
  override def toString: String = s"Parquet, ManifestFileIndex($summary)"
}

/** The optimizer rule (injected by `graft.GraftExtensions` before the
  * cost-based batches) pinning the filters pushed onto a manifest
  * relation into its index, the shape of Spark's
  * `PruneFileSourcePartitions`. Filters stay; only the files shrink. */
object PinManifestFiles extends Rule[LogicalPlan] {
  private def unpinned(p: LogicalPlan): Boolean = p match {
    case LogicalRelation(HadoopFsRelation(i: ManifestFileIndex, _, _, _, _, _), _, _, _, _) =>
      i.decision.isEmpty
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(unpinned)) plan
    else plan transformDown {
      case op @ PhysicalOperation(_, filters, lr @ LogicalRelation(
          fsr @ HadoopFsRelation(i: ManifestFileIndex, _, _, _, _, _), _, _, _, _))
          if filters.nonEmpty && i.decision.isEmpty =>
        val pinned = i.pin(filters)
        val relation = fsr.copy(location = pinned,
          fileFormat = new ManifestParquet(pinned.summary))(fsr.sparkSession)
        op transformUp { case r: LogicalRelation if r eq lr => r.copy(relation = relation) }
    }
}
