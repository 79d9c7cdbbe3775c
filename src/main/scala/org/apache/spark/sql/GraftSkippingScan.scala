package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.{Expressions, FieldReference, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, GraftFileIndex}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.FileStats
import graft.storage.FileStats.FileEntry

/** Scan builder adding MANIFEST-LEVEL FILE SKIPPING to a tiered
  * table's reads — SQL scans through the catalog and every
  * [[graft.storage.TieredTable]] API read alike: pushed filters
  * are translated to data-source filters and checked against each
  * file's `_graft_stats` footer min/max and bloom sidecars; files that
  * provably hold no matching row are dropped from the scan's file list
  * before Spark ever opens them. The surviving scan is a stock
  * vectorized [[ParquetTable]] scan — same pushdown, same column
  * pruning — over fewer files; correctness never depends on the skip
  * (the pushed predicates are still evaluated).
  *
  * `roots` is the read's one listing ([[FileStats.entries]]): every
  * root with the files under it, all in the Hive layout
  * `partitionCols`. One file index ([[GraftFileIndex]]) covers them
  * all, so a partitioned table's snapshot dirs, log segments and kept
  * partition subdirs plan as one parquet scan.
  *
  * This is the engine's one file-pruning path — Iceberg's planFiles()
  * bounds-filtering step, done at scan build time from one sidecar
  * read per directory.
  */
class GraftSkippingScanBuilder(spark: SparkSession, tableName: String,
                               roots: Seq[(String, Seq[FileEntry])], fullSchema: StructType,
                               options: CaseInsensitiveStringMap,
                               partitionCols: Seq[String] = Nil,
                               streamFactory: Option[String =>
                                 org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private var pushedExprs: Seq[Expression] = Nil
  private var required: Option[StructType] = None
  private var aggResult: Option[(StructType, Seq[Any])] = None

  private val listed = roots.flatMap(_._2)

  /** A parquet scan builder over `files` by root. The FULL table schema
    * is the user-specified schema, so a column whose only carrier file
    * was pruned still resolves (as nulls) instead of vanishing.
    */
  private def parquetOver(files: Seq[(String, Seq[FileEntry])]): ScanBuilder =
    GraftFileIndex.table(spark, tableName, files, partitionCols, Some(fullSchema), options)
      .newScanBuilder(options)

  /** The scan over every listed file, which takes the pushdown first. */
  private lazy val inner = parquetOver(roots)

  /** METADATA-ONLY AGGREGATES: an unfiltered, ungrouped COUNT(*) /
    * COUNT(col) / MIN / MAX is answered entirely from the stats
    * sidecars — zero data files opened, the Iceberg answer-count-from-
    * manifests capability. Refused (→ normal scan + agg) whenever any
    * file lacks the needed exact stats, a filter was pushed, or the
    * value domain can't round-trip exactly (strings/decimals/doubles
    * stay on the scan path; long/int/date/timestamp are exact).
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planMetadataAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = planMetadataAgg(agg)
    aggResult.isDefined
  }

  private def col1(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames.head)
    case _ => None
  }

  private def planMetadataAgg(agg: Aggregation)
      : Option[(StructType, Seq[Any])] = {
    if (agg.groupByExpressions.nonEmpty || pushedExprs.nonEmpty) return None
    val files = listed
    if (files.isEmpty) return planOverEmpty(agg)
    // every file must carry a sidecar record (rows known) — a statless
    // file makes every count/bound unknown
    if (files.exists(_.rows < 0)) return None
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    agg.aggregateExpressions.foreach {
      case _: CountStar =>
        fields += StructField(s"agg_${fields.size}", LongType, nullable = false)
        values += files.map(_.rows).sum
      case c: Count if !c.isDistinct =>
        val name = col1(c.column).getOrElse(return None)
        // partition-column values live in DIRECTORY names, invisible to
        // file stats — only the scan can count/bound them
        if (partitionCols.contains(name)) return None
        // per file: rows − nulls; a file without the column (schema
        // evolution) reads as all-null there → contributes 0
        var total = 0L
        files.foreach { f =>
          f.cols.get(name) match {
            case Some(s) => if (s.nulls < 0) return None
              else total += f.rows - s.nulls
            case None => // column absent from this file → all null → +0
          }
        }
        fields += StructField(s"agg_${fields.size}", LongType, nullable = false)
        values += total
      case m: Min =>
        val name = col1(m.column).getOrElse(return None)
        if (partitionCols.contains(name)) return None
        val (dt, v) = boundOf(files, name, takeMin = true).getOrElse(return None)
        fields += StructField(s"agg_${fields.size}", dt, nullable = true)
        values += v
      case m: Max =>
        val name = col1(m.column).getOrElse(return None)
        if (partitionCols.contains(name)) return None
        val (dt, v) = boundOf(files, name, takeMin = false).getOrElse(return None)
        fields += StructField(s"agg_${fields.size}", dt, nullable = true)
        values += v
      case _ => return None
    }
    Some((StructType(fields.toSeq), values.toSeq))
  }

  /** Zero-file table: COUNT → 0, MIN/MAX → null. */
  private def planOverEmpty(agg: Aggregation)
      : Option[(StructType, Seq[Any])] = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    agg.aggregateExpressions.foreach {
      case _: CountStar | _: Count =>
        fields += StructField(s"agg_${fields.size}", LongType, nullable = false)
        values += 0L
      case m: Min =>
        val name = col1(m.column).getOrElse(return None)
        val dt = sparkTypeOf(name).getOrElse(return None)
        fields += StructField(s"agg_${fields.size}", dt, nullable = true)
        values += null
      case m: Max =>
        val name = col1(m.column).getOrElse(return None)
        val dt = sparkTypeOf(name).getOrElse(return None)
        fields += StructField(s"agg_${fields.size}", dt, nullable = true)
        values += null
      case _ => return None
    }
    Some((StructType(fields.toSeq), values.toSeq))
  }

  private def sparkTypeOf(name: String): Option[DataType] =
    fullSchema.fields.find(_.name == name).map(_.dataType) match {
      case Some(t @ (LongType | IntegerType | DateType |
                     TimestampType | TimestampNTZType)) => Some(t)
      case _ => None // strings/doubles/decimals: stay on the scan path
    }

  /** Exact global bound of `name` across all files, as (Spark type,
    * internal value). None = not provable from stats. Files without
    * the column contribute nothing; all-null files have no bound but
    * don't block others (MIN/MAX ignore nulls).
    */
  private def boundOf(files: Seq[FileEntry],
                      name: String, takeMin: Boolean)
      : Option[(DataType, Any)] = {
    val dt = sparkTypeOf(name).getOrElse(return None)
    val expectedTag = dt match {
      case LongType | IntegerType => "long"
      case DateType => "date"
      case TimestampType => "ts"
      case TimestampNTZType => "tsn"
      case _ => return None
    }
    var best: Option[Long] = None
    files.foreach { f =>
      f.cols.get(name) match {
        case None => // column absent here → contributes nothing
        case Some(s) if s.tag != expectedTag => return None
        case Some(s) =>
          (s.min, s.max) match {
            case (Some(mn), Some(mx)) =>
              val v = (if (takeMin) mn else mx).toLong
              best = Some(best.fold(v)(b =>
                if (takeMin) math.min(b, v) else math.max(b, v)))
            case _ =>
              // bounds unknown: only safe if the file is ALL nulls
              if (!(s.nulls >= 0 && s.nulls == f.rows))
                return None
          }
      }
    }
    val internal: Any = best match {
      case None => null
      case Some(v) => dt match {
        case LongType | TimestampType | TimestampNTZType => v
        case IntegerType | DateType => v.toInt
        case _ => return None
      }
    }
    Some((dt, internal))
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters
    inner match {
      case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        c.pushFilters(filters)
      case _ => filters
    }
  }

  override def pushedFilters: Array[Predicate] = inner match {
    case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
      c.pushedFilters
    case _ => Array.empty
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
    inner match {
      case c: SupportsPushDownRequiredColumns => c.pruneColumns(requiredSchema)
      case _ =>
    }
  }

  override def build(): Scan = {
    aggResult match {
      case Some((schema, values)) =>
        return new GraftMetadataAggScan(tableName, schema, values, listed.size)
      case None =>
    }
    val sourceFilters = pushedExprs.flatMap(e =>
      DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false))
    // partition layout is left to the parquet scan's own pruning
    val keptEntries =
      listed.filter(GraftSkippingScanBuilder.mayHold(_, sourceFilters, Nil))
    val staticScan =
      if (keptEntries.isEmpty) new GraftEmptyScan(tableName, inner.build().readSchema())
      else if (keptEntries.size == listed.size) inner.build()
      else buildOver(keptEntries)
    new GraftRuntimeScan(spark, tableName, options, fullSchema,
      listed.size, keptEntries, staticScan, pushedExprs, required, partitionCols,
      buildOver, streamFactory)
  }

  /** The scan over an explicit surviving-file list, each file its own
    * root, with this builder's pushdown.
    */
  private def buildOver(files: Seq[FileEntry]): Scan = {
    val b = parquetOver(files.map(f => f.path -> Seq(f)))
    b match {
      case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        c.pushFilters(pushedExprs)
      case _ =>
    }
    (b, required) match {
      case (c: SupportsPushDownRequiredColumns, Some(r)) => c.pruneColumns(r)
      case _ =>
    }
    b.build()
  }
}

object GraftSkippingScanBuilder {
  /** May the file hold a row matching every filter? Its stats, blooms
    * and `partitionCols` path segments decide; unknown keeps it.
    */
  def mayHold(e: FileEntry, filters: Seq[sources.Filter],
              partitionCols: Seq[String]): Boolean =
    filters.forall(f => FileStats.mayMatch(e.cols, f) &&
      FileStats.bloomMayMatch(e.blooms, f) &&
      GraftPartitionPathFilter.mayMatch(e.path, partitionCols, f))
}

/** The scan a [[GraftSkippingScanBuilder]] actually returns: the
  * statically-pruned parquet scan, wrapped with the two DSv2 faces a
  * 100 TB planner needs and a stock file scan cannot give us over a
  * sidecar-indexed tiered table:
  *
  *  - '''[[SupportsReportStatistics]]''' — size from the underlying
  *    file scan, EXACT row count from the `_graft_stats` sidecars of
  *    the surviving files (every file carries one → sum; else defer
  *    to the file scan's estimate). Without a number here a multi-root
  *    table inherits `defaultSizeInBytes` and is never chosen as the
  *    broadcast side of a join.
  *  - '''[[SupportsRuntimeV2Filtering]]''' — Spark's dynamic partition
  *    pruning hands the scan the build-side join keys at EXECUTION
  *    time as `IN (...)` predicates; we re-prune the file list against
  *    them using (a) Hive-layout `col=value` path segments for
  *    partition columns and (b) the same min/max + bloom sidecar check
  *    the static pushdown uses for data columns — Iceberg's
  *    runtime-filtering behavior, driven from one already-computed
  *    listing. Skipping is advisory: surviving files still flow
  *    through the join, so a conservative keep never affects results.
  *
  * Re-planning after `filter()` rebuilds the child scan over the
  * narrowed file list via the builder's `rebuild` closure; the batch
  * is cached per file-list state so reader factory and partitions are
  * always a consistent snapshot.
  */
class GraftRuntimeScan(spark: SparkSession, tableName: String,
                       options: CaseInsensitiveStringMap,
                       fullSchema: StructType,
                       filesTotal: Int,
                       keptEntries: Seq[FileEntry],
                       staticScan: Scan,
                       pushedExprs: Seq[Expression],
                       required: Option[StructType],
                       partitionCols: Seq[String],
                       rebuild: Seq[FileEntry] => Scan,
                       streamFactory: Option[String =>
                         org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None)
    extends Scan with Batch with GraftFileCounts
    with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning {

  /** Streaming face of the same table (the log-tail source) when the
    * owning table wired one in; otherwise the default refusal stands.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    streamFactory.map(_(checkpointLocation)).getOrElse(
      throw new UnsupportedOperationException(
        s"$tableName: micro-batch scan is not supported"))

  @volatile private var runtimeEntries: Option[Seq[FileEntry]] = None
  @volatile private var effective: (Option[Seq[FileEntry]], Scan) =
    (None, staticScan)

  override def readSchema(): StructType = staticScan.readSchema()

  override def description(): String =
    s"GraftRuntimeScan($tableName) ${staticScan.description()}"

  def fileCounts: Seq[Long] = Seq(filesTotal, keptEntries.size,
    runtimeEntries.getOrElse(keptEntries).size)

  // ---- statistics ----

  /** Exact row total from the sidecars of the CURRENT surviving files;
    * None when any file lacks one (then the file scan's byte-based
    * estimate stands alone).
    */
  private def sidecarRows(entries: Seq[FileEntry]): Option[Long] =
    if (entries.exists(_.rows < 0)) None else Some(entries.map(_.rows).sum)

  override def estimateStatistics(): Statistics = {
    val entries = runtimeEntries.getOrElse(keptEntries)
    val inner = currentScan match {
      case s: SupportsReportStatistics => Some(s.estimateStatistics())
      case _ => None
    }
    val size = inner.map(_.sizeInBytes).getOrElse(java.util.OptionalLong.empty())
    val rows = sidecarRows(entries) match {
      case Some(n) => java.util.OptionalLong.of(n)
      case None =>
        inner.map(_.numRows).getOrElse(java.util.OptionalLong.empty())
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = size
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  // ---- runtime filtering ----

  /** Columns we can act on at runtime: Hive partition columns (values
    * live in the directory names) plus any column that has range stats
    * or a bloom in at least one sidecar — RESTRICTED to the scan's
    * pruned output. Spark's PartitionPruning rule RESOLVES every
    * claimed attribute against the relation's output and raises an
    * AnalysisException on a miss, so claiming a pruned-away column
    * doesn't just disable DPP — it fails the query.
    */
  override def filterAttributes(): Array[NamedReference] = {
    val visible = readSchema().fieldNames.toSet
    val statCols = keptEntries.iterator
      .flatMap(e => e.cols.keysIterator ++ e.blooms.keysIterator).toSet
    (partitionCols ++ statCols).distinct.filter(visible)
      .map(c => FieldReference.column(c): NamedReference).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val v1 = org.apache.spark.sql.internal.connector.PredicateUtils
      .toV1(predicates).toSeq
    if (v1.isEmpty) return
    val survivors =
      keptEntries.filter(GraftSkippingScanBuilder.mayHold(_, v1, partitionCols))
    if (survivors.size < keptEntries.size) runtimeEntries = Some(survivors)
  }

  /** The scan matching the current runtime-filter state; rebuilt (and
    * cached) when `filter` narrowed the file list.
    */
  private def currentScan: Scan = {
    val want = runtimeEntries
    val cached = effective
    if (cached._1 eq want) cached._2
    else {
      val s = runtimeEntries match {
        case Some(e) if e.isEmpty =>
          new GraftEmptyScan(tableName, staticScan.readSchema())
        case Some(e) => rebuild(e)
        case None => staticScan
      }
      effective = (want, s)
      s
    }
  }

  // ---- storage-partitioned join (SPJ) ----

  /** Hive partition columns as KEY-GROUPED OUTPUT PARTITIONING — the
    * DSv2 contract behind storage-partitioned joins: two tables
    * partitioned on the join key report `KeyGroupedPartitioning` over
    * identity transforms, each input partition carries its typed key
    * ([[HasPartitionKey]]), and `EnsureRequirements` plans the join
    * with NO shuffle on either side — Iceberg's SPJ behavior, the
    * single biggest exchange-eliminator for recurring fact⋈fact joins
    * at 100 TB (both sides already live partitioned on the key; the
    * join should cost zero data movement).
    *
    * Gated on Spark's own `spark.sql.sources.v2.bucketing.enabled`, and
    * only claimed when every partition column survives column pruning —
    * the planner resolves the claimed keys against the scan output.
    */
  private def spjUsable: Boolean =
    partitionCols.nonEmpty &&
      org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled && {
        val visible = readSchema().fieldNames.toSet
        partitionCols.forall(visible)
      }

  /** The file's `col=value` segments, which tell its key apart. */
  private def rawKey(path: String): Seq[String] =
    graft.storage.PartitionPaths.segments(path, partitionCols)

  override def outputPartitioning(): Partitioning = {
    val keys = keptEntries.map(e => rawKey(e.path)).distinct.size
    if (spjUsable && keys > 0)
      new KeyGroupedPartitioning(
        partitionCols.map(c => Expressions.identity(c):
          org.apache.spark.sql.connector.expressions.Expression).toArray,
        keys)
    else new UnknownPartitioning(0)
  }

  override def toBatch: Batch = this

  /** The current scan's own splits. Key-grouped (SPJ): each file split
    * is cut by partition key, so every split holds one key's files and
    * carries that key's typed value — the partition values the file
    * index gave the file — for Spark's partition grouping; no per-key
    * scan is built, and the current scan's reader factory serves every
    * split ([[GraftKeyedReaderFactory]] unwraps the key).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val splits = currentScan.toBatch.planInputPartitions()
    if (!spjUsable) return splits
    val keyed = splits.toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        val raws = fp.files.toSeq.map(f => rawKey(f.toPath.toString))
        raws.distinct.map(raw => fp.files.toSeq.zip(raws).collect { case (f, `raw`) => f })
      case _ => return splits
    }
    keyed.zipWithIndex.map { case (files, i) =>
      GraftKeyedPartition(files.head.partitionValues,
        org.apache.spark.sql.execution.datasources.FilePartition(i, files.toArray))
    }.toArray
  }

  @volatile private var factory: (Scan, PartitionReaderFactory) = (null, null)

  /** One reader factory per file-list state. The planner asks every
    * `BatchScanExec` copy of this scan for one, and a parquet scan's
    * factory broadcasts the whole Hadoop configuration each time it is
    * made, so it is made once here, as a V1 file scan does per run.
    */
  override def createReaderFactory(): PartitionReaderFactory = {
    val s = currentScan
    val cached = factory
    if (cached._1 eq s) cached._2
    else {
      val f = GraftKeyedReaderFactory(s.toBatch.createReaderFactory())
      factory = (s, f)
      f
    }
  }
}

/** A child file split plus the typed partition key of the Hive
  * directory it came from — what makes the scan's partitions
  * key-groupable by Spark's SPJ machinery.
  */
case class GraftKeyedPartition(key: InternalRow, inner: InputPartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Unwraps [[GraftKeyedPartition]] before delegating; non-keyed
  * partitions pass straight through, so the same factory serves both
  * the grouped and the flat planning paths.
  */
case class GraftKeyedReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case GraftKeyedPartition(_, i) => i
    case other => other
  }
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}

/** Zero-partition scan for the "runtime filter excluded every file"
  * case — rebuilding a parquet scan over an empty file list is not a
  * shape Spark's file index is designed for.
  */
class GraftEmptyScan(tableName: String, schema: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"GraftEmptyScan($tableName)"
  override def planInputPartitions(): Array[InputPartition] = Array.empty
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory // never invoked: zero partitions
}

/** Prunes files by their Hive-layout `col=value` path segments against
  * runtime (or any v1) filters — dynamic partition pruning's file-level
  * act. Only equality shapes are decided (`=`, `IN`, null checks);
  * everything else conservatively keeps the file. A file whose path
  * carries no segment for the column keeps too.
  */
object GraftPartitionPathFilter {
  import org.apache.spark.sql.sources._

  private def unescape(s: String): String =
    graft.storage.PartitionPaths.unescape(s)

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  private def segmentOf(path: String, col: String): Option[String] = {
    val prefix = col + "="
    path.split('/').collectFirst {
      case seg if seg.startsWith(prefix) =>
        unescape(seg.substring(prefix.length))
    }
  }

  /** Literal rendered in the same form Hive writes it into the dir
    * name (dates ISO, numbers plain, strings verbatim).
    */
  private def render(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(s)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
              _: java.lang.Byte | _: java.lang.Boolean) => Some(n.toString)
    case _ => None // timestamps/decimals/doubles: formatting too
                   // engine-sensitive to skip on — keep the file
  }

  def mayMatch(path: String, partitionCols: Seq[String], f: Filter)
      : Boolean = f match {
    case EqualTo(a, v) if partitionCols.contains(a) =>
      decide(path, a, seg => render(v).forall(r => seg == r))
    case EqualNullSafe(a, null) if partitionCols.contains(a) =>
      decide(path, a, seg => seg == HiveNull)
    case EqualNullSafe(a, v) if partitionCols.contains(a) =>
      decide(path, a, seg => render(v).forall(r => seg == r))
    case In(a, vs) if partitionCols.contains(a) =>
      if (vs == null) true
      else decide(path, a, seg =>
        vs.exists(v => v != null && render(v).forall(r => seg == r)))
    case IsNull(a) if partitionCols.contains(a) =>
      decide(path, a, seg => seg == HiveNull)
    case IsNotNull(a) if partitionCols.contains(a) =>
      decide(path, a, seg => seg != HiveNull)
    case And(l, r) =>
      mayMatch(path, partitionCols, l) && mayMatch(path, partitionCols, r)
    case Or(l, r) =>
      mayMatch(path, partitionCols, l) || mayMatch(path, partitionCols, r)
    case _ => true
  }

  /** A null partition segment can only satisfy the null checks; a
    * missing segment keeps the file (path layout unknown → advisory
    * skip declines).
    */
  private def decide(path: String, col: String, ok: String => Boolean)
      : Boolean =
    segmentOf(path, col).forall(ok)
}

/** One-row scan serving a fully-pushed-down aggregate straight from
  * the stats sidecars — the "answer COUNT(*) from manifests" path.
  * Of its `filesTotal` files it keeps (opens) none.
  */
class GraftMetadataAggScan(tableName: String, schema: StructType,
                           values: Seq[Any], filesTotal: Int)
    extends Scan with Batch with GraftFileCounts {
  def fileCounts: Seq[Long] = Seq(filesTotal, 0, 0)
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMetadataAggScan($tableName, metadata-only)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory
}

case class GraftAggPartition(values: Seq[Any]) extends InputPartition

class GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var served = false
      override def next(): Boolean =
        if (served) false else { served = true; true }
      override def get(): InternalRow =
        new GenericInternalRow(
          p.asInstanceOf[GraftAggPartition].values.toArray)
      override def close(): Unit = ()
    }
}

/** The skip report of a graft file scan, carried by DSv2's driver-
  * metric channel onto the executed plan's scan node: `files_total`
  * (files under the scan's roots), `files_kept` (left by stats and
  * bloom pruning at build) and `files_runtime_kept` (left after
  * runtime filters; `files_kept` when none arrived).
  */
object GraftScanMetrics {
  val Total = "files_total"
  val Kept = "files_kept"
  val RuntimeKept = "files_runtime_kept"
  val Names = Seq(Total, Kept, RuntimeKept)

  /** The file counts of the graft scans among `scans`, summed (empty
    * when there are none).
    */
  def sum(scans: Seq[Scan]): Seq[Long] =
    scans.collect { case c: GraftFileCounts => c.fileCounts }.transpose.map(_.sum)

  /** The summed report of every scan in `df`'s physical plan; runtime
    * filters count only once the plan ran.
    */
  def of(df: DataFrame): Map[String, Long] =
    Names.zip(sum(new AdaptiveSparkPlanHelper {}.collect(
      df.queryExecution.executedPlan) { case b: BatchScanExec => b.scan })).toMap
}

/** A scan reporting `fileCounts` (in `GraftScanMetrics.Names` order). */
trait GraftFileCounts extends Scan {
  def fileCounts: Seq[Long]
  override def supportedCustomMetrics(): Array[CustomMetric] =
    GraftScanMetrics.Names.map(new GraftFileCountMetric(_)).toArray
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    GraftScanMetrics.Names.zip(fileCounts).map { case (n, v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }: CustomTaskMetric
    }.toArray
}

/** A summed file count. Spark re-creates a custom metric from its class
  * name with no arguments only to sum task values, so one class serves
  * every name.
  */
class GraftFileCountMetric(n: String) extends CustomSumMetric {
  def this() = this(GraftScanMetrics.Total)
  override def name(): String = n
  override def description(): String = n.replace('_', ' ')
}
