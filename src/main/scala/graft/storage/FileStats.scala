package graft.storage

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources._

/** The one per-file record of table data: row count, and per column
  * the parquet physical type, value and null counts and min/max — what
  * Iceberg keeps in its manifest entries (`record_count`,
  * `value_counts`, `null_value_counts`, `lower_bounds`/`upper_bounds`).
  *
  * This is the only module that opens parquet footers of table data
  * ([[footerOpens]] counts them). The write seam collects each new
  * directory's footers once, right after the write, into the
  * `_graft_stats` sidecar (a driver-side metadata read at demo scale;
  * on a cluster the same numbers come back from the writer tasks'
  * commit messages, exactly as Iceberg collects them). The sidecar
  * lives INSIDE the data directory — underscore-prefixed so every Spark
  * scan ignores it — and travels and dies with the directory through
  * tier/compact/vacuum with no extra bookkeeping. Every consumer reads
  * it through [[entries]]: the skipping scan, `t$partitions` and
  * `t$stats`, and the Iceberg export, which transcribes it into its
  * manifests.
  *
  * Sidecar format, one tab-separated line per file and per (file,
  * column), paths relative to the directory, bounds base64:
  * {{{
  * v2
  * <file>  <rows>
  * <file>  <column>  <tag>  <physical type>  <min>  <max>  <nulls>  <values>
  * }}}
  * A `v1` sidecar (older tables) is read as no record: its files keep
  * under every filter, and the export upgrades it once
  * ([[exportEntries]]).
  *
  * Pruning is strictly conservative: a file is skipped only when a
  * pushed predicate is provably false for every row it holds. Missing
  * sidecars, unknown columns, non-ASCII string bounds, untranslatable
  * predicates all mean "keep the file". This sits ABOVE parquet's own
  * row-group skipping: at 100 TB the win is never listing/opening the
  * file at all — scan planning touches O(matching files), not
  * O(table files).
  */
object FileStats {

  val SidecarName = "_graft_stats"

  /** Parquet footers opened by this module over the JVM's lifetime —
    * how specs prove that a path opens none.
    */
  private[graft] val footerOpens = new java.util.concurrent.atomic.AtomicLong(0)

  /** The one footer reader. */
  private def footer(conf: Configuration, path: String): ParquetMetadata = {
    footerOpens.incrementAndGet()
    val r = ParquetFileReader.open(conf, new HadoopPath(path))
    try r.getFooter finally r.close()
  }

  private def footerRows(conf: Configuration, path: String): Long =
    footer(conf, path).getBlocks.asScala.map(_.getRowCount).sum

  /** Parquet files under `dir` (recursive) with their byte sizes, via
    * the [[TableFs]] facade — local nio or the object-store FS,
    * resolved per path. Files under a hidden segment are skipped, as
    * Spark's file index skips them: a leftover `_temporary` attempt is
    * not table data.
    */
  private def parquetFiles(dir: String): Seq[(String, Long)] =
    TableFs.forPath(dir).listFiles(dir).filter { case (p, _) =>
      p.endsWith(".parquet") && !relTo(dir, p).split('/').exists(hidden)
    }

  /** Spark's hidden-path rule: `.x`, and `_x` unless it is a
    * `_col=value` partition dir.
    */
  private def hidden(segment: String): Boolean =
    segment.startsWith(".") || (segment.startsWith("_") && !segment.contains("="))

  /** Path of `p` relative to root `dir`, scheme-independent: both are
    * reduced to their URI path components first (a `graftos://` root
    * and its files share the authority). When the root is NOT a
    * literal prefix (a RELATIVE local table path vs an absolute
    * input_file_name URI), fall back to filesystem normalization —
    * which either produces the right key or fails loudly; a silently
    * wrong key would disable sidecar pruning without a trace.
    */
  private def relTo(dir: String, p: String): String = {
    val dp = uriPath(dir).stripSuffix("/")
    val pp = uriPath(p)
    if (pp.startsWith(dp + "/")) pp.drop(dp.length + 1)
    else {
      // toRealPath resolves symlinks (a /tmp → /private/tmp style
      // divergence between the given table path and the canonicalized
      // input_file_name would otherwise relativize into a ../-key
      // that matches nothing and silently disables pruning)
      def real(x: String): java.nio.file.Path = {
        val p0 = java.nio.file.Paths.get(x).toAbsolutePath.normalize
        try p0.toRealPath() catch { case _: java.io.IOException => p0 }
      }
      real(dp).relativize(real(pp)).toString
    }
  }

  /** Stats for one column of one file. `tag` fixes the pruning
    * comparison domain: long | double | string | date | ts | tsn |
    * decimal:<scale> | none (= unusable, always keep). `phys` is the
    * parquet physical type (INT32, INT64, FLOAT, DOUBLE, BINARY, …),
    * which sets an exported bound's width.
    * min/max are canonical strings in the tag's domain — a decimal's
    * unscaled value, a date's epoch day, a timestamp's micros — and
    * None when unknown; a string bound may be non-ASCII, which pruning
    * ignores. nulls/values: -1 = unknown.
    */
  case class ColStat(tag: String, phys: String, min: Option[String],
                     max: Option[String], nulls: Long, values: Long)

  /** One data file's record: absolute path, exact row count (-1 = the
    * sidecar has no line for the file), byte size from the listing,
    * per-column stats and blooms.
    */
  case class FileEntry(path: String, rows: Long, bytes: Long,
                       cols: Map[String, ColStat],
                       blooms: Map[String, java.util.BitSet])

  // ---- collection (footer read) ----

  private def tagOf(pt: PrimitiveType): String = {
    val phys = pt.getPrimitiveTypeName
    pt.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
          if phys == PrimitiveTypeName.INT32 || phys == PrimitiveTypeName.INT64 =>
        s"decimal:${d.getScale}"
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "date"
      case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => "string"
      // UTC-adjusted (instant) vs NTZ (wall-clock) micros are DIFFERENT
      // domains: tag them apart so a literal of the other kind can
      // never drive a skip decision
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if phys == PrimitiveTypeName.INT64 &&
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
        if (t.isAdjustedToUTC) "ts" else "tsn"
      // unsigned int annotations would compare wrongly in the signed
      // long domain (large uint32 surfaces negative) — refuse them
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if !i.isSigned =>
        "none"
      case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation |
           null =>
        phys match {
          case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 => "long"
          case PrimitiveTypeName.DOUBLE | PrimitiveTypeName.FLOAT => "double"
          case _ => "none"
        }
      case _ => "none"
    }
  }

  private def isAscii(s: String): Boolean = s.forall(c => c >= 0x20 && c < 0x7f)

  /** Canonical string for a footer min/max value in the tag's domain;
    * None = value unusable (a NaN bound, a string bound that is not
    * valid UTF-8).
    */
  private def canon(tag: String, v: AnyRef): Option[String] = (tag, v) match {
    case (_, null) => None
    case ("long" | "date" | "ts" | "tsn", n: java.lang.Number) =>
      Some(n.longValue.toString)
    case (t, n: java.lang.Number) if t.startsWith("decimal:") =>
      Some(n.longValue.toString)
    case ("double", n: java.lang.Number) =>
      // a NaN bound (nonconforming writer) can't order → unusable
      val d = n.doubleValue
      if (d.isNaN) None else Some(d.toString)
    // a STRING may hold bytes that are not UTF-8; decoding replaces
    // them, which would move the bound, so keep only a lossless one
    case ("string", b: Binary) =>
      val s = b.toStringUsingUTF8
      if (java.util.Arrays.equals(s.getBytes(UTF_8), b.getBytes)) Some(s) else None
    case _ => None
  }

  /** EXACT row count from parquet footers — driver-side metadata only,
    * zero Spark jobs. Defined (Some) only when it provably equals
    * `df.count()`: the plan must be a bare projection over ONE
    * file-backed relation (no filter/join/generate can sit between —
    * those change cardinality), every file must be parquet, the file
    * count must stay under `maxFiles` (past that a driver-side footer
    * walk is itself the bottleneck — a distributed count wins), and
    * every footer must read cleanly (a single failure returns None,
    * never a partial sum). Callers fall back to `count()` on None, so
    * this can only remove a scan job, never change a result.
    */
  def exactRows(df: org.apache.spark.sql.DataFrame,
                maxFiles: Int = 256): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def leafFiles(p: LogicalPlan): Option[Array[String]] = p match {
      case Project(_, c) => leafFiles(c)
      case SubqueryAlias(_, c) => leafFiles(c)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val files = fs.location.inputFiles
          // the FORMAT must be parquet, not just the file names: a
          // binaryFile/text relation over .parquet-named files would
          // sum footer row counts into a confidently wrong "exact"
          // count (ADVICE r13 medium); the extension check stays as
          // belt-and-braces
          val isParquet = fs.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]
          if (isParquet && files.nonEmpty && files.length <= maxFiles &&
              files.forall(_.endsWith(".parquet"))) Some(files)
          else None
        case _ => None
      }
      case _ => None
    }
    leafFiles(df.queryExecution.analyzed).flatMap { files =>
      val conf = df.sparkSession.sessionState.newHadoopConf()
      try Some(files.map(footerRows(conf, _)).sum)
      catch { case NonFatal(_) => None }
    }
  }

  /** Row-count ESTIMATE for a query's underlying file relations —
    * driver-side metadata only, NEVER a Spark job. Used where a
    * parameter must scale with corpus size (LSH plane sizing) but an
    * eager `count()` would run a full scan before the real query even
    * starts (r8 verdict #4: two such scans at 100 TB, pure waste).
    *
    * Resolution order per leaf relation: CBO row count when ANALYZE
    * stats exist; otherwise parquet FOOTER record counts — bounded at
    * `sampleFiles` footer opens and extrapolated by byte size, so the
    * driver cost is O(64 footer reads) regardless of table file count.
    * Filters above the scan are deliberately IGNORED: the estimate is
    * an upper bound, and overestimating rows only adds hyperplanes
    * (finer buckets — safe), never a skew bomb. Returns None when the
    * plan has no file-backed leaf (pure in-memory frames) — callers
    * fall back to an exact count there, where the input is small by
    * construction.
    */
  def estimatedRows(df: org.apache.spark.sql.DataFrame,
                    sampleFiles: Int = 64): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.map(_.longValue).orElse {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val perLeaf = plan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            val files = fs.location.inputFiles.filter(_.endsWith(".parquet"))
            if (files.isEmpty) None
            else {
              val sample = files.take(sampleFiles)
              var rows = 0L; var bytes = 0L
              sample.foreach { f =>
                try {
                  val p = new HadoopPath(f)
                  bytes += p.getFileSystem(conf).getFileStatus(p).getLen
                  rows += footerRows(conf, f)
                } catch { case NonFatal(_) => /* keep the partial sum */ }
              }
              if (sample.length == files.length || bytes == 0L) Some(rows)
              else {
                // extrapolate the unread tail by its byte size at the
                // sampled rows-per-byte density
                val total = fs.location.sizeInBytes
                Some((rows.toDouble / bytes * math.max(total, bytes)).toLong)
              }
            }
          case _ => None
        }
      }
      val known = perLeaf.flatten
      if (known.isEmpty) None else Some(known.sum)
    }
  }

  /** Footer record of every `*.parquet` under `dir` (recursive —
    * partitioned layouts nest files under `col=value/` subdirs), keyed
    * by path RELATIVE to `dir`: the file's row count and its columns'
    * stats; None for a file whose footer cannot be read.
    */
  private def collect(dir: String): Seq[(String, Option[(Long, Map[String, ColStat])])] = {
    val conf = new Configuration(TableFs.hadoopConf)
    parquetFiles(dir).map { case (f, _) =>
      relTo(dir, f) -> (try {
        val blocks = footer(conf, f).getBlocks.asScala.toSeq
        Some(blocks.map(_.getRowCount).sum ->
          blocks.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
            .map { case (col, chunks) => col -> colStat(chunks) })
      } catch { case NonFatal(_) => None }) // unreadable footer → no record
    }
  }

  /** One column's stats from its row-group chunks. Value and null
    * counts add (nulls unknown when any chunk lacks them). An all-null
    * chunk adds no bound; a chunk with values but no min/max (no stats,
    * or a parquet writer that dropped an oversized bound) makes the
    * file's bounds unknown, since its rows could lie anywhere. Bounds
    * merge in the column's own parquet order (unsigned bytes for
    * strings, as Spark compares them).
    */
  private def colStat(chunks: Seq[ColumnChunkMetaData]): ColStat = {
    val pt = chunks.head.getPrimitiveType
    val tag = tagOf(pt)
    val values = chunks.map(_.getValueCount).sum
    val nulls =
      if (chunks.forall(c => c.getStatistics != null && c.getStatistics.isNumNullsSet))
        chunks.map(_.getStatistics.getNumNulls).sum
      else -1L
    val valued = chunks.filterNot { c =>
      val st = c.getStatistics
      st != null && st.isNumNullsSet && st.getNumNulls == c.getValueCount
    }.map(_.getStatistics)
    val (mn, mx) =
      if (tag == "none" || valued.isEmpty ||
          valued.exists(st => st == null || !st.hasNonNullValue)) (None, None)
      else {
        val ord = pt.comparator().asInstanceOf[java.util.Comparator[AnyRef]]
        def pick(vs: Seq[AnyRef], takeMin: Boolean) =
          canon(tag, vs.reduce((a, b) => if ((ord.compare(a, b) <= 0) == takeMin) a else b))
        (pick(valued.map(_.genericGetMin.asInstanceOf[AnyRef]), takeMin = true),
          pick(valued.map(_.genericGetMax.asInstanceOf[AnyRef]), takeMin = false))
      }
    ColStat(tag, pt.getPrimitiveTypeName.name, mn, mx, nulls, values)
  }

  // ---- sidecar io ----

  private def enc(o: Option[String]): String =
    o.map(s => Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))).getOrElse("-")

  private def dec(s: String): Option[String] =
    if (s == "-") None else Some(new String(Base64.getDecoder.decode(s), "UTF-8"))

  /** Collect the footer record of every file under `dir` and write its
    * `_graft_stats` sidecar. Called from the single write seam right
    * after the parquet write, BEFORE any atomic rename publishes the
    * directory — so data and stats commit together — and by
    * [[exportEntries]] to upgrade an older dir in place (locally
    * through a rename, so a concurrent reader sees the old sidecar or
    * the new one). Returns the dir's EXACT row count from the same
    * footers (0 for a dir with no parquet file); None when any footer
    * failed to read — never a partial sum.
    */
  def writeSidecar(dir: String): Option[Long] = {
    val stats = collect(dir).sortBy(_._1)
    val body = new StringBuilder("v2\n")
    for ((file, Some((rows, cols))) <- stats) {
      body.append(s"$file\t$rows\n")
      for ((col, s) <- cols.toSeq.sortBy(_._1))
        body.append(Seq(file, col, s.tag, s.phys, enc(s.min), enc(s.max),
          s.nulls.toString, s.values.toString).mkString("\t")).append('\n')
    }
    val fs = TableFs.forPath(dir)
    if (fs eq LocalTableFs) {
      val tmp = s"$dir/.$SidecarName.${java.util.UUID.randomUUID}.tmp"
      fs.writeString(tmp, body.toString)
      fs.move(tmp, s"$dir/$SidecarName")
    } else fs.writeString(s"$dir/$SidecarName", body.toString)
    val rows = stats.flatMap(_._2.map(_._1))
    if (rows.size == stats.size) Some(rows.sum) else None
  }

  /** A parsed sidecar: its format version (0 = absent), and per file
    * (relative path) the row count and column stats.
    */
  private case class Sidecar(version: Int, rows: Map[String, Long],
                             cols: Map[String, Map[String, ColStat]])

  private def readSidecar(dir: String): Sidecar =
    TableFs.forPath(dir).readString(s"$dir/$SidecarName") match {
      case None => Sidecar(0, Map.empty, Map.empty)
      case Some(body) if !body.startsWith("v2\n") => Sidecar(1, Map.empty, Map.empty)
      case Some(body) =>
        val parts = body.linesIterator.drop(1).filter(_.nonEmpty)
          .map(_.split("\t", -1)).toSeq
        Sidecar(2, parts.filter(_.length == 2).map(p => p(0) -> p(1).toLong).toMap,
          parts.filter(_.length > 2).groupBy(_(0)).map { case (f, ls) =>
            f -> ls.map(p => p(1) -> ColStat(p(2), p(3), dec(p(4)), dec(p(5)),
              p(6).toLong, p(7).toLong)).toMap })
    }

  /** The one reader of per-file records: for each root, every data file
    * under it (one listing) with its sidecar record and blooms, sorted
    * by path. A kept `col=value` subdir reference (a partition-scoped
    * overwrite keeps untouched partitions by reference; `layout` names
    * the table's Hive layout columns) reads the sidecars of the
    * snapshot dir it lives in, parsed once for all the roots given. A
    * file the sidecar lacks has rows -1 and no stats, so every pruning
    * decision keeps it.
    */
  def entries(roots: Seq[String], layout: Seq[String]): Seq[Seq[FileEntry]] =
    load(roots, layout).map(_._2)

  /** [[entries]], each root with whether its sidecar is the current
    * format.
    */
  private def load(roots: Seq[String],
                   layout: Seq[String]): Seq[(Boolean, Seq[FileEntry])] = {
    val bases = roots.map(PartitionPaths.base(_, layout))
    val sidecars = bases.distinct.map(b => b -> (readSidecar(b), readBloomSidecar(b))).toMap
    roots.zip(bases).map { case (root, base) =>
      val (side, blooms) = sidecars(base)
      (side.version == 2, parquetFiles(root).sortBy(_._1).map { case (p, bytes) =>
        val rel = relTo(base, p)
        FileEntry(p, side.rows.getOrElse(rel, -1L), bytes,
          side.cols.getOrElse(rel, Map.empty), blooms.getOrElse(rel, Map.empty))
      })
    }
  }

  /** [[entries]] with a current record for every file, as the Iceberg
    * export transcribes them. A dir whose sidecar is older than v2, or
    * lacks a listed file, is re-collected once through [[writeSidecar]]
    * — a one-way upgrade — and a file still unrecorded (its footer
    * cannot be read) fails.
    */
  def exportEntries(roots: Seq[String], layout: Seq[String]): Seq[Seq[FileEntry]] = {
    val loaded = load(roots, layout)
    val stale = roots.zip(loaded).collect {
      case (root, (current, es)) if !current || es.exists(_.rows < 0) =>
        PartitionPaths.base(root, layout)
    }.distinct
    if (stale.isEmpty) loaded.map(_._2)
    else {
      stale.foreach(writeSidecar)
      val after = entries(roots, layout)
      after.flatten.find(_.rows < 0).foreach(e => throw new IllegalStateException(
        s"no footer record for ${e.path}: its footer cannot be read"))
      after
    }
  }

  /** The data files under `dir`, by the listing rule [[entries]] uses. */
  def dataFiles(dir: String): Seq[String] = parquetFiles(dir).map(_._1)

  // ---- pruning ----

  /** Can any row of a file with these stats satisfy the filter?
    * (false ⇒ the file is provably irrelevant and safe to skip).
    */
  def mayMatch(stats: Map[String, ColStat], f: Filter): Boolean = f match {
    case EqualTo(a, v)            => rangeMayContain(stats, a, v)
    case EqualNullSafe(a, null)   => mayHaveNulls(stats, a)
    case EqualNullSafe(a, v)      => rangeMayContain(stats, a, v)
    case GreaterThan(a, v)        => boundCmp(stats, a, v, (mx, l) => mx > l, useMax = true)
    case GreaterThanOrEqual(a, v) => boundCmp(stats, a, v, (mx, l) => mx >= l, useMax = true)
    case LessThan(a, v)           => boundCmp(stats, a, v, (mn, l) => mn < l, useMax = false)
    case LessThanOrEqual(a, v)    => boundCmp(stats, a, v, (mn, l) => mn <= l, useMax = false)
    case In(a, vs)                => vs == null || vs.exists(v => v != null && rangeMayContain(stats, a, v))
    case IsNull(a)                => mayHaveNulls(stats, a)
    case IsNotNull(a)             => mayHaveNonNull(stats, a)
    case And(l, r)                => mayMatch(stats, l) && mayMatch(stats, r)
    case Or(l, r)                 => mayMatch(stats, l) || mayMatch(stats, r)
    case StringStartsWith(a, p)   => prefixMayMatch(stats, a, p)
    case _                        => true // Not / EndsWith / Contains / unknown
  }

  /** Comparable form of a pushed-filter literal in the column's stats
    * domain; None = not comparable → keep.
    */
  private def literal(tag: String, v: Any): Option[Any] = (tag, v) match {
    case (_, null) => None
    case ("long", n: Byte)  => Some(n.toLong)
    case ("long", n: Short) => Some(n.toLong)
    case ("long", n: Int)   => Some(n.toLong)
    case ("long", n: Long)  => Some(n)
    case ("double", n: Number) => Some(n.doubleValue)
    case ("string", s: String) if isAscii(s) => Some(s)
    case ("date", d: java.sql.Date)     => Some(d.toLocalDate.toEpochDay)
    case ("date", d: java.time.LocalDate) => Some(d.toEpochDay)
    case ("ts", t: java.sql.Timestamp) =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case ("ts", i: java.time.Instant) =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case ("tsn", d: java.time.LocalDateTime) => // NTZ wall-clock micros
      Some(d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        d.getNano / 1000L)
    case (t, d: java.math.BigDecimal) if t.startsWith("decimal:") => Some(d)
    case (t, d: scala.math.BigDecimal) if t.startsWith("decimal:") =>
      Some(d.underlying)
    case _ => None
  }

  /** Three-way compare of a canonical stats bound against a literal in
    * the same domain. None = not comparable.
    */
  private def cmp(tag: String, bound: String, lit: Any): Option[Int] = tag match {
    case "double" => Some(java.lang.Double.compare(bound.toDouble,
      lit.asInstanceOf[Double]))
    case "string" => Some(bound.compareTo(lit.asInstanceOf[String]))
    case t if t.startsWith("decimal:") =>
      val scale = t.stripPrefix("decimal:").toInt
      val b = java.math.BigDecimal.valueOf(bound.toLong, scale)
      Some(b.compareTo(lit.asInstanceOf[java.math.BigDecimal]))
    case _ => Some(java.lang.Long.compare(bound.toLong,
      lit.asInstanceOf[Long])) // long/date/ts
  }

  private def rangeMayContain(stats: Map[String, ColStat], a: String, v: Any): Boolean =
    withBounds(stats, a, v) { (tag, mn, mx, l) =>
      // NaN sits OUTSIDE parquet footer min/max (the spec excludes it
      // from stats), so an `= NaN` probe is not decidable from range
      // bounds: a file whose box misses NaN may still hold NaN rows.
      if (tag == "double" && l.asInstanceOf[Double].isNaN) true
      else {
        val lo = cmp(tag, mn, l); val hi = cmp(tag, mx, l)
        (lo, hi) match {
          case (Some(c1), Some(c2)) => c1 <= 0 && c2 >= 0
          case _ => true
        }
      }
    }

  /** Compare one bound (max for >, min for <) against the literal. */
  private def boundCmp(stats: Map[String, ColStat], a: String, v: Any,
                       pass: (Int, Int) => Boolean, useMax: Boolean): Boolean =
    withBounds(stats, a, v) { (tag, mn, mx, l) =>
      // Spark orders NaN GREATER than every value, but the footer max
      // excludes NaN — a max-based skip could drop a file whose NaN
      // rows match (`col > x` is TRUE for NaN). Max-side decisions on
      // floating columns are therefore non-decidable (Iceberg needs
      // nan_value_counts for this); the min side stays safe — NaN
      // never satisfies `col < x`.
      if (tag == "double" && useMax) true
      else cmp(tag, if (useMax) mx else mn, l) match {
        case Some(c) => pass(c, 0)
        case None => true
      }
    }

  /** A column's (tag, min, max) when pruning may compare with them:
    * both bounds known, a typed domain, and ASCII strings only (parquet
    * orders UTF-8 bytes unsigned, java Strings by UTF-16 unit; they
    * agree only on ASCII).
    */
  private def usableBounds(stats: Map[String, ColStat],
                           a: String): Option[(String, String, String)] =
    stats.get(a).collect {
      case ColStat(tag, _, Some(mn), Some(mx), _, _) if tag != "none" &&
          (tag != "string" || (isAscii(mn) && isAscii(mx))) => (tag, mn, mx)
    }

  private def withBounds(stats: Map[String, ColStat], a: String, v: Any)
                        (f: (String, String, String, Any) => Boolean): Boolean =
    usableBounds(stats, a) match {
      case Some((tag, mn, mx)) =>
        literal(tag, v) match {
          case Some(l) => f(tag, mn, mx, l)
          case None => true
        }
      case _ => true
    }

  private def prefixMayMatch(stats: Map[String, ColStat], a: String,
                             p: String): Boolean =
    usableBounds(stats, a) match {
      case Some(("string", mn, mx)) if isAscii(p) =>
        // strings with prefix p live in [p, p + U+FFFF): skip when the
        // file's whole range is below p or above every p-prefixed string
        mx.compareTo(p) >= 0 && mn.compareTo(p + "￿") <= 0
      case _ => true
    }

  // ---- bloom-filter skipping (point lookups on scattered columns) ----

  /** Min/max boxes are useless for equality probes on columns whose
    * values scatter across every file (random ids, uuids): each file's
    * range covers the whole domain. A small per-file BLOOM FILTER
    * answers "could value v be in this file?" instead — Iceberg's
    * bloom-filter file-skipping analog.
    *
    * Layout: `m` = 8192 bits, 4 probes per value, probe i = bits
    * [15i, 15i+13) of hash60(col ":" value-as-string). Long/int and
    * string columns only — their Spark cast-to-string rendering is
    * reproducible driver-side at prune time, which is what makes the
    * probe hash of a pushed literal match the build hash exactly.
    *
    * Build cost: one extra pass over the just-written files, but the
    * aggregation state is the `collect_set` of probe positions —
    * bounded at 8192 ints per (file, column) regardless of row count,
    * so the build is shuffle-light and driver-safe at any scale (on a
    * cluster the writer tasks would emit these, like the stats).
    */
  val BloomSidecarName = "_graft_bloom"
  val BloomBits = 8192

  private[storage] def bloomPositions(h: Long): Seq[Int] =
    (0 until 4).map(i => ((h >>> (15 * i)) & 0x1fff).toInt)

  /** Build + write `_graft_bloom` for the given columns of every file
    * under `dir`. Non-long/string columns are skipped silently.
    */
  def writeBloomSidecar(spark: org.apache.spark.sql.SparkSession,
                        dir: String, cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(dir)
    val usable = cols.filter { c =>
      df.schema.fields.find(_.name == c).exists(f => f.dataType match {
        case _: org.apache.spark.sql.types.IntegerType |
             _: org.apache.spark.sql.types.LongType |
             _: org.apache.spark.sql.types.ShortType |
             _: org.apache.spark.sql.types.ByteType |
             _: org.apache.spark.sql.types.StringType => true
        case _ => false
      })
    }
    if (usable.isEmpty) return
    val perCol = usable.map { c =>
      val h = graft.functions.TextFunctions.hash60(
        concat(lit(s"$c:"), col(c).cast("string")))
      val pos = (0 until 4).map(i =>
        shiftrightunsigned(h, 15 * i).bitwiseAND(lit(0x1fffL)).cast("int"))
      df.filter(col(c).isNotNull)
        .select(input_file_name().as("__f"),
          explode(array(pos: _*)).as("__p"))
        .groupBy(col("__f"))
        .agg(collect_set(col("__p")).as("__ps"))
        .select(col("__f"), lit(c).as("__c"), col("__ps"))
    }.reduce(_.unionByName(_))
    val rows = perCol.collect() // ≤ files × cols rows, ≤ 8192 ints each
    val body = new StringBuilder("v1\n")
    rows.sortBy(r => (r.getString(0), r.getString(1))).foreach { r =>
      val bits = new java.util.BitSet(BloomBits)
      r.getSeq[Int](2).foreach(bits.set)
      // input_file_name() is a URI whose path may be percent-encoded
      // (spaces, unicode); decode it properly or the sidecar key won't
      // match the Files.walk-derived relative path at prune time and
      // blooms silently stop pruning.
      val rel = relTo(dir, r.getString(0))
      body.append(Seq(rel, r.getString(1),
        Base64.getEncoder.encodeToString(bits.toByteArray))
        .mkString("\t")).append('\n')
    }
    TableFs.forPath(dir).writeString(s"$dir/$BloomSidecarName",
      body.toString)
  }

  /** Decoded filesystem path of a `file:`-scheme URI (percent-encoding
    * resolved); falls back to scheme-stripping for strings `new URI`
    * rejects (e.g. raw unencoded spaces).
    */
  private def uriPath(name: String): String =
    try {
      val p = new java.net.URI(name).getPath
      if (p != null && p.nonEmpty) p else name.stripPrefix("file:")
    } catch { case NonFatal(_) => name.stripPrefix("file:") }

  /** file(relative) -> col -> bitset; empty when the sidecar is absent. */
  private def readBloomSidecar(dir: String): Map[String, Map[String, java.util.BitSet]] =
    TableFs.forPath(dir).readString(s"$dir/$BloomSidecarName") match {
      case None => Map.empty
      case Some(bodyText) =>
        bodyText.linesIterator.drop(1).filter(_.nonEmpty).map { l =>
          val parts = l.split("\t", -1)
          (parts(0), parts(1),
            java.util.BitSet.valueOf(Base64.getDecoder.decode(parts(2))))
        }.toSeq.groupBy(_._1).map { case (f, rs) =>
          f -> rs.map(r => r._2 -> r._3).toMap
        }
    }

  /** Spark-cast-to-string rendering of a pushed-literal value for the
    * bloom-supported types; None = not bloom-decidable.
    */
  private def bloomRender(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(s)
    case n: Byte => Some(n.toString)
    case n: Short => Some(n.toString)
    case n: Int => Some(n.toString)
    case n: Long => Some(n.toString)
    case _ => None
  }

  private def bloomMayContain(bits: java.util.BitSet, colName: String,
                              v: Any): Boolean =
    bloomRender(v) match {
      case None => true
      case Some(s) =>
        val h = graft.operators.Similarity.jvmHash60(s"$colName:$s")
        bloomPositions(h).forall(bits.get)
    }

  /** Bloom verdict for one filter against one file's blooms — only
    * equality-shaped predicates are decidable; everything else keeps.
    */
  def bloomMayMatch(blooms: Map[String, java.util.BitSet], f: Filter): Boolean =
    f match {
      case EqualTo(a, v) =>
        blooms.get(a).forall(bloomMayContain(_, a, v))
      case EqualNullSafe(a, v) if v != null =>
        blooms.get(a).forall(bloomMayContain(_, a, v))
      case In(a, vs) =>
        blooms.get(a) match {
          case Some(bits) if vs != null =>
            vs.exists(v => v == null || bloomMayContain(bits, a, v))
          case _ => true
        }
      case And(l, r) => bloomMayMatch(blooms, l) && bloomMayMatch(blooms, r)
      case Or(l, r) => bloomMayMatch(blooms, l) || bloomMayMatch(blooms, r)
      case _ => true
    }

  private def mayHaveNulls(stats: Map[String, ColStat], a: String): Boolean =
    stats.get(a) match {
      case Some(s) if s.nulls >= 0 => s.nulls > 0
      case _ => true
    }

  private def mayHaveNonNull(stats: Map[String, ColStat], a: String): Boolean =
    stats.get(a) match {
      case Some(s) if s.nulls >= 0 && s.values >= 0 => s.nulls < s.values
      case _ => true
    }
}
