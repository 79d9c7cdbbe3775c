package graft.storage

import java.util.Base64

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources._

/** Per-file column min/max/null statistics — the manifest-level data-
  * skipping layer (what Iceberg keeps in its manifest entries:
  * `lower_bounds`/`upper_bounds`/`null_value_counts` per data file).
  *
  * Collection reads only parquet FOOTERS of just-written files (a
  * driver-side metadata read at demo scale; on a cluster the same
  * numbers come back from the writer tasks' commit messages, exactly
  * as Iceberg collects them). The sidecar `_graft_stats` lives INSIDE
  * the data directory — underscore-prefixed so every Spark scan
  * ignores it, and it travels/dies with the directory through
  * tier/compact/vacuum with no extra bookkeeping.
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

  /** Parquet files under `dir` (recursive) via the [[TableFs]] facade
    * — local nio or the object-store FS, resolved per path. Files under
    * a hidden segment are skipped, as Spark's file index skips them: a
    * leftover `_temporary` attempt is not table data.
    */
  private def parquetFiles(dir: String): Seq[String] =
    TableFs.forPath(dir).listFiles(dir).collect {
      case (p, _) if p.endsWith(".parquet") &&
          !relTo(dir, p).split('/').exists(hidden) => p
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

  /** Stats for one column of one file. `tag` fixes the comparison
    * domain: long | double | string | date | ts | decimal:<scale> |
    * none (= unusable, always keep). min/max are canonical strings in
    * that domain; None = unknown. nulls/rows: -1 = unknown.
    */
  case class ColStat(tag: String, min: Option[String], max: Option[String],
                     nulls: Long, rows: Long)

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
    * None = value unusable (e.g. non-ASCII string — parquet orders
    * UTF8 bytes unsigned, java Strings by UTF-16 unit; they agree only
    * on ASCII, so anything else must not drive a skip decision).
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
    case ("string", b: Binary) =>
      val s = b.toStringUsingUTF8
      if (isAscii(s)) Some(s) else None
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
      try {
        var rows = 0L
        files.foreach { f =>
          val r = ParquetFileReader.open(conf, new HadoopPath(f))
          try rows += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
          finally r.close()
        }
        Some(rows)
      } catch { case NonFatal(_) => None }
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
                  val r = ParquetFileReader.open(conf, p)
                  try rows += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
                  finally r.close()
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

  /** Footer stats of every `*.parquet` under `dir` (recursive —
    * partitioned layouts nest files under `col=value/` subdirs), keyed
    * by path RELATIVE to `dir`, each with the file's row count; None for
    * a file whose footer cannot be read.
    */
  private def collect(dir: String): Seq[(String, Option[(Long, Map[String, ColStat])])] = {
    val conf = new Configuration(TableFs.hadoopConf)
    parquetFiles(dir).map { f =>
      relTo(dir, f) -> (try {
        val reader = ParquetFileReader.open(conf, new HadoopPath(f.toString))
        try {
          val footer = reader.getFooter
          val blocks = footer.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          // accumulate (tag, min, max, nulls, statsOk) per column path
          var acc = Map.empty[String, (String, Option[String], Option[String], Long, Boolean)]
          for (b <- blocks; c <- b.getColumns.asScala) {
            val name = c.getPath.toDotString
            val tag = tagOf(c.getPrimitiveType)
            val st = c.getStatistics
            val (mn, mx, nl, ok) =
              if (st == null || tag == "none") (None, None, -1L, false)
              else {
                val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
                if (!st.hasNonNullValue) (None, None, nulls, true)
                else (canon(tag, st.genericGetMin.asInstanceOf[AnyRef]),
                  canon(tag, st.genericGetMax.asInstanceOf[AnyRef]),
                  nulls, true)
              }
            acc.get(name) match {
              case None => acc += name -> (tag, mn, mx, nl, ok)
              case Some((t0, mn0, mx0, nl0, ok0)) =>
                // merge chunks: a chunk with unusable stats poisons the
                // column (its rows are unbounded); null counts add
                val mergedMin = mergeBound(tag, mn0, mn, takeMin = true)
                val mergedMax = mergeBound(tag, mx0, mx, takeMin = false)
                val mergedNl = if (nl0 < 0 || nl < 0) -1L else nl0 + nl
                acc += name -> (t0, mergedMin, mergedMax, mergedNl, ok0 && ok)
            }
          }
          Some(rows -> acc.map { case (col, (tag, mn, mx, nl, ok)) =>
            col -> (if (ok) ColStat(tag, mn, mx, nl, rows)
                    else ColStat("none", None, None, -1L, rows))
          })
        } finally reader.close()
      } catch { case NonFatal(_) => None }) // unreadable footer → no stats
    }
  }

  /** min/max merge across row-group chunks. A chunk whose bound is
    * unknown makes the file bound unknown (the chunk's rows could lie
    * anywhere).
    */
  private def mergeBound(tag: String, a: Option[String], b: Option[String],
                         takeMin: Boolean): Option[String] = (a, b) match {
    case (Some(x), Some(y)) =>
      val cmp = compareCanon(tag, x, y)
      Some(if ((cmp <= 0) == takeMin) x else y)
    case _ => None
  }

  private def compareCanon(tag: String, a: String, b: String): Int = tag match {
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "string" => a.compareTo(b)
    case _ => java.lang.Long.compare(a.toLong, b.toLong) // long/date/ts/decimal
  }

  // ---- sidecar io ----

  private def enc(o: Option[String]): String =
    o.map(s => Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))).getOrElse("-")

  private def dec(s: String): Option[String] =
    if (s == "-") None else Some(new String(Base64.getDecoder.decode(s), "UTF-8"))

  /** Collect footer stats for `dir` and write its `_graft_stats`
    * sidecar. Called from the single write seam right after the
    * parquet write, BEFORE any atomic rename publishes the directory —
    * so data and stats commit together. Returns the dir's EXACT row
    * count from the same footers (0 for a dir with no parquet file);
    * None when any footer failed to read — never a partial sum.
    */
  def writeSidecar(dir: String): Option[Long] = {
    val stats = collect(dir).sortBy(_._1)
    val body = new StringBuilder("v1\n")
    for ((file, Some((_, cols))) <- stats; (col, s) <- cols.toSeq.sortBy(_._1)) {
      body.append(Seq(file, col, s.tag, enc(s.min), enc(s.max),
        s.nulls.toString, s.rows.toString).mkString("\t")).append('\n')
    }
    TableFs.forPath(dir).writeString(s"$dir/$SidecarName", body.toString)
    val rows = stats.flatMap(_._2.map(_._1))
    if (rows.size == stats.size) Some(rows.sum) else None
  }

  /** Load a directory's sidecar; empty map when absent (pre-stats dirs
    * — every file is kept).
    */
  def readSidecar(dir: String): Map[String, Map[String, ColStat]] = {
    TableFs.forPath(dir).readString(s"$dir/$SidecarName") match {
      case None => Map.empty
      case Some(bodyText) => bodyText.linesIterator.drop(1).filter(_.nonEmpty).map { l =>
        val parts = l.split("\t", -1)
        (parts(0), parts(1),
          ColStat(parts(2), dec(parts(3)), dec(parts(4)),
            parts(5).toLong, parts(6).toLong))
      }.toSeq.groupBy(_._1).map { case (f, rowsOfFile) =>
        f -> rowsOfFile.map(r => r._2 -> r._3).toMap
      }
    }
  }

  // ---- pruning ----

  /** One entry per data file: (absolute path, range stats, blooms). */
  type FileEntry = (String, Map[String, ColStat], Map[String, java.util.BitSet])

  /** Every data file under `roots` with its stats AND bloom sidecar
    * content — ONE filesystem walk + sidecar parse, which the skipping
    * scan builder shares across its pushdown hooks.
    */
  def listWithSidecars(roots: Seq[String]): Seq[FileEntry] =
    roots.flatMap { r =>
      if (!TableFs.forPath(r).exists(r)) Nil
      else {
        val side = readSidecar(r)
        val bloom = readBloomSidecar(r)
        parquetFiles(r).map { p =>
          val rel = relTo(r, p)
          (p, side.getOrElse(rel, Map.empty[String, ColStat]),
            bloom.getOrElse(rel, Map.empty[String, java.util.BitSet]))
        }
      }
    }

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

  private def withBounds(stats: Map[String, ColStat], a: String, v: Any)
                        (f: (String, String, String, Any) => Boolean): Boolean =
    stats.get(a) match {
      case Some(ColStat(tag, Some(mn), Some(mx), _, _)) if tag != "none" =>
        literal(tag, v) match {
          case Some(l) => f(tag, mn, mx, l)
          case None => true
        }
      case _ => true
    }

  private def prefixMayMatch(stats: Map[String, ColStat], a: String,
                             p: String): Boolean =
    stats.get(a) match {
      case Some(ColStat("string", Some(mn), Some(mx), _, _)) if isAscii(p) =>
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
  def readBloomSidecar(dir: String): Map[String, Map[String, java.util.BitSet]] =
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
      case Some(s) if s.nulls >= 0 && s.rows >= 0 => s.nulls < s.rows
      case _ => true
    }
}
