package graft.plans

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.GraftFileIndex
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.storage.{FileStats, SessionMemo, TieredTable}

/** A DataSource-V2 [[TableCatalog]] exposing tiered tables under a
  * three-level namespace (the reference's `catalog.database.table`,
  * /root/reference/README.md:129-135,270-275):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftTableCatalog].getName)
  *   TieredCatalog.register("fluss", "enriched_orders", path)
  *   spark.sql("SELECT * FROM graft.fluss.enriched_orders")            // hot ∪ cold
  *   spark.sql("SELECT * FROM graft.fluss.enriched_orders__cold")      // Trino role
  *   spark.sql("SELECT * FROM graft.fluss.enriched_orders__snapshots") // metadata
  * }}}
  *
  * Data reads resolve to Spark's own parquet [[ParquetTable]] over the
  * manifest's file list — full vectorized scans, predicate pushdown and
  * column pruning, zero custom read path. The hot/cold boundary comes
  * from ONE manifest read at loadTable time (snapshot isolation). PK
  * tables are copy-on-write at commit, so their cold tier is already
  * resolved parquet; merge-on-read PK tables (whose files hold every
  * live version of a key) serve their resolved last-write-wins view
  * through an analyzer substitution ([[GraftMorReadRule]]) — SELECT,
  * time travel, `$cold`, and row-level verbs all work; only the raw
  * version files are never SQL-visible.
  */
class GraftTableCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  // ---- SQL-callable engine functions (`graft.system.*`): the DSv2
  // FunctionCatalog face — see [[GraftSqlFunctions]] for the entries
  // and their magic-method (codegen-friendly) bindings.
  override def listFunctions(namespace: Array[String])
      : Array[org.apache.spark.sql.connector.catalog.Identifier] = {
    if (!namespaceExists(namespace) &&
        !namespace.sameElements(GraftSqlFunctions.Namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(catName +: namespace.toSeq)
    GraftSqlFunctions.list(namespace)
  }
  override def loadFunction(
      ident: org.apache.spark.sql.connector.catalog.Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftSqlFunctions.load(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  // ---- namespaces: auto-namespace semantics (a database EXISTS the
  // moment a name is used — the path-based-catalog stance, so CREATE
  // TABLE into a fresh db never needs a prior CREATE DATABASE); SHOW
  // DATABASES lists the ones that actually hold tables, in-memory or
  // persisted. USE <catalog>.<db> rides namespaceExists.
  override def listNamespaces(): Array[Array[String]] =
    TieredCatalog.listDatabases().filter(_.nonEmpty).map(Array(_)).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length <= 1
  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(catName +: namespace.toSeq)
    java.util.Collections.emptyMap[String, String]()
  }
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    // auto-namespaces: accept single-level CREATE DATABASE as a no-op
    if (namespace.length != 1)
      throw new UnsupportedOperationException(
        "only single-level databases are supported")
  }
  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector
                                .catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata to alter")
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val db = namespace.mkString(".")
    val tables = TieredCatalog.listTables(db)
    if (tables.nonEmpty && !cascade)
      throw new IllegalStateException(
        s"database $db holds ${tables.size} table(s); DROP ... CASCADE")
    tables.foreach(t => dropTable(Identifier.of(namespace, t)))
    tables.nonEmpty
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  private var catName: String = TieredCatalog.CatalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name

  override def name(): String = catName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    TieredCatalog.listTables(namespace.mkString("."))
      .map(t => Identifier.of(namespace, t)).toArray

  override def loadTable(ident: Identifier): Table = {
    val spark = SparkSession.active
    val db = ident.namespace().mkString(".")
    val VersionSuffix = "^(.*)__v([0-9]+)$".r
    val (base, mode) = ident.name match {
      // the reference's exact spelling, reachable with backticks:
      // SELECT * FROM graft.db.`t$snapshots` (README.md:275); `$` is
      // not legal in a bare Spark identifier, hence the `__` twins
      case n if n.endsWith("$snapshots") =>
        (n.stripSuffix("$snapshots"), "snapshots")
      case n if n.endsWith("$files") => (n.stripSuffix("$files"), "files")
      case n if n.endsWith("$stats") => (n.stripSuffix("$stats"), "stats")
      case n if n.endsWith("$cold") => (n.stripSuffix("$cold"), "cold")
      case n if n.endsWith("$changes") => (n.stripSuffix("$changes"), "changes")
      case n if n.endsWith("$refs") => (n.stripSuffix("$refs"), "refs")
      case n if n.endsWith("$history") =>
        (n.stripSuffix("$history"), "history")
      case n if n.endsWith("$partitions") =>
        (n.stripSuffix("$partitions"), "partitions")
      case n if n.endsWith("__snapshots") =>
        (n.stripSuffix("__snapshots"), "snapshots")
      case n if n.endsWith("__files") => (n.stripSuffix("__files"), "files")
      case n if n.endsWith("__stats") => (n.stripSuffix("__stats"), "stats")
      case n if n.endsWith("__cold") => (n.stripSuffix("__cold"), "cold")
      case n if n.endsWith("__changes") =>
        (n.stripSuffix("__changes"), "changes")
      case n if n.endsWith("__refs") => (n.stripSuffix("__refs"), "refs")
      case n if n.endsWith("__history") =>
        (n.stripSuffix("__history"), "history")
      case n if n.endsWith("__partitions") =>
        (n.stripSuffix("__partitions"), "partitions")
      case VersionSuffix(n, v) => (n, s"v$v") // time travel: VERSION AS OF
      case n => (n, "union")
    }
    val (t, e) = tiered(db, base, ident.name)
    mode match {
      case "snapshots" =>
        new SnapshotsTable(ident.toString,
          (1L to t.latestSnapshotId).flatMap(t.snapshot).map(s =>
            SnapshotsTable.Row(s.id, s.parentId, s.op, s.rowsAdded,
              s.tieredSeg, s.committedAt * 1000L, t.manifestList(s.id),
              s.summary)))
      case "files" =>
        // Iceberg's $files analog: one row per data directory with tier
        // and on-disk size — driver-side metadata, like __snapshots
        val watermark = t.currentSnapshot.map(_.tieredSeg).getOrElse(-1L)
        val cold = t.currentSnapshot.map(_.files).getOrElse(Nil)
          .map(p => FilesTable.Row(p, "cold", dirBytes(p)))
        // t.tablePath, not the raw registered e.path: TieredTable
        // normalizes file: URIs — the raw form would render un-normalized
        // here and resolve as a relative path in dirBytes (size 0)
        val hot = t.logSegments.filter(_ > watermark)
          .map(s => FilesTable.Row(f"${t.tablePath}/log/seg-$s%06d", "hot",
            dirBytes(f"${t.tablePath}/log/seg-$s%06d")))
        new FilesTable(ident.toString, cold ++ hot)
      case "partitions" if e.mergeOnRead && t.bucketBy > 0 =>
        // bucket dirs are the engine's internal layout, not user
        // partitions — same stance as SHOW PARTITIONS (empty), and the
        // raw per-version row counts would mislead anyway
        new PartitionsTable(ident.toString, Nil)
      case "partitions" if e.mergeOnRead =>
        // partitioned MoR: the sidecar accounting counts RAW VERSION
        // rows, not live rows — a superseded upsert inflates its
        // partition. Refuse with the honest recomputation instead of
        // publishing a number that reads as a live-row count.
        throw new IllegalArgumentException(
          s"$db.$base is merge-on-read: $$partitions' sidecar " +
            "accounting counts raw versions, not resolved rows — " +
            "aggregate the resolved table (SELECT <part>, COUNT(*) … " +
            "GROUP BY) or use $files/$snapshots for file accounting")
      case "partitions" =>
        // Iceberg's $partitions analog: per partition value → exact
        // file / row / byte accounting, entirely from the skipping
        // sidecars + one listing per data dir — no data file is
        // opened. Scoped to the COLD layout of the current snapshot
        // (hot log segments are a row stream, not a partitioned
        // layout; they join the accounting when tiered). The query
        // a 100 TB operator asks before backfilling a day: how big
        // IS that partition, without scanning it.
        val partAgg = scala.collection.mutable.LinkedHashMap
          .empty[String, (Long, Long, Long)]
        val layout = TieredSqlTable.layoutCols(t)
        val roots = t.currentSnapshot.map(_.files).getOrElse(Nil)
        roots.zip(FileStats.entries(roots, layout)).foreach { case (root, es) =>
          // a kept `col=value` SUBDIR reference (partition-scoped
          // overwrite) reads the sidecar of its snap-N parent
          val base = graft.storage.PartitionPaths.base(root, layout)
          es.foreach { e =>
            val partVal = e.path.stripPrefix(base).split('/').dropRight(1)
              .filter(_.contains("=")).mkString("/")
            val (f0, r0, b0) = partAgg.getOrElse(partVal, (0L, 0L, 0L))
            partAgg(partVal) = (f0 + 1, r0 + math.max(e.rows, 0L), b0 + e.bytes)
          }
        }
        new PartitionsTable(ident.toString, partAgg.toSeq.map {
          case (p, (f, r, b)) => PartitionsTable.Row(p, f, r, b)
        }.sortBy(_.partition))
      case "stats" =>
        // the skipping sidecars as a queryable relation (Iceberg $files'
        // bounds columns): one row per (file, column) with the exact
        // min/max/null accounting scan planning prunes by
        val layout = TieredSqlTable.layoutCols(t)
        val rows = FileStats.entries(t.unionPaths, layout).flatten.flatMap { e =>
          e.cols.toSeq.sortBy(_._1).map { case (c, s) =>
            StatsTable.Row(e.path, c, s.tag,
              s.min.orNull, s.max.orNull, s.nulls, e.rows)
          }
        }
        new StatsTable(ident.toString, rows)
      case "changes" =>
        require(e.changeDataFeed,
          s"$db.$base was not created with change-data-feed — " +
            "TBLPROPERTIES ('change-data-feed'='true')")
        new ChangeFeedTable(ident.toString, spark, t,
          StructType(new TieredSqlTable(s"$db.$base", spark, t, e).schema()
            .filterNot(_.name == t.SeqCol)))
      case "history" =>
        // Iceberg's $history: when each snapshot became current, and
        // whether it is an ancestor of the CURRENT state. Graft commit
        // lineage is linear by id, but a ROLLBACK commit redirects
        // state ancestry to its target — the snapshots it rolled past
        // stop being ancestors (exactly Iceberg's answer after
        // `rollback_to_snapshot`; the rollback commit itself and its
        // target both remain true). Driver-side metadata, no data read.
        val snaps = (1L to t.latestSnapshotId).flatMap(t.snapshot)
        val RollTag = "^rollback-to-([0-9]+)$".r
        val stateParent: Map[Long, Option[Long]] = snaps.map { s =>
          // key on the VERB, not the tag shape alone: tags are a
          // user-supplied idempotence key on every commit verb, so an
          // ordinary append tagged "rollback-to-1" must not redirect
          // ancestry — only a real rollback commit (op + its recorded
          // target) does
          s.id -> ((s.op, s.tag) match {
            case ("rollback", RollTag(n)) => Some(n.toLong)
            case _ => s.parentId
          })
        }.toMap
        val ancestors = scala.collection.mutable.Set.empty[Long]
        var cur = t.currentSnapshot.map(_.id)
        while (cur.isDefined && !ancestors.contains(cur.get)) {
          ancestors += cur.get
          cur = stateParent.getOrElse(cur.get, None)
        }
        new HistoryTable(ident.toString, snaps.map(s =>
          HistoryTable.Row(s.committedAt * 1000L, s.id, s.parentId,
            ancestors.contains(s.id))))
      case "refs" =>
        // Iceberg's $refs metadata listing: one row per named ref —
        // tags, plus staged WAP commits as type='wap' (snapshot_id =
        // the parent they were staged against; a branch would add
        // type='branch')
        new RefsTable(ident.toString,
          t.tags.map { case (n, id) => RefsTable.Row(n, "tag", id) } ++
            t.stagedIds.flatMap(w => t.stagedRead(w).map(s =>
              RefsTable.Row(w, "wap", s.id))) ++
            t.branches.map { case (n, parent) =>
              RefsTable.Row(n, "branch", parent) })
      case "cold" =>
        // merge-on-read: the raw snapshot files hold EVERY live version
        // of a key — the SQL face is the resolved (last-write-wins)
        // view, substituted at analysis by [[GraftMorReadRule]]
        if (e.mergeOnRead)
          new GraftResolvedTable(ident.toString, () => t.readCold())
        else snapshotRead(spark, ident.toString, t, e, t.coldFiles)
      case v if v.startsWith("v") =>
        val id = v.drop(1).toLong
        val snap = t.snapshot(id).getOrElse(
          throw new NoSuchTableException(Seq(catName, db, ident.name)))
        if (e.mergeOnRead)
          new GraftResolvedTable(ident.toString, () => t.readColdAsOf(id))
        else snapshotRead(spark, ident.toString, t, e, snap.files)
      case _ =>
        // Iceberg's `spark.wap.branch` READ semantics: while
        // `spark.graft.wap.branch` is set and THIS table has the
        // branch, plain reads serve the branch view (fork parent +
        // its appends, cold like any ref read) — so an audit pipeline
        // runs its normal queries unchanged against the candidate
        // state. Tables without the branch are untouched; writes
        // under the conf already route to the branch in the sink.
        val branchView = Option(
          spark.conf.get("spark.graft.wap.branch", null))
          .filter(_.nonEmpty).flatMap(t.branchRead)
        if (e.mergeOnRead)
          // merge-on-read base read: full DSv2 table (writes commit
          // upsert DELTAS, row-level verbs lower via RowLevelSql), but
          // the BATCH READ is the resolved last-write-wins view —
          // substituted at analysis by [[GraftMorReadRule]]; a branch
          // view resolves the branch snapshot the same way
          new TieredSqlTable(ident.toString, spark, t, e,
            resolveOverride = branchView.map(s => () => t.readResolved(s)))
        else new TieredSqlTable(ident.toString, spark, t, e,
          readFilesOverride = branchView.map(_.files))
    }
  }

  /** SQL time travel, `SELECT … FROM graft.db.t VERSION AS OF <id>` —
    * Spark routes the clause here (DSv2 TableCatalog time-travel
    * overload). Equivalent to the `__v<id>` name suffix and the API's
    * `readColdAsOf`.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val spark = SparkSession.active
    val (t, e) = tiered(ident)
    // numeric → snapshot id; anything else → a snapshot TAG, then a
    // staged WAP commit, then a BRANCH (fork parent + its appends) —
    // Iceberg's `VERSION AS OF 'name'` ref resolution
    val snap = (if (version.nonEmpty && version.forall(_.isDigit))
        t.snapshot(version.toLong)
      else t.tagSnapshot(version).orElse(t.stagedRead(version))
        .orElse(t.branchRead(version))).getOrElse(
      throw new NoSuchTableException(
        Seq(catName, ident.namespace().mkString("."),
          s"${ident.name} VERSION AS OF $version")))
    if (t.mergeOnRead)
      new GraftResolvedTable(s"${ident.toString}@v$version",
        () => t.readResolved(snap))
    else snapshotRead(spark, s"${ident.toString}@v$version", t, e, snap.files)
  }

  /** SQL time travel, `… TIMESTAMP AS OF <ts>`: the latest snapshot
    * committed at or before the timestamp (Iceberg's rule).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val spark = SparkSession.active
    val (t, e) = tiered(ident)
    val id = (1L to t.latestSnapshotId).flatMap(t.snapshot)
      .filter(_.committedAt * 1000L <= timestampMicros)
      .map(_.id).maxOption.getOrElse(
        throw new NoSuchTableException(
          Seq(catName, ident.namespace().mkString("."),
            s"${ident.name} TIMESTAMP AS OF $timestampMicros")))
    if (t.mergeOnRead)
      new GraftResolvedTable(s"${ident.toString}@t$timestampMicros",
        () => t.readColdAsOf(id))
    else snapshotRead(spark, s"${ident.toString}@t$timestampMicros", t, e,
      t.snapshot(id).get.files)
  }

  /** The TieredTable and registry entry behind a BASE table identifier
    * (no suffix modes). Merge-on-read callers get their file lists
    * resolved through [[GraftResolvedTable]] — never as a raw scan.
    */
  private def tiered(ident: Identifier): (TieredTable, TieredCatalog.Entry) =
    tiered(ident.namespace().mkString("."), ident.name, ident.name)

  /** The registered table `db`.`base`; `shown` is the name a miss
    * reports.
    */
  private def tiered(db: String, base: String, shown: String)
      : (TieredTable, TieredCatalog.Entry) = {
    val e = TieredCatalog.lookup(db, base)
      .getOrElse(throw new NoSuchTableException(Seq(catName, db, shown)))
    (TieredTable(SparkSession.active, e.path, e.pk, e.mergeOnRead,
      e.partitionBy, e.bloomCols, changeDataFeed = e.changeDataFeed,
      sortBy = e.sortBy, bucketBy = bucketHint(e)), e)
  }

  /** The companion's bucket-layout hint from a registry entry: a known
    * count passes through, a KNOWN-unbucketed entry (CREATE TABLE
    * recorded 0) maps to the no-probe sentinel so the hot analysis
    * path never pays a meta/BUCKETS read, and an unknown entry (API
    * registration, pre-r9 descriptor) probes.
    */
  private def bucketHint(e: TieredCatalog.Entry): Int =
    if (e.bucketBy > 0) e.bucketBy
    else if (e.bucketBy == 0) -1
    else 0

  /** A committed snapshot's `files` (time travel, `$cold`) as a
    * read-only relation: the base table's scan over those files — one
    * scan over every root, file skipping, scan metrics,
    * the memoized file schema merged over every file — and no write,
    * delete or row-level verb, which would reach the live table.
    */
  private def snapshotRead(spark: SparkSession, name: String, t: TieredTable,
                           e: TieredCatalog.Entry, files: Seq[String]): Table =
    new GraftSnapshotTable(new TieredSqlTable(name, spark, t, e,
      readFilesOverride = Some(files),
      schemaOverride = Option.when(files.nonEmpty)(TieredSqlTable.fileSchema(
        spark, files, TieredSqlTable.layoutCols(t)))))

  /** `CREATE TABLE graft.<db>.<t> (cols) [TBLPROPERTIES (...)]` — the
    * reference workload's DDL verb (README.md:139-171). Supported
    * properties: `path` (table location; defaults to the warehouse
    * root), `primary-key` (comma-separated PK columns → upsert table,
    * the reference's `PRIMARY KEY ... NOT ENFORCED`). The declared
    * schema is persisted next to the manifests so the (still-empty)
    * table resolves for reads and INSERT column checking.
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // `PARTITIONED BY (col, …)` — identity transforms only (the Hive
    // layout TieredTable writes); bucket/days/etc. would need a real
    // partition-spec evaluation layer
    val partCols = partitions.map { tr =>
      if (tr.name != "identity")
        throw new UnsupportedOperationException(
          s"unsupported partition transform: $tr (identity columns only)")
      tr.references.head.fieldNames.mkString(".")
    }.toSeq
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    // reserved engine columns: the version sequence and the bucket
    // layout are filtered from every merge-on-read SQL face — a user
    // column by those names would be silently unreachable
    TieredTable.SqlReserved.foreach(r =>
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(r)),
        s"column name '$r' is reserved for the engine's internal " +
          "layout — rename the column"))
    val db = ident.namespace().mkString(".")
    require(TieredCatalog.lookupLocal(db, ident.name).isEmpty,
      s"table $db.${ident.name} already exists")
    val props = properties.asScala
    val path = props.getOrElse("path",
      s"${TieredCatalog.warehouse}/$db/${ident.name}")
    // A managed CREATE TABLE owns its warehouse directory, but the
    // registry is process-local: committed state at this path (a
    // manifest pointer or log segments) is a live table from a previous
    // process, not crash debris — deleting it on a plain CREATE TABLE
    // would silently destroy data. Only genuinely uncommitted leftovers
    // (e.g. a temp dir from a writer that died mid-commit) are cleared.
    if (!props.contains("path")) {
      val fs = graft.storage.TableFs.forPath(path)
      val committed = fs.exists(s"$path/meta/LATEST") ||
        fs.listNames(s"$path/log").nonEmpty
      require(!committed, s"table location $path is not empty (committed " +
        s"state found); DROP TABLE the previous table or pass an explicit " +
        s"'path' property")
      fs.deleteRecursively(path)
    }
    val pk = props.get("primary-key")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    pk.foreach(k => require(schema.fieldNames.contains(k),
      s"primary-key column $k not in schema"))
    // 'merge-on-read' property (Iceberg's write.update.mode analog,
    // the reference's huge-PK-table shape): upserts commit O(batch)
    // DELTA snapshots instead of copy-on-write rewrites; reads resolve
    // last-write-wins at scan (GraftMorReadRule substitution)
    val mor = props.get("merge-on-read").exists(_.trim.toBoolean)
    require(!mor || pk.nonEmpty,
      s"table $db.${ident.name}: 'merge-on-read' needs a 'primary-key' — " +
        "without row identity there is nothing to resolve")
    // 'write.bucket-by' = N: merge-on-read deltas write hash(PK)-
    // bucketed dirs so every key's versions co-locate — the key-grouped
    // scan then resolves last-write-wins with NO exchange
    val bucketBy = props.get("write.bucket-by").map { v =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"table $db.${ident.name}: 'write.bucket-by' must be a " +
              s"positive bucket count, got '$v'")
      }
      require(n > 0,
        s"table $db.${ident.name}: 'write.bucket-by' must be a " +
          s"positive bucket count, got $n")
      n
    }.getOrElse(0)
    require(bucketBy == 0 || (mor && pk.nonEmpty),
      s"table $db.${ident.name}: 'write.bucket-by' is the merge-on-read " +
        "delta layout — it needs 'merge-on-read'='true' and a " +
        "'primary-key'")
    require(bucketBy == 0 || partCols.isEmpty,
      s"table $db.${ident.name}: 'write.bucket-by' and PARTITIONED BY " +
        "are mutually exclusive layouts (a bucketed MoR table is " +
        "already hash-partitioned by its key)")
    require(bucketBy == 0 ||
        !props.get("datalake").exists(_.trim.toBoolean),
      s"table $db.${ident.name}: 'write.bucket-by' cannot combine with " +
        "'datalake' — the auto-export would publish the engine-internal " +
        "bucket dirs as an Iceberg partition spec; keep the bucketed " +
        "table engine-internal and export a separate unbucketed copy " +
        "(INSERT INTO … SELECT) when external readers need it")
    // 'bloom-columns' property: point-lookup columns that get per-file
    // bloom sidecars on every write (see FileStats bloom skipping)
    val bloomCols = props.get("bloom-columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    bloomCols.foreach(k => require(schema.fieldNames.contains(k),
      s"bloom-columns column $k not in schema"))
    // 'change-data-feed' property: commits publish op-tagged parquet
    // change files (see TieredTable.writeChangeFeed) — the Delta-CDF
    // surface through SQL DDL
    val cdf = props.get("change-data-feed").exists(_.trim.toBoolean)
    // 'datalake' property (Flink dialect maps 'table.datalake.enabled'
    // here): streaming-SQL commits auto-tier and Iceberg-export —
    // the reference's datalake-enabled tables (README.md:188-191)
    val datalake = props.get("datalake").exists(_.trim.toBoolean)
    // 'write.sort-order' property (Iceberg's WRITE ORDERED BY): every
    // cold write clusters rows by these columns — global range sort
    // when unpartitioned (disjoint per-file bounds → range predicates
    // prune to O(matching files)), local order within the layout
    // tasks when partitioned
    val sortCols = props.get("write.sort-order")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    sortCols.foreach(k => require(schema.fieldNames.contains(k),
      s"write.sort-order column $k not in schema"))
    // 'watermark' property ('<col>:<delay>', the Flink dialect's
    // WATERMARK FOR clause): streaming statements reading this table
    // default their event-time watermark to it
    val watermark = props.get("watermark").map(_.trim).filter(_.nonEmpty)
    watermark.foreach { w =>
      val c = w.split(":", 2).head
      require(schema.fieldNames.contains(c),
        s"watermark column $c not in schema")
    }
    val tfs = graft.storage.TableFs.forPath(path)
    tfs.mkdirs(s"$path/meta")
    tfs.writeString(s"$path/meta/SCHEMA", schema.toDDL)
    // the bucket layout self-configures from table meta on EVERY open
    // (catalog, procedures, TVFs, a fresh process) — persist it with
    // the schema so the first INSERT doesn't race a concurrent reader
    if (bucketBy > 0) {
      tfs.writeString(s"$path/meta/BUCKETS", bucketBy.toString)
      // the hash kernel persists WITH the count: DDL knows the PK
      // type, so the decision (Iceberg bucket[N] for single-column
      // exportable PKs, Spark hash otherwise) is made here and the
      // first INSERT just follows it — see TieredTable.bucketKernelFor
      tfs.writeString(s"$path/meta/BUCKET_KERNEL",
        graft.storage.TieredTable.bucketKernelFor(
          pk.flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c)))))
    }
    TieredCatalog.register(db, ident.name, path, pk, mergeOnRead = mor,
      partitionBy = partCols,
      bloomCols = bloomCols, changeDataFeed = cdf, datalake = datalake,
      watermark = watermark, sortBy = sortCols, bucketBy = bucketBy)
    // DDL-created tables are durable: the entry persists under the
    // warehouse `_catalog/` and recovers lazily in a fresh process
    TieredCatalog.persist(db, ident.name)
    loadTable(ident)
  }

  private def dirBytes(path: String): Long = {
    graft.storage.TableFs.forPath(path).listFiles(path).map(_._2).sum
  }

  /** `ALTER TABLE graft.<db>.<t> ADD / RENAME / DROP COLUMN` — the DDL
    * face of the storage layer's schema evolution.
    *
    * ADD is declared-schema-only: existing rows surface NULL until data
    * written after the change carries the column (segments/snapshots
    * merge schemas on read).
    *
    * RENAME/DROP are the storage layer's metadata-only column mapping
    * ([[graft.storage.TieredTable.renameColumn]]/`dropColumn`) — every
    * TieredTable read, time travel included, presents the current
    * names with historical data intact. The SQL scan path, however, is
    * Spark's name-based parquet source over the raw file list, so the
    * DDL additionally runs one [[graft.storage.TieredTable.compact]]:
    * compaction reads THROUGH the mapping and rewrites the head
    * snapshot's files under the new names, converging the physical
    * layout the SQL scan sees (old snapshots keep old names and stay
    * time-travelable via the API). This rewrite-on-DDL is the honest
    * cost of name-based files vs Iceberg's field-id indirection — paid
    * once at the ALTER, not per read. ALTER COLUMN TYPE accepts the
    * value-preserving widenings (int→long, float→double, decimal
    * precision growth) through the same mapping+converge path; every
    * other type change stays rejected.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val db = ident.namespace().mkString(".")
    val e = TieredCatalog.lookup(db, ident.name)
      .getOrElse(throw new NoSuchTableException(Seq(catName, db, ident.name)))
    val afs = graft.storage.TableFs.forPath(e.path)
    val metaP = s"${e.path}/meta/SCHEMA"
    var schema: StructType =
      afs.readString(metaP).map(StructType.fromDDL)
        .getOrElse(loadTable(ident).asInstanceOf[TieredSqlTable].schema())
    lazy val tt = TieredTable(SparkSession.active, e.path, e.pk,
      e.mergeOnRead, e.partitionBy, e.bloomCols,
      changeDataFeed = e.changeDataFeed, sortBy = e.sortBy)
    var needsConverge = false
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "nested column adds are not supported")
        require(!TieredTable.SqlReserved
            .exists(_.equalsIgnoreCase(add.fieldNames()(0))),
          s"column name '${add.fieldNames()(0)}' is reserved for the " +
            "engine's internal layout — pick another name")
        schema = schema.add(add.fieldNames()(0), add.dataType(),
          add.isNullable)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "nested column renames are not supported")
        require(!TieredTable.SqlReserved
            .exists(_.equalsIgnoreCase(rn.newName())),
          s"column name '${rn.newName()}' is reserved for the engine's " +
            "internal layout — pick another name")
        val oldName = rn.fieldNames()(0)
        if (tt.latestSnapshotId > 0 || tt.logSegments.nonEmpty)
          tt.renameColumn(oldName, rn.newName())
        schema = StructType(schema.map(f =>
          if (f.name == oldName) f.copy(name = rn.newName()) else f))
        needsConverge = true
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "nested column drops are not supported")
        val name = del.fieldNames()(0)
        if (tt.latestSnapshotId > 0 || tt.logSegments.nonEmpty)
          tt.dropColumn(name)
        schema = StructType(schema.filterNot(_.name == name))
      // ALTER TABLE … ALTER COLUMN c TYPE <wider>: Iceberg's safe
      // type promotions (int→long, float→double, decimal precision
      // growth). Metadata-mapped in storage; the converge below
      // rewrites the head so the name-based SQL scan never merges a
      // mixed-width column. Unsafe changes refuse inside widenColumn.
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "nested column type changes are not supported")
        val name = ut.fieldNames()(0)
        if (tt.latestSnapshotId > 0 || tt.logSegments.nonEmpty)
          // widenColumn IS the converge (compact-then-tier inside) —
          // setting needsConverge here would compact the whole table
          // a second time for nothing
          tt.widenColumn(name, ut.newDataType())
        else require(
          graft.storage.TieredTable.safeWiden(
            schema(schema.fieldIndex(name)).dataType, ut.newDataType()),
          s"cannot change $name: not a value-preserving widening")
        schema = StructType(schema.map(f =>
          if (f.name.equalsIgnoreCase(name))
            f.copy(dataType = ut.newDataType()) else f))
      // ALTER TABLE … SET TBLPROPERTIES: the two knobs that are purely
      // write-side policy re-point safely mid-life — sort order shapes
      // FUTURE writes (existing layout converges at the next
      // compact/tier, same stance as schema evolution), bloom columns
      // shape future sidecars. Structural properties (primary-key,
      // partitioning, path) define the layout itself and refuse.
      case set: TableChange.SetProperty if set.property == "write.sort-order" =>
        val cols = set.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"write.sort-order column $c not in schema"))
        TieredCatalog.register(db, ident.name, e.path, e.pk, e.mergeOnRead,
          e.partitionBy, e.bloomCols, e.changeDataFeed, e.datalake,
          e.watermark, sortBy = cols)
        TieredCatalog.persist(db, ident.name)
      case set: TableChange.SetProperty if set.property == "bloom-columns" =>
        val cols = set.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"bloom-columns column $c not in schema"))
        TieredCatalog.register(db, ident.name, e.path, e.pk, e.mergeOnRead,
          e.partitionBy, bloomCols = cols, e.changeDataFeed, e.datalake,
          e.watermark, sortBy = e.sortBy)
        TieredCatalog.persist(db, ident.name)
      case other => throw new UnsupportedOperationException(
        s"unsupported table change: $other (ADD/RENAME/DROP COLUMN, " +
          "SET TBLPROPERTIES for write.sort-order / bloom-columns)")
    }
    if (needsConverge || changes.exists(_.isInstanceOf[TableChange.DeleteColumn])) {
      // converge the physical head layout for the name-based SQL scan;
      // a hot tail would re-surface old names in the union read, so
      // tier it into the rewrite
      if (tt.logSegments.nonEmpty) tt.tier()
      if (tt.latestSnapshotId > 0) tt.compact()
    }
    afs.mkdirs(s"${e.path}/meta")
    afs.writeString(metaP, schema.toDDL)
    loadTable(ident)
  }

  /** DROP TABLE. Managed tables (living under the warehouse root —
    * created without an explicit `path` property) are purged from disk,
    * matching Spark's managed-vs-external semantics; external tables
    * are only unregistered.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val db = ident.namespace().mkString(".")
    val entry = TieredCatalog.lookup(db, ident.name)
    val dropped = TieredCatalog.unregister(db, ident.name)
    TieredCatalog.deletePersisted(db, ident.name)
    graft.plans.FlinkDialect.unregisterProctime(ident.name)
    // checkpoint lifetime follows the DATA's lifetime: a MANAGED drop
    // purges both (re-create = a genuinely new table, fresh cursor);
    // an EXTERNAL drop keeps the data AND its commit tags on disk, so
    // the cursor must survive too — deleting only the checkpoint
    // would make a re-registered stream restart at batch 0 and have
    // its re-read batches swallowed by the old run's replay tags
    entry.filter(_.path.startsWith(s"${TieredCatalog.warehouse}/"))
      .foreach { e =>
        StreamingInsertSql.dropRemoteCheckpoint(e.path)
        graft.storage.TableFs.forPath(e.path).deleteRecursively(e.path)
      }
    dropped
  }

  /** `ALTER TABLE … RENAME TO …` — a catalog-only identity change
    * (Iceberg's rename): the registry entry and its persisted
    * descriptor move to the new name, the data stays where it is
    * (renames never move bytes — at 100 TB that's the only sane
    * contract). Refuses when the target name is taken.
    */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val db = from.namespace().mkString(".")
    val ndb = to.namespace().mkString(".")
    val e = TieredCatalog.lookup(db, from.name).getOrElse(
      throw new NoSuchTableException(Seq(catName, db, from.name)))
    require(TieredCatalog.lookup(ndb, to.name).isEmpty,
      s"cannot rename $db.${from.name}: target $ndb.${to.name} " +
        "already exists")
    TieredCatalog.register(ndb, to.name, e.path, e.pk, e.mergeOnRead,
      e.partitionBy, e.bloomCols, e.changeDataFeed, e.datalake,
      e.watermark, e.sortBy)
    TieredCatalog.persist(ndb, to.name)
    TieredCatalog.unregister(db, from.name)
    TieredCatalog.deletePersisted(db, from.name)
  }
}

/** The read/write DSv2 surface of a tiered table's base name.
  *
  * Reads delegate to Spark's [[ParquetTable]] over the union (hot ∪
  * cold) paths — full vectorized scan, pushdown, pruning. Writes
  * implement `INSERT INTO graft.<db>.<t> SELECT …` (the reference
  * workload's driving verb, /root/reference/README.md:211-216) as a
  * [[V1Write]]: the incoming DataFrame goes through the SAME commit
  * protocol as the Scala API — [[TieredTable.appendLog]] for log
  * tables, [[TieredTable.commitUpsert]] for PK tables — so SQL writers
  * get atomic segment renames / manifest swaps, not loose parquet
  * files. The plan under the InsertableRelation is still a fully
  * distributed Spark write; only the commit bookkeeping is driver-side,
  * same as the API path.
  */
class TieredSqlTable(tableName: String, spark: SparkSession,
                     t: TieredTable, entry: TieredCatalog.Entry,
                     readFilesOverride: Option[Seq[String]] = None,
                     resolveOverride: Option[() => org.apache.spark.sql.DataFrame] = None,
                     schemaOverride: Option[StructType] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  // ---- SHOW PARTITIONS (read-only partition management) ----
  // Partitions in a Hive layout MATERIALIZE with their data (INSERT
  // creates them, INSERT OVERWRITE PARTITION replaces them), so the
  // mutation verbs refuse loudly rather than pretend an empty dir is
  // a partition.

  override def partitionSchema(): StructType =
    // DECLARED `PARTITIONED BY` order, not table-schema order — the
    // Hive dirs nest in declared order and SHOW PARTITIONS must
    // render `p=…/q=…` to match the layout
    StructType(entry.partitionBy.flatMap(c =>
      schema().find(_.name.equalsIgnoreCase(c))))

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val pSchema = partitionSchema()
    if (pSchema.isEmpty) return Array.empty
    // distinct partition tuples from the Hive `col=value` segments of
    // every live file — one listing per root, no data file opened
    val tuples = t.unionPaths.flatMap { root =>
      graft.storage.TableFs.forPath(root).listFiles(root)
        .map(_._1).filter(_.endsWith(".parquet"))
        .flatMap { f =>
          val kv = f.split('/').filter(_.contains("="))
            .map { seg =>
              val i = seg.indexOf('=')
              seg.substring(0, i) ->
                graft.storage.PartitionPaths.unescape(seg.substring(i + 1))
            }.toMap
          if (pSchema.fieldNames.forall(kv.contains))
            Some(pSchema.fieldNames.toSeq.map(kv))
          else None
        }
    }.distinct.sortBy(_.mkString("/"))
    def typed(values: Seq[String]): org.apache.spark.sql.catalyst.InternalRow =
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        values.zip(pSchema.fields).map { case (v, f) =>
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(
              UTF8String.fromString(v), StringType),
            f.dataType, Some("UTC")).eval()
        })
    // partial-spec filter: SHOW PARTITIONS t PARTITION (col = v)
    val nameIdx = names.map(n => pSchema.fieldIndex(n))
    tuples.map(typed).filter { row =>
      nameIdx.zipWithIndex.forall { case (fi, ii) =>
        val want = ident.get(ii, pSchema.fields(fi).dataType)
        val have = row.get(fi, pSchema.fields(fi).dataType)
        want == have || (want != null && want.equals(have))
      }
    }.toArray
  }

  private def refuseP(verb: String): Nothing =
    throw new UnsupportedOperationException(
      s"$tableName: $verb — Hive-layout partitions materialize with " +
        "their data; use INSERT / INSERT OVERWRITE ... PARTITION")
  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      props: util.Map[String, String]): Unit =
    refuseP("ALTER TABLE ADD PARTITION is not supported")
  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    refuseP("ALTER TABLE DROP PARTITION is not supported")
  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      props: util.Map[String, String]): Unit =
    refuseP("partition metadata is not supported")
  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] =
    java.util.Collections.emptyMap()

  /** SQL `TRUNCATE TABLE` — an overwrite-with-nothing COMMIT: the
    * table becomes empty, history stays time-travelable (rollback
    * undoes a mistaken truncate — the reason this is a snapshot, not
    * a purge). Same hot-tail precondition as INSERT OVERWRITE: an
    * un-tiered log segment would resurface over the truncation.
    */
  override def truncateTable(): Boolean = {
    // same staging stance as INSERT OVERWRITE: a truncation cannot
    // cherry-pick onto a moved head, so it must not silently hit
    // production main while a WAP staging conf is active
    Seq("spark.graft.wap.id", "spark.graft.wap.branch").foreach { k =>
      require(Option(spark.conf.get(k, null)).forall(_.isEmpty),
        s"$tableName: TRUNCATE TABLE under $k is not stageable — " +
          "only appends cherry-pick onto a moved head; unset it to " +
          "truncate directly")
    }
    val wm = t.currentSnapshot.map(_.tieredSeg).getOrElse(-1L)
    require(!t.logSegments.exists(_ > wm),
      s"table $tableName has un-tiered hot log segments — they would " +
        "resurface over the truncation; tier() before TRUNCATE TABLE")
    if (t.latestSnapshotId == 0L) return true // already empty
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      t.readCold().schema)
    t.commitOverwrite(empty)
    true
  }

  /** The catalog entry behind this relation — [[RowLevelSql]] lowers
    * SQL UPDATE / MERGE INTO through it to the storage layer's verbs.
    */
  private[plans] def catalogEntry: TieredCatalog.Entry = entry

  /** Declared schema persisted by CREATE TABLE, if any — lets an empty
    * table resolve for reads and INSERT column checking. A
    * `schemaOverride` ([[TieredSqlTable.coldRead]]) takes its place.
    */
  private val declared: Option[StructType] = schemaOverride.orElse(
    graft.storage.TableFs.forPath(entry.path)
      .readString(s"${entry.path}/meta/SCHEMA").map(StructType.fromDDL))

  // the READ side only: a branch view (spark.graft.wap.branch)
  // substitutes the branch's file list; writes, deletes, and the
  // streaming sink keep operating on the real table
  private val paths = readFilesOverride.getOrElse(t.unionPaths)

  private val readOpts = TieredSqlTable.options(TieredSqlTable.ReadOpts)

  /** LAYOUT columns of the on-disk Hive dirs ([[TieredSqlTable.layoutCols]]). */
  private val layoutCols: Seq[String] = TieredSqlTable.layoutCols(t)

  /** The schema every parquet table below reads with: the declared one,
    * else the files' own, inferred once per state of the read roots
    * ([[TieredSqlTable.fileSchema]]) — so planning a repeat read never
    * opens a footer.
    */
  private lazy val readSchema: StructType = declared.getOrElse {
    if (paths.isEmpty) throw new IllegalStateException(
      s"empty table $tableName has no persisted schema")
    TieredSqlTable.fileSchema(spark, paths, layoutCols)
  }

  override def name(): String = tableName

  /** The DECLARED schema is authoritative when CREATE TABLE persisted
    * one: the file-level schema moves partition columns to the END
    * (`dataSchema ++ partitionSchema`), and positional INSERT coercion
    * against that reordered shape would cast the wrong columns into the
    * wrong slots. Reads are unaffected — scan output is reconciled to
    * the relation schema by NAME (V2ScanRelationPushDown projects).
    */
  override def schema(): StructType =
    // merge-on-read: the SQL face is the RESOLVED view — the internal
    // version-sequence and bucket-layout columns never surface (an
    // API-registered table infers its schema from the delta parquet,
    // which carries them)
    if (entry.mergeOnRead)
      StructType(readSchema.filterNot(f =>
        f.name == t.SeqCol || (t.bucketBy > 0 && f.name == t.BucketCol)))
    else readSchema

  /** Merge-on-read resolution target, consumed by
    * [[GraftMorReadRule]]: the last-write-wins view this relation's
    * batch read must serve (None = no committed state yet → empty
    * relation). Time-travel/branch callers pass a snapshot-specific
    * `resolveOverride`. The base read is the API's union read, whose
    * cold leg resolves over this catalog's own DSv2 scan
    * ([[TieredSqlTable.coldRead]]): file skipping (stats sidecars +
    * blooms) and partition handling stay alive BELOW the dedup window,
    * so the PK point lookup that Catalyst pushes through the window
    * prunes to O(files with the key) before any footer is opened.
    * A declared column no file carries yet (ADD COLUMN with no later
    * write) reads as a typed NULL, as the scan of a keyless table
    * answers it.
    */
  private[plans] def morRead(): Option[org.apache.spark.sql.DataFrame] =
    resolveOverride.map(f => Option(f())).getOrElse {
      if (t.currentSnapshot.isEmpty && t.logSegments.isEmpty) None
      else Some(t.readUnion())
    }.map { df =>
      val have = df.columns.map(_.toLowerCase).toSet
      schema().fields.filterNot(f => have(f.name.toLowerCase))
        .foldLeft(df)((d, f) => d.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
    }

  override def capabilities(): util.Set[TableCapability] =
    // TRUNCATE admits full-table `INSERT OVERWRITE` (Flink's batch
    // overwrite verb). OVERWRITE_BY_FILTER admits `INSERT OVERWRITE …
    // PARTITION (col = v)` — but the write builder accepts ONLY
    // partition-column equality filters binding a leading prefix of
    // the spec; any other filter still refuses at analysis time
    // rather than silently over- or under-truncating.
    // MICRO_BATCH_READ: log tables stream their hot tail
    // (`spark.readStream.table`); PK tables refuse with a pointer at
    // their `$changes` feed — declared here so the refusal can say
    // WHERE the stream actually lives instead of Spark's generic
    // "does not support micro batch scan".
    // STREAMING_WRITE: `df.writeStream.toTable` — executors stage
    // parquet per epoch, the driver commits it as a tagged segment
    // (flat log) or through the upsert/layout read-back paths.
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  /** Partition spec + table properties power Spark's built-in
    * `SHOW CREATE TABLE` (reference README.md:116-122): the rendered
    * DDL carries `PARTITIONED BY` from here and `TBLPROPERTIES` with
    * the graft-specific knobs (`primary-key`, `bloom-columns`, `path`),
    * so the statement round-trips — running it against a fresh catalog
    * re-attaches an equivalent table at the same location.
    */
  override def partitioning(): Array[Transform] =
    entry.partitionBy.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def properties(): util.Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (entry.pk.nonEmpty) m += "primary-key" -> entry.pk.mkString(",")
    if (entry.mergeOnRead) m += "merge-on-read" -> "true"
    if (t.bucketBy > 0) m += "write.bucket-by" -> t.bucketBy.toString
    if (entry.bloomCols.nonEmpty)
      m += "bloom-columns" -> entry.bloomCols.mkString(",")
    if (entry.changeDataFeed) m += "change-data-feed" -> "true"
    if (entry.datalake) m += "datalake" -> "true"
    entry.watermark.foreach(w => m += "watermark" -> w)
    if (entry.sortBy.nonEmpty)
      m += "write.sort-order" -> entry.sortBy.mkString(",")
    m += "path" -> entry.path
    m.asJava
  }

  /** The streaming face behind `spark.readStream.table` — the log
    * tail as segment-id-cursor micro-batches ([[LogTailStream]]). A
    * PK table's stream IS its change feed; sending a consumer there
    * beats silently streaming raw upsert segments whose key collisions
    * the batch read would have deduplicated.
    */
  private def logTailStream(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (entry.pk.nonEmpty) throw new UnsupportedOperationException(
      s"$tableName is a primary-key table — its stream is the change " +
        s"feed: spark.readStream.table(\"graft.<db>.`<table>$$changes`\") " +
        "(op-tagged upsert changelog)")
    new LogTailStream(tableName, t, dirs => segmentScan(dirs),
      Option(options.get("maxSegmentsPerTrigger")).map(_.toInt))
  }

  /** Scan over a set of committed log-segment dirs with the table
    * schema: one file index over every segment's files, whatever its
    * Hive layout inside the segment.
    */
  private def segmentScan(dirs: Seq[String])
      : org.apache.spark.sql.connector.read.Scan =
    if (dirs.isEmpty) new org.apache.spark.sql.GraftEmptyScan(tableName, schema())
    else GraftFileIndex.table(spark, tableName, TieredSqlTable.listing(dirs, layoutCols),
      layoutCols, Some(schema()), readOpts).newScanBuilder(readOpts).build()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (entry.mergeOnRead)
      // batch reads of a merge-on-read table never reach the scan: the
      // analyzer substitutes the resolved view (GraftMorReadRule). A
      // session without the graft extensions would otherwise scan raw
      // version files — fail loudly instead. The streaming face keeps
      // the PK-table pointer at the `$changes` feed.
      new ScanBuilder {
        override def build(): Scan = new Scan {
          override def readSchema(): StructType = schema()
          override def description(): String =
            s"$tableName (merge-on-read)"
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            throw new IllegalStateException(
              s"$tableName is merge-on-read: SQL reads resolve " +
                "last-write-wins in the analyzer — register " +
                "spark.sql.extensions=graft.plans.GraftExtensions")
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            logTailStream(options)
        }
      }
    else {
      // one parquet scan over one listing of every root, wrapped with
      // file skipping (footer-stats sidecars prune the file list at
      // scan build); a table whose roots lie in several Hive layouts
      // (partition-spec evolution) plans one such scan per layout
      val opts = TieredSqlTable.options(
        TieredSqlTable.ReadOpts ++ options.asCaseSensitiveMap.asScala)
      val stream = Some((_: String) => logTailStream(options))
      def scan(name: String, roots: Seq[(String, Seq[FileStats.FileEntry])],
               cols: Seq[String]) =
        new org.apache.spark.sql.GraftSkippingScanBuilder(spark, name, roots,
          schema(), opts, cols, stream)
      TieredSqlTable.byLayout(TieredSqlTable.listing(paths, layoutCols), layoutCols) match {
        case Seq((cols, roots)) => scan(tableName, roots, cols)
        case layouts => new org.apache.spark.sql.GraftCompositeScanBuilder(
          layouts.zipWithIndex.map { case ((cols, roots), i) =>
            scan(s"$tableName#$i", roots, cols) }, stream)
      }
    }

  /** `DELETE FROM graft.<db>.<t> WHERE …` — filters that translate to
    * Column predicates run through the SAME copy-on-write commit as the
    * API's [[TieredTable.deleteWhere]] (op `delete`, -D rows in the
    * incremental read). Deleting from a table with a hot log tail
    * fails inside deleteWhere (tier first); an empty table is a no-op.
    */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(TieredSqlTable.filterToColumn(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (t.latestSnapshotId == 0L && t.logSegments.isEmpty) return
    // rows that live only in hot log segments (no snapshot yet) would hit
    // TieredTable.deleteWhere's "no snapshot — nothing to delete from",
    // which reads as "table is empty" when it isn't — name the real fix
    if (t.currentSnapshot.isEmpty)
      throw new IllegalStateException(
        s"table $tableName has un-tiered hot log segments and no snapshot; " +
          "tier() before DELETE")
    val cond = filters.flatMap(TieredSqlTable.filterToColumn(_))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    t.deleteWhere(cond)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwriteAll = false
      private var partOverwrite = Option.empty[Seq[(String, String)]]
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
          : WriteBuilder = {
        import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo}
        if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue])) {
          overwriteAll = true; return this
        }
        // only partition-column equality survives analysis — a
        // non-partition filter would need row-level deletion semantics
        // this verb does not have, so it refuses loudly (r8 stance,
        // now with the partition-scoped case actually admitted)
        // Spark spells a static PARTITION (col = v) as EqualNullSafe
        val eqs = filters.toSeq.map {
          case EqualTo(a, v) if entry.partitionBy.contains(a) && v != null =>
            a -> String.valueOf(v)
          case org.apache.spark.sql.sources.EqualNullSafe(a, v)
              if entry.partitionBy.contains(a) && v != null =>
            a -> String.valueOf(v)
          case f => throw new UnsupportedOperationException(
            s"INSERT OVERWRITE of $tableName supports the full-table " +
              "form and PARTITION (col = value) on partition columns " +
              s"(${entry.partitionBy.mkString(", ")}); filter $f is " +
              "neither — refusing rather than over- or under-truncating")
        }
        val byCol = eqs.toMap
        require(byCol.size == eqs.size,
          s"INSERT OVERWRITE of $tableName: duplicate partition column " +
            "in the PARTITION clause")
        val prefix = entry.partitionBy
          .map(c => c -> byCol.get(c)).takeWhile(_._2.isDefined)
          .map { case (c, v) => c -> v.get }
        require(prefix.map(_._1).toSet == byCol.keySet,
          s"INSERT OVERWRITE of $tableName: PARTITION must bind a " +
            s"leading prefix of (${entry.partitionBy.mkString(", ")}) — " +
            s"got (${byCol.keys.mkString(", ")})")
        partOverwrite = Some(prefix)
        this
      }
      override def build(): V1Write = new TieredV1Write

      class TieredV1Write extends V1Write {
        /** Streaming face of the same sink (`writeStream.toTable`):
          * append/update epochs only — a continuously-truncating sink
          * has no meaning over a snapshot log.
          */
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          if (overwriteAll || partOverwrite.isDefined)
            throw new UnsupportedOperationException(
              s"$tableName: streaming INSERT OVERWRITE is not a thing — " +
                "stream in append mode; overwrite is a batch verb")
          new org.apache.spark.sql.GraftStreamingWrite(spark, t, entry.pk,
            entry.partitionBy, info.schema(), info.queryId(), tableName)
        }
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit = {
              // write-audit-publish (Iceberg's `spark.wap.id` flow):
              // with `spark.graft.wap.id` set, INSERT INTO stages the
              // batch invisibly — audit via VERSION AS OF '<id>', then
              // CALL graft.system.publish_wap / abandon_wap. Overwrite
              // verbs refuse: a staged truncation cannot cherry-pick
              // onto a head that moved past its base.
              val wapId = Option(
                spark.conf.get("spark.graft.wap.id", null)).filter(_.nonEmpty)
              val wapBranch = Option(
                spark.conf.get("spark.graft.wap.branch", null))
                .filter(_.nonEmpty)
              require(wapId.isEmpty || wapBranch.isEmpty,
                s"$tableName: both spark.graft.wap.id and " +
                  "spark.graft.wap.branch are set — one staging target " +
                  "at a time")
              if (wapId.isDefined || wapBranch.isDefined) {
                require(!overwriteAll && !overwrite && partOverwrite.isEmpty,
                  s"$tableName: INSERT OVERWRITE under a wap staging " +
                    "conf is not stageable — only appends cherry-pick " +
                    "onto a moved head; unset it to overwrite directly")
                wapId match {
                  case Some(id) => t.stageAppend(data, id)
                  // branch: multi-batch staging — every INSERT under the
                  // conf accumulates on the branch until fast_forward
                  case None =>
                    t.appendToBranch(data, wapBranch.get)
                }
                return
              }
              if (partOverwrite.isDefined) {
                val batch =
                  if (entry.pk.isEmpty) data
                  else TieredSqlTable.lwwByArrival(data, entry.pk)
                t.commitOverwritePartitions(batch, partOverwrite.get)
              }
              else if (overwriteAll || overwrite) {
                // `INSERT OVERWRITE` — Flink's batch replace verb: the
                // new content REPLACES the current snapshot wholesale.
                // A PK sink first applies last-write-wins within the
                // batch (arrival order; narrow plans preserve it), the
                // same contract as every other PK write
                val wm = t.currentSnapshot.map(_.tieredSeg).getOrElse(-1L)
                require(!t.logSegments.exists(_ > wm),
                  s"table $tableName has un-tiered hot log segments — " +
                    "they would resurface over the replaced snapshot; " +
                    "tier() before INSERT OVERWRITE")
                val batch =
                  if (entry.pk.isEmpty) data
                  else TieredSqlTable.lwwByArrival(data, entry.pk)
                t.commitOverwrite(batch)
              }
              // plain INSERT INTO a PK sink: same within-batch LWW as
              // the overwrite verbs — a duplicate key in one batch
              // resolves to its LAST row, deterministically, in both
              // copy-on-write and merge-on-read modes
              else if (entry.pk.nonEmpty)
                t.commitUpsert(TieredSqlTable.lwwByArrival(data, entry.pk))
              else t.appendLog(data)
              (): Unit
            }
          }
      }
    }
}

object TieredSqlTable {
  import org.apache.spark.sql.{functions => F}
  import org.apache.spark.sql.sources._

  /** Every catalog parquet read merges the footers of its files, so SQL
    * reads of union, cold and time-travel paths agree with the API's
    * reads on schema-evolved tables.
    */
  val ReadOpts: Map[String, String] = Map("mergeSchema" -> "true")

  def options(m: Map[String, String]): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap(m.asJava)

  /** LAYOUT columns of `t`'s on-disk Hive dirs: the engine's reserved
    * bucket column for a bucketed merge-on-read layout
    * ('write.bucket-by'), else every column that was EVER a partition
    * column — a DROP PARTITION FIELD leaves live pre-drop hive dirs
    * whose values exist only in `col=value` names, and the read's
    * partition values (and subdir-ref base stripping) must still
    * recognize them even when the current spec is narrower or empty.
    */
  def layoutCols(t: TieredTable): Seq[String] =
    if (t.bucketBy > 0) Seq(t.BucketCol) else t.historicalPartitionCols

  /** `roots` with the files listed under each ([[FileStats.entries]]);
    * a root that does not exist fails, as Spark's own listing does.
    */
  def listing(roots: Seq[String], layout: Seq[String])
      : Seq[(String, Seq[FileStats.FileEntry])] = {
    val listed = roots.zip(FileStats.entries(roots, layout))
    listed.collectFirst {
      case (r, Seq()) if !graft.storage.TableFs.forPath(r).exists(r) => r
    }.foreach(r => throw new java.io.FileNotFoundException(
      s"table root $r does not exist"))
    listed
  }

  /** `listed` split by Hive layout: the `layout` columns each file's
    * `col=value` segments name, in order. Every read but a
    * partition-evolved table's has one layout, and then the listing
    * stays whole; otherwise each layout keeps its roots' files in it.
    */
  def byLayout(listed: Seq[(String, Seq[FileStats.FileEntry])], layout: Seq[String])
      : Seq[(Seq[String], Seq[(String, Seq[FileStats.FileEntry])])] = {
    def cols(f: FileStats.FileEntry): Seq[String] =
      graft.storage.PartitionPaths.segments(f.path, layout).map(s => s.take(s.indexOf('=')))
    listed.flatMap(_._2).map(cols).distinct match {
      case Seq() => Seq(Nil -> listed)
      case Seq(one) => Seq(one -> listed)
      case many => many.map(c => c -> listed.map { case (r, fs) =>
        r -> fs.filter(cols(_) == c) }.filter(_._2.nonEmpty))
    }
  }

  /** The file schema of parquet `roots` as the catalog reads them, with
    * `layout` their Hive layout columns: every footer merged, and the
    * partition columns typed from their values, over one file index per
    * Hive layout — a column only some layouts carry still surfaces (as
    * nulls in the others). The inference is a footer job; it runs once
    * per state of the roots ([[SessionMemo]]), and its result is what
    * the catalog's parquet tables take as their user-specified schema.
    */
  def fileSchema(spark: SparkSession, roots: Seq[String],
                 layout: Seq[String]): StructType =
    SessionMemo(spark, "schema", roots ++ layout.map(c => s"layout=$c"), roots) {
      byLayout(listing(roots, layout), layout).map { case (cols, files) =>
        GraftFileIndex.table(spark, roots.mkString(","), files, cols, None,
          options(ReadOpts)).schema
      }.reduce { (a, b) =>
        StructType(a ++ b.filterNot(f => a.fieldNames.contains(f.name)))
      }
    }

  /** Snapshot or segment `files` of `t` through the same DSv2 scan as
    * SQL reads, with their memoized file schema ([[fileSchema]]) — the
    * one reader of table files behind every API read ([[TieredTable]]'s
    * `readParquet`) and the Iceberg export. It applies no merge-on-read
    * resolution or column mapping.
    */
  def coldRead(spark: SparkSession, t: TieredTable,
               files: Seq[String]): org.apache.spark.sql.DataFrame = {
    val schema = fileSchema(spark, files, layoutCols(t))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new TieredSqlTable(t.tablePath, spark, t,
          TieredCatalog.Entry(t.tablePath, t.pk, mergeOnRead = false,
            t.partitionBy, t.bloomCols),
          readFilesOverride = Some(files), schemaOverride = Some(schema)),
          None, None))
  }

  /** Within-batch last-write-wins by ARRIVAL ORDER — the PK-sink
    * contract every SQL write applies before committing: a batch that
    * names one key twice (VALUES (1,'a'),(1,'b'); a micro-batch with
    * two updates to one key) keeps the LATER row deterministically.
    * Without this, a copy-on-write sink would store both rows and a
    * merge-on-read delta would stamp both with the SAME sequence,
    * making resolution order-of-scan-dependent. Arrival order rides
    * `monotonically_increasing_id` over the incoming narrow plan.
    */
  def lwwByArrival(df: org.apache.spark.sql.DataFrame,
                   pk: Seq[String]): org.apache.spark.sql.DataFrame =
    if (pk.isEmpty) df
    else {
      val seq = "__ow_seq"
      // same stance as latestByKey's __rn guard: overwriting a user
      // column of this name and dropping it would silently destroy its
      // data (CREATE TABLE reserves the name; API frames reach here too)
      require(!df.columns.contains(seq),
        s"input column $seq collides with the PK sink's working column")
      graft.operators.Upsert.latestByKey(
        df.withColumn(seq, F.monotonically_increasing_id()),
        pk, Seq(F.col(seq).desc)).drop(seq)
    }

  /** Translate a DSv2 pushed Filter to a Column predicate; None marks
    * the filter untranslatable (canDeleteWhere then rejects the DELETE
    * instead of silently deleting the wrong rows).
    */
  def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(F.col(a) === F.lit(v))
    case EqualNullSafe(a, v) => Some(F.col(a) <=> F.lit(v))
    case GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
    case GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case LessThan(a, v) => Some(F.col(a) < F.lit(v))
    case LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
    case In(a, vs) => Some(F.col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(F.col(a).isNull)
    case IsNotNull(a) => Some(F.col(a).isNotNull)
    case StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(F.col(a).endsWith(v))
    case StringContains(a, v) => Some(F.col(a).contains(v))
    case And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case Not(c) => filterToColumn(c).map(!_)
    case AlwaysTrue() => Some(F.lit(true))
    case AlwaysFalse() => Some(F.lit(false))
    case _ => None
  }
}

/** In-memory DSv2 table serving the snapshot-metadata listing — the rows
  * are driver-side manifest data (O(#snapshots)), shipped to one task.
  * Row shape mirrors Iceberg's `$snapshots` metadata table
  * (reference README.md:275): snapshot_id, parent_id, operation,
  * manifest_list, committed_at, summary map — plus our rows_added /
  * tiered_seg accounting columns.
  */
class SnapshotsTable(tableName: String, rows: Seq[SnapshotsTable.Row])
    extends Table with SupportsRead {

  override def name(): String = tableName

  override def schema(): StructType = SnapshotsTable.Schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = SnapshotsTable.Schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(SnapshotsPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new SnapshotsReaderFactory
    }
}

object SnapshotsTable {
  case class Row(id: Long, parentId: Option[Long], op: String,
                 rowsAdded: Long, tieredSeg: Long, committedAtMicros: Long,
                 manifestList: String, summary: Map[String, String])

  val Schema: StructType = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("operation", StringType, nullable = false),
    StructField("rows_added", LongType, nullable = false),
    StructField("tiered_seg", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("manifest_list", StringType, nullable = false),
    StructField("summary", MapType(StringType, StringType, false),
      nullable = false)))
}

/** In-memory DSv2 table for the `__files` listing (Iceberg's `$files`
  * analog): one row per data directory with tier and on-disk bytes.
  */
class FilesTable(tableName: String, rows: Seq[FilesTable.Row])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = FilesTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = FilesTable.Schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(FilesPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new FilesReaderFactory
    }
}

object FilesTable {
  case class Row(path: String, tier: String, sizeBytes: Long)

  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("tier", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))
}

/** In-memory DSv2 table for the `$refs` listing — named snapshot refs
  * (Iceberg's refs metadata table; graft has tags, a branch would add
  * `type='branch'`). Driver-side metadata like `$snapshots`.
  */
class RefsTable(tableName: String, rows: Seq[RefsTable.Row])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = RefsTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = RefsTable.Schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(RefsPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new RefsReaderFactory
    }
}

object RefsTable {
  case class Row(name: String, refType: String, snapshotId: Long)

  val Schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false)))
}

case class RefsPartition(rows: Seq[RefsTable.Row]) extends InputPartition

class RefsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[RefsPartition].rows.iterator
      private var cur: RefsTable.Row = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(cur.name),
          UTF8String.fromString(cur.refType), cur.snapshotId))
      override def close(): Unit = ()
    }
}

/** In-memory DSv2 table for the `$partitions` listing — per
  * partition-value file/row/byte accounting from the stats sidecars
  * (Iceberg's partitions metadata table). Driver-side metadata like
  * `$snapshots`; `partition` is the Hive `col=value[/col=value…]`
  * path ('' for unpartitioned tables).
  */
class PartitionsTable(tableName: String, rows: Seq[PartitionsTable.Row])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = PartitionsTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = PartitionsTable.Schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(PartitionsPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionsReaderFactory
    }
}

object PartitionsTable {
  case class Row(partition: String, fileCount: Long, rowCount: Long,
                 sizeBytes: Long)

  val Schema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("file_count", LongType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))
}

case class PartitionsPartition(rows: Seq[PartitionsTable.Row])
  extends InputPartition

class PartitionsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[PartitionsPartition].rows.iterator
      private var cur: PartitionsTable.Row = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(cur.partition),
          cur.fileCount, cur.rowCount, cur.sizeBytes))
      override def close(): Unit = ()
    }
}

/** In-memory DSv2 table for the `__stats` listing: the file-skipping
  * sidecars (per-file, per-column min/max/null bounds) as a relation.
  */
class StatsTable(tableName: String, rows: Seq[StatsTable.Row])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = StatsTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = StatsTable.Schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(StatsPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new StatsReaderFactory
    }
}

object StatsTable {
  case class Row(path: String, column: String, tag: String,
                 min: String, max: String, nulls: Long, rows: Long)

  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("domain", StringType, nullable = false),
    StructField("min_value", StringType, nullable = true),
    StructField("max_value", StringType, nullable = true),
    StructField("null_count", LongType, nullable = false),
    StructField("row_count", LongType, nullable = false)))
}

case class StatsPartition(rows: Seq[StatsTable.Row]) extends InputPartition

class StatsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[StatsPartition].rows.iterator
      private var cur: StatsTable.Row = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(cur.path), UTF8String.fromString(cur.column),
          UTF8String.fromString(cur.tag),
          Option(cur.min).map(UTF8String.fromString).orNull,
          Option(cur.max).map(UTF8String.fromString).orNull,
          cur.nulls, cur.rows))
      override def close(): Unit = ()
    }
}

case class FilesPartition(rows: Seq[FilesTable.Row]) extends InputPartition

class FilesReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[FilesPartition].rows.iterator
      private var cur: FilesTable.Row = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(cur.path), UTF8String.fromString(cur.tier),
          cur.sizeBytes))
      override def close(): Unit = ()
    }
}

case class SnapshotsPartition(rows: Seq[SnapshotsTable.Row])
    extends InputPartition

class SnapshotsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[SnapshotsPartition].rows.iterator
      private var cur: SnapshotsTable.Row = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = {
        // deterministic key order so SQL map rendering is stable
        val keys = cur.summary.keys.toSeq.sorted
        val summaryData = new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            keys.map(k => UTF8String.fromString(k): Any)),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            keys.map(k => UTF8String.fromString(cur.summary(k)): Any)))
        new GenericInternalRow(Array[Any](
          cur.id, cur.parentId.map(Long.box).orNull,
          UTF8String.fromString(cur.op), cur.rowsAdded, cur.tieredSeg,
          cur.committedAtMicros, UTF8String.fromString(cur.manifestList),
          summaryData))
      }
      override def close(): Unit = ()
    }
}

/** A committed snapshot's files as a read-only relation (time travel
  * and `$cold` on a table without merge-on-read): scans plan through the
  * base table's [[TieredSqlTable]]; writes, deletes and row-level verbs
  * have no way in.
  */
class GraftSnapshotTable(read: TieredSqlTable) extends Table with SupportsRead {
  override def name(): String = read.name()
  override def schema(): StructType = read.schema()
  override def partitioning(): Array[Transform] = read.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    read.newScanBuilder(options)
}

/** Read-only DSv2 face of a RESOLVED merge-on-read view — SQL time
  * travel (`VERSION AS OF` / `TIMESTAMP AS OF` / `__v<N>`) and the
  * `$cold` mode of a merge-on-read table, where the snapshot's raw
  * files hold every live VERSION of a key and the SQL answer is the
  * last-write-wins resolution. The scan never runs: the analyzer
  * substitutes `resolve()`'s plan in place of the relation
  * ([[GraftMorReadRule]]); a session without the graft extensions
  * fails loudly instead of leaking raw versions.
  */
class GraftResolvedTable(tableName: String,
                         resolve: () => org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  // analysis-only: building the DataFrame resolves the plan (and the
  // schema) without running a job
  private lazy val view = resolve()
  private[plans] def resolvedRead(): org.apache.spark.sql.DataFrame = view

  override def name(): String = tableName
  override def schema(): StructType = view.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema()
      override def description(): String = s"$tableName (merge-on-read)"
      override def toBatch: org.apache.spark.sql.connector.read.Batch =
        throw new IllegalStateException(
          s"$tableName is a resolved merge-on-read view: reads resolve " +
            "in the analyzer — register " +
            "spark.sql.extensions=graft.plans.GraftExtensions")
    }
}

/** In-memory DSv2 table for the `$history` listing — Iceberg's history
  * metadata table: `made_current_at` / `snapshot_id` / `parent_id` /
  * `is_current_ancestor`, the last computed against the CURRENT state
  * lineage (a rollback redirects ancestry to its target, so rolled-past
  * snapshots answer false). Driver-side metadata like `$snapshots`.
  */
class HistoryTable(tableName: String, rows: Seq[HistoryTable.Row])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = HistoryTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = HistoryTable.Schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(HistoryPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new HistoryReaderFactory
    }
}

object HistoryTable {
  case class Row(madeCurrentAtMicros: Long, snapshotId: Long,
                 parentId: Option[Long], isCurrentAncestor: Boolean)

  val Schema: StructType = StructType(Seq(
    StructField("made_current_at", TimestampType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("is_current_ancestor", BooleanType, nullable = false)))
}

case class HistoryPartition(rows: Seq[HistoryTable.Row])
    extends InputPartition

class HistoryReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[HistoryPartition].rows.iterator
      private var cur: HistoryTable.Row = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          cur.madeCurrentAtMicros, cur.snapshotId,
          cur.parentId.map(Long.box).orNull, cur.isCurrentAncestor))
      override def close(): Unit = ()
    }
}
