package graft.storage


import java.nio.file.Paths


import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.plans.TieredSqlTable

/** A tiered lakehouse table: hot append log + cold columnar snapshots,
  * modeled on the reference's datalake-enabled Fluss tables
  * (/root/reference/README.md:175-204 — `table.datalake.enabled=true`,
  * `freshness=30s`; tiering job /root/reference/fluss-iceberg/
  * docker-compose.yml:94-111).
  *
  * Layout (all under one table directory):
  * {{{
  *   log/seg-%06d/        hot tail: append-log segments (parquet dirs)
  *   data/snap-%06d/      cold tier: columnar files, one dir per commit
  *   meta/snap-%06d.props snapshot manifests (flat key=value)
  *   meta/LATEST          current snapshot id — atomic-rename swap
  * }}}
  *
  * Commit protocol (snapshot isolation on a plain filesystem): data files
  * are written first, then the manifest, then `LATEST` is swapped via
  * write-temp + atomic rename. A reader resolves `LATEST` once and only
  * reads files listed in that manifest — it can never observe a
  * half-committed batch (SURVEY.md §3.2 parity requirement). This is the
  * same commit shape as Iceberg's metadata-pointer swap, minus the
  * catalog.
  *
  * The hot/cold boundary is the `tieredSeg` watermark recorded in each
  * manifest: log segments ≤ tieredSeg are in the cold tier; the union
  * read returns cold ∪ segments > tieredSeg — every row exactly once
  * (reference README.md:296-316, the Flink-vs-Trino count difference).
  *
  * Scale notes: manifests are O(#snapshots) driver-side metadata — data
  * never moves through the driver. Cold reads hand Spark a list of
  * parquet dirs → normal distributed vectorized scan with
  * pushdown/pruning. Tiering reads each log segment once and writes it
  * columnar once; at cluster scale the same design works on any Hadoop
  * filesystem (rename-atomic stores; for S3, swap the rename for a
  * conditional PUT — isolated in [[commitManifest]]).
  */
class TieredTable(spark: SparkSession, rawTablePath: String,
                  val pk: Seq[String] = Nil, val mergeOnRead: Boolean = false,
                  val partitionBy: Seq[String] = Nil,
                  val bloomCols: Seq[String] = Nil,
                  metaStore: MetaStore = null,
                  val changeDataFeed: Boolean = false,
                  val icebergExport: Boolean = false,
                  val sortBy: Seq[String] = Nil,
                  val bucketBy: Int = 0) {
  require(!icebergExport || !(mergeOnRead && partitionBy.nonEmpty) ||
      partitionBy.forall(pk.contains),
    "icebergExport of a partitioned merge-on-read table requires the " +
      "partition columns to be part of the primary key — " +
      "IcebergExport writes partition-scoped equality deletes, which " +
      "are exact only when a key can never change partitions (the " +
      "Flink-Iceberg upsert-sink rule)")
  // BUCKETED DELTA LAYOUT ('write.bucket-by' = N): merge-on-read deltas
  // write hash(PK)-bucketed `__bucket=K` dirs, so every key's versions
  // co-locate in one bucket across ALL deltas — the key-grouped DSv2
  // scan then satisfies the resolution window's clustering and a full
  // resolved read plans with NO exchange (the 100 TB lever for huge PK
  // tables). Construct via the companion, which derives the layout.
  require(bucketBy == 0 ||
      (pk.nonEmpty && mergeOnRead &&
        partitionBy == Seq(TieredTable.BucketCol)),
    s"bucketBy=$bucketBy is the merge-on-read delta layout of a " +
      "PK table — construct via TieredTable(...) (companion), which " +
      "derives the bucket-column layout")
  require(bucketBy == 0 || !icebergExport || pk.size == 1,
    "icebergExport of a bucket-layout table requires a SINGLE-column " +
      "primary key — Iceberg's bucket[N] transform is single-source, " +
      "so a multi-column combined bucket has no spec partition " +
      "transform; rewrite the resolved rows into an unbucketed table " +
      "(INSERT INTO … SELECT) and export that")
  /** `file:`-scheme URIs are normalized to plain paths — `Paths.get`
    * would otherwise treat the whole URI as a RELATIVE path and
    * silently create the table tree under the process CWD (the round-1
    * crash-debris bug). `graftos://host:port/bucket/...` addresses the
    * OBJECT-STORE data plane ([[GraftObjectFileSystem]]): data parquet,
    * log segments, change files, and (by default) the metadata plane
    * all live in the bucket — the reference's MinIO warehouse shape,
    * with zero local-disk files and zero rename dependence (remote
    * publication is marker objects + the MetaStore manifest CAS, see
    * [[appendLog]]/[[commitManifest]]). Other schemes are rejected.
    */
  val tablePath: String = TieredTable.normalizePath(rawTablePath)

  /** True when the table lives in an object store: no atomic rename
    * exists there, so every publish that locally rides a rename rides
    * a marker object instead.
    */
  val remote: Boolean =
    tablePath.startsWith(GraftObjectFileSystem.Scheme + "://")
  if (remote)
    GraftObjectFileSystem.register(spark.sparkContext.hadoopConfiguration)

  /** Every file operation outside Spark jobs goes through this facade:
    * java.nio locally, Hadoop FileSystem remotely ([[TableFs]]).
    */
  private val fs: TableFs =
    if (remote) new HadoopTableFs(spark.sparkContext.hadoopConfiguration)
    else LocalTableFs

  private val logDir  = s"$tablePath/log"
  private val dataDir = s"$tablePath/data"
  private val metaDir = s"$tablePath/meta"
  private val changesDir = s"$tablePath/changes"
  if (!remote) { // implicit dirs on an object store
    Seq(logDir, dataDir, metaDir).foreach(fs.mkdirs)
    if (changeDataFeed) fs.mkdirs(changesDir)
  }

  /** All snapshot-manifest / LATEST-pointer IO goes through this store
    * — the full metadata surface is the object-store primitive set
    * (GET / PUT / conditional PUT / DELETE, see [[MetaStore]]), so the
    * commit protocol runs unchanged on a store with no atomic rename
    * (MetaStoreSpec commits through [[InMemoryMetaStore]]). Default:
    * files under `meta/` via [[LocalFsMetaStore]]; for a `graftos://`
    * table, the SAME bucket over HTTP via [[HttpMetaStore]] — metadata
    * and data co-located object-store-side, nothing on local disk.
    */
  private val meta: MetaStore =
    Option(metaStore).getOrElse {
      if (remote)
        new HttpMetaStore(tablePath.replaceFirst(
          s"^${GraftObjectFileSystem.Scheme}://", "http://") + "/meta")
      else new LocalFsMetaStore(Paths.get(metaDir))
    }

  /** Internal versioning column for PK (upsert) tables: rows from a later
    * commit win. Present only in at-rest files of PK tables.
    */
  val SeqCol = "__seq"
  /** The bucket-layout column name (see `bucketBy`). */
  val BucketCol: String = TieredTable.BucketCol

  // ---- manifest ----

  case class Snapshot(id: Long, op: String, rowsAdded: Long,
                      tieredSeg: Long, files: Seq[String], committedAt: Long,
                      tag: String = "", changeDir: String = "") {
    /** Parent snapshot id (None for the first commit) — ids are assigned
      * sequentially, so lineage survives even after the parent's
      * manifest is vacuumed.
      */
    def parentId: Option[Long] = if (id > 1) Some(id - 1) else None

    /** Iceberg-style commit summary (reference README.md:275 — the
      * `summary` column of `"t$snapshots"`), derived from manifest
      * fields so it stays deterministic and available for every
      * historical snapshot.
      */
    def summary: Map[String, String] = {
      val base = Map(
        "added-records"    -> rowsAdded.toString,
        "total-data-files" -> files.size.toString,
        "tiered-seg"       -> tieredSeg.toString)
      if (tag.isEmpty) base else base + ("tag" -> tag)
    }
  }

  private def manifestKey(id: Long): String = f"snap-$id%06d.props"

  /** Location of a snapshot's manifest (the Iceberg `manifest_list`
    * analog — ours is one flat manifest per snapshot, not a list of
    * manifests).
    */
  def manifestList(id: Long): String = meta.location(manifestKey(id))

  def latestSnapshotId: Long =
    meta.get("LATEST").map(_.trim.toLong).getOrElse(0L)

  def snapshot(id: Long): Option[Snapshot] =
    meta.get(manifestKey(id)).map { body =>
      val kv = body.linesIterator
        .filter(_.contains("=")).map { l =>
          val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
        }.toMap
      Snapshot(kv("id").toLong, kv("op"), kv("rowsAdded").toLong,
        kv("tieredSeg").toLong,
        kv.get("files").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil),
        kv("committedAt").toLong, kv.getOrElse("tag", ""),
        kv.getOrElse("changeDir", ""))
    }

  def currentSnapshot: Option[Snapshot] = snapshot(latestSnapshotId)

  /** Publish snapshot `s`: claim its id with the manifest body, then
    * swap `LATEST`.
    *
    * Cross-PROCESS safety (two Spark drivers on one warehouse) rides
    * ONE primitive: [[MetaStore.putIfAbsent]] — a conditional PUT of
    * `snap-N.props`. Exactly one committer wins snapshot id N
    * (= "my parent is still LATEST"; ids are dense, so claiming N is
    * claiming the right to succeed N−1). The loser gets
    * [[TieredTable.CommitConflictException]] BEFORE touching `LATEST`:
    * it reloads state and retries (its verbs recompute from
    * `currentSnapshot`, see [[TieredTable.retryOnConflict]]) or fails
    * loudly — `LATEST` is never corrupted and the winner's files are
    * never orphaned. This is the Iceberg-catalog CAS (expected-parent
    * conditional swap, the role the reference delegates to its REST
    * catalog — fluss-iceberg/docker-compose.yml:126-137) expressed in
    * store-portable form: `open(O_CREAT|O_EXCL)` on a filesystem
    * ([[LocalFsMetaStore]]), `If-None-Match: *` on S3/MinIO — the
    * reference warehouse (docker-compose.yml:139-155).
    */
  private def commitManifest(s: Snapshot): Unit = {
    // The keyless-CDF refusal runs BEFORE anything publishes: it needs
    // only op + file lineage, and refusing after the manifest swap
    // would leave a published snapshot with no change file — the feed
    // would silently skip a commit. (A content-rewriting verb on a
    // keyless CDF table is un-diffable: a rowwise diff needs a key.)
    if (changeDataFeed && pk.isEmpty &&
        s.op != "compact" && s.op != "zorder" && s.id > 1)
      snapshot(s.id - 1).foreach { a =>
        if (!a.files.toSet.subsetOf(s.files.toSet))
          throw new IllegalStateException(
            s"change-data-feed on keyless table $tablePath supports " +
              s"append-lineage commits only; '${s.op}' rewrote the file " +
              "list and a rowwise diff needs a primary key")
      }
    // CDF publication protocol (crash-safe on stores with NO atomic
    // rename): (1) finish any predecessor's interrupted publication,
    // (2) write this commit's delta FULLY to an invisible tmp dir,
    // (3) the manifest body NAMES the tmp's uuid, (4) after the CAS +
    // LATEST swap, finalize tmp → changes/snap-N (atomic rename
    // locally; name-stable per-object copy remotely, so a crashed
    // finalize re-runs to convergence via the recovery sweep — no
    // partial delta is ever permanent, no committed delta is ever
    // lost). A CAS loser deletes its own tmp.
    if (changeDataFeed) recoverChangeDeltas()
    val cdfPrep: Option[(String, String)] =
      if (changeDataFeed) prepareChangeDelta(s) else None
    val body =
      s"""id=${s.id}
         |op=${s.op}
         |rowsAdded=${s.rowsAdded}
         |tieredSeg=${s.tieredSeg}
         |files=${s.files.mkString(",")}
         |committedAt=${s.committedAt}
         |tag=${s.tag}
         |changeDir=${cdfPrep.map(_._2).getOrElse("")}
         |""".stripMargin
    if (!meta.putIfAbsent(manifestKey(s.id), body)) {
      cdfPrep.foreach { case (tmp, _) => fs.deleteRecursively(tmp) }
      throw new TieredTable.CommitConflictException(
        s"snapshot ${s.id} of $tablePath was claimed by a concurrent " +
          "committer — reload table state and retry the commit")
    }
    meta.put("LATEST", s.id.toString)
    cdfPrep.foreach { case (tmp, _) => finalizeChangeDelta(s.id, tmp) }
    // opt-in continuous interop: every commit refreshes the exported
    // Iceberg metadata, the reference's tiering-service behavior (the
    // Iceberg tier is always externally readable, README.md:257-292).
    // Metadata-only — O(files) footer reads, no data rewrite.
    if (icebergExport) IcebergExport.export(this)
  }

  /** CHANGE DATA FEED (opt-in): every content-changing commit also
    * publishes its op-tagged delta as parquet under
    * `changes/snap-NNNNNN/` — the Delta-CDF design, and the Spark-first
    * answer to "changelog as a first-class streaming source": the
    * change files stream through Spark's hardened FILE source
    * ([[readStreamChanges]]), which puts the consumer cursor in the
    * Spark CHECKPOINT (WAL of discovered files per micro-batch) instead
    * of a bespoke DSv2 offset — exactly-once for free, restart-safe,
    * and the discovery cost is a directory listing, not a table diff.
    *
    * Cost at commit: O(|delta|) for append-lineage commits (the new
    * rows simply gain `op='+I'`), O(|delta|+|state|) for row-mutating
    * verbs on PK tables (the same snapshot-diff
    * [[incrementalRead]] computes on demand — paid ONCE at commit and
    * consumed by any number of followers, instead of per-poll).
    * `compact`/`zorder` rewrite bytes, not content — no change file by
    * definition. Keyless tables support append-lineage verbs only; a
    * content-rewriting verb (rollback/overwrite/delete) on a keyless
    * CDF table is refused BEFORE its manifest publishes (the check in
    * [[commitManifest]] needs only op + file lineage) — no snapshot is
    * created, so the feed never has a committed-but-undiffable gap.
    *
    * Durability: the delta is FULLY written to an invisible tmp dir
    * BEFORE the manifest CAS, the manifest names the tmp's uuid, and
    * publication happens after the LATEST swap — one atomic rename
    * locally (whole set or none), a name-stable per-object copy
    * remotely whose crash is repaired to convergence by
    * [[recoverChangeDeltas]]. No partial delta is ever permanent and
    * no committed delta is ever lost.
    */
  private def changeDelta(s: Snapshot): Option[DataFrame] = {
    if (s.op == "compact" || s.op == "zorder") return None // content-identical
    val from = s.id - 1
    if (from == 0L)
      Some(readColdOf(s).withColumn("op", lit("+I")))
    else if (pk.nonEmpty)
      Some(incrementalReadOf(snapshot(from).getOrElse(
        throw new IllegalStateException(
          s"parent snapshot $from of $tablePath is unreadable")), s, pk))
    else snapshot(from) match {
      case Some(a) if a.files.toSet.subsetOf(s.files.toSet) =>
        val newFiles = s.files.filterNot(a.files.toSet)
        if (newFiles.isEmpty) None
        else Some(readParquet(newFiles).withColumn("op", lit("+I")))
      case _ => throw new IllegalStateException(
        "unreachable: keyless non-append lineage is refused by the " +
          "pre-publish guard in commitManifest")
    }
  }

  /** Write snapshot `s`'s delta FULLY to an invisible tmp dir (step 2
    * of the publication protocol); returns (tmpPath, uuid), None when
    * the commit produces no change file. The `_COLUMNS` sidecar rides
    * inside — tmp is complete before anything publishes.
    */
  private def prepareChangeDelta(s: Snapshot): Option[(String, String)] =
    changeDelta(s).map { d =>
      val uuid = java.util.UUID.randomUUID().toString
      val tmp = s"$changesDir/_tmp-snap-${"%06d".format(s.id)}-$uuid"
      d.write.mode("overwrite").parquet(tmp)
      fs.writeString(s"$tmp/_COLUMNS", d.columns.mkString(","))
      (tmp, uuid)
    }

  /** Step 4: tmp → `changes/snap-N`. Local: one atomic rename (the
    * stream sees all files or none). Remote: per-object copy with
    * names preserved, parquet first and `_COLUMNS` last, then the tmp
    * is deleted — idempotent under re-run, which is what lets the
    * recovery sweep converge a crashed finalize instead of leaving a
    * permanently partial delta.
    */
  private def finalizeChangeDelta(id: Long, tmp: String): Unit = {
    val target = s"$changesDir/snap-${"%06d".format(id)}"
    if (!remote) {
      if (fs.exists(target)) fs.deleteRecursively(tmp) // already final
      else
        try fs.move(tmp, target)
        catch {
          // cross-PROCESS finalize race (a consumer's recovery sweep
          // vs the live committer): losing the rename is success —
          // the other side published the same content
          case e: java.nio.file.FileSystemException =>
            if (!fs.exists(target)) throw e
            fs.deleteRecursively(tmp)
            ()
        }
    } else {
      val entries = fs.listFiles(tmp)
        .map { case (path, _) => path.split('/').last }
        .filterNot(n => n.startsWith(".") || n == "_SUCCESS")
      // cross-PROCESS finalize race (the commit lock is JVM-local): a
      // concurrent finalizer may promote and delete the tmp under us —
      // a copy whose SOURCE vanished is that race, i.e. success
      def copyTolerant(n: String): Unit =
        try fs.copy(s"$tmp/$n", s"$target/$n")
        catch {
          case scala.util.control.NonFatal(e) =>
            if (fs.exists(s"$tmp/$n")) throw e
        }
      entries.filter(_.endsWith(".parquet")).sorted.foreach(copyTolerant)
      entries.filter(_ == "_COLUMNS").foreach(copyTolerant)
      fs.deleteRecursively(tmp)
      ()
    }
  }

  /** Step 1 / the repair path: finish or discard `_tmp-snap-N-<uuid>`
    * dirs. A tmp whose uuid the COMMITTED manifest names is a crashed
    * finalize — finish it (copy is name-stable, so this converges);
    * one a committed manifest does NOT name is CAS-loser debris —
    * deleted; one above `LATEST` may be in flight — left alone.
    */
  private[storage] val ChangeTmpRe = """_tmp-snap-(\d{6})-(.+)""".r

  /** snapshot(id), absorbing the claimed-but-empty crash window a died
    * LocalFsMetaStore putIfAbsent leaves: an unparseable manifest reads
    * as None here (the claim itself stays for gcOrphans / the
    * operator) instead of wedging every recovery-sweep caller.
    */
  private def snapshotIfReadable(id: Long): Option[Snapshot] =
    try snapshot(id)
    catch { case scala.util.control.NonFatal(_) => None }

  private def recoverChangeDeltas(): Unit = {
    val latest = latestSnapshotId
    fs.listNames(changesDir).foreach {
      case d @ ChangeTmpRe(num, uuid) =>
        val id = num.toLong
        snapshotIfReadable(id) match {
          case Some(snap) if snap.changeDir == uuid && id <= latest =>
            finalizeChangeDelta(id, s"$changesDir/$d")
          case Some(_) if id <= latest =>
            fs.deleteRecursively(s"$changesDir/$d") // CAS-loser debris
          case None if id <= latest =>
            fs.deleteRecursively(s"$changesDir/$d") // vacuumed/lost
          case _ =>
            // above LATEST: an in-flight commit, or the claimed-but-
            // never-swapped "commit state unknown" window — both are
            // the operator's call (the gcOrphans stance); leave the
            // tmp so a resolved commit keeps its recoverable delta
        }
      case _ =>
    }
  }

  /** Committed change-file directory ids, ascending — the offset
    * domain of the DSv2 change-feed stream
    * ([[graft.plans.ChangeFeedTable]]). Finishes any interrupted
    * publication first, same as [[readStreamChanges]], so a consumer
    * never observes a half-published delta.
    */
  def committedChangeIds(): Seq[Long] = {
    require(changeDataFeed,
      s"table $tablePath was not created with changeDataFeed = true")
    withCommitLock(recoverChangeDeltas())
    fs.listNames(changesDir).filter(_.startsWith("snap-"))
      .map(_.stripPrefix("snap-").toLong).sorted
  }

  /** Path of one committed change directory. */
  def changeDirPath(id: Long): String =
    s"$changesDir/snap-${"%06d".format(id)}"

  /** Highest snapshot id whose change delta was RETIRED by vacuum
    * (0 = nothing retired). The change-feed stream uses this to fail
    * loudly when a consumer's checkpoint lags past retention instead
    * of silently skipping — and to bootstrap fresh consumers from the
    * surviving suffix.
    */
  def changeFeedHorizon: Long =
    meta.get(TieredTable.ChangesHorizonKey).map(_.trim.toLong).getOrElse(0L)

  private def ChangesHorizonKey = TieredTable.ChangesHorizonKey

  /** Path of one committed log segment (the DSv2 log-tail stream plans
    * micro-batches as (start, end] ranges of these).
    */
  def segmentDirPath(id: Long): String = segPath(id)

  /** Remove a streaming-sink staging dir (epoch commit/abort cleanup).
    * Exists because the `org.apache.spark.sql` bridge classes can't
    * see the `private[graft]` [[TableFs]] seam directly.
    */
  def dropStagingDir(path: String): Unit = fs.deleteRecursively(path)

  /** The change feed as an unbounded Structured Streaming source:
    * Spark's file source over the committed change files. `schema` is
    * the TABLE schema; the feed adds the `op` column. Consumers running
    * under a checkpoint get exactly-once file delivery across restarts
    * — the reference's continuous changelog subscription
    * (README.md:153-169,247-250) as an ordinary StreamingQuery.
    */
  def readStreamChanges(schema: StructType,
                        maxFilesPerTrigger: Int = 64): DataFrame = {
    require(changeDataFeed,
      s"table $tablePath was not created with changeDataFeed = true")
    // finish any interrupted change publication before a consumer
    // starts listing — the crashed-finalize repair path
    withCommitLock(recoverChangeDeltas())
    // Rename guard: the file stream matches columns BY NAME, so change
    // files committed BEFORE a rename would surface NULL under the new
    // name — silent data loss for a bootstrapping consumer. Refuse
    // while any retained change file still carries a renamed-away
    // column; vacuum (which retires change files with their snapshots)
    // clears the condition. Each change dir's column set rides in its
    // `_COLUMNS` sidecar (committed atomically with the files), so the
    // guard is a one-line read per retained dir — no parquet footer is
    // opened (sidecar-less dirs from older layouts fall back to one).
    val renamedAway = colMapOps().collect {
      case ("rename", old, _) => old
    }.toSet
    if (renamedAway.nonEmpty) {
      val stale = fs.listNames(changesDir)
        .filter(_.startsWith("snap-")).sorted
        .flatMap { d =>
          val cols: Set[String] =
            fs.readString(s"$changesDir/$d/_COLUMNS") match {
              case Some(line) => line.trim.split(",").toSet
              case None => spark.read.parquet(s"$changesDir/$d")
                .columns.toSet
            }
          val hit = renamedAway.intersect(cols)
          if (hit.nonEmpty) Some(d -> hit) else None
        }
      require(stale.isEmpty,
        s"change files ${stale.map(_._1).mkString(", ")} in $tablePath " +
          s"still carry renamed-away column(s) " +
          s"${stale.flatMap(_._2).distinct.mkString(", ")} — a new " +
          "consumer would read NULLs there; vacuum past the rename " +
          "before streaming the feed")
    }
    spark.readStream
      .schema(schema.add("op", StringType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$tablePath/changes/snap-*")
  }

  // ---- hot tier: append log ----

  private def segPath(i: Long): String = s"$logDir/seg-${"%06d".format(i)}"

  /** Committed log segments. Local: every `seg-N` dir (the atomic
    * rename published it whole). Remote: only `seg-N` prefixes whose
    * `_SEG` marker object landed — objects appear one by one on a
    * store with no rename, so the marker (written LAST, one atomic
    * PUT) is what makes a segment visible all-or-nothing.
    */
  def logSegments: Seq[Long] =
    if (!remote)
      fs.listNames(logDir)
        .filter(_.startsWith("seg-")).map(_.stripPrefix("seg-").toLong)
        .sorted
    else {
      // ONE prefix listing serves both the names and the markers — a
      // per-segment exists() probe would cost 1+S round trips per read
      val segRe = """.*/seg-(\d{6})/_SEG""".r
      fs.listFiles(logDir).map(_._1).collect {
        case segRe(num) => num.toLong
      }.sorted
    }

  /** Segment id already committed under `tag`, if any (idempotence for
    * streaming replays: the tag rides inside the segment dir and
    * commits with it — under the rename locally, before the `_SEG`
    * marker remotely).
    */
  def taggedSegment(tag: String): Option[Long] =
    logSegments.find { s =>
      fs.readString(s"${segPath(s)}/_TAG").exists(_.trim == tag)
    }

  /** Append a batch to the hot log; returns the new segment id. The
    * batch keeps the partition clustering but not the declared sort
    * order: this is the latency path, and tier() converges the layout.
    * An empty batch on a partitioned table lands no data file and
    * publishes nothing (-1). With `tag` (e.g. "batch-7" from a streaming
    * micro-batch) the append is exactly-once: a replayed batch whose tag
    * already landed is skipped.
    */
  def appendLog(df: DataFrame, tag: Option[String] = None): Long =
    publishSegment(tag)(writeData(df, _, order = Some(Nil)))

  /** Commit PRE-WRITTEN parquet files as one log segment — the DSv2
    * streaming sink's zero-copy path: executors already wrote the
    * epoch's rows (one parquet file per task) into a staging dir under
    * this table, so the commit is renames + a stats sidecar; the data
    * is never read or rewritten. Flat (unpartitioned) log tables only —
    * partitioned layout and PK dedup need a pass over the rows, and
    * those sinks take the read-back commit paths instead. Same `tag`
    * idempotence and id-allocation rules as [[appendLog]]; on a
    * replayed tag the staged files are DROPPED (their bytes already
    * committed under the tag).
    */
  def appendLogFiles(files: Seq[String], tag: Option[String] = None): Long = {
    require(partitionBy.isEmpty,
      "appendLogFiles commits raw files — only a flat (unpartitioned) " +
        "log table can take them without a layout pass")
    require(pk.isEmpty,
      "appendLogFiles skips key dedup — PK tables commit through " +
        "commitUpsert")
    publishSegment(tag, files.foreach(fs.deleteFile)) { dir =>
      fs.mkdirs(dir)
      files.foreach(f => fs.move(f, s"$dir/${f.substring(f.lastIndexOf('/') + 1)}"))
      writeSidecars(dir)
    }
  }

  /** The one segment publish: `land` fills a segment dir and returns its
    * row count. Locally the dir is a temp dir that an atomic rename puts
    * in place, so readers never see a partial segment. Remotely (no
    * rename) data lands straight in the final prefix, and the `_SEG`
    * marker — written last, one atomic object PUT — publishes it; a
    * crashed append leaves a markerless, invisible prefix that the next
    * append of the same id overwrites. The `_TAG` marker rides inside
    * the dir and commits with it. A replayed tag runs `onReplay` and
    * returns the segment it already landed in; a dir that holds no data
    * file is dropped unpublished (-1).
    */
  private def publishSegment(tag: Option[String], onReplay: => Unit = ())
                            (land: String => Long): Long = withCommitLock {
    tag.flatMap(taggedSegment) match {
      case Some(existing) => onReplay; return existing
      case None =>
    }
    // floor at watermark+1: after vacuum() deletes tiered segments the
    // directory may be empty, but reusing an id ≤ tieredSeg would park
    // rows where every read filters them out — silent loss
    val floor = math.max(
      logSegments.lastOption.map(_ + 1).getOrElse(0L),
      currentSnapshot.map(_.tieredSeg + 1).getOrElse(0L))
    // Cross-PROCESS id arbitration remotely: locally the atomic rename
    // makes the second writer of one segment id fail loudly, but a
    // direct remote write has no such gate — two drivers picking the
    // same id would interleave objects in one prefix. The segment id is
    // therefore CLAIMED via the MetaStore conditional PUT (the same
    // primitive the manifest commit rides); the loser advances to the
    // next id. A claim whose writer died pre-marker leaves an id gap
    // (harmless — every reader tolerates sparse segment ids) and
    // invisible data objects; [[gcOrphans]] reclaims both under its
    // writer-quiet contract.
    var id = floor
    if (remote) while (!meta.putIfAbsent(f"segclaim-$id%06d", "")) id += 1
    val dir =
      if (remote) segPath(id) else s"$logDir/_tmp-seg-${"%06d".format(id)}"
    if (landed(dir, land(dir)).isEmpty) return -1L
    tag.foreach(t => fs.writeString(s"$dir/_TAG", t))
    if (remote) fs.writeString(s"$dir/_SEG", "")
    else fs.move(dir, segPath(id))
    id
  }

  /** Serializes the read-modify-write of every mutating operation on
    * this table (segment-id allocation, prev-snapshot resolution, data
    * write, manifest swap) against concurrent writer threads.
    * Reentrant — commit paths compose.
    */
  private def withCommitLock[A](f: => A): A =
    // canonicalize the key: equivalent spellings of one directory
    // (trailing slash, relative segments) must share the lock
    TieredTable.lockFor(
      if (remote) tablePath
      else Paths.get(tablePath).toAbsolutePath.normalize.toString
    ).synchronized(f)

  /** The one data-write seam: every write of table data — log segments,
    * tier/append/rewrite snapshots, compaction, staged and branch
    * appends — passes here, and this is the one place that decides its
    * layout (Iceberg's `write.distribution-mode` plus sort order):
    *
    *  - partitioned: hash-cluster on `partitionBy` and sort each task on
    *    `partitionBy ++ order`, so each `col=value` dir is written by the
    *    one task that owns its value — one file per dir per commit
    *    instead of one per (task × dir). Files land Hive-style under
    *    `col=value/`, so a partition-filtered read prunes whole dirs
    *    without touching a footer (each snapshot/segment dir is a
    *    partition-discovery base path, see [[readParquet]]);
    *  - unpartitioned with an `order`: a global range sort (`nFiles` > 0
    *    pins its width), so files carry disjoint key ranges and the
    *    min/max sidecar prunes a range predicate to the matching files;
    *  - otherwise the batch lands as it comes.
    *
    * `order` None is the declared `sortBy`, skipped for a batch that
    * predates its columns (old segments tier without them); an explicit
    * order wins over it — compaction's sort key and z-curve, and the
    * hot append's none. `spark.graft.write.distributionMode=none` opts
    * out of the layout step (one giant partition value would serialize
    * into one writer task). The catalog's SQL sink cannot declare this
    * through `RequiresDistributionAndOrdering` instead: Spark's V1
    * fallback write re-plans from the pre-V2Writes query, so a declared
    * distribution never executes there.
    *
    * Bucketed tables get `__bucket = hash(pk) mod N` stamped here
    * (deterministic per key, so a key's versions share a bucket dir
    * across all deltas and rewrites); the layout persists at
    * meta/BUCKETS so later opens self-configure.
    *
    * Returns the written row count, exact: see [[writeSidecars]].
    */
  private def writeData(df0: DataFrame, path: String,
                        order: Option[Seq[org.apache.spark.sql.Column]] = None,
                        nFiles: Int = 0): Long = {
    val df1 =
      if (bucketBy > 0 && !df0.columns.contains(BucketCol)) {
        persistBucketMeta(df0.schema)
        df0.withColumn(BucketCol, bucketStamp(df0.schema))
      } else df0
    val sortCols = order.getOrElse(
      if (sortBy.forall(c => df1.columns.exists(_.equalsIgnoreCase(c))))
        sortBy.map(col) else Nil)
    val df =
      if (spark.conf.get("spark.graft.write.distributionMode", "hash") == "none")
        df1
      else if (partitionBy.nonEmpty)
        df1.repartition(partitionBy.map(col): _*)
          .sortWithinPartitions(partitionBy.map(col) ++ sortCols: _*)
      else if (sortCols.isEmpty) df1
      else if (nFiles > 0)
        df1.repartitionByRange(nFiles, sortCols: _*)
          .sortWithinPartitions(sortCols: _*)
      else df1.orderBy(sortCols: _*)
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
    writeSidecars(path)
  }

  /** Write the skipping sidecars of a just-written dir before anything
    * publishes it, so data and stats commit together: per-file
    * min/max/null stats (see FileStats; the Iceberg manifest-entry
    * lower/upper-bounds analog) and the opt-in blooms for point-lookup
    * columns whose values scatter across files. Returns the dir's row
    * count from the same footer pass — one listing and one open per
    * footer per commit, and the input plan runs once (count + write
    * would run it twice under the commit lock, and disagree with the
    * written data for a nondeterministic input). A footer that cannot
    * be read falls back to a count, so the number stays exact.
    */
  private def writeSidecars(dir: String): Long = {
    val rows = FileStats.writeSidecar(dir)
      .getOrElse(readParquet(Seq(dir)).count())
    if (bloomCols.nonEmpty && rows > 0)
      FileStats.writeBloomSidecar(spark, dir, bloomCols)
    rows
  }

  /** `out` as file-list entries: none when the write landed no data
    * file — a partitioned write of no rows, whose dir no reader could
    * infer a schema from — and the empty dir is dropped.
    */
  private def landed(out: String, rows: Long): Seq[String] =
    if (rows > 0 || partitionBy.isEmpty) Seq(out)
    else { fs.deleteRecursively(out); Nil }

  /** Commit the snapshot of a data write. An empty file list — a
    * partitioned write that landed no file, and nothing kept — has no
    * file to carry the schema, so no reader could open it: on a table
    * with no snapshot yet nothing is committed and the empty state
    * (id 0) comes back; a commit that would empty a partitioned table
    * is refused.
    */
  private def commitData(s: Snapshot): Snapshot =
    if (s.files.nonEmpty) { commitManifest(s); s }
    else {
      if (currentSnapshot.nonEmpty) throw new IllegalStateException(
        s"'${s.op}' would leave partitioned table $tablePath with no " +
          "data file, and an empty partitioned snapshot has no file to " +
          "carry its schema — nothing committed")
      s.copy(id = 0L)
    }

  /** Validate-and-persist the bucket layout at the WRITE choke point,
    * once per instance. The layout is immutable: a caller-passed count
    * that contradicts the persisted one would stamp NEW deltas with a
    * different hash modulus — a key's versions would split across
    * bucket values and the SQL-face (bucket, key) resolution window
    * would resurrect superseded rows, silently. Same argument against
    * RETRO-bucketing a table that already holds unbucketed commits:
    * old rows read back with a NULL bucket and form their own window
    * group. Both refuse loudly here, before any wrong byte lands.
    */
  @volatile private var bucketMetaWritten = false
  @volatile private var bucketKernelCache: String = _
  private def persistBucketMeta(schema: org.apache.spark.sql.types.StructType): Unit =
    if (!bucketMetaWritten) {
      val p = s"$tablePath/meta/BUCKETS"
      val fs = TableFs.forPath(tablePath)
      val hadBuckets = fs.readString(p).map(_.trim.toInt)
      hadBuckets match {
        case Some(persisted) =>
          require(persisted == bucketBy,
            s"$tablePath is bucketed with 'write.bucket-by' = $persisted " +
              s"(meta/BUCKETS); opening it with bucketBy = $bucketBy " +
              "would split keys across two hash layouts — the bucket " +
              "count is immutable once data is committed")
        case None =>
          require(latestSnapshotId == 0L && logSegments.isEmpty,
            s"$tablePath already holds unbucketed commits — " +
              "retro-bucketing would leave old rows without a bucket " +
              "value and duplicate keys in resolved reads; rewrite the " +
              "data into a fresh bucketed table instead")
          fs.mkdirs(s"$tablePath/meta")
          fs.writeString(p, bucketBy.toString)
      }
      // the hash KERNEL is as immutable as the count — a later write
      // under a different kernel splits a key across two bucket values.
      // Persisted separately (meta/BUCKET_KERNEL) so every meta/BUCKETS
      // parser stays integer-only. The decision here must mirror the
      // read-side probe (bucketKernel): a layout that predates the
      // kernel tag is Spark-hash; a fresh table derives from the PK
      // type. hadBuckets is the PRE-write state — the count file was
      // just written above, so reading it back would misread a fresh
      // table as legacy.
      val kp = s"$tablePath/meta/BUCKET_KERNEL"
      if (fs.readString(kp).isEmpty)
        fs.writeString(kp,
          if (hadBuckets.isDefined) TieredTable.BucketKernelSpark
          else TieredTable.bucketKernelFor(
            pk.flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c)))))
      bucketKernelCache = null // (re)load from the persisted tag
      bucketKernel(schema)
      bucketMetaWritten = true
    }

  /** The bucket-layout hash kernel of this table: `"iceberg"` (the
    * Iceberg-spec murmur3 `bucket[N]` of the single PK column —
    * exportable as a spec partition transform, see
    * [[graft.functions.IcebergTransforms]]) or `"spark"` (Spark
    * murmur3 over all PK columns — multi-column PKs, PK types with no
    * spec transform, and tables bucketed before the kernel tag
    * existed). Resolved from `meta/BUCKET_KERNEL`; a table with no
    * persisted layout yet reports what its first write WOULD persist,
    * given `schema`.
    */
  def bucketKernel(schema: org.apache.spark.sql.types.StructType = null): String = {
    if (bucketKernelCache == null) {
      val fs = TableFs.forPath(tablePath)
      bucketKernelCache =
        fs.readString(s"$tablePath/meta/BUCKET_KERNEL").map(_.trim)
          .getOrElse {
            if (fs.readString(s"$tablePath/meta/BUCKETS").isDefined)
              TieredTable.BucketKernelSpark // pre-tag layout
            else if (schema != null)
              TieredTable.bucketKernelFor(
                pk.flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c))))
            else TieredTable.BucketKernelSpark
          }
    }
    bucketKernelCache
  }

  /** The `__bucket` stamping expression under the table's kernel. */
  private def bucketStamp(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Column =
    bucketKernel(schema) match {
      case TieredTable.BucketKernelIceberg =>
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.expressions.IcebergBucket(bucketBy,
            org.apache.spark.sql.GraftSqlBridge.expression(col(pk.head))))
      case _ => pmod(hash(pk.map(col): _*), lit(bucketBy))
    }

  // ---- tiering: hot → cold ----

  /** Tier all log segments past the current watermark (optionally only up
    * to `upToSeg`) into one cold snapshot. This is the reference's lake
    * tiering service collapsed into a function the 30s-trigger streaming
    * sink calls per micro-batch (SURVEY.md §2 C4).
    */
  def tier(upToSeg: Option[Long] = None): Option[Snapshot] = withCommitLock {
    val prev = currentSnapshot
    val watermark = prev.map(_.tieredSeg).getOrElse(-1L)
    val todo = logSegments.filter(s => s > watermark && upToSeg.forall(s <= _))
    if (todo.isEmpty) return None
    val id = latestSnapshotId + 1
    val out = s"$dataDir/snap-${"%06d".format(id)}"
    // mergeSchema: segments appended with evolved schemas must tier to
    // the union schema — a footer-of-one-file read here would silently
    // drop mid-stream columns, and vacuum() would make the loss permanent.
    val batch0 = readParquet(todo.map(segPath(_)))
    val batch = if (pk.nonEmpty && mergeOnRead) batch0.withColumn(SeqCol, lit(id)) else batch0
    val rows = writeData(batch, out)
    val files = prev.map(_.files).getOrElse(Nil) ++ landed(out, rows)
    Some(commitData(
      Snapshot(id, "tier", rows, todo.max, files, System.currentTimeMillis())))
  }

  /** Snapshot already committed under `tag`, if any. */
  def taggedSnapshot(tag: String): Option[Snapshot] =
    (1L to latestSnapshotId).flatMap(snapshot).find(_.tag == tag)

  /** Direct cold-tier append (no log hop) — batch loads. A replayed
    * `tag` returns the existing snapshot (idempotent streaming sink).
    */
  def commitAppend(df: DataFrame, op: String = "append",
                   tag: Option[String] = None): Snapshot = withCommitLock {
    tag.flatMap(taggedSnapshot) match {
      case Some(existing) => return existing
      case None =>
    }
    val prev = currentSnapshot
    val id = latestSnapshotId + 1
    val out = s"$dataDir/snap-${"%06d".format(id)}"
    val batch = if (pk.nonEmpty && mergeOnRead) df.withColumn(SeqCol, lit(id)) else df
    val rows = writeData(batch, out)
    commitData(Snapshot(id, op, rows, prev.map(_.tieredSeg).getOrElse(-1L),
      prev.map(_.files).getOrElse(Nil) ++ landed(out, rows),
      System.currentTimeMillis(), tag.getOrElse("")))
  }

  /** Upsert commit for PK tables.
    *
    * Default (copy-on-write): the batch is merged with the current cold
    * state and the RESOLVED table is committed — readers get plain
    * parquet with no dedup work, and the SQL catalog
    * ([[graft.plans.GraftTableCatalog]]) can serve PK tables directly.
    * Right for dimension-sized PK tables (the reference's customer /
    * nation / nation_revenue).
    *
    * With `mergeOnRead = true` (constructor): the batch is committed as
    * a delta file whose rows supersede same-key rows from earlier
    * snapshots, resolved in [[readCold]] via last-write-wins on `__seq`
    * — right for huge PK tables where rewriting on every batch is the
    * bottleneck.
    *
    * `versionOrder` (descending-significant) resolves duplicate keys
    * WITHIN the batch deterministically; cross-batch, later commits win
    * in both modes.
    */
  def commitUpsert(df: DataFrame, tag: Option[String] = None,
                   versionOrder: Seq[org.apache.spark.sql.Column] = Nil): Snapshot = withCommitLock {
    require(pk.nonEmpty, "commitUpsert requires a primary key")
    val batch =
      if (versionOrder.isEmpty) df
      else Upsert.latestByKey(df, pk, versionOrder)
    if (mergeOnRead) commitAppend(batch, op = "upsert", tag = tag)
    else {
      tag.flatMap(taggedSnapshot) match {
        case Some(existing) => return existing
        case None =>
      }
      val merged = currentSnapshot match {
        case None    => batch
        case Some(_) => Upsert.merge(readCold(), batch, pk)
      }
      commitReplace(merged, op = "upsert", tag = tag)
    }
  }

  /** Full-content replace commit — the batch `INSERT OVERWRITE` verb
    * (Flink's batch-mode overwrite of a Fluss table) and the
    * state-swap primitive [[graft.operators.MaterializedView]] commits
    * its maintained aggregate with: the new content REPLACES the
    * previous snapshot wholesale, tag-idempotent like every other
    * commit verb (a replayed maintenance step with the same tag is a
    * no-op returning the existing snapshot). Older snapshots remain
    * time-travelable until [[vacuum]].
    */
  def commitOverwrite(df: DataFrame,
                      tag: Option[String] = None): Snapshot = withCommitLock {
    tag.flatMap(taggedSnapshot) match {
      case Some(existing) => return existing
      case None =>
    }
    commitReplace(df, op = "overwrite", tag = tag)
  }

  /** PARTITION-SCOPED overwrite — `INSERT OVERWRITE t PARTITION
    * (p = v, …)`, the daily-backfill verb of every partitioned lake
    * table (Flink/Iceberg users re-run one day without touching the
    * rest). `partValues` must bind a LEADING PREFIX of `partitionBy`
    * in declared order, by equality, non-null — anything else refuses
    * loudly rather than over- or under-truncating.
    *
    * Scale shape: the untouched partitions are NEVER rewritten — the
    * new snapshot's file list references the kept `col=value` subdirs
    * of the previous snapshot's directories plus one new directory
    * holding the replacement content (metadata surgery, exactly an
    * Iceberg overwrite snapshot's keep/delete manifest split). Cost is
    * O(new partition data + partition-dir listings), independent of
    * table size. Older snapshots still reference their full
    * directories, so history stays time-travelable until [[vacuum]]
    * (whose liveness check is prefix-aware for exactly this reason).
    *
    * PK tables additionally require `partitionBy ⊆ pk` — the
    * Flink-Iceberg upsert-sink rule: a key that could change
    * partitions would make "replace this partition's keys" undefined.
    */
  def commitOverwritePartitions(df: DataFrame,
                                partValues: Seq[(String, String)],
                                tag: Option[String] = None): Snapshot =
    withCommitLock {
      require(partitionBy.nonEmpty,
        s"$tablePath is not partitioned — partition-scoped INSERT " +
          "OVERWRITE needs a PARTITIONED BY table")
      require(partValues.nonEmpty, "no partition values to overwrite")
      val cols = partValues.map(_._1)
      require(cols == partitionBy.take(cols.length),
        s"partition overwrite must bind a leading prefix of " +
          s"(${partitionBy.mkString(", ")}) in declared order; got " +
          s"(${cols.mkString(", ")})")
      require(pk.isEmpty || partitionBy.forall(pk.contains),
        s"partition-scoped overwrite of a PK table requires partition " +
          s"columns to be part of the primary key (a key must never " +
          s"change partitions); $tablePath has pk=(${pk.mkString(",")}) " +
          s"partitionBy=(${partitionBy.mkString(",")})")
      tag.flatMap(taggedSnapshot) match {
        case Some(existing) => return existing
        case None =>
      }
      val prev = currentSnapshot.getOrElse(throw new IllegalStateException(
        s"no snapshot in $tablePath — nothing to partition-overwrite " +
          "(use a plain append/overwrite to seed)"))
      require(!logSegments.exists(_ > prev.tieredSeg),
        s"table $tablePath has un-tiered hot log segments — they would " +
          "resurface over the replaced partition; tier() first")
      // spec-evolved tables: a pre-evolution dir lacks the NEW spec's
      // `col=value` levels, so keptOutsideTarget's split would return
      // EMPTY for it — silently deleting the old vintage from the new
      // snapshot (every partition, not just the target; a dir that
      // was partitioned by a pre-evolution PREFIX of the spec loses
      // exactly its matching prefix branch, which is just as silent).
      // The vintage test reads each entry's TOP-LEVEL dir NAME: a
      // `snap-%06d` dir encodes the snapshot id that WROTE it, which
      // is exact against the evolution boundary, survives vacuum
      // (manifest expiry must not inflate a dir's vintage past the
      // boundary — a retained-manifest scan would), costs zero IO,
      // and subdir references inherit their top dir's vintage. A dir
      // whose name carries no id (wap-… staged under an unknowable
      // layout) is conservatively treated as pre-evolution.
      partitionEvolutions.map(_._1).maxOption.foreach { boundary =>
        val dataPrefix = dataDir.stripSuffix("/") + "/"
        def vintageOf(p: String): Long = {
          val q = p.stripSuffix("/")
          val top =
            if (q.startsWith(dataPrefix))
              q.stripPrefix(dataPrefix).split('/').head
            else q.split('/').last
          if (top.startsWith("snap-")) {
            val digits = top.stripPrefix("snap-").takeWhile(_.isDigit)
            if (digits.nonEmpty) digits.toLong else -1L
          } else -1L
        }
        val preEvo = prev.files.filter(e => vintageOf(e) <= boundary)
        require(preEvo.isEmpty,
          s"INSERT OVERWRITE PARTITION on $tablePath: the partition " +
            s"spec evolved at snapshot $boundary and ${preEvo.size} " +
            "live dir(s) carry (or may carry) a pre-evolution layout " +
            "— the partition-scoped keep/replace split cannot see " +
            "inside them; run compact() (rewrites everything under " +
            "the current spec) first")
      }

      val id = latestSnapshotId + 1
      val out = s"$dataDir/snap-${"%06d".format(id)}"
      val batch =
        if (pk.nonEmpty && mergeOnRead) df.withColumn(SeqCol, lit(id))
        else df
      val rows = writeData(batch, out)
      // the written content must lie ENTIRELY inside the target
      // partitions — a metadata check on the produced directory tree
      // (never a data scan); violation deletes the staged dir and fails
      partValues.foldLeft(Seq(out)) { case (dirs, (c, v)) =>
        dirs.flatMap { d =>
          val children = fs.listNames(d).filter(_.startsWith(c + "="))
          val bad = children.filterNot(ch =>
            PartitionPaths.unescape(ch.drop(c.length + 1)) == v)
          if (bad.nonEmpty) {
            fs.deleteRecursively(out)
            throw new IllegalArgumentException(
              s"INSERT OVERWRITE PARTITION ($c=$v): the SELECT produced " +
                s"rows outside the target partition (${bad.mkString(", ")})" +
                " — staged write discarded")
          }
          children.map(ch => s"$d/$ch")
        }
      }
      val keptDirs = prev.files.flatMap(keptOutsideTarget(_, partValues))
      commitData(Snapshot(id, "overwrite-partition", rows, prev.tieredSeg,
        keptDirs ++ landed(out, rows), System.currentTimeMillis(),
        tag.getOrElse("")))
    }

  /** The partition binding a snapshot-file entry carries in its own
    * path — trailing `col=value` segments added by earlier
    * partition-scoped overwrites (a plain snapshot dir binds nothing).
    */
  private def partBinding(entry: String): Map[String, String] = {
    val segs = entry.stripSuffix("/").split('/').filter(_.nonEmpty).toSeq
    segs.reverse
      .takeWhile(s => partitionBy.exists(c => s.startsWith(c + "=")))
      .map { s =>
        val c = partitionBy.find(c0 => s.startsWith(c0 + "=")).get
        c -> PartitionPaths.unescape(s.drop(c.length + 1))
      }.toMap
  }

  /** The sub-entries of `entry` that survive an overwrite of
    * `target` — the keep/delete split of the metadata surgery:
    * disjoint entries survive whole, fully-covered entries vanish,
    * partially-covered ones split one directory level at a time along
    * the target prefix (recursion depth ≤ |target|).
    */
  private def keptOutsideTarget(entry: String,
                                target: Seq[(String, String)]): Seq[String] = {
    val bound = partBinding(entry)
    if (target.exists { case (c, v) => bound.get(c).exists(_ != v) })
      Seq(entry) // provably disjoint from the target — kept whole
    else if (target.forall { case (c, v) => bound.get(c).contains(v) })
      Seq.empty // fully inside the target — replaced
    else {
      val (c, v) = target.find { case (c0, _) => !bound.contains(c0) }.get
      fs.listNames(entry).filter(_.startsWith(c + "=")).flatMap { ch =>
        val full = s"$entry/$ch"
        if (PartitionPaths.unescape(ch.drop(c.length + 1)) == v)
          keptOutsideTarget(full, target)
        else Seq(full)
      }
    }
  }

  /** Commit a snapshot whose file list REPLACES the previous one (full
    * rewrite), vs [[commitAppend]]'s accumulate.
    */
  private def commitReplace(df0: DataFrame, op: String,
                            tag: Option[String]): Snapshot = {
    val prev = currentSnapshot
    val id = latestSnapshotId + 1
    // merge-on-read layout invariant: every data file carries the
    // version-sequence column (resolution windows over it) — a replace
    // whose caller did not stamp one (overwrite/truncate arriving from
    // SQL) gets it here, at the choke point, like the partition-scoped
    // overwrite does
    val df = if (pk.nonEmpty && mergeOnRead && !df0.columns.contains(SeqCol))
      df0.withColumn(SeqCol, lit(id)) else df0
    val out = s"$dataDir/snap-${"%06d".format(id)}"
    val rows = writeData(df, out)
    commitData(Snapshot(id, op, rows, prev.map(_.tieredSeg).getOrElse(-1L),
      landed(out, rows), System.currentTimeMillis(), tag.getOrElse("")))
  }

  /** SQL `MERGE INTO` semantics, copy-on-write: join the current cold
    * state (alias `t`) with `source` (alias `s`) on the `on` key
    * columns, then
    *
    *  - WHEN MATCHED AND `whenMatchedDelete` → the target row is
    *    dropped;
    *  - WHEN MATCHED (otherwise) → `whenMatchedUpdate` assignments are
    *    applied (expressions may reference both sides as `t.<col>` /
    *    `s.<col>`; empty map = keep the target row unchanged);
    *  - WHEN NOT MATCHED (source-only key) and `whenNotMatchedInsert`
    *    → the source row is inserted (its columns resolved to the
    *    target schema by name).
    *
    * Commits one `merge` snapshot; None when the table has no current
    * snapshot to merge into (use [[commitAppend]] to seed). Source rows
    * must match each target row at most once — SQL raises on a
    * multi-match MERGE and so do we, deterministically, instead of
    * multiplying target rows; duplicate NOT-matched source keys legally
    * insert one row each (SQL semantics).
    *
    * Scale shape: ONE shuffle — a full-outer hash join on the key
    * (broadcast when the source is dimension-sized); assignments and
    * clause routing are map-side projections over the joined rows.
    * Same preconditions as the other row-level verbs: fully-tiered
    * table (the append-only hot log cannot absorb row mutations).
    */
  def merge(source: DataFrame, on: Seq[String],
            whenMatchedUpdate: Map[String, org.apache.spark.sql.Column] = Map.empty,
            whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
            whenNotMatchedInsert: Boolean = true,
            whenNotMatchedCond: Option[org.apache.spark.sql.Column] = None,
            whenNotMatchedBySourceUpdate: Map[String, org.apache.spark.sql.Column] = Map.empty,
            whenNotMatchedBySourceDelete: Option[org.apache.spark.sql.Column] = None,
            evolveColumns: Seq[(String, org.apache.spark.sql.types.DataType)] = Nil)
      : Option[Snapshot] =
    withCommitLock {
      require(on.nonEmpty, "merge needs at least one key column")
      val prev = currentSnapshot.getOrElse(return None)
      require(!logSegments.exists(_ > prev.tieredSeg),
        s"hot log segments exist above the tiered watermark in $tablePath; " +
          "tier() before merge")
      // MERGE WITH SCHEMA EVOLUTION: source-only columns join the
      // target schema as nullable — existing rows surface NULL, the
      // rewrite below persists the widened shape (Delta's star-form
      // evolution semantics)
      val target = evolveColumns.foldLeft(readCold()) { case (d, (n, dt)) =>
        if (d.columns.exists(_.equalsIgnoreCase(n))) d
        else d.withColumn(n, lit(null).cast(dt))
      }
      require(on.forall(target.columns.contains),
        s"merge key ${on.mkString(",")} missing from target")
      require(on.forall(source.columns.contains),
        s"merge key ${on.mkString(",")} missing from source")
      whenMatchedUpdate.keys.foreach(c => require(target.columns.contains(c),
        s"unknown target column $c in merge assignment"))
      // SQL MERGE forbids updating the join-key columns (a matched row
      // rekeyed mid-merge is neither matched nor inserted — undefined);
      // same identity argument as updateWhere for PK columns.
      val frozen = (on ++ pk).toSet.intersect(whenMatchedUpdate.keySet)
      require(frozen.isEmpty,
        s"MERGE cannot update key column(s) ${frozen.mkString(", ")} of " +
          s"$tablePath — join keys and primary keys are row identity")
      // SQL MERGE `ON t.k = s.k` semantics: NULL keys never match — a
      // null-key source row inserts, a null-key target row passes
      // through untouched. SQL MERGE only errors when a TARGET row is
      // matched by more than one source row; duplicate not-matched
      // source keys legally insert one row each — so the ambiguity
      // check applies to non-null source keys that actually join a
      // target row (semi-join), not to every duplicate source key.
      val nonNullKeys = on.map(col(_).isNotNull).reduce(_ && _)
      val dupKeys = source.filter(nonNullKeys)
        .join(target.select(on.map(col): _*), on, "left_semi")
        .groupBy(on.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
      require(dupKeys.limit(1).count() == 0,
        "merge source matches a target row more than once — MERGE is ambiguous")
      val t = target.withColumn("__t", lit(true)).alias("t")
      val s = source.withColumn("__s", lit(true)).alias("s")
      val joinCond = on.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
      val j = t.join(s, joinCond, "full_outer")
      val matched = col("t.__t").isNotNull && col("s.__s").isNotNull
      val deleteHit = whenMatchedDelete
        .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
      // matched & kept: assignments see both aliases (SQL's simultaneous-
      // assignment semantics — one select over the ORIGINAL joined row)
      val updated = j.filter(matched && !deleteHit)
        .select(target.schema.fields.map { f =>
          whenMatchedUpdate.get(f.name) match {
            case Some(v) => v.cast(f.dataType).as(f.name)
            case None => col(s"t.${f.name}")
          }
        }.toIndexedSeq: _*)
      // WHEN NOT MATCHED BY SOURCE (Delta/Spark 3.4 SQL): target rows
      // no source row matched — delete the ones the delete condition
      // hits, apply the update assignments to the ones its condition
      // hits (conditions see only the target side; the source side is
      // NULL here by construction). Identity when neither clause given.
      whenNotMatchedBySourceUpdate.keys.foreach(c =>
        require(target.columns.contains(c),
          s"unknown target column $c in NOT MATCHED BY SOURCE assignment"))
      val frozenBySource = (on ++ pk).toSet
        .intersect(whenNotMatchedBySourceUpdate.keySet)
      require(frozenBySource.isEmpty,
        s"MERGE cannot update key column(s) ${frozenBySource.mkString(", ")}" +
          s" of $tablePath — join keys and primary keys are row identity")
      val bySourceDeleteHit = whenNotMatchedBySourceDelete
        .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
      val targetOnly = j.filter(col("s.__s").isNull && !bySourceDeleteHit)
        .select(target.schema.fields.map { f =>
          whenNotMatchedBySourceUpdate.get(f.name) match {
            case Some(v) => v.cast(f.dataType).as(f.name)
            case None => col(s"t.${f.name}")
          }
        }.toIndexedSeq: _*)
      val inserted =
        if (!whenNotMatchedInsert) emptyLike(updated.schema)
        else {
          // conditional WHEN NOT MATCHED AND <cond> THEN INSERT: the
          // condition gates WHICH unmatched source rows insert (NULL
          // condition = no insert, SQL's three-valued WHEN semantics)
          val insertGate = whenNotMatchedCond
            .map(c => coalesce(c, lit(false))).getOrElse(lit(true))
          val jj = j.filter(col("t.__t").isNull && insertGate)
          target.schema.fields.foreach(f =>
            require(source.columns.contains(f.name) || f.nullable,
              s"merge insert cannot supply non-nullable target column ${f.name}"))
          jj.select(target.schema.fields.map { f =>
            if (source.columns.contains(f.name))
              col(s"s.${f.name}").cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toIndexedSeq: _*)
        }
      val result = updated.unionByName(targetOnly).unionByName(inserted)
      val toWrite =
        if (pk.nonEmpty && mergeOnRead) result.withColumn(SeqCol, lit(0L))
        else result
      val id = latestSnapshotId + 1
      val out = s"$dataDir/snap-${"%06d".format(id)}"
      val rows = writeData(toWrite, out)
      Some(commitData(Snapshot(id, "merge", rows, prev.tieredSeg,
        landed(out, rows), System.currentTimeMillis())))
    }

  // ---- maintenance ----

  /** Compact the cold tier: rewrite the accumulated snapshot files into
    * one columnar dir (op="compact"). Content-preserving; older
    * snapshots remain readable until [[vacuum]]. The small-files problem
    * is the classic lakehouse failure mode at high commit rates — a 30s
    * freshness SLA produces ~2.9k snapshots/day.
    *
    * `sortBy`: optionally sort the rewrite on the given columns in place
    * of the declared order — sorted parquet carries tight per-file and
    * per-row-group min/max stats, so later scans filtering on those
    * columns skip whole files and row groups (the cheap form of data
    * clustering; at cluster scale this is the Z-order/sort-compaction
    * maintenance job).
    */
  def compact(sortBy: Seq[String] = Nil): Option[Snapshot] = withCommitLock { currentSnapshot.map { prev =>
    val id = latestSnapshotId + 1
    val out = s"$dataDir/snap-${"%06d".format(id)}"
    // mergeSchema for the same reason as tier(): heterogeneous snapshot
    // schemas must compact to the union schema, and compact REPLACES the
    // whole file list. Merge-on-read tables compact to the RESOLVED
    // state with the version counter reset (the deleteWhere/updateWhere
    // convention, and Iceberg's rewrite_data_files semantics) —
    // superseded versions are maintenance debt, and carrying them into
    // the rewrite would leave last-write-wins ties inside one file that
    // no sequence-number scheme (ours or an external reader's
    // equality-delete application) can break.
    val all =
      if (pk.nonEmpty && mergeOnRead) readCold().withColumn(SeqCol, lit(0L))
      else readParquet(prev.files)
    val rows = writeData(all, out,
      order = if (sortBy.isEmpty) None else Some(sortBy.map(col)))
    commitData(Snapshot(id, "compact", rows, prev.tieredSeg,
      landed(out, rows), System.currentTimeMillis()))
  } }

  /** Auto-compaction policy — the maintenance loop's "should I?" next
    * to [[compact]]'s "do it": rewrite only when the cold tier has
    * fragmented into more than `maxFiles` parquet files AND their mean
    * size is under `minAvgBytes`. Both conditions matter at scale: a
    * high-frequency tiering cadence (the 30 s freshness SLA ≈ 2.9 k
    * commits/day) shatters the tier into file counts that dominate
    * planning time, but a tier that is merely LARGE (many
    * healthy-sized files) must not be rewritten — compaction is a full
    * read+write of the tier, and re-copying 100 TB because a counter
    * crossed 64 is the expensive non-mistake. Returns Some(snapshot)
    * when it compacted, None when the tier is healthy (callers loop:
    * `table.compactIfNeeded()` after every N commits, the
    * docker-compose tiering-service cadence).
    */
  def compactIfNeeded(maxFiles: Int = 64, minAvgBytes: Long = 32L << 20,
                      sortBy: Seq[String] = Nil): Option[Snapshot] =
    currentSnapshot.flatMap { snap =>
      // recursive walk: partitioned snapshots nest part files under
      // Hive `col=value/` dirs — a flat listing would count 0 parts
      // and silently exempt exactly the tables most prone to
      // fragmentation (every partition adds files per commit)
      val parts: Seq[Long] = snap.files.flatMap { d =>
        fs.listFiles(d).collect {
          case (p, size) if p.endsWith(".parquet") => size
        }
      }
      val n = parts.size
      if (n > maxFiles && n > 0 && parts.sum / n < minAvgBytes)
        compact(sortBy)
      else None
    }

  /** Z-ORDER compaction: rewrite the cold tier clustered on the Morton
    * (bit-interleaved) curve over `zCols` — the multi-dimensional
    * sibling of `compact(sortBy)`. Each numeric column is min/max
    * scaled to a `bits`-wide integer rank and the ranks' bits are
    * interleaved into one sort key; range-partitioning + in-partition
    * sort on that key gives every output file a TIGHT min/max box on
    * EVERY clustered column, so the footer-stats skipping
    * (every cold read's scan) prunes files for predicates on
    * any of them — a lead-column linear sort only serves its first
    * column. This is the standing maintenance job that keeps
    * multi-dimensional point/range lookups sublinear at 100 TB.
    *
    * Numeric/date/timestamp columns only (rank scaling needs a metric
    * domain). `nFiles` bounds the rewrite's file count (0 = keep the
    * session's shuffle parallelism). Content-preserving; the z key is
    * dropped before writing.
    */
  def compactZOrder(zCols: Seq[String], nFiles: Int = 0,
                    bits: Int = 8): Option[Snapshot] = withCommitLock {
    require(zCols.nonEmpty, "compactZOrder needs at least one column")
    require(bits >= 1 && bits * zCols.size <= 62,
      s"bits * columns must fit a long (got $bits × ${zCols.size})")
    currentSnapshot.map { prev =>
      val all = readParquet(prev.files)
      zCols.foreach { c =>
        require(all.columns.contains(c), s"unknown z-order column $c")
        val dt = all.schema(c).dataType
        require(dt.isInstanceOf[NumericType] || dt == DateType ||
          dt == TimestampType || dt == TimestampNTZType,
          s"z-order column $c has non-metric type $dt")
      }
      // per-column min/max in double space — one dimension-sized agg
      val metric = zCols.map(c => col(c).cast("double"))
      val bounds = all.agg(
        struct(metric.zipWithIndex.flatMap { case (m, i) =>
          Seq(min(m).as(s"mn$i"), max(m).as(s"mx$i")) }: _*).as("b"))
        .select(col("b.*")).head()
      val top = (1L << bits) - 1
      val ranks = metric.zipWithIndex.map { case (m, i) =>
        // an all-NULL column has no bounds (min/max aggregate over zero
        // non-null values) — rank it constant instead of NPE-ing
        if (bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1)) lit(0L)
        else {
          val (mn, mx) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
          if (mx <= mn) lit(0L)
          else coalesce(least(greatest(
              floor((m - mn) * (top.toDouble / (mx - mn))), lit(0.0)),
            lit(top.toDouble)).cast("long"), lit(0L)) // null value → rank 0
        }
      }
      val k = ranks.size
      // Morton interleave: bit b of rank i lands at position b*k + i
      val z = (0 until bits).flatMap { b =>
        ranks.zipWithIndex.map { case (r, i) =>
          shiftright(r, b).bitwiseAND(lit(1L)) * lit(1L << (b * k + i))
        }
      }.reduce(_ + _)
      val id = latestSnapshotId + 1
      val out = s"$dataDir/snap-${"%06d".format(id)}"
      val rows = writeData(all, out, order = Some(Seq(z)),
        nFiles = if (nFiles > 0) nFiles
          else spark.conf.get("spark.sql.shuffle.partitions").toInt)
      commitData(Snapshot(id, "zorder", rows, prev.tieredSeg,
        landed(out, rows), System.currentTimeMillis()))
    }
  }

  /** Delete rows matching `cond` (copy-on-write): rewrites the resolved
    * current state minus the matches as one new snapshot, op `delete` —
    * the verb that makes [[incrementalRead]] emit `-D` rows. Requires a
    * fully-tiered table (no hot tail): a hot segment deleted-from in
    * place would break the append-only log contract, so tier first.
    * Returns the new snapshot, or None when nothing matched (no empty
    * commit). For merge-on-read PK tables the rewrite also collapses
    * version history (like [[compact]]) — the deleted keys are gone,
    * not tombstoned.
    */
  def deleteWhere(cond: org.apache.spark.sql.Column): Option[Snapshot] =
    withCommitLock {
      val prev = currentSnapshot.getOrElse(throw new IllegalStateException(
        s"no snapshot in $tablePath — nothing to delete from"))
      val watermark = prev.tieredSeg
      require(!logSegments.exists(_ > watermark),
        s"hot log segments exist above the tiered watermark in $tablePath; " +
          "tier() before deleteWhere")
      val resolved = readCold()
      // SQL DELETE semantics: a row is deleted only when the predicate
      // is TRUE — a NULL predicate (e.g. `id = 2` on a NULL id) keeps
      // the row; a bare `!cond` filter would silently drop it
      val hit = coalesce(cond, lit(false))
      // cheap matched probe (same as updateWhere): a no-op DELETE must
      // not pay a full rewrite just to discover nothing matched
      val matched = resolved.filter(hit).limit(1).count() > 0
      if (!matched) None
      else {
        val kept = resolved.filter(!hit)
        val id = latestSnapshotId + 1
        val out = s"$dataDir/snap-${"%06d".format(id)}"
        // merge-on-read readers resolve versions via SeqCol — the rewrite
        // is already resolved, so every surviving row restarts at seq 0
        val toWrite =
          if (pk.nonEmpty && mergeOnRead) kept.withColumn(SeqCol, lit(0L))
          else kept
        val rows = writeData(toWrite, out)
        Some(commitData(Snapshot(id, "delete", rows, watermark,
          landed(out, rows), System.currentTimeMillis())))
      }
    }

  /** Update columns on rows matching `cond` (copy-on-write): rewrites
    * the resolved current state with `assignments` applied where the
    * predicate is TRUE (NULL/false rows pass through untouched — SQL
    * three-valued logic, same as [[deleteWhere]]), committed as one
    * `update` snapshot; [[incrementalRead]] then reports the touched
    * keys as `+U`. Same preconditions as deleteWhere: fully-tiered
    * table, no hot tail. Returns None when no row matched (no empty
    * commit). Assignment expressions may reference the row's own
    * columns (e.g. `"price" -> col("price") * 2`).
    */
  def updateWhere(cond: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column])
      : Option[Snapshot] = withCommitLock {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    // A PK table's keys are its row identity: reassigning them can
    // silently coin duplicate keys in the resolved state (two rows
    // updated onto one key), breaking every upsert/changelog invariant
    // downstream. Delete + re-insert is the honest spelling.
    if (pk.nonEmpty) {
      val touched = assignments.keySet.intersect(pk.toSet)
      require(touched.isEmpty,
        s"cannot UPDATE primary-key column(s) ${touched.mkString(", ")} of " +
          s"$tablePath — a key is the row's identity; DELETE and re-insert " +
          "instead")
    }
    val prev = currentSnapshot.getOrElse(throw new IllegalStateException(
      s"no snapshot in $tablePath — nothing to update"))
    val watermark = prev.tieredSeg
    require(!logSegments.exists(_ > watermark),
      s"hot log segments exist above the tiered watermark in $tablePath; " +
        "tier() before updateWhere")
    val resolved = readCold()
    assignments.keys.foreach(c => require(resolved.columns.contains(c),
      s"unknown column $c in updateWhere assignment"))
    val hit = coalesce(cond, lit(false))
    val matched = resolved.filter(hit).limit(1).count() > 0
    if (!matched) None
    else {
      // one select, not chained withColumn: every assignment expression
      // sees the ORIGINAL row (SQL UPDATE's simultaneous-assignment
      // semantics — chained rewrites would leak one assignment's result
      // into another in unspecified Map order)
      val updated = resolved.select(resolved.columns.map { c =>
        assignments.get(c) match {
          case Some(v) => when(hit, v).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
      val toWrite =
        if (pk.nonEmpty && mergeOnRead) updated.withColumn(SeqCol, lit(0L))
        else updated
      val id = latestSnapshotId + 1
      val out = s"$dataDir/snap-${"%06d".format(id)}"
      val rows = writeData(toWrite, out)
      Some(commitData(Snapshot(id, "update", rows, watermark,
        landed(out, rows), System.currentTimeMillis())))
    }
  }

  /** ROLLBACK: make `snapshotId`'s file list current again by
    * committing a NEW snapshot that points at it (Iceberg's
    * `rollback_to_snapshot` — history moves forward, nothing is
    * deleted, and [[incrementalRead]] across the rollback reports the
    * rolled-back rows as `-D`/`+U` like any other change). Fails if
    * the target manifest was vacuumed. The tiering watermark keeps its
    * CURRENT value — log segments tiered since the target stay tiered
    * (their rows leave the cold state but must not re-enter the hot
    * tail, which would resurrect them in union reads).
    */
  def rollbackTo(snapshotId: Long): Snapshot = withCommitLock {
    val target = snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $snapshotId not found in $tablePath (vacuumed or never committed)"))
    val prev = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot in $tablePath"))
    val id = latestSnapshotId + 1
    val s = Snapshot(id, "rollback", target.rowsAdded, prev.tieredSeg,
      target.files, System.currentTimeMillis(), tag = s"rollback-to-$snapshotId")
    commitManifest(s)
    s
  }

  /** Re-apply one historical snapshot's APPEND onto the current head —
    * Iceberg's `cherrypick_snapshot`. The selective-recovery verb after
    * a [[rollbackTo]]: roll back past a bad commit, then cherry-pick
    * the good commits that followed it. Only append-lineage snapshots
    * qualify (their delta is exactly "these files joined the table";
    * appends commute — same argument as [[publishStage]]); a verb that
    * rewrote the file list (upsert resolve, compact, overwrite) is
    * refused because replaying it onto a different base would silently
    * resurrect or lose rows. Refuses when the head already references
    * the files (double-pick would double-count).
    */
  def cherrypick(snapshotId: Long): Snapshot = withCommitLock {
    val target = snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $snapshotId of $tablePath not found (never " +
          "committed, or already vacuumed)"))
    // the append-lineage proof needs the parent's file list; a vacuumed
    // parent makes parentFiles empty, which would make the subset guard
    // below vacuously true and `added` the target's ENTIRE table state —
    // a silent full-history resurrection. Refuse loudly instead.
    val parent = snapshot(snapshotId - 1)
    require(snapshotId == 1L || parent.isDefined,
      s"snapshot ${snapshotId - 1} (the parent of $snapshotId) was " +
        "vacuumed — the cherry-pick delta is unprovable; re-apply the " +
        "rows by an explicit append instead")
    val parentFiles = parent.map(_.files.toSet).getOrElse(Set.empty)
    require(parentFiles.subsetOf(target.files.toSet),
      s"snapshot $snapshotId ('${target.op}') rewrote the file list — " +
        "only append-lineage snapshots cherry-pick; a replayed " +
        "rewrite against a different base loses or resurrects rows")
    val added = target.files.filterNot(parentFiles)
    require(added.nonEmpty,
      s"snapshot $snapshotId added no files — nothing to cherry-pick")
    TieredTable.retryOnConflict() {
      val prev = currentSnapshot
      val prevFiles = prev.map(_.files.toSet).getOrElse(Set.empty)
      require(!added.exists(prevFiles),
        s"the current head already references snapshot $snapshotId's " +
          "files — cherry-picking again would double-count its rows")
      val s = Snapshot(latestSnapshotId + 1, "cherrypick",
        target.rowsAdded, prev.map(_.tieredSeg).getOrElse(-1L),
        prev.map(_.files).getOrElse(Nil) ++ added,
        System.currentTimeMillis(), s"cherrypick-$snapshotId")
      commitManifest(s)
      s
    }
  }

  // ---- snapshot tags: named immutable refs (Iceberg's `tags`) ----

  private val TagKeyPrefix = "ref-tag-"

  /** Pin `snapshotId` (default: the current head) under an immutable
    * name — Iceberg's snapshot tag: `VERSION AS OF 'name'` resolves it,
    * `` `t$refs` `` lists it, and [[vacuum]]/[[expireOlderThan]] will
    * NOT drop a tagged snapshot or its files until [[dropTag]]. The
    * training-data use: tag the exact corpus state a run consumed and
    * the read stays reproducible through any amount of later ingest
    * and retention. Creation is the store's atomic conditional PUT, so
    * two racing creators of one name get exactly one winner — same
    * primitive as the manifest commit.
    */
  def createTag(name: String, snapshotId: Long = -1L): Unit = withCommitLock {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    val id = if (snapshotId == -1L) latestSnapshotId else snapshotId
    require(snapshot(id).isDefined,
      s"cannot tag snapshot $id of $tablePath — not found " +
        "(never committed, or already vacuumed)")
    require(meta.get(s"$BranchKeyPrefix$name").isEmpty,
      s"'$name' is already a BRANCH on $tablePath — tags and branches " +
        "share the VERSION AS OF namespace")
    require(meta.putIfAbsent(s"$TagKeyPrefix$name", id.toString),
      s"tag '$name' already exists on $tablePath (tags are immutable — " +
        "drop it first to re-point)")
  }

  /** Remove the tag; the snapshot becomes ordinary history again (the
    * NEXT vacuum may reclaim it). Loud on unknown names — silently
    * "dropping" a typo would leave the real tag pinning files forever.
    */
  def dropTag(name: String): Unit = withCommitLock {
    val key = s"$TagKeyPrefix$name"
    require(meta.get(key).isDefined,
      s"tag '$name' does not exist on $tablePath")
    meta.delete(key)
  }

  /** All tags as (name, snapshotId), sorted by name. */
  def tags: Seq[(String, Long)] =
    meta.listKeys(TagKeyPrefix).flatMap { k =>
      meta.get(k).flatMap(_.trim.toLongOption)
        .map(id => (k.stripPrefix(TagKeyPrefix), id))
    }

  /** The snapshot a tag names; None for unknown tags (callers raise
    * with their own context).
    */
  def tagSnapshot(name: String): Option[Snapshot] =
    meta.get(s"$TagKeyPrefix$name")
      .flatMap(_.trim.toLongOption).flatMap(snapshot)

  // ---- write-audit-publish: staged commits (Iceberg's WAP) ----

  private val WapKeyPrefix = "wap-"

  private case class StagedCommit(parent: Long, rows: Long,
                                  files: Seq[String], stagedAt: Long)

  private def stagedCommit(wapId: String): Option[StagedCommit] =
    meta.get(s"$WapKeyPrefix$wapId").map { body =>
      val kv = body.linesIterator.filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
      StagedCommit(kv("parent").toLong, kv("rows").toLong,
        kv("files").split(",").toSeq.filter(_.nonEmpty),
        kv("stagedAt").toLong)
    }

  /** Stage an append WITHOUT publishing it — the write half of
    * write-audit-publish (Iceberg's `spark.wap.id` flow). The batch's
    * data files are fully written (same layout, sidecars, and blooms as
    * a committed append) but no snapshot references them: every normal
    * read, stream, and export is untouched until [[publishStage]].
    * Audit the candidate via [[stagedRead]] (SQL:
    * `VERSION AS OF '<wapId>'`), then publish or [[abandonStage]].
    *
    * Append-only tables: a staged UPSERT cannot cherry-pick — its merge
    * result depends on the base it was computed against, and replaying
    * it onto a moved head would silently resurrect overwritten keys.
    * Refused loudly rather than approximated.
    *
    * One staged commit per id, arbitrated by the store's conditional
    * PUT (two racing stagers of one id → one winner; the loser's data
    * dir is deleted). Stage several ids for a multi-batch pipeline.
    */
  def stageAppend(df: DataFrame, wapId: String): Unit = withCommitLock {
    require(wapId.nonEmpty && wapId.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"wap id must be [A-Za-z0-9._-]+, got '$wapId'")
    require(pk.isEmpty,
      s"write-audit-publish on $tablePath: staging supports append-only " +
        "tables — a staged upsert's merge depends on the base it was " +
        "computed against and cannot be replayed onto a moved head")
    require(stagedCommit(wapId).isEmpty,
      s"staged commit '$wapId' already exists on $tablePath — publish " +
        "or abandon it first (one staged commit per id)")
    // uuid'd dir: two racing stagers of one id must never write into
    // one directory — the conditional PUT below picks the winner and
    // the loser deletes its own private dir
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val out = s"$dataDir/wap-$wapId-$uuid"
    val rows = writeData(df, out)
    val body =
      s"""parent=$latestSnapshotId
         |rows=$rows
         |files=${landed(out, rows).mkString(",")}
         |stagedAt=${System.currentTimeMillis()}
         |""".stripMargin
    if (!meta.putIfAbsent(s"$WapKeyPrefix$wapId", body)) {
      fs.deleteRecursively(out)
      throw new IllegalStateException(
        s"staged commit '$wapId' on $tablePath was created by a " +
          "concurrent stager — audit that one, or stage under a new id")
    }
  }

  /** All staged (unpublished) commit ids, sorted. */
  def stagedIds: Seq[String] =
    meta.listKeys(WapKeyPrefix).map(_.stripPrefix(WapKeyPrefix))

  /** The table as it WOULD look if `wapId` published onto the base it
    * was staged against — the audit read. Synthesized as a snapshot
    * view (parent's files + staged files) so `VERSION AS OF '<wapId>'`
    * serves it through the same path as tags; None for unknown ids.
    * Like tag reads, this is a snapshot-file read (cold tier only).
    */
  def stagedRead(wapId: String): Option[Snapshot] =
    stagedCommit(wapId).map { st =>
      val base = snapshot(st.parent)
      Snapshot(st.parent, "wap", st.rows,
        base.map(_.tieredSeg).getOrElse(-1L),
        base.map(_.files).getOrElse(Nil) ++ st.files, st.stagedAt, wapId)
    }

  /** Publish a staged commit: cherry-pick its files onto the CURRENT
    * head (which may have moved past the staged parent — appends
    * commute, which is why staging is append-only) as a normal
    * CAS-arbitrated snapshot, then release the staging key. The change
    * feed sees the staged files as ordinary `+I` lineage.
    */
  def publishStage(wapId: String): Snapshot = withCommitLock {
    val st = stagedCommit(wapId).getOrElse(throw new IllegalArgumentException(
      s"no staged commit '$wapId' on $tablePath (published already, " +
        "abandoned, or never staged)"))
    val s = TieredTable.retryOnConflict() {
      val prev = currentSnapshot
      val snap = Snapshot(latestSnapshotId + 1, "publish", st.rows,
        prev.map(_.tieredSeg).getOrElse(-1L),
        prev.map(_.files).getOrElse(Nil) ++ st.files,
        System.currentTimeMillis(), wapId)
      commitManifest(snap)
      snap
    }
    meta.delete(s"$WapKeyPrefix$wapId")
    s
  }

  /** Discard a staged commit and its data files — the audit said no.
    * Loud on unknown ids (a silently "abandoned" typo would leave the
    * real candidate staged forever).
    */
  def abandonStage(wapId: String): Unit = withCommitLock {
    val st = stagedCommit(wapId).getOrElse(throw new IllegalArgumentException(
      s"no staged commit '$wapId' on $tablePath"))
    meta.delete(s"$WapKeyPrefix$wapId")
    st.files.foreach(fs.deleteRecursively)
  }

  // ---- branches: named MUTABLE append-lineage refs ----

  private val BranchKeyPrefix = "ref-branch-"

  private case class BranchState(parent: Long, rows: Long,
                                 files: Seq[String], createdAt: Long)

  private def branchState(name: String): Option[BranchState] =
    meta.get(s"$BranchKeyPrefix$name").map { body =>
      val kv = body.linesIterator.filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
      BranchState(kv("parent").toLong, kv("rows").toLong,
        kv("files").split(",").toSeq.filter(_.nonEmpty),
        kv("createdAt").toLong)
    }

  private def writeBranchState(name: String, st: BranchState): Unit =
    meta.put(s"$BranchKeyPrefix$name",
      s"""parent=${st.parent}
         |rows=${st.rows}
         |files=${st.files.mkString(",")}
         |createdAt=${st.createdAt}
         |""".stripMargin)

  /** Create a branch forked at the current head — the MUTABLE ref:
    * unlike a single staged WAP commit, a branch accumulates ANY
    * number of appends ([[appendToBranch]], or `INSERT INTO` under
    * `spark.graft.wap.branch`), each invisible to main until ONE
    * [[fastForward]] publishes them all. The multi-batch
    * write-audit-publish workflow: a pipeline lands a day of batches
    * on the branch, the audit gates once, the corpus advances once.
    * Append-only for the same reason as WAP — appends commute onto a
    * moved head. Tags and branches share the `VERSION AS OF`
    * namespace, so a name can be only one of them.
    */
  def createBranch(name: String): Unit = withCommitLock {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"branch name must be [A-Za-z0-9._-]+, got '$name'")
    require(pk.isEmpty,
      s"branches on $tablePath: append-only tables only — a branched " +
        "upsert's merge depends on the base it was computed against")
    require(tagSnapshot(name).isEmpty && meta.get(s"$TagKeyPrefix$name").isEmpty,
      s"'$name' is already a TAG on $tablePath — tags and branches " +
        "share the VERSION AS OF namespace")
    require(meta.putIfAbsent(s"$BranchKeyPrefix$name",
        s"""parent=$latestSnapshotId
           |rows=0
           |files=
           |createdAt=${System.currentTimeMillis()}
           |""".stripMargin),
      s"branch '$name' already exists on $tablePath")
  }

  /** Append a batch to the branch — data files land fully (layout,
    * sidecars, blooms), the branch head advances, main never sees it.
    * Branch mutation is single-writer by contract (the JVM commit
    * lock; a branch is one pipeline's workspace) — cross-process
    * branch writers would need the manifest-CAS chain main has.
    */
  def appendToBranch(df: DataFrame, name: String): Unit = withCommitLock {
    val st = branchState(name).getOrElse(
      throw new IllegalArgumentException(
        s"no branch '$name' on $tablePath — create_branch first"))
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val out = s"$dataDir/wap-br-$name-$uuid"
    val rows = writeData(df, out)
    writeBranchState(name, st.copy(rows = st.rows + rows,
      files = st.files ++ landed(out, rows)))
  }

  /** All branches as (name, forkedAtSnapshotId), sorted by name. */
  def branches: Seq[(String, Long)] =
    meta.listKeys(BranchKeyPrefix).flatMap { k =>
      branchState(k.stripPrefix(BranchKeyPrefix))
        .map(st => (k.stripPrefix(BranchKeyPrefix), st.parent))
    }

  /** The branch's view: its fork parent's files + every branch append
    * — what `VERSION AS OF '<branch>'` serves. None for unknown names.
    */
  def branchRead(name: String): Option[Snapshot] =
    branchState(name).map { st =>
      val base = snapshot(st.parent)
      Snapshot(st.parent, "branch", st.rows,
        base.map(_.tieredSeg).getOrElse(-1L),
        base.map(_.files).getOrElse(Nil) ++ st.files, st.createdAt, name)
    }

  /** Publish every append accumulated on the branch onto the CURRENT
    * head as ONE snapshot, then delete the branch — Iceberg's
    * `fast_forward` collapsed with the WAP publish (appends commute
    * past any head movement since the fork). Refuses an empty branch
    * (nothing to publish is a pipeline bug worth hearing about).
    */
  def fastForward(name: String): Snapshot = withCommitLock {
    val st = branchState(name).getOrElse(
      throw new IllegalArgumentException(
        s"no branch '$name' on $tablePath"))
    require(st.files.nonEmpty,
      s"branch '$name' on $tablePath has no appends — nothing to publish")
    val s = TieredTable.retryOnConflict() {
      val prev = currentSnapshot
      val snap = Snapshot(latestSnapshotId + 1, "publish", st.rows,
        prev.map(_.tieredSeg).getOrElse(-1L),
        prev.map(_.files).getOrElse(Nil) ++ st.files,
        System.currentTimeMillis(), s"branch-$name")
      commitManifest(snap)
      snap
    }
    meta.delete(s"$BranchKeyPrefix$name")
    s
  }

  /** Delete the branch and its data files — the audit said no, or the
    * workspace is abandoned. Loud on unknown names.
    */
  def dropBranch(name: String): Unit = withCommitLock {
    val st = branchState(name).getOrElse(
      throw new IllegalArgumentException(
        s"no branch '$name' on $tablePath"))
    meta.delete(s"$BranchKeyPrefix$name")
    st.files.foreach(fs.deleteRecursively)
  }

  /** Drop history: keep the last `keepLast` snapshots PLUS every tagged
    * snapshot, delete older manifests, then physically remove (a) data
    * dirs referenced only by dropped snapshots and (b) log segments at
    * or below every suffix-kept snapshot's tiering watermark (their
    * rows live in the cold tier; tag reads are snapshot-file reads, so
    * a tagged OLD snapshot does not hold hot segments alive). Returns
    * the number of filesystem entries removed.
    */
  def vacuum(keepLast: Int = 1): Int = withCommitLock {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val latest = latestSnapshotId
    // no snapshots yet (empty or hot-log-only table): nothing to drop —
    // and keepIds below would be empty, making keepIds.head throw
    if (latest == 0L) return 0
    val keepIds = (math.max(1L, latest - keepLast + 1) to latest)
    // pinned outside the suffix: tagged snapshots, and the fork
    // parents of staged WAP commits and live branches — an audit /
    // branch read resolves parent.files, so retention must not pull
    // the base out from under a pending publish
    val taggedIds = tags.map(_._2).toSet ++
      stagedIds.flatMap(stagedCommit).map(_.parent).filter(_ > 0L) ++
      branches.map(_._2).filter(_ > 0L)
    val kept = (keepIds ++ taggedIds.filter(_ < keepIds.head)).flatMap(snapshot)
    if (kept.isEmpty) return 0
    val referenced = kept.flatMap(_.files).map(_.stripSuffix("/")).toSet
    // prefix-aware liveness: a kept snapshot may reference a `col=value`
    // SUBDIR of an old snapshot's directory (partition-scoped
    // overwrite), so neither that directory nor anything under a
    // referenced path may be deleted
    def inUse(p0: String): Boolean = {
      val p = p0.stripSuffix("/")
      referenced.exists(r =>
        r == p || r.startsWith(p + "/") || p.startsWith(r + "/"))
    }
    var removed = 0
    (1L until keepIds.head).filterNot(taggedIds).flatMap(snapshot)
      .foreach { old =>
        old.files.filterNot(inUse)
          .foreach { p => if (fs.deleteRecursively(p)) removed += 1 }
        meta.delete(manifestKey(old.id)); removed += 1
      }
    // change files follow their snapshot's retention: a consumer whose
    // checkpoint lags past the vacuum horizon has lost replayability
    // anyway (same files-vs-retention contract as Delta CDF) — keeping
    // the dropped snapshots' deltas would only grow without bound.
    // The horizon is RECORDED (monotonic meta key) so the streaming
    // source can tell "retired before you read it" (loud failure)
    // apart from "snapshot that never published a delta" (legitimately
    // sparse ids) — without the marker the two are indistinguishable
    // after the dirs are gone.
    if (changeDataFeed) {
      (1L until keepIds.head).foreach { old =>
        val cf = s"$changesDir/snap-${"%06d".format(old)}"
        if (fs.deleteRecursively(cf)) removed += 1
      }
      val horizon = keepIds.head - 1
      if (horizon > changeFeedHorizon)
        meta.put(ChangesHorizonKey, horizon.toString)
    }
    // suffix-kept only: a tagged old snapshot's watermark must not
    // hold hot log segments alive (its rows are its cold files)
    val minWatermark = keepIds.flatMap(snapshot).map(_.tieredSeg).min
    val tieredSegs = logSegments.filter(_ <= minWatermark)
    tieredSegs.map(segPath)
      .foreach { p => if (fs.deleteRecursively(p)) removed += 1 }
    // remote segment-id claims retire with their segments
    if (remote) tieredSegs.foreach(s => meta.delete(f"segclaim-$s%06d"))
    removed
  }

  /** Time-based retention — Iceberg's `expire_snapshots(older_than)`
    * shape over [[vacuum]]'s count-based machinery: drop snapshots
    * committed before `cutoffMs`, but always keep at least `keepLast`
    * newest (the floor that protects time travel and in-flight
    * incremental readers whose cursors sit near the head). The policy
    * verb the retention cron calls with `now − retentionMs`; returns
    * files+manifests removed.
    */
  def expireOlderThan(cutoffMs: Long, keepLast: Int = 1): Int = {
    val latest = latestSnapshotId
    if (latest == 0L) return 0
    // oldest snapshot that is still fresh — everything before it may go
    val firstFresh = (1L to latest)
      .find(id => snapshot(id).exists(_.committedAt >= cutoffMs))
      .getOrElse(latest)
    vacuum(keepLast = math.max(keepLast, (latest - firstFresh + 1).toInt))
  }

  /** Remove ORPHANED debris — Iceberg's `remove_orphan_files`
    * maintenance analog, and the documented repair for the commit
    * crash windows:
    *
    *  1. `data/snap-*` dirs referenced by NO surviving manifest — a
    *     committer that lost the CAS race (or died before claiming)
    *     wrote data files that no snapshot ever published;
    *     [[TieredTable.retryOnConflict]] deliberately leaves them for
    *     this collector.
    *  2. `log/_tmp-seg-*` dirs — an [[appendLog]] that died before its
    *     atomic rename.
    *  3. EMPTY manifest claims above `LATEST` — a committer that died
    *     between the local-FS claim and the content swap; the dead
    *     claim would block every future commit of that id with a
    *     conflict. Only provably-dead (zero-length) claims are
    *     removed: a fully-written manifest whose `LATEST` swap never
    *     happened has unknown outcome and is left for the operator
    *     (the Iceberg "commit state unknown" stance).
    *
    * Run with no active writers (same contract as Iceberg's orphan
    * cleanup — a concurrent committer's in-flight claim is
    * indistinguishable from a dead one). Live data — every file of
    * every surviving snapshot, and every real log segment — is never
    * touched. Returns entries removed.
    */
  def gcOrphans(): Int = withCommitLock {
    // finish interrupted CDF publications FIRST: a tmp the committed
    // manifest names is recoverable state, not debris. Unconditional —
    // the sweep needs only listings and manifests, and a maintenance
    // handle opened WITHOUT changeDataFeed=true must not demote a
    // recoverable delta to debris
    recoverChangeDeltas()
    val latest = latestSnapshotId
    // a subdir entry (snap-N/col=value — or wap-X/col=value after a
    // partition-scoped overwrite kept a published-WAP partition by
    // reference) keeps its whole TOP-LEVEL data dir live: take the
    // first segment under data/, never the path's last segment (a
    // snap-prefix-only special case deleted published wap dirs whose
    // only reference was a subdir entry)
    val dataPrefix = dataDir.stripSuffix("/") + "/"
    val live = (1L to latest).flatMap(snapshot).flatMap(_.files)
      .map { p =>
        val q = p.stripSuffix("/")
        if (q.startsWith(dataPrefix))
          q.stripPrefix(dataPrefix).split('/').head
        else {
          val segs = q.split('/')
          segs.find(_.startsWith("snap-")).getOrElse(segs.last)
        }
      }.toSet
    var removed = 0
    fs.listNames(dataDir)
      .filter(_.startsWith("snap-")).filterNot(live)
      .foreach { d => fs.deleteRecursively(s"$dataDir/$d"); removed += 1 }
    // WAP/branch staging debris: a `wap-…` dir is live iff some staged
    // or branch manifest references it — a stager that died before its
    // conditional PUT (or a CAS loser that crashed mid-cleanup) left a
    // dir no manifest will ever name. PUBLISHED wap dirs are committed
    // by reference into snapshot file lists (publishStage/fastForward
    // keep the staged path), so the snapshot-derived `live` set guards
    // them too — `live` keys on the FIRST segment under data/, so both
    // a whole-dir reference and a kept-partition SUBDIR reference
    // (`wap-X/col=v`) resolve to the wap-… name.
    val stagedLive = (stagedIds.flatMap(stagedCommit).flatMap(_.files) ++
      branches.map(_._1).flatMap(b => branchRead(b).map(_.files).getOrElse(Nil)))
      .map(_.stripSuffix("/").split('/').last).toSet
    fs.listNames(dataDir)
      .filter(_.startsWith("wap-"))
      .filterNot(d => stagedLive(d) || live(d))
      .foreach { d => fs.deleteRecursively(s"$dataDir/$d"); removed += 1 }
    // appendLog debris: local `_tmp-seg-*` dirs that died before their
    // atomic rename
    fs.listNames(logDir)
      .filter(_.startsWith("_tmp-seg-"))
      .foreach { d => fs.deleteRecursively(s"$logDir/$d"); removed += 1 }
    // streaming-sink staging (`_stream-<queryId>/epoch-N/`) a dead
    // query left behind — invisible to readers (not a `seg-` prefix),
    // reclaimed under the same writer-quiet contract as everything
    // else here (an in-flight stream is indistinguishable from a dead
    // one; don't run gc under a live writer)
    fs.listNames(logDir)
      .filter(_.startsWith("_stream-"))
      .foreach { d => fs.deleteRecursively(s"$logDir/$d"); removed += 1 }
    // remote appendLog debris: a writer that died between its segclaim
    // and the _SEG marker left a dead claim no future append can reuse
    // — and possibly invisible data objects. Reclaim both (writer-
    // quiet contract: an in-flight append is indistinguishable from a
    // dead one, same stance as the rest of this collector). Claims are
    // allocated densely from the floor, so walking the id range until
    // both the claims AND the visible segments run out covers the
    // died-before-first-PUT case that a prefix listing cannot see.
    if (remote) {
      val visible = logSegments.toSet
      fs.listNames(logDir)
        .filter(_.startsWith("seg-")).map(_.stripPrefix("seg-").toLong)
        .filterNot(visible)
        .foreach { sId => fs.deleteRecursively(segPath(sId)); removed += 1 }
      // walk 0..horizon unconditionally (vacuum leaves holes below the
      // watermark), then keep going while claims remain — allocation is
      // dense above the floor, so the first missing claim past the
      // horizon ends the range. One metadata GET per id.
      val horizon = math.max(visible.maxOption.getOrElse(-1L),
        currentSnapshot.map(_.tieredSeg + 1).getOrElse(0L))
      var id = 0L
      var walk = true
      while (walk) {
        val claimKey = f"segclaim-$id%06d"
        val claimed = meta.get(claimKey).isDefined
        if (claimed && !visible(id)) { meta.delete(claimKey); removed += 1 }
        id += 1
        walk = id <= horizon || claimed
      }
    }
    // change-feed tmp dirs recoverChangeDeltas left behind: delete the
    // UNREFERENCED ones (CAS losers, pre-claim deaths). A tmp whose id
    // is still CLAIMED stays when the manifest names it (the
    // above-LATEST unknown-state window) or cannot be read (the
    // claimed-but-empty crash window) — both are the operator's call,
    // and once the dead claim itself is collected (the loop below /
    // a repair), the orphaned tmp becomes ordinary debris here.
    fs.listNames(changesDir)
      .filter(_.startsWith("_tmp-snap-"))
      .foreach { d =>
        val keep = d match {
          case ChangeTmpRe(num, uuid) =>
            val id = num.toLong
            meta.get(manifestKey(id)) match {
              case None => false // no claim at all → debris
              case Some(_) => snapshotIfReadable(id) match {
                case Some(snap) => snap.changeDir == uuid
                case None => true // claimed, unreadable: unknown state
              }
            }
          case _ => false
        }
        if (!keep) {
          fs.deleteRecursively(s"$changesDir/$d"); removed += 1
        }
      }
    // metadata temp files a crashed LocalFsMetaStore write left behind
    // (atomic-move sources; harmless but accumulate) — safe under the
    // writer-quiet contract
    fs.listNames(metaDir)
      .filter(_.endsWith(".tmp"))
      .foreach { f => fs.deleteFile(s"$metaDir/$f"); removed += 1 }
    var id = latest + 1
    var claim = meta.get(manifestKey(id))
    while (claim.isDefined) {
      if (claim.exists(_.trim.isEmpty)) {
        meta.delete(manifestKey(id)); removed += 1
      }
      id += 1
      claim = meta.get(manifestKey(id))
    }
    removed
  }

  // ---- reads ----

  private def emptyLike(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Cold tier as of the latest committed snapshot (the Trino role,
    * reference README.md:257-292). PK tables resolve merge-on-read here:
    * last-write-wins per key on the commit sequence.
    */
  // ---- schema evolution: RENAME / DROP without rewriting history ----

  /** Ordered column-mapping ops from the COLMAP metadata key:
    * `("rename", old, new)` / `("drop", name, "")`. The mapping is the
    * name-based analog of Iceberg's field-id indirection: data files
    * keep their original column names forever; every read applies the
    * ops in order, so historical files (and historical SNAPSHOTS — time
    * travel included) surface through the CURRENT declared schema with
    * their data intact.
    */
  /** The persisted evolution ops, for consumers that must reason about
    * physical-vs-declared layout (e.g. [[IcebergExport]] refuses to
    * export a rename whose old name still lives in head data files —
    * a name-based external reader would surface nulls).
    */
  def columnMapping: Seq[(String, String, String)] = colMapOps()

  private def colMapOps(): Seq[(String, String, String)] =
    meta.get("COLMAP").map(_.linesIterator.flatMap { l =>
      l.split('\t') match {
        case Array("rename", a, b) => Some(("rename", a, b))
        case Array("drop", a)      => Some(("drop", a, ""))
        case Array("widen", a, t)  => Some(("widen", a, t))
        case _ => None
      }
    }.toSeq).getOrElse(Nil)

  /** Every column name that ever existed under a PREVIOUS identity —
    * rename sources and dropped names. Reusing one would make old file
    * data resurrect under the new identity (the Iceberg trap that
    * field-ids dodge and name-based mapping must refuse).
    */
  private def retiredNames(): Set[String] =
    colMapOps().collect {
      case ("rename", old, _) => old
      case ("drop", name, _)  => name
    }.toSet

  private def applyColumnMap(df: DataFrame): DataFrame =
    colMapOps().foldLeft(df) { (d, op) =>
      op match {
        case ("rename", oldN, newN) =>
          if (d.columns.contains(oldN) && d.columns.contains(newN))
            // mixed vintages in one read: old files carry oldN, new
            // files carry newN — exactly one side is non-null per row
            d.withColumn(newN, coalesce(col(newN), col(oldN))).drop(oldN)
          else if (d.columns.contains(oldN)) d.withColumnRenamed(oldN, newN)
          else d
        case ("drop", name, _) =>
          if (d.columns.contains(name)) d.drop(name) else d
        case ("widen", name, typeDdl) =>
          // files written before the widening carry the narrow type;
          // the cast presents the declared one (idempotent on files
          // already written wide). mergeSchema never sees a mixed
          // vintage because widenColumn converges layout at DDL time
          // (same invariant as rename/drop)
          if (d.columns.contains(name))
            d.withColumn(name, col(name).cast(
              org.apache.spark.sql.types.DataType.fromDDL(typeDdl)))
          else d
        case _ => d
      }
    }

  // ---- partition-spec evolution ----

  /** Record a partition-spec evolution at the CURRENT snapshot
    * boundary — Iceberg's `ADD PARTITION FIELD` semantics: snapshots
    * at or below the boundary keep their physical layout (identity
    * partition values live in their data PAGES, exactly where an
    * unevolved write put them); snapshots above it hive-partition by
    * the new spec. Reads need no marker (the catalog scan behind
    * [[readParquet]] reads each vintage's files through one file index
    * per Hive layout and aligns the layouts by name, and partition
    * pruning conservatively keeps files lacking a `col=` segment);
    * the marker exists so Iceberg EXPORT can describe each vintage
    * under ITS OWN spec (multi-spec export: one data manifest per
    * (snapshot, spec), per-manifest `partition_spec_id`) and so
    * partition-scoped verbs that cannot see inside a pre-evolution
    * dir (INSERT OVERWRITE PARTITION's keep/replace split) can refuse
    * until compact() converges the layout. One line per evolution:
    * `boundary|fromCsv|toCsv`.
    */
  def recordPartitionEvolution(from: Seq[String], to: Seq[String]): Unit =
    withCommitLock {
      val p = s"$metaDir/PARTITION_EVOLUTION"
      val prior = fs.readString(p).getOrElse("")
      fs.writeString(p,
        prior + s"$latestSnapshotId|${from.mkString(",")}|${to.mkString(",")}\n")
    }

  /** Recorded evolutions, oldest first: (boundary snapshot id, old
    * partitionBy, new partitionBy).
    */
  def partitionEvolutions: Seq[(Long, Seq[String], Seq[String])] =
    fs.readString(s"$metaDir/PARTITION_EVOLUTION").toSeq
      .flatMap(_.linesIterator)
      .filter(_.nonEmpty)
      .map { l =>
        val Array(b, from, to) = l.split("\\|", -1)
        (b.toLong,
          from.split(",").toSeq.filter(_.nonEmpty),
          to.split(",").toSeq.filter(_.nonEmpty))
      }

  /** Every column that has EVER been a partition column — the current
    * spec plus both sides of every recorded evolution. This is the set
    * path-segment parsing and the read's partition values must
    * recognize: after a DROP PARTITION FIELD, live pre-drop dirs still carry
    * `col=value` segments for a column the CURRENT spec no longer
    * lists (their values live only in the dir names), and a kept
    * partition-subdir reference must still strip to its snapshot root.
    */
  def historicalPartitionCols: Seq[String] =
    (partitionBy ++ partitionEvolutions.flatMap(e => e._2 ++ e._3)).distinct

  /** RENAME COLUMN as METADATA-ONLY evolution: one mapping line, no
    * data rewrite; all reads — current, union, time travel — present
    * the new name with the old files' data. Files written after the
    * rename carry the new name natively ([[tier]]/[[compact]] read
    * through the mapping, so maintenance naturally converges the
    * physical layout). Key/layout columns (pk, partition, bloom) are
    * refused — their names are load-bearing in manifests and sidecars.
    */
  def renameColumn(oldName: String, newName: String): Unit = withCommitLock {
    val cols = readUnion().columns.toSet
    require(cols.contains(oldName), s"no column $oldName in $tablePath")
    require(!cols.contains(newName), s"column $newName already exists")
    require(!retiredNames().contains(newName),
      s"$newName was a previous column's name — reusing it would " +
        "resurrect old file data under the new identity")
    require(!(pk ++ historicalPartitionCols ++ bloomCols).contains(oldName),
      s"$oldName is a key/layout column (pk/partition/bloom) — " +
        "rename is refused; rebuild the table for key evolution")
    require(oldName != SeqCol && newName != SeqCol,
      "the internal version column cannot be renamed")
    appendColMap(s"rename\t$oldName\t$newName")
  }

  /** DROP COLUMN, metadata-only: the column disappears from every read
    * (history included) without touching a data file. The name is
    * retired permanently — see [[retiredNames]].
    */
  /** TYPE WIDENING (Iceberg's safe type promotions): byte/short/int →
    * a wider integral, float → double, decimal(p,s) → decimal(p'>p,s).
    * A mapping line casts old files' narrow values to the declared
    * type on every read — current, union, time travel — exact by
    * construction (these promotions are value-preserving, which is
    * WHY the unsafe ones refuse). Unlike rename/drop this verb ALSO
    * converges the live layout immediately (compact, then tier):
    * parquet's schema merge refuses a mixed-width column outright, so
    * no current read may ever see narrow and wide files in one list.
    * Old snapshots stay uniform-narrow and time-travel through the
    * cast. Rewrite-once-at-DDL, same cost stance as rename's SQL
    * path.
    */
  def widenColumn(name: String,
                  newType: org.apache.spark.sql.types.DataType): Unit =
    withCommitLock {
      // normalize to the column's DECLARED spelling: the COLMAP line
      // and the key-column guard below match literally, so a
      // case-mismatched caller name would write an inert mapping and
      // slip past the guard
      val field = readUnion().schema
        .find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"no column $name in $tablePath"))
      val actual = field.name
      val cur = field.dataType
      require(TieredTable.safeWiden(cur, newType),
        s"cannot change $name: ${cur.catalogString} -> " +
          s"${newType.catalogString} is not a value-preserving widening " +
          "(supported: integral -> wider integral, float -> double, " +
          "decimal(p,s) -> decimal(p'>p, s))")
      require(!(pk ++ historicalPartitionCols ++ bloomCols)
          .exists(_.equalsIgnoreCase(actual)),
        s"$actual is a key/layout column (pk/partition/bloom) — its " +
          "bytes are load-bearing in manifests and sidecars; widen is " +
          "refused")
      appendColMap(s"widen\t$actual\t${newType.catalogString}")
      // converge IMMEDIATELY — unlike rename (where both vintages
      // coexist as distinct columns and coalesce), a mixed-width
      // column is something parquet's schema merge refuses outright,
      // so no read may ever see narrow and wide files in one list.
      // Order matters: compact rewrites the cold tier wide FIRST
      // (uniform narrow in, wide out), then tier converts the hot
      // tail (uniform narrow segments → one wide file appended to the
      // already-wide cold list).
      if (latestSnapshotId > 0) compact()
      if (logSegments.exists(_ >
          currentSnapshot.map(_.tieredSeg).getOrElse(-1L))) tier()
    }

  def dropColumn(name: String): Unit = withCommitLock {
    require(readUnion().columns.contains(name), s"no column $name in $tablePath")
    require(!(pk ++ historicalPartitionCols ++ bloomCols).contains(name),
      s"$name is a key/layout column (pk/partition/bloom) — drop is refused")
    appendColMap(s"drop\t$name")
  }

  private def appendColMap(line: String): Unit =
    meta.put("COLMAP", meta.get("COLMAP").getOrElse("") + line + "\n")

  /** The one read of snapshot and segment dirs: the catalog's DSv2 scan
    * ([[TieredSqlTable.coldRead]]) over `files`, with the file schema
    * merged over every footer (later files may add columns, older rows
    * surface nulls there) and the column mapping presenting everything
    * through the current declared names ([[applyColumnMap]]). Filters
    * push below the mapping into the scan, so every API read prunes
    * files by stats and blooms — every root in one scan — and reports
    * `files_total` / `files_kept` on its scan node, as SQL reads do.
    * Snapshot/segment dirs are immutable once committed, so the frame is
    * memoized ([[SessionMemo]]): the schema job and the analysis happen
    * once per (table state, dir list) instead of once per query call.
    */
  private def readParquet(files: Seq[String]): DataFrame =
    SessionMemo(spark, "lake", Seq(tablePath,
        historicalPartitionCols.mkString(","),
        meta.get("COLMAP").getOrElse(""), files.mkString("\n")), files) {
      applyColumnMap(TieredSqlTable.coldRead(spark, this, files))
    }

  /** Last-write-wins over the raw version files, internals stripped:
    * the winner per PK by `__seq` desc, with the engine's `__seq` and
    * (for a bucketed layout) `__bucket` columns never surfacing. A raw
    * frame that carries `__bucket` is windowed by it too: the bucket is
    * a function of the PK, so the answer is the same, and a key-grouped
    * scan (the catalog's) then satisfies the window's clustering with no
    * exchange.
    */
  private def resolveVersions(raw: DataFrame): DataFrame = {
    val keys =
      if (bucketBy > 0 && raw.columns.contains(BucketCol)) BucketCol +: pk else pk
    val r = Upsert.latestByKey(raw, keys, Seq(col(SeqCol).desc)).drop(SeqCol)
    if (bucketBy > 0) r.drop(BucketCol) else r
  }

  def readCold(): DataFrame = currentSnapshot match {
    case None => throw new IllegalStateException(s"no snapshot in $tablePath")
    case Some(s) => readColdOf(s)
  }

  /** Time travel: the cold tier as of a specific committed snapshot
    * (Iceberg `VERSION AS OF`). Snapshots are immutable once committed,
    * so this is reproducible until [[vacuum]] drops the id.
    */
  def readColdAsOf(snapshotId: Long): DataFrame = snapshot(snapshotId) match {
    case None => throw new IllegalArgumentException(
      s"snapshot $snapshotId not found in $tablePath (vacuumed or never committed)")
    case Some(s) => readColdOf(s)
  }

  /** [[readColdOf]] for callers OUTSIDE the table (the SQL catalog's
    * merge-on-read resolution serves tag / branch / staged-WAP reads
    * from a Snapshot it already resolved by name): the snapshot's
    * files with last-write-wins applied — never the raw versions.
    */
  def readResolved(s: Snapshot): DataFrame = readColdOf(s)

  /** The one cold read of a snapshot: its files, with last-write-wins
    * applied on a merge-on-read PK table. [[readCold]], [[readColdAsOf]]
    * and [[readUnion]]'s cold leg read through it, and so does the
    * change feed, which computes a commit's delta from a Snapshot in
    * hand before its manifest publishes.
    */
  private def readColdOf(s: Snapshot): DataFrame = {
    val raw = readParquet(s.files)
    if (pk.isEmpty || !mergeOnRead) raw
    else resolveVersions(raw)
  }

  /** CDC-style incremental read: the changelog taking snapshot `from`
    * to snapshot `to`, keyed by `keyCols` — Iceberg's changelog-scan
    * analog, carrying the full Fluss/Flink upsert changelog contract
    * (reference README.md:153-169): `+I` keys only in `to`, `-D` keys
    * only in `from`, and for keys in both whose row content changed a
    * PAIR of rows — `-U` (update_before: the `from`-version row being
    * retracted) and `+U` (update_after: the `to`-version row). The
    * before-image is what lets a downstream aggregator retract the old
    * value without re-reading the prior snapshot. `+I`/`+U` rows carry
    * the `to` version, `-D`/`-U` the `from` version (schema-evolved
    * columns null where absent).
    *
    * Scale: ONE full-outer hash join on the key — each snapshot is
    * scanned exactly once, fingerprinted map-side, and every op kind
    * (including the -U/+U pair, whose two versions sit in the same
    * joined row) is derived from join-side presence + fingerprint
    * inequality, then emitted by a 0/1/2-row explode. No second
    * fingerprint pass, no anti/semi joins re-scanning a snapshot, no
    * driver state. Append-only lineages skip even that: a keyless
    * table whose `from` files all survive into `to` answers with a
    * straight scan of the NEW files as +I — O(new data), the dominant
    * tail-following case. This is the "consume only what changed"
    * primitive a downstream incremental pipeline (sync, re-index,
    * re-embed) wants instead of re-reading the table.
    */
  def incrementalRead(from: Long, to: Long, keyCols: Seq[String]): DataFrame = {
    def resolve(id: Long): Snapshot = snapshot(id).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $id not found in $tablePath (vacuumed or never committed)"))
    incrementalReadOf(resolve(from), resolve(to), keyCols)
  }

  /** [[incrementalRead]] over Snapshots IN HAND — the `to` side need
    * not be published yet (the change feed diffs a commit against its
    * parent before the manifest CAS).
    */
  private def incrementalReadOf(sa: Snapshot, sb: Snapshot,
                                keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "incrementalRead needs key columns")
    // APPEND-ONLY FAST PATH: when the table has no primary key and
    // every `from` file survives unchanged into `to` (pure-append
    // lineage — a delete/compact/rewrite would have dropped or
    // replaced a file and broken the subset), the changelog is
    // definitionally the new files' rows as +I: rows of a keyless
    // table are immutable facts, so nothing can have updated or
    // disappeared. Cost: O(new data) — no join, no fingerprints, and
    // the dominant CDC case (tail-following an append table) never
    // re-reads the base. Key-level diff semantics (the -U/+U pair
    // machinery) apply only to keyed tables, where the join path below
    // remains in force.
    val appendOnly: Option[Seq[String]] =
      if (pk.isEmpty && sa.files.toSet.subsetOf(sb.files.toSet))
        Some(sb.files.filterNot(sa.files.toSet))
      else None
    appendOnly match {
      case Some(newFiles) =>
        return if (newFiles.isEmpty)
          emptyLike(readColdOf(sb).schema.add("op", StringType))
        else readParquet(newFiles).withColumn("op", lit("+I"))
      case None =>
    }
    val a = readColdOf(sa)
    val b = readColdOf(sb)
    require(keyCols.forall(a.columns.contains),
      s"key columns ${keyCols.mkString(",")} missing in snapshot ${sa.id}")
    require(keyCols.forall(b.columns.contains),
      s"key columns ${keyCols.mkString(",")} missing in snapshot ${sb.id}")
    // row fingerprint over the columns both snapshots share, in a fixed
    // order. Each column is hashed SEPARATELY into a fixed-width 32-char
    // digest before the row-level hash: separator-based concat is
    // ambiguous whenever a value's string rendering contains the
    // separator (("ab","c") vs ("a","bc")); fixed-width blocks are not.
    // The null marker is 32 dashes — not a hex string, so it can never
    // collide with a real md5 digest. The fingerprint doubles as the
    // side-presence flag: it is non-null exactly when the side matched
    // (coalesce makes it non-null for every real row).
    val common = b.columns.filter(a.columns.contains).sorted.toSeq
    def fp(df: DataFrame) = md5(concat(
      common.map(c => coalesce(md5(col(c).cast("string")), lit("-" * 32))): _*))
    def nonKey(df: DataFrame) = df.columns.filterNot(keyCols.contains).toSeq
    val aPref = a.select(keyCols.map(col) ++
      nonKey(a).map(c => col(c).as(s"__a_$c")) :+ fp(a).as("__fp_a"): _*)
    val bPref = b.select(keyCols.map(col) ++
      nonKey(b).map(c => col(c).as(s"__b_$c")) :+ fp(b).as("__fp_b"): _*)
    // USING-join keys coalesce across sides; null keys never match (SQL
    // join semantics), so a null-key row surfaces as unmatched on its
    // own side — +I when only in `to`, -D when only in `from`.
    val j = aPref.join(bPref, keyCols, "full_outer")
      // unchanged rows (the overwhelming majority between adjacent
      // snapshots) drop BEFORE the explode; null-safe: a missing side
      // makes the comparison null = changed
      .filter(coalesce(col("__fp_a") =!= col("__fp_b"), lit(true)))
    // output layout = the old unionByName union schema: `to`-version
    // columns, op, then any a-only (schema-evolution) leftovers; each
    // version-struct draws from its own side, null where the column
    // does not exist on that side (typed from whichever side has it)
    val outCols = b.columns.toSeq ++
      a.columns.filterNot(b.columns.contains).toSeq
    def typeOf(c: String) = b.schema.find(_.name == c)
      .orElse(a.schema.find(_.name == c)).get.dataType
    def verStruct(op: String, side: String) = struct(
      outCols.map { c =>
        val v =
          if (keyCols.contains(c)) col(c)
          else if (side == "a" && a.columns.contains(c)) col(s"__a_$c")
          else if (side == "b" && b.columns.contains(c)) col(s"__b_$c")
          else lit(null)
        v.cast(typeOf(c)).as(c)
      } :+ lit(op).as("op"): _*)
    val rows = when(col("__fp_a").isNull, array(verStruct("+I", "b")))
      .when(col("__fp_b").isNull, array(verStruct("-D", "a")))
      .otherwise(array(verStruct("-U", "a"), verStruct("+U", "b")))
    j.select(explode(rows).as("__r")).select(col("__r.*"))
  }

  /** Pull-based changelog consumption — the polling analog of the
    * reference's continuous changelog subscription (README.md:153-169):
    * returns `(nextCursor, changelog)` where the changelog carries
    * every change AFTER snapshot `fromSnapshot` up to the current
    * snapshot, and `nextCursor` is the snapshot id to pass on the next
    * poll. Exactly-once per snapshot range by construction — the
    * cursor IS a snapshot id, so a consumer that persists it with its
    * own output (the Kafka-offset pattern) is resume-safe across
    * process restarts; commits that land between polls coalesce into
    * one delta (intermediate versions of a key collapse, which is the
    * snapshot-diff semantic — consumers needing every intermediate
    * version poll per snapshot id instead).
    *
    * `fromSnapshot = 0` bootstraps: the whole current snapshot arrives
    * as `+I` (no diff join — one scan). An unchanged table returns an
    * EMPTY frame without reading data pages (one manifest read; the
    * schema is the memoized cold read's), so idle polling stays cheap
    * at any table size.
    */
  def changelogSince(fromSnapshot: Long,
                     keyCols: Seq[String]): (Long, DataFrame) = {
    val cur = latestSnapshotId
    require(cur > 0, s"no committed snapshot in $tablePath — nothing to follow")
    require(fromSnapshot >= 0 && fromSnapshot <= cur,
      s"cursor $fromSnapshot out of range (current snapshot is $cur)")
    if (fromSnapshot == 0)
      (cur, readColdAsOf(cur).withColumn("op", lit("+I")))
    else if (fromSnapshot == cur)
      (cur, emptyLike(readColdAsOf(cur).schema.add("op", StringType)))
    else (cur, incrementalRead(fromSnapshot, cur, keyCols))
  }

  /** Cold-tier parquet paths as of the latest snapshot (one manifest
    * read) — the SQL catalog hands these straight to Spark's parquet
    * source.
    */
  def coldFiles: Seq[String] =
    currentSnapshot.map(_.files)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $tablePath"))

  /** Cold ∪ hot-tail paths under the same single-manifest-read boundary
    * as [[readUnion]].
    */
  def unionPaths: Seq[String] = {
    val snap = currentSnapshot
    val watermark = snap.map(_.tieredSeg).getOrElse(-1L)
    snap.map(_.files).getOrElse(Nil) ++
      logSegments.filter(_ > watermark).map(segPath(_))
  }

  /** Hot tail: log segments not yet covered by the latest snapshot. */
  def readHot(): DataFrame = {
    val watermark = currentSnapshot.map(_.tieredSeg).getOrElse(-1L)
    val segs = logSegments.filter(_ > watermark)
    if (segs.isEmpty)
      emptyLike(StructType(readUnion().schema.filterNot(_.name == SeqCol)))
    else readParquet(segs.map(segPath(_)))
  }

  /** The union read (Flink batch role): cold ∪ hot tail, exactly once per
    * row — the hot/cold boundary is the tieredSeg watermark resolved from
    * ONE manifest read, so a concurrent tiering commit can't double-count
    * (SURVEY.md §4.3).
    */
  def readUnion(): DataFrame = {
    val snap = currentSnapshot
    val watermark = snap.map(_.tieredSeg).getOrElse(-1L)
    val hotSegs = logSegments.filter(_ > watermark)
    val hot =
      if (hotSegs.isEmpty) None
      else Some(readParquet(hotSegs.map(segPath(_))))
    val cold = snap.map(readColdOf)
    (cold, hot) match {
      // allowMissingColumns: a column added mid-stream is null for the
      // tier that predates it
      case (Some(c), Some(h)) => c.unionByName(h, allowMissingColumns = true)
      case (Some(c), None)    => c
      case (None, Some(h))    => h
      case (None, None) => throw new IllegalStateException(s"empty table $tablePath")
    }
  }

  /** The same log, as an unbounded Structured Streaming source (the
    * reference's runtime-mode switch, SURVEY.md §2 C3: one table readable
    * both batch and streaming). Spark's file source discovers new segment
    * files as they are atomically renamed in — a committed segment is
    * visible wholly or not at all. `schema` is required because the
    * stream may start before the first append.
    */
  def readStreamLog(schema: StructType,
                    maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$tablePath/log/seg-*")

  /** Register the table for `spark.sql` (the reference's catalog
    * surface, README.md:270-275): `name` = union read (Flink batch
    * role), `name__cold` = committed tier only (Trino role),
    * `name__snapshots` = snapshot metadata (the reference's
    * `"t$snapshots"` — Spark forbids `$` in view names, hence `__`).
    * Views capture the state as of registration (snapshot isolation);
    * re-register to advance.
    */
  def createOrReplaceViews(name: String): Unit = {
    readUnion().createOrReplaceTempView(name)
    readCold().createOrReplaceTempView(s"${name}__cold")
    snapshots().createOrReplaceTempView(s"${name}__snapshots")
  }

  /** Snapshot-metadata table (reference README.md:275 —
    * `SELECT * FROM "t$snapshots"`).
    */
  def snapshots(): DataFrame = {
    val rows = (1L to latestSnapshotId).flatMap(snapshot).map { s =>
      Row(s.id, s.parentId.map(Long.box).orNull, s.op, s.rowsAdded,
        s.tieredSeg, new java.sql.Timestamp(s.committedAt),
        manifestList(s.id), s.summary)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("snapshot_id", LongType, nullable = false),
        StructField("parent_id", LongType, nullable = true),
        StructField("operation", StringType, nullable = false),
        StructField("rows_added", LongType, nullable = false),
        StructField("tiered_seg", LongType, nullable = false),
        StructField("committed_at", TimestampType, nullable = false),
        StructField("manifest_list", StringType, nullable = false),
        StructField("summary", MapType(StringType, StringType, false),
          nullable = false))))
  }
}

object TieredTable {

  /** The reserved bucket-layout column of a `bucketBy` merge-on-read
    * table — engine-internal like `__seq`, never surfaced by a read.
    */
  val BucketCol = "__bucket"

  /** Bucket-layout hash kernels (persisted at `meta/BUCKET_KERNEL`). */
  val BucketKernelIceberg = "iceberg"
  val BucketKernelSpark = "spark"

  /** The kernel a fresh bucketed table gets: the Iceberg-spec
    * `bucket[N]` transform when the PK is a single column of a type
    * the spec transform covers (then the layout IS an Iceberg
    * partition spec and the table exports by reference with working
    * external bucket pruning); Spark murmur3 over all PK columns
    * otherwise (multi-column PK — Iceberg's bucket is single-source).
    */
  def bucketKernelFor(pkFields: Seq[org.apache.spark.sql.types.StructField]): String = {
    import org.apache.spark.sql.types._
    val eligible = pkFields.size == 1 && (pkFields.head.dataType match {
      case IntegerType | LongType | DateType | StringType |
           TimestampType | TimestampNTZType => true
      case _ => false
    })
    if (eligible) BucketKernelIceberg else BucketKernelSpark
  }

  /** Column names the SQL DDL refuses: `__seq`/`__bucket` are filtered
    * from the merge-on-read SQL face (a user column by either name
    * would be silently unreachable), and `__ow_seq`/`__rn` are the
    * write path's WORKING columns (within-batch LWW, window dedup) —
    * a user column by those names would be overwritten and dropped by
    * every PK write.
    */
  val SqlReserved: Seq[String] = Seq("__seq", BucketCol, "__ow_seq", "__rn")

  /** The ONE table-path normalization (class and companion share it —
    * meta files must be read from exactly the string they were written
    * to). `file:`-scheme URIs become plain paths (`Paths.get` would
    * treat the URI as RELATIVE and create the tree under the CWD);
    * object-store URLs lose a trailing slash; other schemes reject.
    */
  def normalizePath(raw: String): String =
    if (raw.startsWith("file:")) {
      val p = raw.stripPrefix("file:")
      val slashless = p.replaceFirst("^/{2}(?=/)", "") // file:///x → /x
      require(slashless.startsWith("/"),
        s"malformed file: URI for table path: $raw")
      slashless
    } else if (raw.startsWith(GraftObjectFileSystem.Scheme + "://")) {
      raw.stripSuffix("/")
    } else {
      require(!raw.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*"),
        s"unsupported URI scheme for table path: $raw " +
          s"(local paths or ${GraftObjectFileSystem.Scheme}:// only)")
      raw
    }

  /** Meta key recording the change-feed retention horizon (see
    * [[TieredTable.changeFeedHorizon]]).
    */
  private[storage] val ChangesHorizonKey = "changes-horizon"

  def apply(spark: SparkSession, path: String, pk: Seq[String] = Nil,
            mergeOnRead: Boolean = false,
            partitionBy: Seq[String] = Nil,
            bloomCols: Seq[String] = Nil,
            metaStore: MetaStore = null,
            changeDataFeed: Boolean = false,
            icebergExport: Boolean = false,
            sortBy: Seq[String] = Nil,
            bucketBy: Int = 0): TieredTable = {
    // SELF-CONFIGURING bucket layout: the bucket count persists at
    // meta/BUCKETS (first bucketed commit / CREATE TABLE writes it),
    // so EVERY open of the table — catalog, procedures, TVFs, a fresh
    // process — resolves the layout without threading the parameter.
    // A caller-passed bucketBy wins (and will persist on first commit).
    // bucketBy semantics: > 0 = the known count (validated against
    // meta/BUCKETS at the first write); 0 = unknown, PROBE the
    // persisted layout; -1 = known unbucketed (the catalog passes it
    // for entries that carry their own bucket field), no probe — the
    // hot analysis path never pays a filesystem read. The probe is
    // deliberately NOT memoized: a cache keyed by path would survive
    // DROP TABLE and hand a fresh table at the same path the dead
    // table's layout (a silent key-split); one small meta read per
    // bare API open is the honest price.
    val b =
      if (bucketBy > 0) bucketBy
      else if (bucketBy == 0 && pk.nonEmpty && mergeOnRead) {
        val p = normalizePath(path)
        TableFs.forPath(p).readString(s"$p/meta/BUCKETS")
          .map(_.trim.toInt).getOrElse(0)
      } else 0
    new TieredTable(spark, path, pk, mergeOnRead,
      if (b > 0) Seq(BucketCol) else partitionBy, bloomCols,
      metaStore, changeDataFeed, icebergExport, sortBy, b)
  }

  /** A concurrent committer (another process) won the snapshot id this
    * commit targeted. The table is uncorrupted; the commit did not
    * publish. Reload state and retry — [[retryOnConflict]] does exactly
    * that for the idempotently-recomputable verbs.
    */
  class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Value-preserving type promotions (Iceberg's safe set): widening
    * never changes a value, only its container — which is why
    * anything else (narrowing, string/number crossings, scale
    * changes) refuses.
    */
  private[graft] def safeWiden(from: org.apache.spark.sql.types.DataType,
                                 to: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    def rank(d: DataType): Int = d match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4; case _ => -1
    }
    (from, to) match {
      case (f, t) if rank(f) > 0 && rank(t) > 0 => rank(t) > rank(f)
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Retry `commit` on [[CommitConflictException]] up to `maxAttempts`
    * times. Correct for every TieredTable verb because each one
    * re-reads `currentSnapshot`/`logSegments` inside its own commit
    * section — a retry recomputes against the state the winning
    * committer published, exactly the Iceberg-client retry loop.
    * Data files written by a failed attempt are orphaned (never
    * referenced by any manifest) and reclaimed by maintenance.
    */
  def retryOnConflict[A](maxAttempts: Int = 3)(commit: => A): A = {
    var attempt = 1
    while (true) {
      try return commit
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** One commit lock per table path: all writes to a table flow through
    * the (single) Spark driver, so a JVM-level stripe is the right
    * mutual exclusion for concurrent writer THREADS (streaming sinks +
    * ad-hoc SQL INSERTs). Cross-process writers are out of scope by
    * design — on a cluster that role belongs to a catalog's
    * compare-and-swap (Iceberg's commit protocol), which would replace
    * [[TieredTable.commitManifest]]'s rename.
    */
  private val commitLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private[storage] def lockFor(path: String): Object =
    commitLocks.getOrElseUpdate(path, new Object)
}
