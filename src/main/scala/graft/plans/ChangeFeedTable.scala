package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.TieredTable

/** The change-data feed as a first-class DSv2 metadata table — the
  * Delta/Iceberg spelling every streaming consumer expects:
  *
  * {{{
  * spark.readStream.table("graft.db.`t$changes`")   // continuous
  * spark.read.table("graft.db.`t$changes`")         // full feed, batch
  * }}}
  *
  * Schema = the base table's columns + `op` (the +I/+U/-U/-D tag each
  * change file carries). Streaming offsets are CHANGE-DIRECTORY
  * SNAPSHOT IDS — the cursor design of
  * [[graft.storage.TieredTable.changelogSince]] lifted into Spark's
  * offset log: `latestOffset` is one directory listing (no data read),
  * a micro-batch (start, end] plans exactly the committed
  * `changes/snap-N` directories in that id range, and replay after a
  * crash re-plans the SAME ids from the checkpointed offsets, so a
  * consumer under a checkpoint gets exactly-once delivery without the
  * file-source's per-file log. Vacuum retires change dirs with their
  * snapshots; a consumer whose checkpoint lags past the vacuum horizon
  * fails loudly on the missing directory instead of silently skipping
  * (same files-vs-retention contract as Delta CDF).
  *
  * Reading rides Spark's own vectorized parquet scan: each batch
  * delegates planning and reader creation to a [[ParquetTable]] scan
  * over the selected directories — no hand-rolled parquet reader, and
  * every pushdown/codegen property of the stock source is preserved.
  */
class ChangeFeedTable(tableName: String, spark: SparkSession,
                      t: TieredTable, tableSchema: StructType)
    extends Table with SupportsRead {

  private val feedSchema = tableSchema.add("op", StringType)

  override def name(): String = tableName
  override def schema(): StructType = feedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  /** Inner parquet scan over a set of change dirs, with the feed's
    * declared schema (files store data columns + op).
    */
  private def innerScan(dirs: Seq[String]): Scan =
    ParquetTable(tableName, spark,
      new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava),
      dirs, Some(feedSchema), classOf[ParquetFileFormat])
      .newScanBuilder(CaseInsensitiveStringMap.empty())
      .build()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = feedSchema
        override def description(): String = s"$tableName (change feed)"
        override def toBatch: Batch = {
          val ids = t.committedChangeIds()
          if (ids.isEmpty) EmptyBatch
          else innerScan(ids.map(t.changeDirPath)).toBatch
        }
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream =
          new ChangeFeedStream(tableName, t,
            dirs => innerScan(dirs),
            Option(options.get("maxSnapshotsPerTrigger")).map(_.toInt))
      }
    }

  private object EmptyBatch extends Batch {
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory =
      (_: InputPartition) =>
        throw new IllegalStateException("empty change feed has no partitions")
  }
}

/** Offset = highest change-directory snapshot id consumed (0 = none). */
case class ChangeFeedOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

class ChangeFeedStream(tableName: String, t: TieredTable,
                       scanOver: Seq[String] => Scan,
                       maxSnapshotsPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** `Trigger.AvailableNow`: pin the drain target at query start so
    * the run processes exactly the feed available THEN (in bounded
    * admission-control batches) and stops — commits landing mid-drain
    * wait for the next run.
    */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      Some(t.committedChangeIds().lastOption.getOrElse(t.changeFeedHorizon))

  /** A fresh consumer bootstraps from the suffix that retention kept:
    * deltas at or below the recorded vacuum horizon are gone, and that
    * history belongs to the batch read.
    */
  override def initialOffset(): Offset =
    ChangeFeedOffset(t.changeFeedHorizon)

  override def latestOffset(): Offset =
    ChangeFeedOffset(t.committedChangeIds().lastOption.getOrElse(0L))

  /** ADMISSION CONTROL (`.option("maxSnapshotsPerTrigger", n)`): a
    * consumer catching up after downtime advances at most `n` change
    * directories per micro-batch instead of planning the whole backlog
    * as one giant batch — at a 30 s tiering cadence a day of downtime
    * is ~2.9 k snapshots, and bounded batches keep executor memory and
    * commit latency flat during catch-up. Default: drain everything
    * (the small-backlog case).
    */
  override def getDefaultReadLimit: ReadLimit =
    maxSnapshotsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ChangeFeedOffset].id
    val pending = t.committedChangeIds()
      .filter(id => id > s && availableNowCap.forall(id <= _))
    val taken = limit match {
      case m: ReadMaxFiles => pending.take(m.maxFiles())
      case _ => pending
    }
    ChangeFeedOffset(taken.lastOption.getOrElse(s))
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    ChangeFeedOffset(json.trim.toLong)

  /** The (start, end] id range as parquet input partitions. Replay
    * determinism: the same offsets always name the same committed
    * directories. Ids are legitimately sparse (a maintenance commit
    * publishes no delta); retention is the snapshot-retention contract
    * — a consumer whose checkpoint lags past [[TieredTable.vacuum]]'s
    * horizon has lost replayability, same as Delta CDF.
    */
  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ChangeFeedOffset].id
    val e = end.asInstanceOf[ChangeFeedOffset].id
    if (e <= s) return Array.empty
    // retention contract, enforced: the recorded vacuum horizon tells
    // "delta retired before you read it" (loud failure) apart from
    // "snapshot that never published a delta" (legitimately sparse
    // ids) — after the dirs are gone the two are otherwise
    // indistinguishable, and silent skipping would look identical to
    // an empty feed
    val horizon = t.changeFeedHorizon
    if (s < horizon) throw new IllegalStateException(
      s"$tableName: change deltas ${s + 1}..$horizon were retired " +
        "(vacuum) before this consumer read them — restart from a " +
        "fresh checkpoint and backfill from the batch read " +
        "(spark.read.table)")
    val ids = t.committedChangeIds().filter(id => id > s && id <= e)
    if (ids.isEmpty) Array.empty
    else scanOver(ids.map(t.changeDirPath)).toBatch.planInputPartitions()
  }

  /** Factory from a scan over ONE committed dir — the reader factory
    * only captures schema + hadoop conf, so any single delta dir (or
    * none) suffices to build it, and it then serves partitions from
    * any id range of this feed. Listing EVERY dir here (the obvious
    * spelling) would cost O(entire feed) per micro-batch — quadratic
    * over a catch-up through a deep backlog.
    */
  override def createReaderFactory(): PartitionReaderFactory =
    scanOver(t.committedChangeIds().headOption.map(t.changeDirPath).toSeq)
      .toBatch.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Streaming-progress source description. */
  override def toString: String = s"$tableName (change feed)"
}

/** Offset = highest log-segment id consumed. Segment ids start at 0
  * (unlike change-dir snapshot ids, which start at 1), so the
  * nothing-consumed sentinel is -1.
  */
case class LogTailOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

/** Streaming source over a LOG table's hot tail — the DSv2 spelling of
  * the reference's streaming SELECT from an append table (the
  * runtime-mode switch's streaming half):
  *
  * {{{ spark.readStream.table("graft.db.t") }}}
  *
  * Offsets are LOG-SEGMENT IDS, the same cursor design as the change
  * feed's snapshot ids: `latestOffset` is one listing of committed
  * segments (no data read), a micro-batch (start, end] plans exactly
  * the segments in that id range, and checkpointed offsets replay the
  * SAME ids after a crash — exactly-once without a per-file log. A
  * segment is visible all-or-nothing (atomic rename locally, `_SEG`
  * marker object remotely), so a batch never sees a partial append.
  * History that was already tiered before the stream started is the
  * BATCH read's business (`spark.read.table`); retention is the
  * tiering/vacuum contract — a consumer lagging past vacuum's horizon
  * fails loudly on the missing segment rather than silently skipping.
  *
  * `.option("maxSegmentsPerTrigger", n)` bounds catch-up batches, same
  * admission-control shape as the change feed.
  */
class LogTailStream(tableName: String, t: TieredTable,
                    scanOver: Seq[String] => Scan,
                    maxSegmentsPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** `Trigger.AvailableNow`: drain exactly the segments committed at
    * query start, then stop (same contract as the change feed above).
    */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(t.logSegments.lastOption.getOrElse(-1L))

  /** A fresh consumer bootstraps from the oldest SURVIVING segment —
    * history that tiering+vacuum already retired into the cold tier is
    * the batch read's business, not a failure. When the hot log is
    * EMPTY at start, bootstrap from the tiering watermark, not from
    * -1: segment ids keep counting past vacuumed history, so a -1
    * cursor would trip the retirement guard on the very first segment
    * committed after start (a consumer that never lagged).
    */
  override def initialOffset(): Offset =
    LogTailOffset(t.logSegments.headOption.map(_ - 1).getOrElse(
      t.currentSnapshot.map(_.tieredSeg).getOrElse(-1L)))

  override def latestOffset(): Offset =
    LogTailOffset(t.logSegments.lastOption.getOrElse(-1L))

  override def getDefaultReadLimit: ReadLimit =
    maxSegmentsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LogTailOffset].id
    val pending = t.logSegments
      .filter(id => id > s && availableNowCap.forall(id <= _))
    val taken = limit match {
      case m: ReadMaxFiles => pending.take(m.maxFiles())
      case _ => pending
    }
    LogTailOffset(taken.lastOption.getOrElse(s))
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    LogTailOffset(json.trim.toLong)

  /** One scan over the batch's segment dirs (one file index over all
    * their files), whose partitions are plain file partitions: the
    * reader factory below is the oldest segment's parquet factory
    * (schema + conf — file paths and partition values ride inside each
    * planned partition), so partitions from any id range pair with it.
    */
  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogTailOffset].id
    val e = end.asInstanceOf[LogTailOffset].id
    if (e <= s) return Array.empty
    val listed = t.logSegments
    // retention contract: a CHECKPOINTED consumer lagging past
    // vacuum's horizon has lost replayability — fail loudly rather
    // than silently skipping the retired prefix (ids are allocated
    // densely, so a missing prefix below the oldest survivor can only
    // mean retirement, never a skipped allocation)
    listed.headOption.filter(min => s + 1 < min).foreach { min =>
      throw new IllegalStateException(
        s"$tableName: log segments ${s + 1}..${min - 1} were retired " +
          "(tiering + vacuum) before this consumer read them — restart " +
          "from a fresh checkpoint and backfill history from the batch " +
          "read (spark.read.table)")
    }
    val ids = listed.filter(id => id > s && id <= e)
    scanOver(ids.map(t.segmentDirPath)).toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scanOver(t.logSegments.headOption.map(t.segmentDirPath).toSeq)
      .toBatch.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String = s"$tableName (log tail)"
}
