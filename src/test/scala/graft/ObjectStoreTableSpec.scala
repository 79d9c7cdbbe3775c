package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{IcebergExport, TieredTable}

/** The OBJECT-STORE DATA PLANE end-to-end: a `graftos://` table whose
  * parquet, log segments, change files, sidecars AND metadata all live
  * in the HTTP object store ([[ObjectStoreStub]] — the S3/MinIO
  * semantics over real sockets; the reference's warehouse,
  * docker-compose.yml:139-155). Zero files on local disk, zero rename
  * dependence: data publication is marker objects, commit atomicity is
  * the MetaStore conditional PUT.
  */
class ObjectStoreTableSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshTable(cdf: Boolean = false): (TieredTable, String) = {
    val root = ObjectStoreStub.freshBucketFsUrl() + "/t"
    (TieredTable(spark, root, changeDataFeed = cdf), root)
  }
  private def bucketKey(root: String): String =
    root.replaceFirst("^graftos://[^/]+/", "")

  test("append/tier/union/time-travel e2e with zero local data files") {
    val (t, root) = freshTable()
    // hot appends (log segments published via _SEG marker objects)
    t.appendLog(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.appendLog(Seq((3L, "c")).toDF("id", "v"))
    assert(t.logSegments == Seq(0L, 1L))
    // tag idempotence across the marker protocol
    val segId = t.appendLog(Seq((99L, "z")).toDF("id", "v"), tag = Some("b-1"))
    assert(t.appendLog(Seq((99L, "z")).toDF("id", "v"), tag = Some("b-1")) == segId)

    t.tier()                                             // snapshot 1: cold
    assert(t.readCold().count() == 4L)
    t.appendLog(Seq((4L, "d")).toDF("id", "v"))          // hot tail
    // union read: cold ∪ hot, every row exactly once
    assert(t.readUnion().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 99L))

    t.commitAppend(Seq((5L, "e")).toDF("id", "v"))       // snapshot 2
    // time travel re-resolves snapshot 1's file list from the manifests
    assert(t.readColdAsOf(1L).count() == 4L)
    assert(t.readColdAsOf(2L).count() == 5L)

    // THE POINT: nothing of this table landed on the local filesystem…
    assert(!Files.exists(Paths.get(root)) &&
      !Files.exists(Paths.get("graftos:")),
      "a graftos table must not leak onto the local disk")
    // …and the bucket holds the parquet, the _SEG markers, the stats
    // sidecars, and the manifests
    val keys = ObjectStoreStub.keysUnder(bucketKey(root))
    assert(keys.exists(k => k.contains("/data/snap-000001/") &&
      k.endsWith(".parquet")), s"cold parquet must live in the bucket")
    assert(keys.exists(_.endsWith("/_SEG")), "segment markers in the bucket")
    assert(keys.exists(_.endsWith("/_graft_stats")), "sidecars in the bucket")
    assert(keys.exists(_.endsWith("meta/LATEST")), "metadata in the bucket")
  }

  test("reads are ranged: seek/readFully windows round-trip without whole-object GETs") {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = ObjectStoreStub.freshBucketFsUrl()
    val tfs = graft.storage.TableFs.forPath(root)
    val payload = Array.tabulate[Byte](100000)(i => (i * 131 % 251).toByte)
    tfs.writeBytes(s"$root/blob.bin", payload)
    val fs = new HPath(s"$root/blob.bin")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new HPath(s"$root/blob.bin"))
    try {
      // positioned window from the middle (the parquet row-group shape)
      val mid = new Array[Byte](1234)
      in.readFully(54321L, mid)
      assert(mid.toSeq == payload.slice(54321, 54321 + 1234).toSeq)
      // tail probe (the parquet footer shape)
      val tail = new Array[Byte](8)
      in.readFully(payload.length - 8L, tail)
      assert(tail.toSeq == payload.takeRight(8).toSeq)
      // seek + sequential read across a window boundary
      in.seek(99990L)
      val rest = new Array[Byte](16)
      val n = in.read(rest, 0, 16)
      assert(n == 10 && rest.take(10).toSeq == payload.takeRight(10).toSeq)
      assert(in.read() == -1, "EOF after the last byte")
    } finally in.close()
  }

  test("remote appendLog claims its segment id via the metadata CAS") {
    import graft.storage.HttpMetaStore
    val bucket = ObjectStoreStub.freshBucketUrl()
    val root = bucket.replaceFirst("^http://", "graftos://") + "/t"
    val t = TieredTable(spark, root)
    assert(t.appendLog(Seq((1L, "a")).toDF("id", "v")) == 0L)
    // a concurrent driver's in-flight claim on the next id: this
    // writer must NOT write into the claimed prefix (locally the
    // atomic rename arbitrates; remotely the conditional PUT does)
    val foreignMeta = new HttpMetaStore(s"$bucket/t/meta")
    assert(foreignMeta.putIfAbsent("segclaim-000001", ""))
    assert(t.appendLog(Seq((2L, "b")).toDF("id", "v")) == 2L,
      "the claimed id must be skipped, not co-written")
    assert(t.logSegments == Seq(0L, 2L),
      "sparse segment ids are legal; the dead claim leaves a gap")
    assert(t.readUnion().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // tiering + vacuum retire the claims with their segments
    t.tier()
    t.vacuum(keepLast = 1)
    assert(foreignMeta.get("segclaim-000002").isEmpty,
      "vacuum must retire the claims of tiered-away segments")
  }

  test("file-skipping sidecars prune object-store scans") {
    val (t, _) = freshTable()
    t.commitAppend(spark.range(0, 100)
      .selectExpr("id", "CAST(id AS STRING) AS v").coalesce(1))
    t.commitAppend(spark.range(1000, 1100)
      .selectExpr("id", "CAST(id AS STRING) AS v").coalesce(1))
    val got = t.readCold().filter(col("id").between(1040L, 1050L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (1040L to 1050L))
  }

  test("change-data feed streams from the bucket, exactly-once under a checkpoint") {
    val (t, root) = freshTable(cdf = true)
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))  // snap 1
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"))             // snap 2
    val keys = ObjectStoreStub.keysUnder(bucketKey(root))
    assert(keys.exists(k => k.contains("/changes/snap-000001/") &&
      k.endsWith(".parquet")), "change files must live in the bucket")
    assert(keys.exists(_.endsWith("/changes/snap-000001/_COLUMNS")))

    val ckpt = Files.createTempDirectory("graft-os-ckpt").toString
    val outDir = Files.createTempDirectory("graft-os-out").toString
    def runStream(): Unit = {
      val q = t.readStreamChanges(t.readCold().schema)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000L)
    }
    runStream()
    assert(spark.read.parquet(outDir).count() == 3L)
    // restart after one more commit: only the new delta is delivered
    t.commitAppend(Seq((4L, "d")).toDF("id", "v"))             // snap 3
    runStream()
    assert(spark.read.parquet(outDir)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L),
      "checkpointed consumer must see every change row exactly once")
  }

  test("a crashed remote change finalize converges — no permanent partial delta") {
    val (t, root) = freshTable(cdf = true)
    t.commitAppend(Seq((1L, "a")).toDF("id", "v"))            // snap 1
    t.commitAppend(Seq((2L, "b"), (3L, "c")).toDF("id", "v")) // snap 2
    val uuid = t.snapshot(2L).get.changeDir
    assert(uuid.nonEmpty)
    val tfs = graft.storage.TableFs.forPath(root)
    val target = s"$root/changes/snap-000002"
    val tmp = s"$root/changes/_tmp-snap-000002-$uuid"
    // reconstruct a PARTIAL finalize crash: the complete prepared tmp
    // exists, only part of it was copied to the final prefix
    tfs.listFiles(target).foreach { case (f, _) =>
      val name = f.split('/').last
      tfs.readBytes(f).foreach(tfs.writeBytes(s"$tmp/$name", _))
    }
    val parquets = tfs.listFiles(target).map(_._1).filter(_.endsWith(".parquet"))
    tfs.deleteFile(parquets.head) // the un-copied remainder
    assert(tfs.listFiles(target).count(_._1.endsWith(".parquet")) ==
      parquets.size - 1)
    // the repair sweep converges the copy by name and retires the tmp
    t.readStreamChanges(t.readCold().schema)
    assert(tfs.listFiles(target).count(_._1.endsWith(".parquet")) ==
      parquets.size, "recovery must complete the interrupted copy")
    assert(!tfs.exists(tmp))
    assert(spark.read.parquet(target)
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L),
      "the full delta must be readable after repair")
  }

  test("gcOrphans reclaims markerless remote segments and their dead claims") {
    import graft.storage.HttpMetaStore
    val bucket = ObjectStoreStub.freshBucketUrl()
    val root = bucket.replaceFirst("^http://", "graftos://") + "/t"
    val t = TieredTable(spark, root)
    t.appendLog(Seq((1L, "a")).toDF("id", "v"))
    // reconstruct an append that died between claim and marker: data
    // objects exist under seg-1, the claim is taken, no _SEG
    val foreignMeta = new HttpMetaStore(s"$bucket/t/meta")
    assert(foreignMeta.putIfAbsent("segclaim-000001", ""))
    val tfs = graft.storage.TableFs.forPath(root)
    tfs.writeBytes(s"$root/log/seg-000001/part-dead.parquet", Array[Byte](1, 2))
    assert(t.logSegments == Seq(0L), "markerless prefix must stay invisible")
    assert(t.gcOrphans() > 0)
    assert(!tfs.exists(s"$root/log/seg-000001"),
      "gcOrphans must reclaim the invisible data objects")
    assert(foreignMeta.get("segclaim-000001").isEmpty,
      "gcOrphans must free the dead claim")
    // the freed id is reusable again
    assert(t.appendLog(Seq((2L, "b")).toDF("id", "v")) == 1L)
  }

  test("PK upsert, merge-on-read resolution, vacuum, and Iceberg export run fully in the bucket") {
    val base = ObjectStoreStub.freshBucketFsUrl() + "/pk"
    val t = TieredTable(spark, base, pk = Seq("id"), mergeOnRead = true)
    t.commitUpsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))  // seq 1
    t.commitUpsert(Seq((2L, "B2"), (3L, "c")).toDF("id", "v")) // seq 2
    assert(t.readCold().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")),
      "last-write-wins must resolve across bucket-resident deltas")

    // Iceberg export writes its whole metadata chain INTO the bucket
    // (equality deletes included — two live deltas) and the
    // independent reader resolves purely from bucket objects
    val mpath = IcebergExport.export(t)
    assert(mpath.startsWith("graftos://"), mpath)
    val exportKeys = ObjectStoreStub.keysUnder(bucketKey(base))
    assert(exportKeys.exists(_.endsWith("metadata/version-hint.text")))
    assert(exportKeys.exists(_.contains("metadata/manifest-")))
    assert(exportKeys.exists(_.contains("metadata/snap-")),
      s"manifest list must be bucket-resident")
    assert(IcebergExport.readTable(spark, base)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")),
      "the external-reader chain must resolve from bucket objects alone")
    assert(!Files.exists(Paths.get("graftos:")),
      "no local shadow directory may appear")

    t.compact()                                                // seq 3
    val removed = t.vacuum(keepLast = 1)
    assert(removed > 0)
    assert(t.readCold().count() == 3L)
    val keys = ObjectStoreStub.keysUnder(bucketKey(base))
    assert(!keys.exists(_.contains("/data/snap-000001/")),
      "vacuum must reclaim bucket objects of expired snapshots")
    // re-export after the vacuum: GC reclaims bucket metadata of the
    // expired snapshots, the chain still reads
    IcebergExport.export(t)
    val keys2 = ObjectStoreStub.keysUnder(bucketKey(base))
    assert(!keys2.exists(_.contains("metadata/manifest-000001")),
      "export GC must reclaim expired manifests from the bucket")
    assert(IcebergExport.readTable(spark, base).count() == 3L)
  }
}
