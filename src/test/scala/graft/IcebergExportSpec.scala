package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{FileStats, IcebergExport, TieredTable}

/** The Iceberg-v2 export contract: spec-shaped artifacts (reserved
  * field-ids, required Avro file metadata, version-hint protocol) and
  * a full round trip through a reader that resolves data ONLY from the
  * exported metadata chain — the in-suite stand-in for an external
  * Iceberg engine (reference README.md:257-292).
  */
class IcebergExportSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshTable(): TieredTable = {
    val dir = Files.createTempDirectory("graft-ice").toString
    val t = TieredTable(spark, s"$dir/t")
    t.appendLog(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.tier()                                   // snapshot 1
    t.appendLog(Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    t.tier()                                   // snapshot 2
    t
  }

  test("export writes the Iceberg layout and the independent reader round-trips") {
    val t = freshTable()
    val mpath = IcebergExport.export(t)
    val mdir = Paths.get(t.tablePath, "metadata")
    assert(Files.readString(mdir.resolve("version-hint.text")).trim == "1")
    assert(mpath.endsWith("/v00001.metadata.json"))
    val md = Files.readString(Paths.get(mpath))
    for (k <- Seq("\"format-version\":2", "current-snapshot-id",
        "manifest-list", "table-uuid", "schemas", "partition-specs"))
      assert(md.contains(k), s"metadata.json missing $k")

    // the reader shares no graft-manifest code: same rows as readCold
    val viaIceberg = IcebergExport.readTable(spark, t.tablePath)
      .select("id", "v").as[(Long, String)].collect().toSet
    val viaGraft = t.readCold()
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(viaIceberg == viaGraft && viaIceberg.size == 5)
  }

  test("readTable never fails while another thread re-exports") {
    val t = freshTable()
    IcebergExport.export(t)
    @volatile var exporting = true
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() =>
      while (exporting) {
        try {
          IcebergExport.readTable(spark, t.tablePath)
          reads.incrementAndGet()
        } catch { case e: Throwable => failures.add(e) }
      })
    reader.start()
    try for (i <- 1 to 30) {
      t.commitAppend(Seq((100L + i, s"x$i")).toDF("id", "v"))
      IcebergExport.export(t)
    } finally {
      exporting = false
      reader.join()
    }
    val failed = failures.size
    assert(failed == 0, s"$failed of ${reads.get + failed} reads failed, " +
      s"first: ${failures.peek}")
    assert(reads.get > 30)
    assert(IcebergExport.readTable(spark, t.tablePath).count() == 35)
  }

  test("manifest avro files carry the spec's reserved field-ids and key-value metadata") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val t = freshTable()
    IcebergExport.export(t)
    val mdir = Paths.get(t.tablePath, "metadata")

    val listReader = new DataFileReader[GenericRecord](
      mdir.resolve("snap-000002-manifest-list.avro").toFile,
      new GenericDatumReader[GenericRecord]())
    try {
      for (k <- Seq("snapshot-id", "sequence-number", "format-version"))
        assert(listReader.getMetaKeys.asScala.toSet.contains(k))
      val sch = listReader.getSchema
      // spec-reserved manifest_file ids
      assert(sch.getField("manifest_path").getObjectProp("field-id") == 500)
      assert(sch.getField("added_snapshot_id").getObjectProp("field-id") == 503)
      assert(sch.getField("content").getObjectProp("field-id") == 517)
      val entries = listReader.iterator().asScala.toList
      assert(entries.size == 1)
      val manifestPath = entries.head.get("manifest_path").toString
      assert(Files.exists(Paths.get(manifestPath)))

      val mReader = new DataFileReader[GenericRecord](
        Paths.get(manifestPath).toFile, new GenericDatumReader[GenericRecord]())
      try {
        val metas = mReader.getMetaKeys.asScala.toSet
        for (k <- Seq("schema", "partition-spec", "partition-spec-id",
            "format-version", "content"))
          assert(metas.contains(k), s"manifest missing metadata key $k")
        val es = mReader.getSchema
        assert(es.getField("status").getObjectProp("field-id") == 0)
        val dataFile = es.getField("data_file")
        assert(dataFile.getObjectProp("field-id") == 2)
        assert(dataFile.schema().getField("file_path")
          .getObjectProp("field-id") == 100)
        assert(dataFile.schema().getField("record_count")
          .getObjectProp("field-id") == 103)
        // snapshot 2's manifest: snapshot-1 files EXISTING(0), new ADDED(1)
        val rows = mReader.iterator().asScala.toList
        val statuses = rows.map(_.get("status").asInstanceOf[Int]).toSet
        assert(statuses == Set(0, 1),
          "carried-over files must be EXISTING, new files ADDED")
        val total = rows.map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum
        assert(total == 5L, "record counts must come from real footers")
      } finally mReader.close()
    } finally listReader.close()
  }

  test("iceberg time travel resolves historic snapshots; re-export bumps the version") {
    val t = freshTable()
    IcebergExport.export(t)
    val asOf1 = IcebergExport.readTable(spark, t.tablePath,
        asOfSnapshotId = Some(1L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(asOf1 == Seq(1L, 2L, 3L),
      "snapshot 1 through Iceberg = readColdAsOf(1)")

    // same-state re-export is a fingerprint no-op (what makes
    // per-commit auto-export cheap)
    IcebergExport.export(t)
    val mdir = Paths.get(t.tablePath, "metadata")
    assert(Files.readString(mdir.resolve("version-hint.text")).trim == "1",
      "re-exporting an unchanged table must not mint a new version")

    // a third commit, then re-export: immutable metadata files, new hint
    t.commitAppend(Seq((6L, "f")).toDF("id", "v"))
    IcebergExport.export(t)
    assert(Files.readString(mdir.resolve("version-hint.text")).trim == "2")
    assert(Files.exists(mdir.resolve("v00001.metadata.json")),
      "earlier metadata versions are immutable, never overwritten")
    val now = IcebergExport.readTable(spark, t.tablePath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(now == (1L to 6L))

    // a rename is refused until the head layout converges — name-based
    // external readers would surface NULLs from un-rewritten files
    t.renameColumn("v", "label")
    val e = intercept[IllegalArgumentException](IcebergExport.export(t))
    assert(e.getMessage.contains("compact"))
    t.compact() // reads through the mapping, rewrites under new names
    IcebergExport.export(t)
    assert(Files.readString(mdir.resolve("version-hint.text")).trim == "3")
    assert(IcebergExport.readTable(spark, t.tablePath).columns.toSeq ==
      Seq("id", "label"))
  }

  test("compaction exports correctly: the rewritten file list, not the stale one") {
    val t = freshTable()
    t.compact()
    IcebergExport.export(t)
    val viaIceberg = IcebergExport.readTable(spark, t.tablePath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaIceberg == (1L to 5L),
      "post-compaction export must list the compacted files exactly once")
  }

  test("manifests carry per-column stats; an external reader prunes files with them") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    // two commits with DISJOINT id ranges → two files with disjoint
    // [lower, upper] bounds; a range query should open only one
    val dir = Files.createTempDirectory("graft-ice-stats").toString
    val t = TieredTable(spark, s"$dir/t")
    t.commitAppend(spark.range(0, 100).selectExpr("id", "CAST(id AS STRING) AS v")
      .coalesce(1))
    t.commitAppend(spark.range(1000, 1100).selectExpr("id", "CAST(id AS STRING) AS v")
      .coalesce(1))
    IcebergExport.export(t)

    // decode the stats maps straight from the Avro manifest: field id 1
    // is `id` (first schema column); bounds are little-endian longs
    val mdir = Paths.get(s"$dir/t", "metadata")
    val mReader = new DataFileReader[GenericRecord](
      mdir.resolve("manifest-000002.avro").toFile,
      new GenericDatumReader[GenericRecord]())
    val entries = try mReader.iterator().asScala.toList finally mReader.close()
    assert(entries.size == 2)
    def bound(e: GenericRecord, which: String): Long = {
      val arr = e.get("data_file").asInstanceOf[GenericRecord].get(which)
        .asInstanceOf[java.util.List[GenericRecord]].asScala
      val kv = arr.find(_.get("key").asInstanceOf[Int] == 1).get
      kv.get("value").asInstanceOf[java.nio.ByteBuffer]
        .duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0)
    }
    val ranges = entries.map(e => (bound(e, "lower_bounds"), bound(e, "upper_bounds"))).toSet
    assert(ranges == Set((0L, 99L), (1000L, 1099L)),
      s"footer min/max must round-trip through the LE binary encoding: $ranges")
    val counts = entries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("value_counts").asInstanceOf[java.util.List[GenericRecord]].asScala
      .find(_.get("key").asInstanceOf[Int] == 1).get
      .get("value").asInstanceOf[Long]).sorted
    assert(counts == Seq(100L, 100L))

    // the pruning an external Iceberg reader performs from these stats
    val (kept, total) = IcebergExport.dataFilesWhereLong(s"$dir/t", "id", 1050L, 1060L)
    assert(total == 2 && kept.size == 1, s"range must prune to one file ($kept)")
    val rows = IcebergExport.readTableWhereLong(spark, s"$dir/t", "id", 1050L, 1060L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(rows == (1050L to 1060L), "pruning must never change the answer")
  }

  test("DATE bounds prune: 4-byte epoch-day ints decode at their width " +
       "and readTableWhereDate scans only the matching band") {
    val dir = Files.createTempDirectory("graft-ice-date").toString
    val t = TieredTable(spark, s"$dir/t")
    def day(s: String) = java.sql.Date.valueOf(s)
    t.commitAppend(Seq((1L, day("1995-03-01")), (2L, day("1995-09-01")))
      .toDF("id", "d").coalesce(1))
    t.commitAppend(Seq((3L, day("1997-03-01")), (4L, day("1997-09-01")))
      .toDF("id", "d").coalesce(1))
    t.commitAppend(Seq((5L, day("1999-03-01")), (6L, day("1999-09-01")))
      .toDF("id", "d").coalesce(1))
    IcebergExport.export(t)
    val pruned = IcebergExport.readTableWhereDate(spark, s"$dir/t", "d",
      java.time.LocalDate.parse("1997-01-01"),
      java.time.LocalDate.parse("1997-12-31"))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L), "the answer is the middle band exactly")
    val full = IcebergExport.readTable(spark, s"$dir/t")
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"date bounds must prune files: ${pruned.inputFiles.length} of " +
        s"${full.inputFiles.length}")
    // boundary inclusivity: [hi = a file's min] keeps that file
    assert(IcebergExport.readTableWhereDate(spark, s"$dir/t", "d",
        java.time.LocalDate.parse("1994-01-01"),
        java.time.LocalDate.parse("1995-03-01"))
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("icebergExport flag: every commit refreshes the metadata automatically") {
    // the reference's tiering-service behavior: the Iceberg tier stays
    // externally readable with no manual export step
    val dir = Files.createTempDirectory("graft-ice-auto").toString
    val t = TieredTable(spark, s"$dir/t", icebergExport = true)
    t.commitAppend(Seq((1L, "a")).toDF("id", "v"))
    val mdir = Paths.get(s"$dir/t", "metadata")
    assert(Files.readString(mdir.resolve("version-hint.text")).trim == "1")
    t.commitAppend(Seq((2L, "b")).toDF("id", "v"))
    assert(Files.readString(mdir.resolve("version-hint.text")).trim == "2")
    assert(IcebergExport.readTable(spark, s"$dir/t")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // documented scope enforced at construction, not first-commit time
    assertThrows[IllegalArgumentException](
      TieredTable(spark, s"$dir/t2", pk = Seq("id"), mergeOnRead = true,
        partitionBy = Seq("v"), icebergExport = true))
  }

  test("merge-on-read export: equality deletes resolve last-write-wins externally") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val dir = Files.createTempDirectory("graft-ice-mor").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("id"), mergeOnRead = true)
    t.commitUpsert(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "v", "score"))                       // seq 1
    t.commitUpsert(Seq((2L, "B2", 22.0), (4L, "d", 40.0))
      .toDF("id", "v", "score"))                       // seq 2: updates 2
    t.commitUpsert(Seq((1L, "A3", 11.0)).toDF("id", "v", "score")) // seq 3
    IcebergExport.export(t)

    val mdir = Paths.get(s"$dir/t", "metadata")
    // delete dirs exist for the superseding sequences, parquet of PKs
    assert(Files.isDirectory(mdir.resolve("eqdel-000002")))
    assert(Files.isDirectory(mdir.resolve("eqdel-000003")))
    val delKeys = spark.read
      .parquet(mdir.resolve("eqdel-000002").toString)
      .as[Long].collect().toSet
    assert(delKeys == Set(2L, 4L), "delete files = the delta's PK tuples")

    // head manifest list carries a data manifest AND a delete manifest
    val lReader = new DataFileReader[GenericRecord](
      mdir.resolve("snap-000003-manifest-list.avro").toFile,
      new GenericDatumReader[GenericRecord]())
    val mfs = try lReader.iterator().asScala.toList finally lReader.close()
    assert(mfs.map(_.get("content").asInstanceOf[Int]).sorted == List(0, 1))

    // delete manifest entries carry content=2 and the PK equality id
    val delMf = mfs.find(_.get("content") == 1).get
    val dReader = new DataFileReader[GenericRecord](
      new java.io.File(delMf.get("manifest_path").toString),
      new GenericDatumReader[GenericRecord]())
    val dEntries = try dReader.iterator().asScala.toList finally dReader.close()
    assert(dEntries.nonEmpty)
    val df0 = dEntries.head.get("data_file").asInstanceOf[GenericRecord]
    assert(df0.get("content") == 2, "equality-delete content code")
    assert(df0.get("equality_ids") != null)

    // the independent reader applies the deletes: last write wins, and
    // the internal __seq column never surfaces
    val viaIceberg = IcebergExport.readTable(spark, s"$dir/t")
    assert(viaIceberg.columns.toSeq == Seq("id", "v", "score"))
    assert(viaIceberg.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "A3", 11.0), (2L, "B2", 22.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    assert(viaIceberg.collect().toSet ==
      t.readCold().collect().toSet)

    // time travel resolves the deletes OF THAT snapshot only
    val asOf2 = IcebergExport.readTable(spark, s"$dir/t", asOfSnapshotId = Some(2L))
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(asOf2 == Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
  }

  test("merge-on-read export after compact(): resolved layout, no deletes, no __seq") {
    val dir = Files.createTempDirectory("graft-ice-mor-c").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("id"), mergeOnRead = true)
    t.commitUpsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.commitUpsert(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"))
    t.compact()
    IcebergExport.export(t)
    val got = IcebergExport.readTable(spark, s"$dir/t")
    assert(got.columns.toSeq == Seq("id", "v"),
      "physical __seq must not leak through the exported schema")
    assert(got.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")))
    // stats pruning path stays usable and __seq-free on the resolved layout
    val pruned = IcebergExport.readTableWhereLong(
      spark, s"$dir/t", "id", 2L, 3L)
    assert(pruned.columns.toSeq == Seq("id", "v"))
    assert(pruned.select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("merge-on-read export across ADD COLUMN: evolved groups pad, deletes still apply") {
    val dir = Files.createTempDirectory("graft-ice-mor-ev").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("id"), mergeOnRead = true)
    t.commitUpsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))      // seq 1
    t.commitUpsert(Seq((2L, "B2", 7.5), (3L, "c", 9.0))            // seq 2: +w
      .toDF("id", "v", "w"))
    IcebergExport.export(t)
    val got = IcebergExport.readTable(spark, s"$dir/t")
    assert(got.columns.toSeq == Seq("id", "v", "w"))
    assert(got.as[(Long, String, Option[Double])].collect().toSet ==
      Set((1L, "a", None), (2L, "B2", Some(7.5)), (3L, "c", Some(9.0))),
      "pre-evolution rows pad w as NULL; the seq-2 delete still " +
        "removes the superseded id=2 row")
  }

  test("export GC: expired snapshots' manifests and eqdel files are reclaimed") {
    val dir = Files.createTempDirectory("graft-ice-gc").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("id"), mergeOnRead = true)
    t.commitUpsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))       // seq 1
    t.commitUpsert(Seq((2L, "B2")).toDF("id", "v"))                 // seq 2
    t.compact()                                                     // seq 3
    t.commitUpsert(Seq((3L, "c")).toDF("id", "v"))                  // seq 4
    IcebergExport.export(t)
    val mdir = Paths.get(s"$dir/t", "metadata")
    assert(Files.exists(mdir.resolve("manifest-000001.avro")))
    assert(Files.isDirectory(mdir.resolve("eqdel-000002")))

    // expire everything before the compacted rewrite, then re-export:
    // the vacuum alone must trigger a new version (fingerprint covers
    // the retained set) and the expired snapshots' artifacts must go
    t.vacuum(keepLast = 2)                          // keeps snaps 3, 4
    IcebergExport.export(t)
    assert(!Files.exists(mdir.resolve("manifest-000001.avro")))
    assert(!Files.exists(mdir.resolve("manifest-000002.avro")))
    assert(!Files.exists(mdir.resolve("manifest-del-000002.avro")))
    assert(!Files.exists(mdir.resolve("snap-000001-manifest-list.avro")))
    assert(!Files.exists(mdir.resolve("eqdel-000002")),
      "an eqdel whose sequence left the retained dirs must be reclaimed")
    assert(Files.exists(mdir.resolve("manifest-000003.avro")))
    assert(Files.isDirectory(mdir.resolve("eqdel-000004")),
      "the live delta's eqdel stays (seq 4 supersedes the rewrite)")

    // the post-GC export is complete and still resolves correctly
    assert(IcebergExport.readTable(spark, s"$dir/t")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")))
    // a second export with nothing changed is the fast-path no-op
    val v = Files.readString(mdir.resolve("version-hint.text")).trim
    IcebergExport.export(t)
    assert(Files.readString(mdir.resolve("version-hint.text")).trim == v)
  }

  test("merge-on-read refusals: duplicate in-batch PKs; partition cols outside the PK") {
    val dir = Files.createTempDirectory("graft-ice-mor-ref").toString
    val dup = TieredTable(spark, s"$dir/dup", pk = Seq("id"), mergeOnRead = true)
    dup.commitUpsert(Seq((1L, "a")).toDF("id", "v"))
    // duplicate keys WITHIN one delta: not representable as equality
    // deletes (same-sequence rows never delete each other)
    dup.commitAppend(Seq((1L, "x"), (1L, "y"), (2L, "b")).toDF("id", "v"),
      op = "upsert")
    assertThrows[IllegalArgumentException](IcebergExport.export(dup))

    // partitioned MoR with a partition column OUTSIDE the PK: a key
    // could change partitions and escape its partition-scoped deletes
    val pm = TieredTable(spark, s"$dir/pm", pk = Seq("id"),
      mergeOnRead = true, partitionBy = Seq("v"))
    pm.commitUpsert(Seq((1L, "a")).toDF("id", "v"))
    assertThrows[IllegalArgumentException](IcebergExport.export(pm))
  }

  test("partitioned merge-on-read export: partition-scoped deletes resolve last-write-wins") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val dir = Files.createTempDirectory("graft-ice-pmor").toString
    // partition column ∈ PK (the Flink-Iceberg upsert-sink rule): keys
    // never change partitions, so scoped deletes are exact
    val t = TieredTable(spark, s"$dir/t", pk = Seq("region", "id"),
      mergeOnRead = true, partitionBy = Seq("region"))
    t.commitUpsert(Seq(("eu", 1L, 10.0), ("eu", 2L, 20.0),
      ("us", 1L, 30.0), ("us", 2L, 40.0)).toDF("region", "id", "score")) // seq 1
    t.commitUpsert(Seq(("eu", 2L, 22.0), ("us", 1L, 33.0))
      .toDF("region", "id", "score"))                                    // seq 2
    t.commitUpsert(Seq(("us", 1L, 35.0), ("us", 3L, 50.0))
      .toDF("region", "id", "score"))                                    // seq 3
    IcebergExport.export(t)
    val mdir = Paths.get(s"$dir/t", "metadata")

    // the seq-2 delete dir is hive-partitioned: >1 delete file, each
    // scoped to its region (the v2 partitioned-spec requirement), and
    // the delete manifest's partition structs carry the region values
    assert(Files.isDirectory(mdir.resolve("eqdel-000002")))
    val delFiles = Files.walk(mdir.resolve("eqdel-000002")).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
    assert(delFiles.size > 1,
      s"multi-partition delta must produce >1 scoped delete file: $delFiles")
    val dReader = new DataFileReader[GenericRecord](
      mdir.resolve("manifest-del-000003.avro").toFile,
      new GenericDatumReader[GenericRecord]())
    val dEntries = try dReader.iterator().asScala.toList finally dReader.close()
    val delRegions = dEntries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("partition").asInstanceOf[GenericRecord].get("region").toString).toSet
    assert(delRegions == Set("eu", "us"),
      s"delete entries must carry their partition scope: $delRegions")

    // the independent reader resolves: per-key last write wins
    val viaIceberg = IcebergExport.readTable(spark, s"$dir/t")
      .select("region", "id", "score").as[(String, Long, Double)]
      .collect().toSet
    assert(viaIceberg == Set(("eu", 1L, 10.0), ("eu", 2L, 22.0),
      ("us", 1L, 35.0), ("us", 2L, 40.0), ("us", 3L, 50.0)))
    assert(viaIceberg == t.readCold()
      .select("region", "id", "score").as[(String, Long, Double)]
      .collect().toSet)

    // time travel applies only the deletes visible at that snapshot
    val asOf2 = IcebergExport.readTable(spark, s"$dir/t", asOfSnapshotId = Some(2L))
      .select("region", "id", "score").as[(String, Long, Double)]
      .collect().toSet
    assert(asOf2 == Set(("eu", 1L, 10.0), ("eu", 2L, 22.0),
      ("us", 1L, 33.0), ("us", 2L, 40.0)))
  }

  test("incremental export: unchanged prefix reuses manifests, opens only new footers") {
    val t = freshTable()                       // snapshots 1, 2
    IcebergExport.export(t)
    val mdir = Paths.get(t.tablePath, "metadata")
    val m1 = Files.readAllBytes(mdir.resolve("manifest-000001.avro"))
    val l1 = Files.readAllBytes(mdir.resolve("snap-000001-manifest-list.avro"))
    assert(Files.exists(mdir.resolve("export-state.json")))

    t.commitAppend(Seq((6L, "f")).toDF("id", "v").coalesce(1)) // snapshot 3
    val before = FileStats.footerOpens.get()
    IcebergExport.export(t)
    val opened = FileStats.footerOpens.get() - before
    assert(opened == 0,
      s"re-export must transcribe the commits' stats sidecars and open " +
        s"no footer (opened $opened)")
    assert(!Files.exists(mdir.resolve("dir-stats.json")))
    // Avro files embed a random sync marker, so byte-identity proves
    // the prefix manifests were REUSED, not deterministically rewritten
    assert(java.util.Arrays.equals(
      Files.readAllBytes(mdir.resolve("manifest-000001.avro")), m1),
      "prefix manifest must be reused byte-for-byte")
    assert(java.util.Arrays.equals(
      Files.readAllBytes(mdir.resolve("snap-000001-manifest-list.avro")), l1),
      "prefix manifest list must be reused byte-for-byte")
    assert(Files.exists(mdir.resolve("manifest-000003.avro")))
    assert(IcebergExport.readTable(spark, t.tablePath)
      .select("id").as[Long].collect().sorted.toSeq == (1L to 6L))

    // a dir without its sidecar (a table written before sidecars carried
    // every file) is re-collected once — exactly its own footers — and
    // exports the same entries
    val oldDir = t.snapshot(1).get.files.head
    val oldFiles = Files.list(Paths.get(oldDir)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    Files.delete(Paths.get(oldDir, FileStats.SidecarName))
    t.commitAppend(Seq((7L, "g")).toDF("id", "v").coalesce(1)) // snapshot 4
    val before4 = FileStats.footerOpens.get()
    IcebergExport.export(t)
    assert(FileStats.footerOpens.get() - before4 == oldFiles)
    assert(Files.exists(Paths.get(oldDir, FileStats.SidecarName)))
    def dataFiles(id: Int): Map[String, Any] =
      IcebergExport.readAvro(mdir.resolve(f"manifest-$id%06d.avro").toString)._1
        .map(_.get("data_file").asInstanceOf[
          org.apache.avro.generic.GenericRecord])
        .map(df => df.get("file_path").toString -> df).toMap
    val (m3, m4) = (dataFiles(3), dataFiles(4))
    assert(m3.nonEmpty && m3.forall { case (p, df) => m4.get(p).contains(df) },
      "the re-collected dir must export the entries it exported before")
    assert(IcebergExport.readTable(spark, t.tablePath)
      .select("id").as[Long].collect().sorted.toSeq == (1L to 7L))

    // losing the export state is safe: next export recomputes and still
    // reads
    Files.delete(mdir.resolve("export-state.json"))
    t.commitAppend(Seq((8L, "h")).toDF("id", "v").coalesce(1)) // snapshot 5
    IcebergExport.export(t)
    assert(IcebergExport.readTable(spark, t.tablePath)
      .select("id").as[Long].collect().sorted.toSeq == (1L to 8L))
  }

  /** A table exported once with every column domain (AllTypesExport). */
  private lazy val allTypes: TieredTable =
    AllTypesExport(spark, Files.createTempDirectory("graft-ice-types").toString)

  /** The head snapshot's data-manifest entries, by file path, and the
    * manifest schema's field id of each top-level column, by name.
    */
  private def headEntries(t: TieredTable)
      : (Map[String, org.apache.avro.generic.GenericRecord], Map[String, Int]) = {
    val (es, meta) = IcebergExport.readAvro(
      f"${t.tablePath}/metadata/manifest-${t.currentSnapshot.get.id}%06d.avro")
    val fields = org.json4s.jackson.JsonMethods.parse(meta("schema")) \ "fields"
    val ids = fields.children.map(f =>
      (f \ "name").values.toString -> (f \ "id").values.toString.toInt).toMap
    (es.map(_.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord])
      .map(df => df.get("file_path").toString -> df).toMap, ids)
  }

  /** An entry's stats map (value_counts, lower_bounds, …) by field id. */
  private def statMap(df: org.apache.avro.generic.GenericRecord,
                      field: String): Map[Int, Any] =
    Option(df.get(field)).map(_.asInstanceOf[java.util.List[
      org.apache.avro.generic.GenericRecord]].asScala.map { kv =>
      kv.get("key").asInstanceOf[Int] -> (kv.get("value") match {
        case b: java.nio.ByteBuffer =>
          val a = new Array[Byte](b.remaining); b.duplicate().get(a); a.toSeq
        case v => v
      })
    }.toMap).getOrElse(Map.empty)

  /** One top-level column of one file as the export derived it before
    * the stats sidecar carried it.
    */
  private case class RefCol(values: Long, nulls: Long,
                            lower: Option[Seq[Byte]], upper: Option[Seq[Byte]])

  /** The footer-derived reference: every footer of `dir` read again,
    * row-group stats merged per top-level primitive column, and bounds
    * encoded from the footer's own values — the exporter's footer pass
    * as it was before it transcribed the sidecar, including its
    * decimal encoding (an INT32 decimal as a little-endian int, an INT64
    * decimal unbounded). path → (rows, bytes, column → stats).
    */
  private def footerReference(dir: String): Map[String, (Long, Long, Map[String, RefCol])] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def encode(pt: org.apache.parquet.schema.PrimitiveType, v: AnyRef): Option[Seq[Byte]] = {
      val logical = pt.getLogicalTypeAnnotation
      ((pt.getPrimitiveTypeName, v) match {
        case (PrimitiveTypeName.INT64, l: java.lang.Long) if logical == null ||
            logical.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
          Some(le(8).putLong(l).array())
        case (PrimitiveTypeName.INT32, i: java.lang.Integer) => Some(le(4).putInt(i).array())
        case (PrimitiveTypeName.DOUBLE, d: java.lang.Double) => Some(le(8).putDouble(d).array())
        case (PrimitiveTypeName.FLOAT, f: java.lang.Float) => Some(le(4).putFloat(f).array())
        case (PrimitiveTypeName.BINARY, b: org.apache.parquet.io.api.Binary)
            if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          Some(b.getBytes.clone())
        case _ => None
      }).map(_.toSeq)
    }
    Files.list(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          new org.apache.hadoop.conf.Configuration(),
          new org.apache.hadoop.fs.Path(f))
        try {
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          val cols = blocks.flatMap(_.getColumns.asScala)
            .filterNot(_.getPath.toDotString.contains("."))
            .groupBy(_.getPath.toDotString).flatMap { case (name, chunks) =>
              val stats = chunks.map(_.getStatistics)
              if (!stats.forall(st => st != null && st.isNumNullsSet)) None
              else {
                val pt = chunks.head.getPrimitiveType
                val cmp = pt.comparator().asInstanceOf[java.util.Comparator[AnyRef]]
                val withValues = stats.filter(_.hasNonNullValue)
                def pick(vs: Seq[AnyRef], lo: Boolean): Option[AnyRef] =
                  vs.reduceOption((a, b) => if ((cmp.compare(a, b) < 0) == lo) a else b)
                val mn = pick(withValues.map(_.genericGetMin.asInstanceOf[AnyRef]), lo = true)
                val mx = pick(withValues.map(_.genericGetMax.asInstanceOf[AnyRef]), lo = false)
                Some(name -> RefCol(chunks.map(_.getValueCount).sum,
                  stats.map(_.getNumNulls).sum, mn.flatMap(encode(pt, _)),
                  mx.flatMap(encode(pt, _))))
              }
            }
          f -> (blocks.map(_.getRowCount).sum, Files.size(Paths.get(f)), cols)
        } finally r.close()
      }.toMap
  }

  test("exported entries transcribe the stats sidecar: every count and " +
       "bound equals the footer-derived reference, decimals aside") {
    val t = allTypes
    val (entries, fieldOf) = headEntries(t)
    val ref = t.currentSnapshot.get.files.flatMap(footerReference).toMap
    val decimals = Set(fieldOf("p7"), fieldOf("p15"))
    assert(entries.keySet == ref.keySet)
    assert(entries.values.count(_.get("record_count") == 0L) == 1,
      "the zero-row file is an entry")
    for ((path, df) <- entries) {
      val (rows, bytes, cols) = ref(path)
      assert(df.get("record_count") == rows && df.get("file_size_in_bytes") == bytes)
      Seq[(String, RefCol => Option[Any])](
        "value_counts" -> (c => Some(c.values)),
        "null_value_counts" -> (c => Some(c.nulls)),
        "lower_bounds" -> (_.lower), "upper_bounds" -> (_.upper)
      ).foreach { case (field, get) =>
        val want = cols.flatMap { case (name, c) => get(c).map(fieldOf(name) -> _) }
        val got = statMap(df, field)
        if (field.endsWith("counts")) assert(got == want, s"$field of $path")
        else assert(got -- decimals == want -- decimals, s"$field of $path")
      }
    }
    // what the entries bound: every typed column but the timestamp and
    // the all-null column; strings in full, non-ASCII included
    val first = entries.values.find(_.get("record_count") == 2L).get
    assert(statMap(first, "lower_bounds").keySet ==
      Set("id", "i", "f", "d", "day", "s", "u", "p7", "p15").map(fieldOf))
    assert(statMap(first, "lower_bounds")(fieldOf("u")) ==
      "éclair".getBytes("UTF-8").toSeq)
    assert(statMap(first, "null_value_counts")(fieldOf("nul")) == 2L)
  }

  test("a string bound that is not valid UTF-8 is left out of the " +
       "export, never replaced by a decoded one") {
    val dir = Files.createTempDirectory("graft-ice-utf8").toString
    val t = TieredTable(spark, s"$dir/t")
    // C3 28 is not UTF-8; by unsigned bytes it sorts above 'zz', so it
    // is the first file's max and both bounds of the second
    t.commitAppend(spark.sql("SELECT * FROM VALUES (1L, 'zz'), " +
      "(2L, CAST(X'C328' AS STRING)) AS v(id, s)").coalesce(1))
    t.commitAppend(spark.sql("SELECT 3L AS id, CAST(X'C328' AS STRING) AS s"))
    IcebergExport.export(t)
    val (entries, fieldOf) = headEntries(t)
    val s = fieldOf("s")
    val byRows = entries.values.map(df => df.get("record_count") -> df).toMap
    val (two, one) = (byRows(2L), byRows(1L))
    assert(statMap(two, "lower_bounds").get(s).contains("zz".getBytes("UTF-8").toSeq))
    assert(!statMap(two, "upper_bounds").contains(s))
    assert(!statMap(one, "lower_bounds").contains(s) &&
      !statMap(one, "upper_bounds").contains(s))
    assert(statMap(one, "value_counts").get(s).contains(1L))
    // the footer holds the raw bytes; decoding them would have
    // exported EF BF BD 28, above the file's real minimum
    val ref = t.currentSnapshot.get.files.flatMap(footerReference).toMap
    val (_, _, refCols) = ref(entries.find(_._2 eq one).get._1)
    assert(refCols("s").lower.contains(Seq(0xC3, 0x28).map(_.toByte)))
    assert(t.readCold().filter(col("s") === "zz").count() == 1)
  }

  test("decimal bounds export as Iceberg's big-endian unscaled bytes, " +
       "for INT32 and INT64 decimals alike") {
    val t = allTypes
    val (entries, fieldOf) = headEntries(t)
    val first = entries.values.find(_.get("record_count") == 2L).get
    def decode(field: String, col: String): String = {
      val b = statMap(first, field)(fieldOf(col)).asInstanceOf[Seq[Byte]]
      new java.math.BigDecimal(new java.math.BigInteger(b.toArray), 2).toPlainString
    }
    assert((decode("lower_bounds", "p7"), decode("upper_bounds", "p7")) == AllTypesExport.P7)
    assert((decode("lower_bounds", "p15"), decode("upper_bounds", "p15")) == AllTypesExport.P15)
    // the fewest bytes that hold the unscaled value
    val lo7 = statMap(first, "lower_bounds")(fieldOf("p7")).asInstanceOf[Seq[Byte]]
    assert(lo7 == java.math.BigInteger.valueOf(-1234567L).toByteArray.toSeq && lo7.size == 3)
  }

  test("readTable plan shape: ONE data scan + a broadcast metadata " +
       "join, regardless of how many (sequence × partition) groups " +
       "the snapshot holds — the O(1)-plan-width contract at 100 TB") {
    val dir = Files.createTempDirectory("graft-ice-planshape").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("region"))
    // 3 commits × 3 regions = 9 (sequence, partition) groups — the
    // shape that previously planned 9 unioned scans
    (1 to 3).foreach { c =>
      t.commitAppend(Seq((c * 10L + 1, "eu", c * 1L),
        (c * 10L + 2, "us", c * 1L), (c * 10L + 3, "ap", c * 1L))
        .toDF("id", "region", "amt"))
    }
    IcebergExport.export(t)
    val df = IcebergExport.readTable(spark, t.tablePath)
    // answers first (the plan claim must not cost correctness)
    assert(df.count() == 9)
    assert(df.filter(col("region") === "eu").count() == 3)
    // string form: AQE wraps the tree and collect() doesn't descend
    // into AdaptiveSparkPlanExec's input (same stance as BucketedMorSpec)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected ONE parquet scan, got $scans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"metadata must attach via broadcast join:\n$plan")
  }

  test("identity-partitioned export: partition values come back from the manifests") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val dir = Files.createTempDirectory("graft-ice-part").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("prio"))
    t.commitAppend(Seq((1L, "high", 10.0), (2L, "low", 20.0),
      (3L, "high", 30.0)).toDF("id", "prio", "score"))
    t.commitAppend(Seq((4L, "low", 40.0), (5L, "mid", 50.0))
      .toDF("id", "prio", "score"))
    IcebergExport.export(t)

    // the metadata carries a real identity spec in the 1000+ id range
    val md = Files.readString(
      Paths.get(s"$dir/t", "metadata", "v00001.metadata.json"))
    assert(md.contains("\"transform\":\"identity\""), md.take(500))
    assert(md.contains("\"field-id\":1000"))
    assert(md.contains("\"name\":\"prio\""))

    // manifest partition structs carry the typed directory values
    val mReader = new DataFileReader[GenericRecord](
      Paths.get(s"$dir/t", "metadata", "manifest-000002.avro").toFile,
      new GenericDatumReader[GenericRecord]())
    val entries = try mReader.iterator().asScala.toList finally mReader.close()
    val prios = entries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("partition").asInstanceOf[GenericRecord].get("prio").toString).toSet
    assert(prios == Set("high", "low", "mid"),
      s"every hive dir value must surface in a partition struct: $prios")

    // the independent reader reconstructs the column data pages lack
    val viaIceberg = IcebergExport.readTable(spark, s"$dir/t")
      .select("id", "prio", "score").as[(Long, String, Double)]
      .collect().toSet
    val viaGraft = t.readCold()
      .select("id", "prio", "score").as[(Long, String, Double)]
      .collect().toSet
    assert(viaIceberg == viaGraft && viaIceberg.size == 5)

    // time travel re-resolves partition values from snapshot 1's manifests
    val asOf1 = IcebergExport.readTable(spark, s"$dir/t", asOfSnapshotId = Some(1L))
      .select("id", "prio").as[(Long, String)].collect().toSet
    assert(asOf1 == Set((1L, "high"), (2L, "low"), (3L, "high")))
  }

  test("partitioned export: typed int partition column and the null partition") {
    val dir = Files.createTempDirectory("graft-ice-part-int").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("bucket"))
    t.commitAppend(Seq((1L, Some(7), "a"), (2L, Some(9), "b"),
      (3L, None, "c")).toDF("id", "bucket", "v"))
    IcebergExport.export(t)
    val got = IcebergExport.readTable(spark, s"$dir/t")
      .select("id", "bucket", "v").as[(Long, Option[Int], String)]
      .collect().toSet
    assert(got == Set((1L, Some(7), "a"), (2L, Some(9), "b"), (3L, None, "c")),
      "int values must come back typed and the hive null partition as NULL")
  }

  test("name mapping + sort order: schema.name-mapping.default agrees " +
       "id-for-id with the exported schema (nested types included); " +
       "write.sort-order exports as a real Iceberg sort order") {
    import org.json4s.jackson.JsonMethods
    val dir = Files.createTempDirectory("graft-ice-nm").toString
    val t = new TieredTable(spark, s"$dir/t", sortBy = Seq("id"))
    t.commitAppend(spark.sql(
      """SELECT id, CAST(id AS STRING) AS name,
        |       array(id, id + 1) AS xs,
        |       map('k', id) AS kv,
        |       named_struct('a', id, 'b', CAST(id AS STRING)) AS st
        |FROM range(0, 5)""".stripMargin))
    val mpath = IcebergExport.export(t)
    val md = JsonMethods.parse(Files.readString(java.nio.file.Paths.get(mpath)))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

    // schema: name -> id for the top level
    val schema = (md \ "schemas")(0)
    val topIds = (schema \ "fields").children.map { f =>
      ((f \ "name").extract[String], (f \ "id").extract[Int])
    }.toMap

    // mapping: parse the property's embedded JSON document
    val nmStr = (md \ "properties" \ "schema.name-mapping.default")
      .extract[String]
    val nm = JsonMethods.parse(nmStr)
    val mapped = nm.children.map { f =>
      ((f \ "names")(0).extract[String], (f \ "field-id").extract[Int])
    }.toMap
    assert(mapped == topIds,
      s"mapping/schema id disagreement: $mapped vs $topIds")
    // a nested leg: the struct's children map too, with distinct ids
    val stEntry = nm.children.find(f =>
      (f \ "names")(0).extract[String] == "st").get
    val stChildren = (stEntry \ "fields").children.map(f =>
      ((f \ "names")(0).extract[String], (f \ "field-id").extract[Int]))
    assert(stChildren.map(_._1) == List("a", "b"))
    assert((nm.children.flatMap(f => (f \ "field-id").extractOpt[Int]) ++
      stChildren.map(_._2)).distinct.size >= 7, "ids must be distinct")

    // sort order: id ASC identity, order-id 1 is the default
    assert((md \ "default-sort-order-id").extract[Int] == 1)
    val so = (md \ "sort-orders")(1)
    assert(((so \ "fields")(0) \ "source-id").extract[Int] == topIds("id"))
    assert(((so \ "fields")(0) \ "direction").extract[String] == "asc")

    // and the reader still round-trips the nested shapes
    assert(IcebergExport.readTable(spark, s"$dir/t").count() == 5)
  }

  test("bucketed merge-on-read export: bucket[N] partition spec, " +
       "spec-kernel dir values, resolved round-trip, no __bucket leak") {
    val dir = Files.createTempDirectory("graft-ice-bucketed").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("id"),
      mergeOnRead = true, bucketBy = 4)
    t.commitUpsert((1L to 40L).map(i => (i, s"v$i", i * 10))
      .toDF("id", "v", "amt"))
    t.commitUpsert(Seq((7L, "V7", 999L), (20L, "V20", 888L))
      .toDF("id", "v", "amt"))

    // the layout stamped with the Iceberg kernel (single-col PK)
    assert(t.bucketKernel() == TieredTable.BucketKernelIceberg)
    val head = t.currentSnapshot.get.files.head
    val dirs = new java.io.File(head).listFiles().toSeq
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("__bucket="))
    assert(dirs.nonEmpty)
    // every key's rows live in the dir the SPEC transform names
    val placed = spark.read.parquet(head)
      .select("id", "__bucket").as[(Long, Int)].collect()
    placed.foreach { case (id, b) =>
      assert(b == graft.functions.IcebergTransforms.bucketLong(4, id),
        s"key $id in bucket $b != spec bucket")
    }

    val mpath = IcebergExport.export(t)
    val md = Files.readString(Paths.get(mpath))
    assert(md.contains(""""transform":"bucket[4]""""),
      "partition spec must carry the bucket[N] transform")
    assert(!md.contains("__bucket"),
      "the internal dir column must not leak into the Iceberg metadata")
    assert(md.contains(""""name":"id_bucket""""))

    // round-trip purely from the exported chain: LWW-resolved rows
    val got = IcebergExport.readTable(spark, s"$dir/t")
      .select("id", "v", "amt").as[(Long, String, Long)].collect().toSet
    val want = t.readCold()
      .select("id", "v", "amt").as[(Long, String, Long)].collect().toSet
    assert(got == want && got.size == 40)
    assert(got.contains((7L, "V7", 999L)) && got.contains((20L, "V20", 888L)))

    // compaction keeps the bucket layout AND the Iceberg kernel: the
    // re-export after compact is a resolved single-sequence table
    // under the same bucket[N] spec, still round-tripping
    t.compact()
    IcebergExport.export(t)
    val afterCompact = IcebergExport.readTable(spark, s"$dir/t")
      .select("id", "v", "amt").as[(Long, String, Long)].collect().toSet
    assert(afterCompact == want, "compact + re-export must round-trip")
    val compacted = t.currentSnapshot.get.files.head
    spark.read.parquet(compacted).select("id", "__bucket")
      .as[(Long, Int)].collect().foreach { case (id, b) =>
        assert(b == graft.functions.IcebergTransforms.bucketLong(4, id),
          s"compaction re-stamped key $id into bucket $b != spec bucket")
      }

    // refusals that remain: multi-column PK, and legacy spark-kernel dirs
    val m = TieredTable(spark, s"$dir/multi", pk = Seq("a", "b"),
      mergeOnRead = true, bucketBy = 4)
    m.commitUpsert(Seq((1L, 2L, "x")).toDF("a", "b", "v"))
    val e1 = intercept[IllegalArgumentException](IcebergExport.export(m))
    assert(e1.getMessage.contains("single-source"), e1.getMessage)

    val legacyDir = Files.createTempDirectory("graft-ice-legacy").toString
    val l = TieredTable(spark, s"$legacyDir/t", pk = Seq("id"),
      mergeOnRead = true, bucketBy = 4)
    // simulate a pre-kernel-tag table: BUCKETS persisted, no kernel tag
    Files.createDirectories(Paths.get(s"$legacyDir/t/meta"))
    Files.writeString(Paths.get(s"$legacyDir/t/meta/BUCKETS"), "4")
    l.commitUpsert(Seq((1L, "a")).toDF("id", "v"))
    assert(l.bucketKernel() == TieredTable.BucketKernelSpark)
    val e2 = intercept[IllegalArgumentException](IcebergExport.export(l))
    assert(e2.getMessage.contains("Spark-hash kernel"), e2.getMessage)
  }
}
