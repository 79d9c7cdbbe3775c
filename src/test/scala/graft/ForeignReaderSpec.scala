package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{IcebergExport, TieredTable}

/** The FOREIGN-engine read: `tools/iceberg_reader.py` (pure Python +
  * DuckDB — different language, zero shared code) resolves the
  * exported Iceberg metadata chain from first principles, including a
  * hand-decoded Avro container reader, v2 equality-delete sequence
  * rules, and identity-partition constants, and must byte-agree (via a
  * canonical row hash) with the engine's own read. This is the Trino
  * role the reference assigns to a separate binary
  * (/root/reference/README.md:257-292) — the closest possible
  * realization in a container with no Iceberg jar (probe note,
  * SCALING.md) and no Avro library.
  *
  * Skipped (not failed) where driver-side python3+duckdb is absent.
  */
class ForeignReaderSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val pythonOk: Boolean =
    try scala.sys.process.Process(
      Seq("python3", "-c", "import duckdb")).! == 0
    catch { case _: Throwable => false }

  /** Run the reader with --compare; returns the parsed JSON line. */
  private def runReader(args: Seq[String]): Map[String, Any] = {
    val out = new StringBuilder
    val code = scala.sys.process.Process(
      Seq("python3", "tools/iceberg_reader.py") ++ args)
      .!(scala.sys.process.ProcessLogger(l => { out.append(l); () },
        l => { out.append(l); () }))
    assert(code == 0, s"foreign reader exit $code: $out")
    val json = org.json4s.jackson.JsonMethods.parse(out.toString)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    json.extract[Map[String, Any]]
  }

  private def readForeign(tablePath: String,
                          expectedGlob: String): Map[String, Any] =
    runReader(Seq(tablePath, "--compare", expectedGlob))

  private def dump(df: org.apache.spark.sql.DataFrame, dir: String): String = {
    df.write.mode("overwrite").parquet(dir)
    s"$dir/*.parquet"
  }

  test("append lineage: the Python reader matches the engine bit-for-bit") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign").toString
    val t = TieredTable(spark, s"$dir/events")
    t.commitAppend(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("id", "tag", "amount"))
    t.commitAppend(Seq((3L, "c", 30L)).toDF("id", "tag", "amount"))
    IcebergExport.export(t)
    val r = readForeign(t.tablePath, dump(t.readCold(), s"$dir/expected"))
    assert(r("rows") == 3 && r("match") == true, r.toString)
  }

  test("--stats: every exported record count, value and null count and " +
       "bound agrees with DuckDB's own read of the parquet metadata") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-stats").toString
    val t = AllTypesExport(spark, dir)
    val r = runReader(Seq(t.tablePath, "--stats",
      "--compare", dump(t.readCold(), s"$dir/expected")))
    assert(r("stats_ok") == true && r("match") == true && r("rows") == 3, r.toString)
  }

  test("merge-on-read: v2 equality-delete sequence rules resolve " +
       "last-write-wins in the foreign engine") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-mor").toString
    val t = TieredTable(spark, s"$dir/accounts", pk = Seq("acct"),
      mergeOnRead = true)
    t.commitUpsert(Seq((1L, 100L), (2L, 200L)).toDF("acct", "balance"))
    t.commitUpsert(Seq((2L, 250L), (3L, 300L)).toDF("acct", "balance"))
    t.commitUpsert(Seq((1L, 150L)).toDF("acct", "balance"))
    IcebergExport.export(t)
    val r = readForeign(t.tablePath, dump(t.readCold(), s"$dir/expected"))
    assert(r("rows") == 3 && r("match") == true, r.toString)
    assert(r("deletes").toString.toInt >= 2, s"delete files read: $r")
  }

  test("named refs: a graft snapshot tag exports as an Iceberg ref " +
       "and the foreign reader resolves the pinned state by name") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-ref").toString
    val t = TieredTable(spark, s"$dir/corpus")
    t.commitAppend(Seq((1L, "epoch0")).toDF("id", "v"))
    t.createTag("train-run") // pins snapshot 1
    t.commitAppend(Seq((2L, "epoch1")).toDF("id", "v"))
    IcebergExport.export(t)

    // by name → the tagged snapshot, bit-identical to the engine's
    // own VERSION AS OF read
    val pinned = runReader(Seq(t.tablePath, "--ref", "train-run",
      "--compare", dump(t.readColdAsOf(1L), s"$dir/expected1")))
    assert(pinned("rows") == 1 && pinned("match") == true, pinned.toString)
    // `main` resolves the head branch
    val head = runReader(Seq(t.tablePath, "--ref", "main",
      "--compare", dump(t.readCold(), s"$dir/expected2")))
    assert(head("rows") == 2 && head("match") == true, head.toString)
    // unknown names refuse loudly, listing what exists
    val code = scala.sys.process.Process(
      Seq("python3", "tools/iceberg_reader.py", t.tablePath,
        "--ref", "ghost")).!(scala.sys.process.ProcessLogger(_ => ()))
    assert(code == 2, "unknown ref must exit 2")
  }

  test("the foreign engine DISCOVERS the table over the REST catalog " +
       "(url + name, never a path)") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-rest").toString
    val t = TieredTable(spark, s"$dir/revenue", pk = Seq("nation"))
    t.commitUpsert(Seq(("FRANCE", 10L), ("GERMANY", 20L))
      .toDF("nation", "revenue"))
    val mloc = IcebergExport.export(t)
    val server = new graft.storage.IcebergRestCatalogServer
    try {
      server.register("fluss", "revenue", mloc)
      val r = runReader(Seq("--rest", server.url, "fluss", "revenue",
        "--compare", dump(t.readCold(), s"$dir/expected")))
      assert(r("rows") == 2 && r("match") == true, r.toString)
    } finally server.stop()
  }

  test("the foreign engine sees a new snapshot ONLY after its HTTP " +
       "commit lands — the arbitration made observable from outside") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-commit").toString
    val t = TieredTable(spark, s"$dir/w", pk = Seq("k"))
    t.commitUpsert(Seq((1L, 10L)).toDF("k", "v"))
    val server = new graft.storage.IcebergRestCatalogServer
    try {
      graft.storage.IcebergExport
        .exportAndPublish(t, server.url, "fluss", "w")
      val before = runReader(Seq("--rest", server.url, "fluss", "w",
        "--compare", dump(t.readCold(), s"$dir/exp1")))
      assert(before("rows") == 1 && before("match") == true)

      // a new engine commit + STAGED export: storage has snapshot 2,
      // the catalog still points at snapshot 1 — the foreign reader
      // must keep seeing the OLD state
      t.commitUpsert(Seq((2L, 20L)).toDF("k", "v"))
      val staged = graft.storage.IcebergExport.export(t)
      val stale = runReader(Seq("--rest", server.url, "fluss", "w",
        "--compare", s"$dir/exp1/*.parquet"))
      assert(stale("rows") == 1 && stale("match") == true,
        s"staged-but-uncommitted snapshot must stay invisible: $stale")

      // the HTTP commit (with its snapshot assertion) swaps the
      // pointer — NOW the foreign reader sees both rows
      val Some((_, Some(head))) = graft.storage.IcebergRestClient
        .tableState(server.url, "fluss", "w")
      graft.storage.IcebergRestClient.commitTable(server.url, "fluss",
        "w", staged, expectedSnapshotId = Some(head))
      val after = runReader(Seq("--rest", server.url, "fluss", "w",
        "--compare", dump(t.readCold(), s"$dir/exp2")))
      assert(after("rows") == 2 && after("match") == true, after.toString)
    } finally server.stop()
  }

  test("partitioned merge-on-read: partition constants + scoped deletes") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-pmor").toString
    val t = TieredTable(spark, s"$dir/paccounts",
      pk = Seq("region", "acct"), mergeOnRead = true,
      partitionBy = Seq("region"))
    t.commitUpsert(Seq(("eu", 1L, 10L), ("us", 1L, 20L))
      .toDF("region", "acct", "balance"))
    t.commitUpsert(Seq(("eu", 1L, 11L), ("us", 2L, 30L))
      .toDF("region", "acct", "balance"))
    IcebergExport.export(t)
    val r = readForeign(t.tablePath, dump(t.readCold(), s"$dir/expected"))
    assert(r("rows") == 3 && r("match") == true, r.toString)
  }

  test("position deletes: a v2 table carrying (file_path, pos) delete " +
       "files — the shape ANOTHER engine's MoR DELETE writes — " +
       "resolves in both readers under the >= sequence rule") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    import org.apache.avro.generic.GenericData
    val dir = Files.createTempDirectory("graft-foreign-posdel").toString
    val t = TieredTable(spark, s"$dir/events")
    t.commitAppend(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1))                    // seq 1, one file
    t.commitAppend(Seq((4L, "d")).toDF("id", "v").coalesce(1)) // seq 2
    IcebergExport.export(t)
    val mdir = s"${t.tablePath}/metadata"

    // the data files, from the exported manifests (positions are
    // ordinals within each single part file)
    def fileOf(manifest: String): String =
      IcebergExport.readAvro(s"$mdir/$manifest")._1
        .map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord])
        .map(_.get("file_path").toString).distinct.head
    val seq1File = fileOf("manifest-000001.avro")
    val seq2File = IcebergExport.readAvro(s"$mdir/manifest-000002.avro")._1
      .map(_.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord])
      .map(_.get("file_path").toString).distinct
      .filterNot(_ == seq1File).head

    // hand-build what a foreign engine's MoR DELETE would leave: a
    // position-delete file at sequence 1 erasing rows 0 and 2 of the
    // seq-1 file, PLUS a row targeting the seq-2 file — which must NOT
    // apply (delete seq 1 < data seq 2; the rule is dseq >= fseq)
    val pdDir = s"$dir/posdel"
    Seq((seq1File, 0L), (seq1File, 2L), (seq2File, 0L))
      .toDF("file_path", "pos").coalesce(1)
      .write.mode("overwrite").parquet(pdDir)
    val pdFile = new java.io.File(pdDir).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).head

    // a delete manifest naming it (content=1 = POSITION_DELETES) ...
    val entrySchema = IcebergExport.manifestEntrySchema(Nil)
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1)
    e.put("snapshot_id", 1L)
    e.put("sequence_number", 1L)
    e.put("file_sequence_number", 1L)
    val df0 = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    df0.put("content", 1)
    df0.put("file_path", pdFile)
    df0.put("file_format", "PARQUET")
    df0.put("partition", new GenericData.Record(
      df0.getSchema.getField("partition").schema()))
    df0.put("record_count", 3L)
    df0.put("file_size_in_bytes", new java.io.File(pdFile).length())
    e.put("data_file", df0)
    val delPath = s"$mdir/manifest-posdel-000001.avro"
    val delLen = IcebergExport.writeAvro(delPath, entrySchema, Map(
      "partition-spec" -> "[]", "partition-spec-id" -> "0",
      "format-version" -> "2", "content" -> "deletes"), Seq(e))

    // ... spliced into the head snapshot's manifest list
    val listPath = s"$mdir/snap-000002-manifest-list.avro"
    val (mfs, listMeta) = IcebergExport.readAvro(listPath)
    val mf = new GenericData.Record(IcebergExport.ManifestFileSchema)
    mf.put("manifest_path", delPath)
    mf.put("manifest_length", delLen)
    mf.put("partition_spec_id", 0)
    mf.put("content", 1)
    mf.put("sequence_number", 1L)
    mf.put("min_sequence_number", 1L)
    mf.put("added_snapshot_id", 1L)
    mf.put("added_files_count", 1)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", 3L)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    IcebergExport.writeAvro(listPath, IcebergExport.ManifestFileSchema,
      listMeta.filterNot(_._1.startsWith("avro.")), mfs :+ mf)

    // engine read: rows 0 and 2 of the seq-1 file gone; the seq-2 row
    // survives its same-position delete at a LOWER sequence
    val got = IcebergExport.readTable(spark, t.tablePath)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got == Set((2L, "b"), (4L, "d")), got.toString)

    // foreign read: same rows, bit-for-bit vs the expected parquet
    val expected = dump(Seq((2L, "b"), (4L, "d")).toDF("id", "v"),
      s"$dir/expected")
    val r = readForeign(t.tablePath, expected)
    assert(r("rows") == 2 && r("match") == true, r.toString)
    assert(r("deletes").toString.toInt >= 1, r.toString)
  }

  test("foreign NON-IDENTITY transforms (day[ts]): the source column " +
       "reads from the data pages and the transform's partition value " +
       "stays metadata-only — both readers") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    import org.apache.avro.generic.GenericData
    val dir = Files.createTempDirectory("graft-foreign-day").toString
    val t = TieredTable(spark, s"$dir/events")
    t.commitAppend(Seq((1L, "2024-03-01"), (2L, "2024-03-02"))
      .toDF("id", "day_str").coalesce(1))
    IcebergExport.export(t)
    val mdir = s"${t.tablePath}/metadata"

    // make the exported chain look like a day()-partitioned foreign
    // table: spec 0 gains a day-transform field, and the manifest
    // entry's partition struct carries the day ordinal — real writers
    // ALWAYS store the source column in the pages, so a reader must
    // take pages and never synthesize a column from the transform
    val hint = Files.readString(java.nio.file.Paths.get(
      s"$mdir/version-hint.text")).trim.toInt
    val mpath = java.nio.file.Paths.get(f"$mdir/v$hint%05d.metadata.json")
    val md = Files.readString(mpath)
    assert(md.contains(""""partition-specs":[{"spec-id":0,"fields":[]}]"""))
    Files.writeString(mpath, md.replace(
      """"partition-specs":[{"spec-id":0,"fields":[]}]""",
      """"partition-specs":[{"spec-id":0,"fields":[{"name":"id_day",""" +
        """"transform":"day","source-id":1,"field-id":1000}]}]"""))

    val entrySchema = IcebergExport.manifestEntrySchema(
      Seq("id_day" -> "int"))
    val (entries, _) = IcebergExport.readAvro(s"$mdir/manifest-000001.avro")
    val rewritten = entries.map { old =>
      val e = new GenericData.Record(entrySchema)
      Seq("status", "snapshot_id", "sequence_number",
        "file_sequence_number").foreach(f => e.put(f, old.get(f)))
      val odf = old.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      val df0 = new GenericData.Record(
        entrySchema.getField("data_file").schema())
      Seq("content", "file_path", "file_format", "record_count",
        "file_size_in_bytes").foreach(f => df0.put(f, odf.get(f)))
      val part = new GenericData.Record(
        df0.getSchema.getField("partition").schema())
      part.put("id_day", Integer.valueOf(19783)) // 2024-03-01 ordinal
      df0.put("partition", part)
      e.put("data_file", df0)
      e
    }
    val delPath = s"$mdir/manifest-000001.avro"
    IcebergExport.writeAvro(delPath, entrySchema, Map(
      "partition-spec" -> """[{"name":"id_day","transform":"day"}]""",
      "partition-spec-id" -> "0", "format-version" -> "2",
      "content" -> "data"), rewritten)
    val listPath = s"$mdir/snap-000001-manifest-list.avro"
    val (mfs, listMeta) = IcebergExport.readAvro(listPath)
    mfs.foreach(mf => mf.put("manifest_length",
      new java.io.File(delPath).length()))
    IcebergExport.writeAvro(listPath, IcebergExport.ManifestFileSchema,
      listMeta.filterNot(_._1.startsWith("avro.")), mfs)

    val got = IcebergExport.readTable(spark, t.tablePath)
      .select("id", "day_str").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "2024-03-01"), (2L, "2024-03-02")),
      s"pages must drive the read; no id_day column synthesized: $got")
    assert(!IcebergExport.readTable(spark, t.tablePath)
      .columns.contains("id_day"),
      "the transform's partition field is not a schema column")
    val r = readForeign(t.tablePath,
      dump(Seq((1L, "2024-03-01"), (2L, "2024-03-02"))
        .toDF("id", "day_str"), s"$dir/expected"))
    assert(r("rows") == 2 && r("match") == true, r.toString)
  }

  test("equality deletes with DIFFERING equality_ids per file — the " +
       "foreign-writer shape the r10 advice named: each delete file " +
       "resolves against ITS OWN column set in both readers") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    import org.apache.avro.generic.GenericData
    val dir = Files.createTempDirectory("graft-foreign-eqids").toString
    val t = TieredTable(spark, s"$dir/accts")
    t.commitAppend(Seq((1L, 100L), (2L, 200L), (3L, 300L), (4L, 400L))
      .toDF("acct", "balance").coalesce(1))            // seq 1
    IcebergExport.export(t)
    val mdir = s"${t.tablePath}/metadata"

    // two delete files at sequence 2 with DIFFERENT equality_ids:
    // one deletes BY ACCT (acct=1), one BY BALANCE (balance=200) —
    // resolving either against the other's columns keeps/drops the
    // wrong rows
    def writeDel(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val d = s"$dir/$name"
      df.coalesce(1).write.mode("overwrite").parquet(d)
      new java.io.File(d).listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).head
    }
    val delAcct = writeDel("del-acct", Seq(Tuple1(1L)).toDF("acct"))
    val delBal = writeDel("del-bal", Seq(Tuple1(200L)).toDF("balance"))

    // field ids from the exported schema (acct=1, balance=2 by order)
    val entrySchema = IcebergExport.manifestEntrySchema(Nil)
    def delEntry(path: String, fieldId: Int): GenericData.Record = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", 1L)
      e.put("sequence_number", 2L)
      e.put("file_sequence_number", 2L)
      val df0 = new GenericData.Record(
        entrySchema.getField("data_file").schema())
      df0.put("content", 2) // EQUALITY_DELETES
      df0.put("file_path", path)
      df0.put("file_format", "PARQUET")
      df0.put("partition", new GenericData.Record(
        df0.getSchema.getField("partition").schema()))
      df0.put("record_count", 1L)
      df0.put("file_size_in_bytes", new java.io.File(path).length())
      df0.put("equality_ids",
        java.util.Arrays.asList(Integer.valueOf(fieldId)))
      e.put("data_file", df0)
      e
    }
    val delPath = s"$mdir/manifest-eqids-000001.avro"
    val delLen = IcebergExport.writeAvro(delPath, entrySchema, Map(
      "partition-spec" -> "[]", "partition-spec-id" -> "0",
      "format-version" -> "2", "content" -> "deletes"),
      Seq(delEntry(delAcct, 1), delEntry(delBal, 2)))
    val listPath = s"$mdir/snap-000001-manifest-list.avro"
    val (mfs, listMeta) = IcebergExport.readAvro(listPath)
    val mf = new GenericData.Record(IcebergExport.ManifestFileSchema)
    mf.put("manifest_path", delPath)
    mf.put("manifest_length", delLen)
    mf.put("partition_spec_id", 0)
    mf.put("content", 1)
    mf.put("sequence_number", 2L)
    mf.put("min_sequence_number", 2L)
    mf.put("added_snapshot_id", 1L)
    mf.put("added_files_count", 2)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", 2L)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    IcebergExport.writeAvro(listPath, IcebergExport.ManifestFileSchema,
      listMeta.filterNot(_._1.startsWith("avro.")), mfs :+ mf)

    val got = IcebergExport.readTable(spark, t.tablePath)
      .select("acct", "balance").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 300L), (4L, 400L)),
      s"acct=1 (by acct) and balance=200 (by balance) must both go: $got")
    val r = readForeign(t.tablePath,
      dump(Seq((3L, 300L), (4L, 400L)).toDF("acct", "balance"),
        s"$dir/expected"))
    assert(r("rows") == 2 && r("match") == true, r.toString)
  }

  test("v2 sequence-number inheritance: entries with NULL " +
       "sequence_number (the shape real Iceberg writers leave on " +
       "ADDED entries) inherit the manifest list's — both readers") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    import org.apache.avro.generic.GenericData
    val dir = Files.createTempDirectory("graft-foreign-inherit").toString
    val t = TieredTable(spark, s"$dir/accounts", pk = Seq("acct"),
      mergeOnRead = true)
    t.commitUpsert(Seq((1L, 100L), (2L, 200L)).toDF("acct", "balance"))
    t.commitUpsert(Seq((2L, 250L)).toDF("acct", "balance"))
    IcebergExport.export(t)
    val mdir = s"${t.tablePath}/metadata"
    // null-out the ADDED entries' explicit sequence numbers (the spec
    // scopes inheritance to status 1 — EXISTING entries keep theirs)
    // — inheritance must recover them from each manifest's list entry
    // (delete resolution depends on the DATA sequence ordering, so a
    // wrong inherit resurrects acct 2's superseded row or drops one)
    for (m <- new java.io.File(mdir).listFiles().map(_.getName)
           if m.startsWith("manifest-") && m.endsWith(".avro")) {
      val (entries, meta) = IcebergExport.readAvro(s"$mdir/$m")
      entries.filter(_.get("status").asInstanceOf[Int] == 1).foreach { e =>
        e.put("sequence_number", null)
        e.put("file_sequence_number", null)
      }
      IcebergExport.writeAvro(s"$mdir/$m", entries.head.getSchema,
        meta.filterNot(_._1.startsWith("avro.")), entries)
    }
    // ... but a manifest rewrite changes lengths: refresh the list
    val listPath = s"$mdir/snap-000002-manifest-list.avro"
    val (mfs, listMeta) = IcebergExport.readAvro(listPath)
    mfs.foreach { mf =>
      val p = mf.get("manifest_path").toString
      mf.put("manifest_length",
        new java.io.File(p).length())
    }
    IcebergExport.writeAvro(listPath,
      IcebergExport.ManifestFileSchema,
      listMeta.filterNot(_._1.startsWith("avro.")), mfs)

    val got = IcebergExport.readTable(spark, t.tablePath)
      .select("acct", "balance").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (2L, 250L)),
      s"inheritance must preserve last-write-wins: $got")
    val r = readForeign(t.tablePath,
      dump(Seq((1L, 100L), (2L, 250L)).toDF("acct", "balance"),
        s"$dir/expected"))
    assert(r("rows") == 2 && r("match") == true, r.toString)
  }

  test("partition-spec evolution: the foreign reader resolves a " +
       "MULTI-SPEC table (per-manifest spec ids, both vintages)") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-evo").toString
    val path = s"$dir/evolved"
    val t = TieredTable(spark, path)
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))          // spec 0 (unpartitioned)
    t.recordPartitionEvolution(Nil, Seq("region"))
    val t2 = TieredTable(spark, path, partitionBy = Seq("region"))
    t2.commitAppend(Seq((3L, "eu", 30L), (4L, "ap", 40L))
      .toDF("id", "region", "amt"))          // spec 1 (region)
    IcebergExport.export(t2)
    val r = readForeign(path, dump(
      Seq((1L, "eu", 10L), (2L, "us", 20L), (3L, "eu", 30L),
        (4L, "ap", 40L)).toDF("id", "region", "amt"), s"$dir/expected"))
    assert(r("rows") == 4 && r("match") == true, r.toString)
  }

  test("DROP PARTITION FIELD: the foreign reader resolves the " +
       "THREE-spec table (pages → hive dirs → pages again; the new " +
       "spec id omits the dropped field)") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-drop").toString
    val path = s"$dir/dropped"
    val t = TieredTable(spark, path)
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))               // spec 0: unpartitioned
    t.recordPartitionEvolution(Nil, Seq("region"))
    val t2 = TieredTable(spark, path, partitionBy = Seq("region"))
    t2.commitAppend(Seq((3L, "eu", 30L), (4L, "ap", 40L))
      .toDF("id", "region", "amt"))               // spec 1: hive by region
    t2.recordPartitionEvolution(Seq("region"), Nil)
    val t3 = TieredTable(spark, path)
    t3.commitAppend(Seq((5L, "us", 50L)).toDF("id", "region", "amt"))
                                                  // spec 2: unpartitioned
    IcebergExport.export(t3)
    val r = readForeign(path, dump(
      Seq((1L, "eu", 10L), (2L, "us", 20L), (3L, "eu", 30L),
        (4L, "ap", 40L), (5L, "us", 50L)).toDF("id", "region", "amt"),
      s"$dir/expected"))
    assert(r("rows") == 5 && r("match") == true, r.toString)
  }

  test("v3 deletion vectors: puffin-backed DVs — the shape a modern " +
       "format-version-3 writer leaves — resolve in BOTH readers " +
       "under the >= sequence rule") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-dv").toString
    val t = TieredTable(spark, s"$dir/events")
    t.commitAppend(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1))                    // seq 1, one file
    t.commitAppend(Seq((4L, "d")).toDF("id", "v").coalesce(1)) // seq 2
    IcebergExport.export(t)
    val mdir = s"${t.tablePath}/metadata"
    def filesOf(manifest: String): Seq[String] =
      IcebergExport.readAvro(s"$mdir/$manifest")._1
        .map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord])
        .map(_.get("file_path").toString).distinct
    val seq1File = filesOf("manifest-000001.avro").head
    val seq2File = filesOf("manifest-000002.avro")
      .filterNot(_ == seq1File).head

    // a v3 writer's delete commit: one Puffin file, one DV per data
    // file, addressed from a delete manifest via fields 143/144/145.
    // The DV at sequence 1 erases rows 0 and 2 of the seq-1 file; the
    // DV naming the seq-2 file at the SAME sequence must NOT apply
    // (dseq 1 < fseq 2 — the position-delete >= rule).
    IcebergExport.attachDeletionVectors(t.tablePath,
      Seq(seq1File -> Array(0L, 2L), seq2File -> Array(0L)),
      sequenceNumber = 1L)
    val hint = Files.readString(java.nio.file.Paths.get(
      s"$mdir/version-hint.text")).trim.toInt
    assert(Files.readString(java.nio.file.Paths.get(
      f"$mdir/v$hint%05d.metadata.json")).contains("\"format-version\":3"),
      "the DV-carrying table must claim format-version 3")

    val got = IcebergExport.readTable(spark, t.tablePath)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got == Set((2L, "b"), (4L, "d")), got.toString)
    val r = readForeign(t.tablePath,
      dump(Seq((2L, "b"), (4L, "d")).toDF("id", "v"), s"$dir/expected"))
    assert(r("rows") == 2 && r("match") == true, r.toString)
    assert(r("deletes").toString.toInt >= 2, s"DV entries read: $r")
  }

  test("v3 deletion vectors COMBINED with equality deletes: the real " +
       "v3 MoR shape — eq deletes resolve last-write-wins (strict >), " +
       "then the DV erases a surviving row by position (>=); both " +
       "readers agree") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-dveq").toString
    val t = TieredTable(spark, s"$dir/accounts", pk = Seq("acct"),
      mergeOnRead = true)
    // base delta: positions 0→(1,100), 1→(2,200), 2→(3,300)
    t.commitUpsert(Seq((1L, 100L), (2L, 200L), (3L, 300L))
      .toDF("acct", "balance").coalesce(1))
    t.commitUpsert(Seq((2L, 250L)).toDF("acct", "balance")) // eq-del (2,200)
    IcebergExport.export(t)
    val mdir = s"${t.tablePath}/metadata"
    val baseFile = IcebergExport.readAvro(s"$mdir/manifest-000001.avro")._1
      .map(_.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord])
      .map(_.get("file_path").toString).distinct.head
    // a DV at sequence 3 erases position 0 of the base file — acct 1's
    // ONLY version; acct 3 survives both delete kinds
    IcebergExport.attachDeletionVectors(t.tablePath,
      Seq(baseFile -> Array(0L)), sequenceNumber = 3L)

    val got = IcebergExport.readTable(spark, t.tablePath)
      .select("acct", "balance").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 250L), (3L, 300L)), got.toString)
    val r = readForeign(t.tablePath,
      dump(Seq((2L, 250L), (3L, 300L)).toDF("acct", "balance"),
        s"$dir/expected"))
    assert(r("rows") == 2 && r("match") == true, r.toString)
    assert(r("deletes").toString.toInt >= 2,
      s"one eq-delete file + one DV must both resolve: $r")
  }

  test("v3 deletion vectors: a DENSE vector (bitmap containers, >4096 " +
       "positions per 16-bit key) decodes identically in the foreign " +
       "engine") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-dvdense").toString
    val t = TieredTable(spark, s"$dir/big")
    // single ordered file: position i holds id i+1
    t.commitAppend((1L to 6000L).map(i => (i, s"v$i"))
      .toDF("id", "v").coalesce(1))
    IcebergExport.export(t)
    IcebergExport.attachDeletionVectors(t.tablePath,
      Seq(IcebergExport.readAvro(
        s"${t.tablePath}/metadata/manifest-000001.avro")._1
        .map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord])
        .map(_.get("file_path").toString).distinct.head ->
        (0L until 5000L).toArray),
      sequenceNumber = 1L)
    val got = IcebergExport.readTable(spark, t.tablePath)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == (5001L to 6000L), s"${got.length} rows survive")
    val r = readForeign(t.tablePath, dump(
      (5001L to 6000L).map(i => (i, s"v$i")).toDF("id", "v"),
      s"$dir/expected"))
    assert(r("rows") == 1000 && r("match") == true, r.toString)
  }

  test("bucketed merge-on-read: the foreign reader resolves a " +
       "bucket[N]-spec table (non-identity transform, scoped deletes)") {
    assume(pythonOk, "driver-side python3+duckdb unavailable")
    val dir = Files.createTempDirectory("graft-foreign-bmor").toString
    val t = TieredTable(spark, s"$dir/baccounts", pk = Seq("acct"),
      mergeOnRead = true, bucketBy = 4)
    t.commitUpsert((1L to 30L).map(i => (i, i * 10)).toDF("acct", "balance"))
    t.commitUpsert(Seq((5L, 555L), (17L, 777L)).toDF("acct", "balance"))
    IcebergExport.export(t)
    val r = readForeign(t.tablePath, dump(t.readCold(), s"$dir/expected"))
    assert(r("rows") == 30 && r("match") == true, r.toString)
    assert(r("deletes").toString.toInt >= 1, s"delete files read: $r")
  }
}
