package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.TieredTable

class TieredTableSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmpTable(pk: Seq[String] = Nil): TieredTable = {
    val dir = Files.createTempDirectory("graft-tt").toString
    TieredTable(spark, s"$dir/t", pk)
  }

  test("union read = cold + hot tail, exactly once per row, at every boundary") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val t = tmpTable()
      val nSegs = 2 + rnd.nextInt(3)
      val segs = (0 until nSegs).map { s =>
        (0 until (1 + rnd.nextInt(20))).map(i => (s * 100 + i).toLong)
      }
      segs.foreach(rows => t.appendLog(rows.toDF("id")))
      val boundary = rnd.nextInt(nSegs).toLong  // tier segments 0..boundary
      t.tier(upToSeg = Some(boundary))
      val all = segs.flatten.sorted
      val cold = t.readCold().as[Long].collect().sorted.toSeq
      val union = t.readUnion().as[Long].collect().sorted.toSeq
      assert(cold == segs.take(boundary.toInt + 1).flatten.sorted)
      assert(union == all, "no row lost or duplicated across the boundary")
      assert(union.size >= cold.size, "hot∪cold ≥ cold (README.md:316 invariant)")
    }
  }

  test("readHot with no hot tail: the union's schema with a later-added " +
       "column, no job on repeat, and a clear refusal on an empty table") {
    val t = tmpTable()
    t.appendLog(Seq(1L, 2L).toDF("id"))
    t.tier()
    t.appendLog(Seq((3L, "x")).toDF("id", "extra"))
    t.tier()
    val hot = t.readHot()
    assert(hot.columns.toSeq == Seq("id", "extra"))
    assert(hot.schema == t.readUnion().schema)
    assert(hot.count() == 0)
    val (schema, m) = Measure(spark)(t.readHot().schema)
    assert(schema.get == hot.schema)
    assert(m.jobs == 0, s"a repeat readHot ran ${m.jobs} job(s)")
    val e = intercept[IllegalStateException](tmpTable().readHot())
    assert(e.getMessage.contains("empty table"), e.getMessage)
  }

  test("cross-process commit CAS: loser fails loudly, LATEST uncorrupted, retry wins") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft-cas").toString
    val mine = TieredTable(spark, s"$dir/t")
    mine.commitAppend(Seq(1L).toDF("id")) // snapshot 1
    // Simulate a SECOND DRIVER in the race window: it claimed snapshot 2
    // (created the manifest file — the create-exclusive CAS token) but
    // has not yet swapped LATEST. A JVM lock can't see this writer; only
    // the filesystem CAS can.
    val foreign = Paths.get(s"$dir/t/meta/snap-000002.props")
    Files.createFile(foreign)
    val e = intercept[TieredTable.CommitConflictException] {
      mine.commitAppend(Seq(2L).toDF("id"))
    }
    assert(e.getMessage.contains("concurrent committer"))
    // the loser corrupted nothing: LATEST still 1, table fully readable
    assert(mine.latestSnapshotId == 1L)
    assert(mine.readCold().as[Long].collect().toSeq == Seq(1L))
    // the foreign driver publishes its commit (same files as snapshot 1)
    val m1 = Files.readString(Paths.get(s"$dir/t/meta/snap-000001.props"))
    Files.writeString(foreign, m1.replaceFirst("(?m)^id=1$", "id=2"))
    Files.writeString(Paths.get(s"$dir/t/meta/LATEST"), "2")
    // retryOnConflict recomputes against the published state → wins id 3
    val s = TieredTable.retryOnConflict() {
      mine.commitAppend(Seq(3L).toDF("id"))
    }
    assert(s.id == 3L && mine.latestSnapshotId == 3L)
    assert(mine.readCold().as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // a conflict that never resolves (crashed claimer) exhausts the
    // retries and surfaces — loud failure, not a hang or a guess
    Files.createFile(Paths.get(s"$dir/t/meta/snap-000004.props"))
    intercept[TieredTable.CommitConflictException] {
      TieredTable.retryOnConflict(maxAttempts = 2) {
        mine.commitAppend(Seq(4L).toDF("id"))
      }
    }
    assert(mine.latestSnapshotId == 3L, "failed retries never move LATEST")
  }

  test("snapshot ids are monotone and rows_added is accounted") {
    val t = tmpTable()
    t.appendLog(Seq(1L, 2L).toDF("id")); t.tier()
    t.appendLog(Seq(3L).toDF("id"));     t.tier()
    val snaps = t.snapshots()
      .select("snapshot_id", "parent_id", "rows_added", "tiered_seg",
        "manifest_list", "summary")
      .orderBy("snapshot_id").collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // parent lineage: first snapshot has no parent, second points at 1
    assert(snaps(0).isNullAt(1) && snaps(1).getLong(1) == 1L)
    assert(snaps.map(_.getLong(2)).toSeq == Seq(2L, 1L))
    assert(snaps.map(_.getLong(3)).toSeq == Seq(0L, 1L))
    assert(snaps.forall(_.getString(4).endsWith(".props")))
    val summaries = snaps.map(_.getMap[String, String](5))
    assert(summaries.map(_("added-records")).toSeq == Seq("2", "1"))
    assert(summaries.map(_("total-data-files")).toSeq == Seq("1", "2"))
  }

  test("tier is a no-op when nothing is pending") {
    val t = tmpTable()
    t.appendLog(Seq(1L).toDF("id"))
    assert(t.tier().isDefined)
    assert(t.tier().isEmpty)
  }

  test("PK table: later commits win per key (merge-on-read)") {
    val t = tmpTable(pk = Seq("k"))
    t.commitUpsert(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.commitUpsert(Seq((2, "b2"), (3, "c")).toDF("k", "v"))
    val got = t.readCold().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "a", 2 -> "b2", 3 -> "c"))
  }

  test("incremental read emits +I for new keys and -U/+U pairs for changed rows only") {
    val t = tmpTable(pk = Seq("k"))
    t.commitUpsert(Seq((1, "a"), (2, "b"), (4, "d")).toDF("k", "v")) // snap 1
    t.commitUpsert(Seq((2, "b2"), (3, "c"), (4, "d")).toDF("k", "v")) // snap 2
    val got = t.incrementalRead(1L, 2L, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    // k=3 is new (+I); k=2 changed → retraction of the OLD row (-U)
    // plus the new row (+U) — the Fluss upsert-changelog pair; k=1 and
    // the unchanged k=4 produce NO changelog rows
    assert(got == Set((3, "c", "+I"), (2, "b", "-U"), (2, "b2", "+U")))
    // identical snapshots → empty changelog
    assert(t.incrementalRead(2L, 2L, Seq("k")).count() == 0)
  }

  test("maintenance rewrites are changelog-invisible: compact emits no CDC rows") {
    // compact()/compactZOrder() replace EVERY file yet preserve content
    // — a file-lineage diff would report the whole table as churned,
    // so the CDC contract has to be content-level: a changelog spanning
    // a maintenance rewrite must be empty (else every downstream MV
    // re-applies the full table after each compaction).
    val t = tmpTable(pk = Seq("k"))
    t.commitUpsert(Seq((1, "a"), (2, "b")).toDF("k", "v")) // snap 1
    t.compact()                                            // snap 2: rewrite
    assert(t.incrementalRead(1L, 2L, Seq("k")).count() == 0)
    t.compactZOrder(Seq("k"))                              // snap 3: rewrite
    assert(t.incrementalRead(1L, 3L, Seq("k")).count() == 0)
    // and a real change AFTER the rewrites still surfaces, alone
    t.commitUpsert(Seq((2, "b2")).toDF("k", "v"))          // snap 4
    val got = t.incrementalRead(1L, 4L, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((2, "b", "-U"), (2, "b2", "+U")))
  }

  test("changelog replay: the op algebra alone carries an aggregate across snapshots") {
    // THE reason -U exists (reference README.md:153-169 upsert
    // semantics): a downstream aggregator holding sum(v)@from applies
    // +(+I, +U) and −(-U, -D) from the changelog — never re-reading
    // either snapshot — and must land exactly on sum(v)@to.
    val t = tmpTable(pk = Seq("k"))
    t.commitUpsert(Seq((1, 10L), (2, 20L), (3, 30L)).toDF("k", "v")) // snap 1
    t.commitUpsert(Seq((2, 25L), (4, 40L)).toDF("k", "v"))           // snap 2
    t.deleteWhere(col("k") === 1)                                    // snap 3
    val sumAt = (id: Long) => t.readColdAsOf(id)
      .agg(sum(col("v"))).head().getLong(0)
    val delta = t.incrementalRead(1L, 3L, Seq("k"))
      .select(sum(when(col("op").isin("+I", "+U"), col("v"))
        .otherwise(-col("v")))).head().getLong(0)
    assert(sumAt(1L) + delta == sumAt(3L),
      "replaying the changelog must reproduce the target aggregate")
    // and the -U/+U pair nets the k=2 update: -20 + 25
    val pair = t.incrementalRead(1L, 3L, Seq("k"))
      .filter(col("k") === 2)
      .collect().map(r => (r.getString(r.fieldIndex("op")),
        r.getLong(r.fieldIndex("v")))).toSet
    assert(pair == Set(("-U", 20L), ("+U", 25L)))
  }

  test("gcOrphans removes failed-commit debris, unblocks the id space, spares live data") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft-gc").toString
    val t = TieredTable(spark, s"$dir/t")
    t.appendLog(Seq(1L, 2L).toDF("id")); t.tier() // snap 1 (live)
    t.appendLog(Seq(3L).toDF("id"))               // hot tail (live)
    // debris: an unpublished data dir (lost CAS race), a crashed
    // append temp dir, and a dead zero-length manifest claim
    val orphanData = Paths.get(s"$dir/t/data/snap-000099")
    Files.createDirectories(orphanData)
    Files.writeString(orphanData.resolve("part-junk.parquet"), "x")
    val tmpSeg = Paths.get(s"$dir/t/log/_tmp-seg-000042")
    Files.createDirectories(tmpSeg)
    Files.writeString(tmpSeg.resolve("part-junk.parquet"), "x")
    Files.writeString(Paths.get(s"$dir/t/meta/snapdead.tmp"), "crashed")
    Files.createFile(Paths.get(s"$dir/t/meta/snap-000002.props"))
    // the dead claim blocks the next commit with a conflict — and the
    // loser leaves its own already-written data dir behind, exactly
    // the debris retryOnConflict documents for this collector
    intercept[TieredTable.CommitConflictException] {
      t.commitAppend(Seq(9L).toDF("id"))
    }
    assert(t.gcOrphans() == 5, "orphan dir + temp seg + meta temp + " +
      "dead claim + the failed commit's data dir")
    // live data untouched, debris gone
    assert(t.readUnion().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(!Files.exists(orphanData) && !Files.exists(tmpSeg))
    // the id space is unblocked: the commit now lands as snapshot 2
    assert(t.commitAppend(Seq(9L).toDF("id")).id == 2L)
    assert(t.readCold().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
    // a FULLY-WRITTEN unpublished manifest (unknown outcome) is spared
    val m2 = Files.readString(Paths.get(s"$dir/t/meta/snap-000002.props"))
    Files.writeString(Paths.get(s"$dir/t/meta/snap-000003.props"),
      m2.replaceFirst("(?m)^id=2$", "id=3"))
    assert(t.gcOrphans() == 0)
    assert(Files.exists(Paths.get(s"$dir/t/meta/snap-000003.props")),
      "unknown-outcome manifests are an operator decision, not GC fodder")
  }

  test("append-only CDC fast path: new files arrive as +I with no diff join") {
    val t = tmpTable()
    t.appendLog(Seq(1L, 2L).toDF("id")); t.tier() // snap 1
    t.appendLog(Seq(3L).toDF("id"));     t.tier() // snap 2
    val cdc = t.incrementalRead(1L, 2L, Seq("id"))
    assert(cdc.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((3L, "+I")))
    // pure-append lineage must never pay the fingerprint diff join —
    // the changelog is a straight scan of the files added since `from`
    val plan = cdc.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"append lineage must not diff-join:\n$plan")
    assert(t.incrementalRead(2L, 2L, Seq("id")).count() == 0)
    // a rewrite (delete) breaks the file-subset lineage → the join
    // path takes over (covered further by the deleteWhere spec)
    t.deleteWhere(col("id") === 1L)
    val afterRewrite = t.incrementalRead(2L, 3L, Seq("id"))
    assert(afterRewrite.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == Set((1L, "-D")))
  }

  test("changelogSince: cursor-driven polling consumes each commit range exactly once") {
    val t = tmpTable(pk = Seq("k"))
    intercept[IllegalArgumentException] { t.changelogSince(0L, Seq("k")) }
    t.commitUpsert(Seq((1, "a"), (2, "b")).toDF("k", "v")) // snap 1
    // bootstrap from cursor 0: the whole snapshot arrives as +I
    val (c1, boot) = t.changelogSince(0L, Seq("k"))
    assert(c1 == 1L)
    assert(boot.collect().map(r => (r.getInt(0), r.getString(1),
      r.getString(r.fieldIndex("op")))).toSet ==
      Set((1, "a", "+I"), (2, "b", "+I")))
    // idle poll: empty frame, stable cursor, schema intact
    val (c2, none) = t.changelogSince(c1, Seq("k"))
    assert(c2 == c1 && none.count() == 0 && none.columns.contains("op"))
    // two commits land between polls → ONE coalesced delta
    t.commitUpsert(Seq((2, "b2")).toDF("k", "v")) // snap 2
    t.commitUpsert(Seq((3, "c")).toDF("k", "v"))  // snap 3
    val (c3, delta) = t.changelogSince(c2, Seq("k"))
    assert(c3 == 3L)
    assert(delta.collect().map(r => (r.getInt(0), r.getString(1),
      r.getString(r.fieldIndex("op")))).toSet ==
      Set((2, "b", "-U"), (2, "b2", "+U"), (3, "c", "+I")))
    // a stale-future cursor is rejected loudly, never silently replayed
    intercept[IllegalArgumentException] { t.changelogSince(9L, Seq("k")) }
  }

  test("deleteWhere rewrites the cold tier; incremental read emits -D") {
    val t = tmpTable()
    t.appendLog(Seq(1L, 2L, 3L).toDF("id")); t.tier() // snap 1
    val s = t.deleteWhere(col("id") === 2L)
    assert(s.isDefined && s.get.op == "delete")
    assert(t.readCold().collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val cdc = t.incrementalRead(1L, s.get.id, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cdc == Set((2L, "-D")))
    // nothing matched → no empty commit
    assert(t.deleteWhere(col("id") === 99L).isEmpty)
    assert(t.latestSnapshotId == s.get.id)
    // SQL three-valued logic: a NULL predicate keeps the row
    val tn = tmpTable()
    tn.appendLog(Seq(Some(1L), None, Some(3L)).toDF("id")); tn.tier()
    tn.deleteWhere(col("id") === 3L)
    val left = tn.readCold().collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(left == Set(Some(1L), None), "NULL-id row must survive the delete")
    // a hot tail blocks deletes (tier first)
    t.appendLog(Seq(4L).toDF("id"))
    intercept[Exception] { t.deleteWhere(col("id") === 1L) }
  }

  test("updateWhere applies simultaneous assignments; CDC reports +U") {
    val t = tmpTable()
    t.appendLog(Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
      .toDF("id", "a", "b"))
    t.tier() // snap 1
    // swap a and b on row 2 — both assignments must read the OLD row
    val s = t.updateWhere(col("id") === 2L,
      Map("a" -> col("b"), "b" -> col("a")))
    assert(s.isDefined && s.get.op == "update")
    val got = t.readCold().collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> ((10L, 100L)), 2L -> ((200L, 20L)),
      3L -> ((30L, 300L))))
    val cdc = t.incrementalRead(1L, s.get.id, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    assert(cdc == Set((2L, 20L, "-U"), (2L, 200L, "+U")))
    // no match → no commit; NULL predicate rows untouched
    assert(t.updateWhere(col("id") === 99L, Map("a" -> lit(0L))).isEmpty)
  }

  test("deleteWhere on a merge-on-read PK table keeps later reads resolvable") {
    val t = tmpTable(pk = Seq("k"))
    t.commitUpsert(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.commitUpsert(Seq((2, "b2"), (3, "c")).toDF("k", "v"))
    assert(t.deleteWhere(col("k") === 2).isDefined)
    val got = t.readCold().collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "a", 3 -> "c"))
    // upserts after the rewrite still version correctly
    t.commitUpsert(Seq((1, "a9")).toDF("k", "v"))
    assert(t.readCold().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a9", 3 -> "c"))
  }

  test("compact + vacuum preserve content, shrink files, keep union exact") {
    val t = tmpTable()
    (0 until 5).foreach { i =>
      t.appendLog(Seq(i.toLong * 2, i.toLong * 2 + 1).toDF("id")); t.tier()
    }
    t.appendLog(Seq(100L).toDF("id")) // hot tail
    val before = t.readUnion().as[Long].collect().sorted.toSeq
    assert(t.currentSnapshot.get.files.size == 5)
    t.compact()
    assert(t.currentSnapshot.get.files.size == 1)
    assert(t.readUnion().as[Long].collect().sorted.toSeq == before)
    val removed = t.vacuum(keepLast = 1)
    assert(removed > 0)
    assert(t.readUnion().as[Long].collect().sorted.toSeq == before)
    assert(t.readCold().count() == 10)
    // snapshots listing reflects only the kept tail
    assert(t.snapshots().count() == 1)
  }

  test("vacuum on a table with zero snapshots is a no-op, not a crash") {
    val t = tmpTable()
    assert(t.vacuum(keepLast = 1) == 0, "empty table: nothing to drop")
    t.appendLog(Seq(1L, 2L).toDF("id")) // hot-log-only: still no snapshot
    assert(t.vacuum(keepLast = 1) == 0)
    assert(t.readUnion().count() == 2, "hot rows untouched")
  }

  test("cherrypick refuses when the parent snapshot was vacuumed — " +
       "the append-lineage delta is unprovable") {
    import spark.implicits._
    val t = tmpTable()
    t.commitAppend(Seq((1L, "a")).toDF("id", "v"))  // snap 1
    t.commitAppend(Seq((2L, "b")).toDF("id", "v"))  // snap 2
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"))  // snap 3
    t.vacuum(keepLast = 1) // drops manifests 1 and 2 (snap 3 keeps the data)
    assert(t.snapshot(2L).isEmpty)
    // pre-guard behavior: parentFiles = ∅ made the subset check vacuous
    // and `added` = snap-3's ENTIRE file list — a silent full-history
    // re-apply. Now: loud refusal.
    val e = intercept[IllegalArgumentException](t.cherrypick(3L))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("compactIfNeeded fires only on many-small-files fragmentation") {
    val t = tmpTable()
    (0 until 4).foreach { i => t.appendLog(Seq(i.toLong).toDF("id")); t.tier() }
    val before = t.readUnion().as[Long].collect().sorted.toSeq
    // 4 snapshot dirs of tiny files: over a maxFiles=3 budget → compacts
    assert(t.compactIfNeeded(maxFiles = 3).isDefined)
    assert(t.currentSnapshot.get.files.size == 1)
    assert(t.readUnion().as[Long].collect().sorted.toSeq == before)
    // healthy tier: under the file budget → no rewrite, no new snapshot
    // (the one compacted snapshot dir still holds a part file per
    // shuffle partition, so the budget is on PART files, not dirs)
    val snapId = t.currentSnapshot.get.id
    assert(t.compactIfNeeded(maxFiles = 8).isEmpty)
    // big-but-healthy guard: many files whose AVERAGE size is above the
    // floor must not be rewritten (minAvgBytes = 0 makes every file
    // "healthy"; re-copying a large tier on file count alone is the
    // expensive non-mistake)
    (0 until 4).foreach { i => t.appendLog(Seq(10L + i).toDF("id")); t.tier() }
    assert(t.compactIfNeeded(maxFiles = 3, minAvgBytes = 0L).isEmpty)
    assert(t.currentSnapshot.get.id > snapId) // tiering advanced…
    assert(t.currentSnapshot.get.op != "compact") // …but nothing compacted
  }

  test("expireOlderThan drops only pre-cutoff history, floor keeps the head") {
    val t = tmpTable()
    t.appendLog(Seq(1L).toDF("id")); t.tier()          // snap 1
    Thread.sleep(15L)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(15L)
    t.appendLog(Seq(2L).toDF("id")); t.tier()          // snap 2
    t.appendLog(Seq(3L).toDF("id")); t.tier()          // snap 3
    assert(t.expireOlderThan(cutoff) > 0)
    // snap 1 expired; 2 and 3 (fresh) survive with full content
    assert(t.snapshots().count() == 2)
    assert(t.readUnion().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // a cutoff in the future can never remove the current snapshot
    assert(t.expireOlderThan(System.currentTimeMillis() + 60000L) >= 0)
    assert(t.snapshots().count() == 1)
    assert(t.readUnion().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("compactIfNeeded sees part files under Hive partition dirs") {
    // partitioned snapshots nest parts under col=value/ — the policy
    // must count those (a flat listing would silently exempt exactly
    // the most fragmentation-prone tables)
    val dir = Files.createTempDirectory("graft-tt-part").toString
    val t = new TieredTable(spark, s"$dir/t", partitionBy = Seq("p"))
    (0 until 4).foreach { i =>
      t.commitAppend(Seq((i.toLong, s"p${i % 2}")).toDF("id", "p"))
    }
    val before = t.readCold().select("id").as[Long].collect().sorted.toSeq
    assert(t.compactIfNeeded(maxFiles = 3).isDefined,
      "4 partitioned commits of tiny files must trip a 3-file budget")
    assert(t.currentSnapshot.get.op == "compact")
    assert(t.readCold().select("id").as[Long].collect().sorted.toSeq
      == before)
    // partition pruning still works after the policy-driven rewrite
    assert(t.readCold().filter(col("p") === "p0").count() == 2)
  }

  test("schema evolution: a column added mid-stream is null for older tiers") {
    val t = tmpTable()
    t.appendLog(Seq(1L, 2L).toDF("id")); t.tier()
    t.appendLog(Seq((3L, "en")).toDF("id", "lang")) // hot, evolved schema
    val u = t.readUnion()
    assert(u.columns.sorted.toSeq == Seq("id", "lang"))
    val got = u.collect().map(r => r.getLong(0) ->
      Option(r.getAs[String]("lang"))).toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> Some("en")))
    t.tier() // evolved segment tiers into the cold store
    assert(t.readCold().columns.sorted.toSeq == Seq("id", "lang"))
    assert(t.readCold().count() == 3)
  }

  test("file: URIs normalize to absolute paths instead of CWD-relative trees") {
    val dir = Files.createTempDirectory("graft-uri").toString
    val t = TieredTable(spark, s"file:$dir/t")
    assert(t.tablePath == s"$dir/t")
    t.appendLog(Seq(1L).toDF("id"))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/t/log")))
    assert(TieredTable(spark, s"file://$dir/t").tablePath == s"$dir/t")
    intercept[IllegalArgumentException] {
      TieredTable(spark, "s3://bucket/t")
    }
  }

  test("sorted compaction clusters rows for row-group skipping") {
    val t = tmpTable()
    // two unsorted appends
    t.appendLog(Seq(9L, 3L, 7L).toDF("id")); t.tier()
    t.appendLog(Seq(1L, 8L, 2L).toDF("id")); t.tier()
    t.compact(sortBy = Seq("id"))
    // content preserved
    assert(t.readCold().orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 7L, 8L, 9L))
    // every output file is internally sorted (tight min/max stats)
    import org.apache.spark.sql.functions.input_file_name
    val perFile = t.readCold()
      .select(input_file_name().as("f"), col("id"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    assert(perFile.values.forall(v => v == v.sorted))
  }

  test("multi-schema segments tier and compact to the union schema") {
    // Two segments with DIFFERENT schemas tiered in ONE call — a
    // footer-of-one-file read would silently drop `lang` and vacuum()
    // would make the loss permanent (ADVICE r1, high).
    val t = tmpTable()
    t.appendLog(Seq(1L, 2L).toDF("id"))
    t.appendLog(Seq((3L, "en")).toDF("id", "lang"))
    t.tier() // both segments in one snapshot
    assert(t.readCold().columns.sorted.toSeq == Seq("id", "lang"))
    val cold = t.readCold().collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    assert(cold == Map(1L -> None, 2L -> None, 3L -> Some("en")))

    // compact() replaces the whole file list — heterogeneous snapshot
    // schemas must survive the rewrite too.
    val t2 = tmpTable()
    t2.appendLog(Seq(1L, 2L).toDF("id")); t2.tier()
    t2.appendLog(Seq((3L, "en")).toDF("id", "lang")); t2.tier()
    t2.compact()
    t2.vacuum() // drop pre-compaction history: compacted file is all there is
    assert(t2.readCold().columns.sorted.toSeq == Seq("id", "lang"))
    val c2 = t2.readCold().collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    assert(c2 == Map(1L -> None, 2L -> None, 3L -> Some("en")))
  }

  test("upsert merge accepts an evolved batch (column added mid-stream)") {
    val t = tmpTable(pk = Seq("id"))
    t.commitUpsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.commitUpsert(Seq((2L, "b2", "en"), (3L, "c", "fr")).toDF("id", "v", "lang"))
    val got = t.readCold().collect()
      .map(r => r.getLong(0) -> (r.getAs[String]("v"), Option(r.getAs[String]("lang"))))
      .toMap
    assert(got == Map(1L -> ("a", None), 2L -> ("b2", Some("en")),
      3L -> ("c", Some("fr"))))
  }

  test("crash debris is invisible: partial temp dirs and stray meta files ignored") {
    val dir = Files.createTempDirectory("graft-debris").toString
    val root = java.nio.file.Paths.get(s"$dir/t")
    val t = TieredTable(spark, root.toString)
    t.appendLog(Seq(1L, 2L).toDF("id")); t.tier()
    // simulate a writer that died mid-append / mid-commit
    val debris = root.resolve("log/_tmp-seg-000099")
    Files.createDirectories(debris)
    Files.writeString(debris.resolve("part-junk.parquet"), "not parquet")
    Files.writeString(root.resolve("meta/snap999999.tmp"), "garbage")
    assert(t.readUnion().count() == 2)
    assert(t.logSegments == Seq(0L))
    assert(t.latestSnapshotId == 1L)
  }

  test("append after vacuum never reuses a tiered segment id") {
    val t = tmpTable()
    t.appendLog(Seq(1L).toDF("id")); t.tier() // tieredSeg = 0
    t.vacuum(1) // physically removes seg-000000 (rows live in cold)
    assert(t.logSegments.isEmpty)
    // the next append must NOT recreate seg-000000: ids ≤ the watermark
    // are filtered out of every read — rows there would be silently lost
    val seg = t.appendLog(Seq(2L).toDF("id"))
    assert(seg == 1L)
    assert(t.readUnion().orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L))
    assert(t.tier().isDefined) // and tiering still picks it up
    assert(t.readCold().count() == 2)
  }

  test("concurrent writer threads: every commit lands exactly once") {
    val t = tmpTable()
    val threads = (0 until 6).map { i =>
      new Thread(() => {
        t.commitAppend(Seq(i.toLong * 10, i.toLong * 10 + 1).toDF("id"))
        t.appendLog(Seq(i.toLong * 100).toDF("id"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // six snapshot commits, six log segments — no id collisions, no
    // lost updates, accumulate semantics intact
    assert(t.latestSnapshotId == 6L)
    assert(t.currentSnapshot.get.files.size == 6)
    assert(t.readCold().count() == 12)
    assert(t.logSegments.size == 6)
    assert(t.readUnion().count() == 18)
    // PK upsert from many threads: last-write-wins per key, one winner
    val p = tmpTable(pk = Seq("k"))
    val upThreads = (0 until 6).map { i =>
      new Thread(() => {
        p.commitUpsert(Seq((1L, s"v$i")).toDF("k", "v"))
      })
    }
    upThreads.foreach(_.start()); upThreads.foreach(_.join())
    assert(p.latestSnapshotId == 6L)
    val rows = p.readCold().collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L)
  }

  test("concurrent tiering never double-counts a union read") {
    val t = tmpTable()
    t.appendLog(Seq(0L).toDF("id"))
    val validCounts = (1 to 40).toSet + 41 // prefix sums as writer appends
    @volatile var failure: Option[String] = None
    val writer = new Thread(() => {
      var next = 1L
      while (next <= 40) {
        t.appendLog(Seq(next).toDF("id"))
        if (next % 3 == 0) t.tier()
        next += 1
      }
      t.tier()
    })
    writer.start()
    var reads = 0
    while (writer.isAlive && reads < 30) {
      val n = t.readUnion().count()
      // every observed count must be a valid prefix length (1..41):
      // a duplicate row across the boundary would overshoot, a lost row
      // would undershoot a previously observed prefix
      if (n < 1 || n > 41) failure = Some(s"impossible count $n")
      reads += 1
    }
    writer.join()
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(t.readUnion().count() == 41)
    assert(t.readHot().count() == 0)
  }

  test("readers of the cold tier never see a half-committed batch") {
    val t = tmpTable()
    t.appendLog(Seq(1L, 2L).toDF("id"))
    t.tier()
    val before = t.readCold()          // resolves LATEST once
    t.appendLog(Seq(3L).toDF("id"))
    t.tier()
    // plan captured before the second commit still reads snapshot 1 files
    assert(before.count() == 2)
    assert(t.readCold().count() == 3)
  }

  test("partitioned table: Hive layout, pruned reads, partitioning survives every commit path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-part").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("p_day"))
    val rows = (1L to 100L).map(i => (i, s"day${i % 4}", i * 10))
    t.appendLog(rows.take(50).toDF("id", "p_day", "v"))
    t.tier()
    t.appendLog(rows.drop(50).toDF("id", "p_day", "v")) // hot tail
    // layout: partition dirs under the snapshot dir
    val snapDir = java.nio.file.Paths.get(t.coldFiles.head)
    val parts = Option(snapDir.toFile.list()).getOrElse(Array.empty)
      .filter(_.startsWith("p_day=")).sorted
    assert(parts.toSeq == Seq("p_day=day0", "p_day=day1", "p_day=day2", "p_day=day3"))
    // union read returns every row exactly once, partition col intact
    val u = t.readUnion()
    assert(u.count() == 100)
    assert(u.filter(col("p_day") === "day1").count() == 25)
    // a partition-filtered read PRUNES: PartitionFilters land in the
    // scan and only the matching directory's files are touched
    val filtered = t.readCold().filter(col("p_day") === "day1")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("p_day"), s"partition filter missing in plan:\n$plan")
    val touched = filtered.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(_.contains("p_day=day1")),
      "scan must touch only the day1 partition directory")
    // compact and deleteWhere preserve the partitioned layout
    t.tier(); t.compact()
    val afterCompact = java.nio.file.Paths.get(t.coldFiles.head)
    assert(afterCompact.toFile.list().exists(_.startsWith("p_day=")))
    t.deleteWhere(col("p_day") === "day0")
    assert(t.readCold().count() == 75)
    assert(java.nio.file.Paths.get(t.coldFiles.head).toFile.list()
      .filter(_.startsWith("p_day=")).toSeq.sorted ==
      Seq("p_day=day1", "p_day=day2", "p_day=day3"))
  }

  test("replayed micro-batch tags are no-ops (exactly-once sinks)") {
    val t = tmpTable()
    val batch = spark.range(50).select(col("id").as("order_key"),
      (col("id") % 20).cast("int").as("cust_key"))
    // one micro-batch of a datalake sink: tagged append, then tier
    t.appendLog(batch, tag = Some("enrich-7")); t.tier()
    val n1 = t.readUnion().count()
    val s1 = t.latestSnapshotId
    t.appendLog(batch, tag = Some("enrich-7")); t.tier() // crash-replay
    assert(t.readUnion().count() == n1, "no duplicated rows")
    assert(t.taggedSegment("enrich-7").isDefined)
    assert(t.logSegments.size == 1)
    assert(t.latestSnapshotId == s1)
  }
}
