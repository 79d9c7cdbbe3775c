package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IncrementalAgg
import graft.storage.TieredTable

/** The incremental-view-maintenance invariant, driven through the real
  * changelog machinery: a grouped (SUM, COUNT) state carried forward
  * ONLY by `changelogSince` deltas must equal a from-scratch rebuild
  * after every round of randomized mutations — upserts of changed and
  * new keys, deletes, and multiple commits landing between polls.
  */
class IncrementalAggSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def rebuilt(t: TieredTable) =
    IncrementalAgg.rebuild(t.readCold(), Seq("g"), "v", "sum_v", "n_rows")
      .orderBy("g").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("maintained state equals a rebuild after every randomized commit round") {
    val rnd = new scala.util.Random(11)
    val dir = Files.createTempDirectory("graft-ivm").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("k"))
    def rows(ks: Seq[Int]) =
      ks.map(k => (k, s"g${k % 4}", rnd.between(-50L, 50L))).toDF("k", "g", "v")
    t.commitUpsert(rows(1 to 40))
    // bootstrap: cursor 0 delivers the whole snapshot as +I
    val (c0, boot) = t.changelogSince(0L, Seq("k"))
    var cursor = c0
    var state = IncrementalAgg.applyDelta(
      IncrementalAgg.rebuild(boot.limit(0), Seq("g"), "v", "sum_v", "n_rows"),
      boot, Seq("g"), "v", "sum_v", "n_rows")
      .localCheckpoint(true)
    for (round <- 1 to 5) {
      // random mutation batch; round 3 stacks TWO commits in one poll
      t.commitUpsert(rows(rnd.shuffle((1 to 60).toList).take(10)))
      if (round == 3) {
        t.deleteWhere(col("k") % 5 === 0)
        t.commitUpsert(rows(Seq(100 + round)))
      }
      val (next, delta) = t.changelogSince(cursor, Seq("k"))
      assert(next > cursor, s"round $round must advance the cursor")
      state = IncrementalAgg.applyDelta(state, delta, Seq("g"),
        "v", "sum_v", "n_rows").localCheckpoint(true)
      cursor = next
      val maintained = state.orderBy("g").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(maintained == rebuilt(t),
        s"maintained state diverged from rebuild in round $round")
    }
    // idle poll leaves the state exactly unchanged
    val (cIdle, none) = t.changelogSince(cursor, Seq("k"))
    assert(cIdle == cursor)
    val after = IncrementalAgg.applyDelta(state, none, Seq("g"),
      "v", "sum_v", "n_rows")
    assert(after.orderBy("g").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == rebuilt(t))
  }

  test("MaterializedView: cursor rides the state commit; refresh is exactly-once") {
    import graft.operators.MaterializedView
    val dir = Files.createTempDirectory("graft-mv").toString
    val src = TieredTable(spark, s"$dir/src", pk = Seq("k"))
    val st = TieredTable(spark, s"$dir/state")
    val mv = new MaterializedView(src, st, Seq("k"), Seq("g"), "v")
    src.commitUpsert(Seq((1, "a", 10L), (2, "b", 20L), (3, "a", 5L))
      .toDF("k", "g", "v"))
    assert(mv.cursor == 0L)
    assert(mv.refresh(), "bootstrap must apply")
    def got() = mv.view().orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got() == Seq(("a", 15L, 2L), ("b", 20L, 1L)))
    assert(mv.cursor == src.latestSnapshotId)
    // current view: refresh is a no-op and commits nothing
    val snaps = st.latestSnapshotId
    assert(!mv.refresh())
    assert(st.latestSnapshotId == snaps)
    // update + delete flow through retraction; multiple commits, one poll
    src.commitUpsert(Seq((2, "b", 25L), (4, "a", 1L)).toDF("k", "g", "v"))
    src.deleteWhere(col("k") === 1)
    assert(mv.refresh())
    assert(got() == Seq(("a", 6L, 2L), ("b", 25L, 1L)))
    assert(got() == IncrementalAgg.rebuild(src.readCold(), Seq("g"), "v",
      "sum_v", "cnt").orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    // a SECOND handle over the same tables resumes from the persisted
    // cursor — restart-safety without any side file
    val mv2 = new MaterializedView(src, st, Seq("k"), Seq("g"), "v")
    assert(mv2.cursor == src.latestSnapshotId && !mv2.refresh())
  }

  test("MaterializedView follower converges while the source keeps committing") {
    import graft.operators.MaterializedView
    val dir = Files.createTempDirectory("graft-mvf").toString
    val src = TieredTable(spark, s"$dir/src", pk = Seq("k"))
    val st = TieredTable(spark, s"$dir/state")
    val mv = new MaterializedView(src, st, Seq("k"), Seq("g"), "v")
    src.commitUpsert(Seq((1, "a", 1L)).toDF("k", "g", "v"))
    mv.start(intervalMs = 50L)
    try {
      for (i <- 2 to 5)
        src.commitUpsert(Seq((i, "a", i.toLong)).toDF("k", "g", "v"))
      val deadline = System.currentTimeMillis() + 30000L
      def current() = mv.cursor == src.latestSnapshotId
      while (!current() && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
      assert(current(), "follower must catch up to the source head")
      assert(mv.view().agg(sum(col("sum_v"))).head().getLong(0) == 15L)
    } finally mv.stop()
    // stopped: new commits stay unapplied until an explicit refresh
    src.commitUpsert(Seq((9, "a", 100L)).toDF("k", "g", "v"))
    val c = mv.cursor
    Thread.sleep(200L)
    assert(mv.cursor == c, "a stopped follower must not advance")
    assert(mv.refresh())
  }

  test("multi-sum state equals a multi-sum rebuild across randomized rounds") {
    val rnd = new scala.util.Random(23)
    val dir = Files.createTempDirectory("graft-ivm-multi").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("k"))
    val sums = Seq("v" -> "sum_v", "w" -> "sum_w")
    def rows(ks: Seq[Int]) = ks.map(k =>
      (k, s"g${k % 3}", rnd.between(-50L, 50L), rnd.between(0L, 9L)))
      .toDF("k", "g", "v", "w")
    def rebuiltMulti() =
      IncrementalAgg.rebuildMulti(t.readCold(), Seq("g"), sums, "n_rows")
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    t.commitUpsert(rows(1 to 30))
    val (c0, boot) = t.changelogSince(0L, Seq("k"))
    var cursor = c0
    var state = IncrementalAgg.applyDeltaMulti(
      IncrementalAgg.rebuildMulti(boot.limit(0), Seq("g"), sums, "n_rows"),
      boot, Seq("g"), sums, "n_rows").localCheckpoint(true)
    for (_ <- 1 to 4) {
      t.commitUpsert(rows(rnd.shuffle((1 to 45).toList).take(12)))
      if (rnd.nextBoolean()) t.deleteWhere(col("k") % 7 === 3)
      val (to, delta) = t.changelogSince(cursor, Seq("k"))
      state = IncrementalAgg.applyDeltaMulti(state, delta, Seq("g"), sums,
        "n_rows").localCheckpoint(true)
      cursor = to
      val maintained = state.orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(maintained == rebuiltMulti(),
        "both maintained sums must equal a from-scratch rebuild")
    }
  }

  test("a fully retracted group drops out of the state") {
    val state = Seq(("a", 10L, 2L), ("b", 5L, 1L)).toDF("g", "sum_v", "n_rows")
    val delta = Seq(("-D", "b", 5L), ("+I", "c", 7L)).toDF("op", "g", "v")
    val out = IncrementalAgg.applyDelta(state, delta, Seq("g"),
      "v", "sum_v", "n_rows")
      .orderBy("g").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("a", 10L, 2L), ("c", 7L, 1L)))
  }

  private val fullSpec = IncrementalAgg.AggSpec(
    sums = Seq("v" -> "sum_v"), cntCol = "n_rows",
    mins = Seq("v" -> "min_v"), maxs = Seq("v" -> "max_v"),
    avgs = Seq("v" -> "avg_v"))

  private def fullRows(df: org.apache.spark.sql.DataFrame) =
    df.select("g", "sum_v", "n_rows", "min_v", "max_v", "avg_v")
      .orderBy("g").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), math.rint(r.getDouble(5) * 1e9))).toSeq

  test("full vocabulary (MIN/MAX/AVG) maintained state equals rebuild " +
       "across randomized retraction rounds") {
    val rnd = new scala.util.Random(23)
    val dir = Files.createTempDirectory("graft-ivm-full").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("k"))
    def rows(ks: Seq[Int]) =
      ks.map(k => (k, s"g${k % 3}", rnd.between(-50L, 50L))).toDF("k", "g", "v")
    t.commitUpsert(rows(1 to 30))
    val (c0, boot) = t.changelogSince(0L, Seq("k"))
    var cursor = c0
    var state = IncrementalAgg.applyDeltaFull(
      IncrementalAgg.rebuildFull(boot.limit(0), Seq("g"), fullSpec),
      boot, Seq("g"), fullSpec, t.readColdAsOf(c0))
      .localCheckpoint(true)
    for (round <- 1 to 6) {
      // updates move values (each is a -U/+U pair in the changelog —
      // the update might retract the current min/max); round 2 and 5
      // delete aggressively, INCLUDING extreme values
      t.commitUpsert(rows(rnd.shuffle((1 to 40).toList).take(8)))
      if (round == 2 || round == 5) t.deleteWhere(col("k") % 4 === round % 4)
      val (next, delta) = t.changelogSince(cursor, Seq("k"))
      assert(next > cursor)
      state = IncrementalAgg.applyDeltaFull(state, delta, Seq("g"),
        fullSpec, t.readColdAsOf(next)).localCheckpoint(true)
      cursor = next
      assert(fullRows(state) ==
        fullRows(IncrementalAgg.rebuildFull(t.readCold(), Seq("g"), fullSpec)),
        s"full-vocabulary state diverged from rebuild in round $round")
    }
  }

  test("retracting the current minimum triggers the dirty-group repair " +
       "and never touches clean groups' base") {
    val dir = Files.createTempDirectory("graft-ivm-minret").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("k"))
    t.commitUpsert(Seq((1, "a", 5L), (2, "a", 9L), (3, "b", 1L), (4, "b", 7L))
      .toDF("k", "g", "v"))
    val (c1, boot) = t.changelogSince(0L, Seq("k"))
    val s1 = IncrementalAgg.applyDeltaFull(
      IncrementalAgg.rebuildFull(boot.limit(0), Seq("g"), fullSpec),
      boot, Seq("g"), fullSpec, t.readColdAsOf(c1)).localCheckpoint(true)
    // delete group a's minimum (5) — a's min must repair to 9 via the
    // base recompute; b is untouched
    t.deleteWhere(col("k") === 1)
    val (c2, delta) = t.changelogSince(c1, Seq("k"))
    val s2 = IncrementalAgg.applyDeltaFull(s1, delta, Seq("g"), fullSpec,
      t.readColdAsOf(c2))
    assert(fullRows(s2) == Seq(
      ("a", 9L, 1L, 9L, 9L, math.rint(9.0 * 1e9)),
      ("b", 8L, 2L, 1L, 7L, math.rint(4.0 * 1e9))))
    // insert-only delta: the maintained bound needs NO base read — the
    // base argument is by-name and must never be evaluated
    t.commitUpsert(Seq((5, "a", 3L)).toDF("k", "g", "v"))
    val (c3, d3) = t.changelogSince(c2, Seq("k"))
    val s3 = IncrementalAgg.applyDeltaFull(s2, d3, Seq("g"), fullSpec,
      sys.error("insert-only delta must not read the base"))
    assert(fullRows(s3).head == ("a", 12L, 2L, 3L, 9L, math.rint(6.0 * 1e9)))
  }

  test("a group column named like a delta accumulator (__dept) merges once") {
    val dir = Files.createTempDirectory("graft-ivm-dept").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("k"))
    val g = Seq("__dept")
    t.commitUpsert(Seq((1, "a", 5L), (2, "a", 9L), (3, "b", 1L))
      .toDF("k", "__dept", "v"))
    val (c1, boot) = t.changelogSince(0L, Seq("k"))
    val s1 = IncrementalAgg.applyDeltaFull(
      IncrementalAgg.rebuildFull(boot.limit(0), g, fullSpec),
      boot, g, fullSpec, t.readColdAsOf(c1)).localCheckpoint(true)
    // an update retracts b's only value; a gains a new minimum
    t.commitUpsert(Seq((3, "b", 4L), (4, "a", 2L)).toDF("k", "__dept", "v"))
    val (c2, delta) = t.changelogSince(c1, Seq("k"))
    val s2 = IncrementalAgg.applyDeltaFull(s1, delta, g, fullSpec,
      t.readColdAsOf(c2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      fullRows(df.withColumnRenamed("__dept", "g"))
    assert(rows(s2) == rows(IncrementalAgg.rebuildFull(t.readCold(), g, fullSpec)))
    assert(rows(s2).map(_._1) == Seq("a", "b"))
  }
}
