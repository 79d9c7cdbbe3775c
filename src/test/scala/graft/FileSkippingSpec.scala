package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import org.apache.spark.sql.GraftScanMetrics
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.storage.{FileStats, TieredTable}

/** Manifest-level file skipping: footer min/max stats collected at
  * commit into the `_graft_stats` sidecar, pruned at read. The
  * invariant under test everywhere: readCold().filter answers exactly
  * what the same filter gives over every row of the unpruned read —
  * pruning may only ever REMOVE work, never change an answer. File
  * counts come from the scan's own skip report ([[GraftScanMetrics]]).
  */
class FileSkippingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmpTable(pk: Seq[String] = Nil, mergeOnRead: Boolean = false): TieredTable = {
    val dir = Files.createTempDirectory("graft-fs").toString
    new TieredTable(spark, s"$dir/t", pk, mergeOnRead)
  }

  /** (files_kept, files_total) of the scans in `df`'s plan; -1 when
    * no graft scan reported.
    */
  private def skips(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val m = GraftScanMetrics.of(df)
    (m.getOrElse(GraftScanMetrics.Kept, -1L), m.getOrElse(GraftScanMetrics.Total, -1L))
  }

  /** Asserts readCold().filter(cond) equals `cond` applied to every
    * collected row of the unfiltered read (a local relation, which
    * cannot prune); returns the pruned read's (files_kept, files_total).
    */
  private def sameAnswer(t: TieredTable, cond: org.apache.spark.sql.Column): (Long, Long) = {
    val all = t.readCold()
    val full = spark.createDataFrame(
        java.util.Arrays.asList(all.collect(): _*), all.schema)
      .filter(cond).collect().map(_.toSeq).sortBy(_.toString)
    val where = t.readCold().filter(cond)
    val pruned = where.collect().map(_.toSeq).sortBy(_.toString)
    assert(pruned.toSeq == full.toSeq)
    skips(where)
  }

  test("disjoint-range commits: equality predicate opens one file") {
    val t = tmpTable()
    for (b <- 0 until 4)
      t.commitAppend(((b * 100) until (b * 100 + 100)).map(_.toLong)
        .toDF("id").coalesce(1))
    val cond = col("id") === 150L
    val (kept, total) = sameAnswer(t, cond)
    assert(total == 4)
    assert(kept == 1, "only the file whose [min,max] contains 150 survives")
    // a range predicate spanning two commits keeps exactly those two
    val range = col("id") >= 150L && col("id") < 250L
    assert(sameAnswer(t, range)._1 == 2)
    // an out-of-domain predicate keeps nothing and returns empty
    val none = col("id") > 10000L
    assert(sameAnswer(t, none)._1 == 0)
    assert(t.readCold().filter(none).count() == 0)
    assert(t.readCold().filter(none).schema == t.readCold().schema)
  }

  test("footer row counts skip files under hidden paths, as Spark's reader does") {
    val dir = Files.createTempDirectory("graft-footer").toString + "/t"
    (1L to 5L).toDF("id").coalesce(1).write.parquet(dir)
    val part = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    // leftovers of a failed attempt and a hidden file: not table data
    Files.createDirectories(Paths.get(s"$dir/_temporary/0"))
    Files.copy(Paths.get(part), Paths.get(s"$dir/_temporary/0/part.parquet"))
    Files.copy(Paths.get(part), Paths.get(s"$dir/.stray.parquet"))
    assert(spark.read.parquet(dir).count() == 5)
    assert(FileStats.writeSidecar(dir).contains(5L))
  }

  test("string / date / decimal domains prune; timestamps stay conservative") {
    val t = tmpTable()
    def batch(tag: String, day: String, price: String) =
      Seq((tag + "-a", day, price), (tag + "-z", day, price))
        .toDF("name", "d", "p")
        .select(col("name"), to_date(col("d")).as("d"),
          col("p").cast("decimal(15,2)").as("p"),
          to_timestamp(col("d")).as("ts"))
        .coalesce(1)
    t.commitAppend(batch("apple", "2024-01-01", "10.50"))
    t.commitAppend(batch("mango", "2024-06-01", "20.75"))
    t.commitAppend(batch("zebra", "2024-12-01", "30.99"))
    assert(sameAnswer(t, col("name").startsWith("ma"))._1 == 1)
    assert(sameAnswer(t, col("d") > lit("2024-07-01").cast("date"))._1 == 1)
    val pCond = col("p") === lit("20.75").cast("decimal(15,2)")
    assert(sameAnswer(t, pCond)._1 == 1)
    // Spark writes INT96 timestamps by default → no usable stats →
    // every file kept, answer still exact
    val tsCond = col("ts") > lit("2024-07-01").cast("timestamp")
    assert(sameAnswer(t, tsCond)._1 == 3)
  }

  test("conjunctions intersect skips; disjunctions union them") {
    val t = tmpTable()
    for (b <- 0 until 3)
      t.commitAppend((0 until 10).map(i => (b * 10L + i, b.toLong))
        .toDF("id", "grp").coalesce(1))
    assert(sameAnswer(t, col("id") < 10L && col("grp") === 0L)._1 == 1)
    assert(sameAnswer(t, col("id") < 10L || col("id") > 25L)._1 == 2)
  }

  test("null accounting: IsNull opens only files that hold nulls") {
    val t = tmpTable()
    t.commitAppend(Seq((1L, Some("x")), (2L, Some("y")))
      .toDF("id", "v").coalesce(1))
    t.commitAppend(Seq((3L, Some("z")), (4L, None: Option[String]))
      .toDF("id", "v").coalesce(1))
    assert(sameAnswer(t, col("v").isNull)._1 == 1)
    assert(sameAnswer(t, col("v").isNotNull)._1 == 2)
  }

  test("missing sidecar means no skipping, never a wrong answer") {
    val t = tmpTable()
    t.commitAppend(Seq(1L, 2L).toDF("id").coalesce(1))
    t.commitAppend(Seq(100L, 200L).toDF("id").coalesce(1))
    // simulate a pre-stats dir (older writer): drop one sidecar
    val firstDir = t.currentSnapshot.get.files.head
    Files.delete(Paths.get(firstDir, FileStats.SidecarName))
    // id=2 lives in the now-statless file: it is kept conservatively,
    // while the second file ([100,200], stats intact) prunes away
    val cond = col("id") === 2L
    val (kept, total) = sameAnswer(t, cond)
    assert(total == 2 && kept == 1,
      "statless file is kept; the out-of-range file still prunes")
  }

  test("tier() and compact() carry sidecars through") {
    val t = tmpTable()
    t.appendLog(Seq(1L, 2L, 3L).toDF("id").coalesce(1))
    t.tier()
    t.commitAppend(Seq(100L, 200L).toDF("id").coalesce(1))
    assert(sameAnswer(t, col("id") === 100L)._1 == 1)
    t.compact(sortBy = Seq("id"))
    // post-compact: one dir, stats refreshed for the rewritten files
    val (kept, _) = sameAnswer(t, col("id") > 1000L)
    assert(kept == 0)
    sameAnswer(t, col("id") === 2L)
  }

  test("q13 fixture: the one-year range query opens one of three date bands") {
    val t = graft.queries.Lakehouse.demoTableByDate(spark, "/root/testdata/sf0.001")
    val cond = col("o_orderdate").between(
      lit("1997-06-01").cast("date"), lit("1998-06-01").cast("date"))
    val (kept, total) = sameAnswer(t, cond)
    assert(total == 3 && kept == 1,
      s"expected 1/3 files after date skipping, got $kept/$total")
  }

  test("merge-on-read PK tables resolve versions before filtering") {
    val t = tmpTable(pk = Seq("k"), mergeOnRead = true)
    t.commitUpsert(Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1))
    // key 1's winning version moves OUT of the predicate range — naive
    // file pruning on v<15 would keep only the stale file and resurrect
    // the old row
    t.commitUpsert(Seq((1L, 99L)).toDF("k", "v").coalesce(1))
    val cond = col("v") < 15L
    sameAnswer(t, cond)
    assert(t.readCold().filter(cond).count() == 0,
      "key 1 resolved to v=99, which fails the predicate")
  }

  test("SQL scans through the catalog skip files by pushed predicates") {
    val t = tmpTable()
    for (b <- 0 until 4)
      t.commitAppend(((b * 100) until (b * 100 + 100)).map(_.toLong)
        .toDF("id").coalesce(1))
    graft.plans.TieredCatalog.register("skipdb", "banded", t.tablePath)
    try {
      val oneDf = spark.sql(
        "SELECT SUM(id) AS s FROM graft.skipdb.banded WHERE id BETWEEN 150 AND 160")
      assert(oneDf.collect().head.getLong(0) == (150L to 160L).sum)
      assert(skips(oneDf) == ((1L, 4L)), "the range scan opened 1 of 4 files")
      // the executed scan node carries the same report as SQL metrics
      val node = new AdaptiveSparkPlanHelper {}
        .collect(oneDf.queryExecution.executedPlan) { case b: BatchScanExec => b }
      assert(node.map(_.metrics(GraftScanMetrics.Kept).value) == Seq(1L))
      assert(node.map(_.metrics(GraftScanMetrics.Total).value) == Seq(4L))
      // and the SQL listener aggregates it (Spark re-creates the metric
      // class by name to sum it)
      val keptId = node.head.metrics(GraftScanMetrics.Kept).id
      val store = spark.sharedState.statusStore
      eventually(timeout(Span(10, Seconds))) {
        val run = store.executionsList()
          .filter(_.metrics.exists(_.accumulatorId == keptId))
        assert(run.nonEmpty &&
          store.executionMetrics(run.last.executionId).get(keptId).contains("1"))
      }
      // predicate-free scans skip nothing and read everything
      val fullDf = spark.sql("SELECT SUM(id) AS s FROM graft.skipdb.banded")
      assert(fullDf.collect().head.getLong(0) == (0L until 400L).sum)
      assert(skips(fullDf)._1 == 4)
      // hot-tail rows live in log segments with their own sidecars —
      // the union scan prunes them by the same stats
      t.appendLog(Seq(1000L, 1001L).toDF("id").coalesce(1))
      val hotDf = spark.sql(
        "SELECT COUNT(*) AS c FROM graft.skipdb.banded WHERE id >= 1000")
      assert(hotDf.collect().head.getLong(0) == 2L)
      assert(skips(hotDf) == ((1L, 5L)),
        "only the hot segment survives an out-of-cold-range predicate")
    } finally graft.plans.TieredCatalog.unregister("skipdb", "banded")
  }

  test("z-order compaction prunes on EITHER clustered dimension") {
    val t = tmpTable()
    val grid = for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong)
    t.commitAppend(grid.toDF("x", "y").coalesce(1))
    // linear sort on x: y-predicates cannot prune anything
    t.compact(sortBy = Seq("x"))
    // pre-zorder baseline is a single file — recluster into 4 z-range files
    t.compactZOrder(Seq("x", "y"), nFiles = 4, bits = 5)
    assert(t.currentSnapshot.get.op == "zorder")
    val (kx, total) = sameAnswer(t, col("x") < 8L)
    val (ky, _) = sameAnswer(t, col("y") < 8L)
    assert(total >= 4)
    assert(kx < total, s"x-range should prune ($kx/$total)")
    assert(ky < total, s"y-range should prune too ($ky/$total) — the z-curve property")
    // content preserved exactly
    assert(t.readCold().count() == 32 * 32)
    sameAnswer(t, col("x") < 8L && col("y") >= 24L)
    assert(t.readCold().filter(col("x") === 3L && col("y") === 17L).count() == 1)
  }

  test("bloom skipping prunes point lookups that min/max cannot") {
    val dir = Files.createTempDirectory("graft-bl").toString
    val t = new TieredTable(spark, s"$dir/t", bloomCols = Seq("id", "name"))
    // ids SCATTER across commits (stride 4): every file's [min,max]
    // spans nearly the whole domain, so range stats are useless here
    for (b <- 0 until 4)
      t.commitAppend((0 until 100).map(i => (i.toLong * 4 + b, s"u${i * 4 + b}"))
        .toDF("id", "name").coalesce(1))
    val probe = col("id") === 202L // lives only in commit b=2
    val (kept, total) = sameAnswer(t, probe)
    assert(total == 4 && kept == 1,
      s"bloom should isolate the one file holding 202 ($kept/$total)")
    // string equality probes use the same machinery
    assert(sameAnswer(t, col("name") === "u203")._1 == 1)
    // a value no file holds: usually 0 files (false positives allowed,
    // never false negatives — the answer stays exact)
    val missing = t.readCold().filter(col("id") === 999999L)
    assert(missing.count() == 0)
    // IN-lists union the per-value verdicts
    val inProbe = col("id").isin(202L, 203L)
    assert(sameAnswer(t, inProbe)._1 == 2)
    // range predicates are NOT bloom-decidable and fall back to stats
    assert(sameAnswer(t, col("id") > 2L)._1 == 4)
  }

  test("bloom skipping survives a table path with spaces (URI percent-encoding)") {
    // input_file_name() returns a percent-encoded URI ("…/with%20space/…");
    // the sidecar key must decode it or blooms silently stop pruning
    val dir = Files.createTempDirectory("graft bl space").toString
    val t = new TieredTable(spark, s"$dir/with space/t", bloomCols = Seq("id"))
    for (b <- 0 until 4)
      t.commitAppend((0 until 100).map(i => i.toLong * 4 + b)
        .toDF("id").coalesce(1))
    val (kept, total) = sameAnswer(t, col("id") === 202L)
    assert(total == 4 && kept == 1,
      s"bloom must still prune under an encoded path ($kept/$total)")
  }

  test("SQL DDL: bloom-columns property makes INSERTs write blooms and scans skip") {
    spark.sql("""CREATE TABLE graft.skipdb.bl (id BIGINT, name STRING)
                 TBLPROPERTIES ('bloom-columns'='id')""")
    try {
      // scattered ids per insert: min/max can't separate the files
      for (b <- 0 until 3)
        spark.sql(s"""INSERT INTO graft.skipdb.bl
          SELECT id * 4 + $b AS id, concat('u', id * 4 + $b) AS name
          FROM range(100)""")
      val lookup = spark.sql("SELECT name FROM graft.skipdb.bl WHERE id = 202")
      val got = lookup.collect()
      assert(got.map(_.getString(0)).toSeq == Seq("u202"))
      // file count per insert tracks write parallelism; the invariant
      // is that the point lookup opens exactly ONE of them
      val (kept, total) = skips(lookup)
      assert(kept == 1 && total >= 3,
        s"the SQL point lookup should open 1 bloom-guarded file, got $kept/$total")
    } finally spark.sql("DROP TABLE graft.skipdb.bl")
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answered from sidecars, no files opened") {
    val t = tmpTable()
    for (b <- 0 until 3)
      t.commitAppend(((b * 100) until (b * 100 + 50)).map(i => (i.toLong, s"n$i"))
        .toDF("id", "name").coalesce(1))
    t.appendLog(Seq((900L, "hot")).toDF("id", "name").coalesce(1)) // hot tail counts too
    graft.plans.TieredCatalog.register("skipdb", "agg", t.tablePath)
    try {
      val df = spark.sql(
        "SELECT COUNT(*) AS c, COUNT(name) AS cn, MIN(id) AS mn, MAX(id) AS mx FROM graft.skipdb.agg")
      assert(df.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"),
        "the aggregate should be served from metadata, not a parquet scan")
      val r = df.head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        (151L, 151L, 0L, 900L))
      // a filtered aggregate must fall back to the real scan — and agree
      val filtered = spark.sql(
        "SELECT COUNT(*) AS c FROM graft.skipdb.agg WHERE id >= 100")
      assert(!filtered.queryExecution.executedPlan.toString
        .contains("GraftMetadataAggScan"))
      assert(filtered.head().getLong(0) == 101L)
      // AVG is not metadata-derivable → full scan, correct answer
      val avg = spark.sql("SELECT AVG(id) AS a FROM graft.skipdb.agg")
      assert(!avg.queryExecution.executedPlan.toString
        .contains("GraftMetadataAggScan"))
      // nulls: COUNT(col) subtracts them; MIN/MAX ignore all-null files
      t.commitAppend(Seq((Some(950L), None: Option[String]))
        .toDF("id", "name").coalesce(1))
      val r2 = spark.sql(
        "SELECT COUNT(*) AS c, COUNT(name) AS cn, MAX(id) AS mx FROM graft.skipdb.agg")
      assert(r2.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
      assert((r2.head().getLong(0), r2.head().getLong(1), r2.head().getLong(2)) ==
        (152L, 151L, 950L))
    } finally graft.plans.TieredCatalog.unregister("skipdb", "agg")
  }

  test("__stats metadata table exposes the skipping bounds in SQL") {
    val t = tmpTable()
    t.commitAppend(((0 until 100).map(_.toLong)).toDF("id").coalesce(1))
    t.appendLog(Seq(500L).toDF("id").coalesce(1))
    graft.plans.TieredCatalog.register("skipdb", "st", t.tablePath)
    try {
      val rows = spark.sql(
        """SELECT column, domain, min_value, max_value, null_count, row_count
          |FROM graft.skipdb.st__stats ORDER BY row_count DESC""".stripMargin)
        .collect()
      assert(rows.length == 2, "one cold file + one hot segment")
      assert(rows(0).getString(0) == "id" && rows(0).getString(1) == "long")
      assert(rows(0).getString(2) == "0" && rows(0).getString(3) == "99")
      assert(rows(0).getLong(4) == 0L && rows(0).getLong(5) == 100L)
      assert(rows(1).getString(2) == "500" && rows(1).getLong(5) == 1L)
    } finally graft.plans.TieredCatalog.unregister("skipdb", "st")
  }

  test("z-order tolerates null and all-null clustered columns") {
    val t = tmpTable()
    t.commitAppend(Seq((1L, Some(5L)), (2L, None), (3L, Some(9L)))
      .toDF("x", "y").coalesce(1))
    t.commitAppend(Seq((None: Option[Long], None: Option[Long]))
      .toDF("x", "y").coalesce(1))
    // y has nulls, and after these commits an all-null z column is
    // exercised by clustering on a fully-null frame too
    t.compactZOrder(Seq("x", "y"), nFiles = 2, bits = 4)
    assert(t.readCold().count() == 4)
    val allNull = tmpTable()
    allNull.commitAppend(Seq((None: Option[Long], 1L), (None, 2L))
      .toDF("x", "v").coalesce(1))
    allNull.compactZOrder(Seq("x"), nFiles = 1, bits = 4)
    assert(allNull.readCold().count() == 2)
  }

  test("q16/q17 fixtures: SQL metadata aggregate and bloom point lookup") {
    val dir = "/root/testdata/sf0.001"
    val q16 = graft.queries.Lakehouse.q16MetaAgg(spark, dir)
    assert(q16.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
    // bloom fixture: modulo-split files share the whole key range, so
    // only the bloom can isolate a real key's file
    val t = graft.queries.Lakehouse.demoTableBloom(spark, dir)
    val k = t.readCold().agg(min(col("o_orderkey"))).head().getLong(0)
    val (kept, total) = sameAnswer(t, col("o_orderkey") === k)
    assert(total == 3 && kept == 1,
      s"bloom should isolate key $k's file, got $kept/$total")
  }

  test("partitioned tables: stats skip on non-partition columns; partition aggs fall back") {
    val dir = Files.createTempDirectory("graft-pt").toString
    val t = new TieredTable(spark, s"$dir/t", partitionBy = Seq("grp"))
    // two commits with disjoint id ranges; each commit spans both
    // partitions, so directory pruning alone cannot separate them
    for (b <- 0 until 2)
      t.commitAppend((0 until 100).map(i =>
        (b * 1000L + i, if (i % 2 == 0) "a" else "b")).toDF("id", "grp")
        .repartition(1))
    graft.plans.TieredCatalog.register("skipdb", "pt", t.tablePath,
      partitionBy = Seq("grp"))
    try {
      // id range hits commit 2 only; partition filter narrows to grp=a
      val rDf = spark.sql(
        """SELECT COUNT(*) AS c FROM graft.skipdb.pt
          |WHERE grp = 'a' AND id >= 1000""".stripMargin)
      assert(rDf.collect().head.getLong(0) == 50L)
      // the one scan reports its counts over both roots
      val (kept, total) = skips(rDf)
      assert(kept < total,
        s"stats should prune the out-of-range commit's root, got $kept/$total")
      // metadata aggregates on a partitioned table still answer
      // correctly: COUNT(*) is file-derivable, MIN(grp) is not
      val agg = spark.sql(
        "SELECT COUNT(*) AS c, MIN(grp) AS mg FROM graft.skipdb.pt")
      val ar = agg.head()
      assert(ar.getLong(0) == 200L && ar.getString(1) == "a")
      assert(!agg.queryExecution.executedPlan.toString
        .contains("GraftMetadataAggScan"),
        "MIN(partition column) must not be served from file stats")
    } finally graft.plans.TieredCatalog.unregister("skipdb", "pt")
  }

  test("partitioned API tables prune per root through readCold") {
    val dir = Files.createTempDirectory("graft-ptw").toString
    val t = new TieredTable(spark, s"$dir/t", partitionBy = Seq("grp"))
    // four commits with disjoint id ranges, one file per partition each
    for (b <- 0 until 4)
      t.commitAppend((0 until 100).map(i =>
        (b * 1000L + i, if (i % 2 == 0) "a" else "b")).toDF("id", "grp")
        .repartition(1))
    val (kept, total) = sameAnswer(t, col("id") >= 3000L)
    assert(total == 8 && kept == 2,
      s"only the last commit's two files hold ids >= 3000, got $kept/$total")
    assert(sameAnswer(t, col("grp") === "a" && col("id") < 1000L)._1 == 2)
  }

  test("kept partition subdirs of a partition overwrite prune, count and " +
       "list by their snapshot dir's sidecars") {
    val dir = Files.createTempDirectory("graft-po").toString
    val t = new TieredTable(spark, s"$dir/t", partitionBy = Seq("grp"))
    def rows(from: Long) = (from until from + 100).map(i =>
      (i, if (i % 2 == 0) "a" else "b")).toDF("id", "grp")
    t.commitAppend(rows(0))
    t.commitAppend(rows(1000))
    // grp=b is replaced; both grp=a dirs stay as kept `snap-N/grp=a` refs
    t.commitOverwritePartitions((5000L until 5010L).map(i => (i, "b"))
      .toDF("id", "grp"), Seq("grp" -> "b"))
    val kept = t.currentSnapshot.get.files.filter(_.endsWith("/grp=a"))
    assert(kept.size == 2, t.currentSnapshot.get.files.toString)
    // only the new grp=b file holds ids >= 5000: both kept files prune
    assert(sameAnswer(t, col("id") >= 5000L) == (1L, 3L))
    graft.plans.TieredCatalog.register("skipdb", "po", t.tablePath,
      partitionBy = Seq("grp"))
    try {
      val listed = spark.sql(
        "SELECT file_path, row_count FROM graft.skipdb.po__stats WHERE column = 'id'")
        .as[(String, Long)].collect()
      assert(listed.count(r => kept.exists(k => r._1.startsWith(k + "/"))) == 2 &&
        listed.map(_._2).sorted.toSeq == Seq(10L, 50L, 50L), listed.toSeq)
    } finally graft.plans.TieredCatalog.unregister("skipdb", "po")

    // a table whose only root is a kept subdir answers COUNT(*) from its
    // snapshot dir's sidecar
    val one = new TieredTable(spark, s"$dir/one", partitionBy = Seq("grp"))
    one.commitAppend(rows(0))
    one.commitOverwritePartitions(Seq.empty[(Long, String)].toDF("id", "grp"),
      Seq("grp" -> "b"))
    assert(one.currentSnapshot.get.files.map(_.split('/').last) == Seq("grp=a"))
    graft.plans.TieredCatalog.register("skipdb", "po1", one.tablePath,
      partitionBy = Seq("grp"))
    try {
      val c = spark.sql("SELECT COUNT(*) AS c FROM graft.skipdb.po1")
      assert(c.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"))
      assert(c.head().getLong(0) == 50L)
    } finally graft.plans.TieredCatalog.unregister("skipdb", "po1")
  }

  test("schema evolution: pruned-away late column comes back as typed null") {
    val t = tmpTable()
    t.commitAppend(Seq(1L, 2L).toDF("id").coalesce(1))
    t.commitAppend(Seq((100L, "x")).toDF("id", "extra").coalesce(1))
    val cond = col("id") < 10L // prunes the only file carrying `extra`
    val out = t.readCold().filter(cond)
    assert(out.schema == t.readCold().schema)
    assert(out.count() == 2)
    assert(out.filter(col("extra").isNull).count() == 2)
  }
}
