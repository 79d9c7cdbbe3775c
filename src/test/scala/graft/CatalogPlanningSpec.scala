package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftKeyedPartition, GraftRuntimeScan,
  GraftScanMetrics, GraftTestV2, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory,
  Scan, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog
import graft.storage.{FileStats, SessionMemo, TieredTable}

/** How the SQL catalog plans scans from what the session already knows:
  * snapshot reads of a partitioned table plan one scan; a repeat read of
  * an unchanged table infers no file schema again (no footer job); and
  * key-grouped scans split their own file splits by key.
  */
class CatalogPlanningSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[Row] =
    df.select("id", "k").collect().toSeq.sortBy(_.getLong(0))

  /** A log table partitioned by `k`, tiered twice: snapshot 2 has two
    * Hive-layout roots.
    */
  private def tieredTwice(path: String): TieredTable = {
    val t = TieredTable(spark, path, partitionBy = Seq("k"))
    t.appendLog((0L until 100L).map(i => (i, s"k${i % 4}")).toDF("id", "k"))
    t.tier()
    t.appendLog((100L until 200L).map(i => (i, s"k${i % 4}")).toDF("id", "k"))
    t.tier()
    t
  }

  test("partitioned time travel over two snapshot roots: every SQL form " +
       "equals readColdAsOf") {
    val dir = Files.createTempDirectory("graft-plan-tt").toString
    val t = tieredTwice(s"$dir/p")
    assert(t.snapshot(2L).get.files.size == 2)
    TieredCatalog.register("plandb", "p", t.tablePath, partitionBy = Seq("k"))
    try {
      val want = sorted(t.readColdAsOf(2L))
      assert(want.size == 200)
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(t.snapshot(2L).get.committedAt))
      Seq(
        "VERSION AS OF 2" -> spark.sql("SELECT * FROM graft.plandb.p VERSION AS OF 2"),
        "TIMESTAMP AS OF" ->
          spark.sql(s"SELECT * FROM graft.plandb.p TIMESTAMP AS OF '$ts'"),
        "p$cold" -> spark.table("graft.plandb.`p$cold`"),
        "p__cold" -> spark.table("graft.plandb.p__cold"),
        "p__v2" -> spark.table("graft.plandb.p__v2")
      ).foreach { case (form, df) =>
        assert(sorted(df) == want, s"$form differs from readColdAsOf(2)")
      }
      // a snapshot read is read-only: a write through it would reach
      // the live table
      intercept[Exception](spark.sql(
        "INSERT INTO graft.plandb.p__v2 VALUES (999, 'k0')"))
      assert(t.readColdAsOf(2L).count() == 200)
    } finally TieredCatalog.unregister("plandb", "p")
  }

  /** Analysis plus physical planning of `df`, run twice: the second must
    * start no Spark job (no footer read, no listing job).
    */
  private def assertNoJobsOnRepeat(what: String)(df: => DataFrame): Unit = {
    def plan(): Unit = df.queryExecution.executedPlan
    plan()
    val (out, m) = Measure(spark)(plan())
    out.get
    assert(m.jobs == 0, s"$what: a repeat analysis and planning ran ${m.jobs} job(s)")
  }

  test("repeat reads of an unchanged table run no footer job; an added " +
       "column shows on the next read") {
    val dir = Files.createTempDirectory("graft-plan-jobs").toString
    val plain = TieredTable(spark, s"$dir/plain")
    plain.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    plain.commitAppend(Seq((3L, "c")).toDF("id", "k"))
    val part = tieredTwice(s"$dir/part")
    val mor = TieredTable(spark, s"$dir/mor", pk = Seq("id"), mergeOnRead = true)
    mor.commitUpsert(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    mor.commitUpsert(Seq((2L, "c")).toDF("id", "k"))
    TieredCatalog.register("plandb", "plain", plain.tablePath)
    TieredCatalog.register("plandb", "part", part.tablePath, partitionBy = Seq("k"))
    TieredCatalog.register("plandb", "mor", mor.tablePath, pk = Seq("id"),
      mergeOnRead = true)
    try {
      assertNoJobsOnRepeat("plain")(spark.table("graft.plandb.plain"))
      assertNoJobsOnRepeat("partitioned")(
        spark.sql("SELECT k, COUNT(*) FROM graft.plandb.part GROUP BY k"))
      assertNoJobsOnRepeat("merge-on-read")(spark.table("graft.plandb.mor"))
      assertNoJobsOnRepeat("VERSION AS OF")(
        spark.sql("SELECT * FROM graft.plandb.part VERSION AS OF 1"))
      assert(spark.table("graft.plandb.mor").count() == 2)

      val misses = SessionMemo.misses
      plain.commitAppend(Seq((4L, "d", 40L)).toDF("id", "k", "extra"))
      val after = spark.table("graft.plandb.plain")
      assert(after.columns.toSeq == Seq("id", "k", "extra"))
      assert(after.where("extra = 40").count() == 1)
      assert(SessionMemo.misses > misses)
    } finally Seq("plain", "part", "mor").foreach(TieredCatalog.unregister("plandb", _))
  }

  private def v2Scan(name: String): Scan = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    cat.loadTable(Identifier.of(Array("plandb"), name)).asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
  }

  private def local(p: String): String = new Path(p).toUri.getPath

  /** (key, files) per split; fails on an unkeyed split. */
  private def keyedSplits(scan: Scan): Seq[(String, Seq[String])] =
    scan.toBatch.planInputPartitions().toSeq.map { p =>
      val k = p match {
        case k: GraftKeyedPartition => k
        case other => fail(s"unkeyed split $other")
      }
      (k.partitionKey().getUTF8String(0).toString,
        k.inner.asInstanceOf[FilePartition].files.toSeq.map(f => local(f.toPath.toString)))
    }

  /** Every split holds files of exactly its own key, and the splits
    * together hold exactly `want`.
    */
  private def assertKeyedSplits(scan: Scan, want: Seq[String]): Unit = {
    val splits = keyedSplits(scan)
    splits.foreach { case (key, files) =>
      assert(files.nonEmpty)
      assert(files.forall(_.contains(s"/k=$key/")), s"split of $key holds $files")
    }
    assert(splits.flatMap(_._2).sorted == want.map(local).sorted)
  }

  test("key-grouped planning splits the scan's own file splits by key, " +
       "before and after a runtime filter") {
    val dir = Files.createTempDirectory("graft-plan-keyed").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("k"))
    // several files per key and root
    for (c <- 0 until 2)
      t.commitAppend((0L until 240L).map(i => (c * 1000 + i, s"k${i % 4}"))
        .toDF("id", "k").repartition(6))
    TieredCatalog.register("plandb", "keyed", t.tablePath, partitionBy = Seq("k"))
    try {
      val files = FileStats.entries(t.unionPaths, Seq("k")).flatten.map(_.path)
      assert(files.size > 4)
      assertKeyedSplits(v2Scan("keyed"), files)
      // one scan holds both roots' splits of every key, and the planned
      // scan groups them into one split per key
      val roots = t.unionPaths.map(local)
      assert(roots.size == 2)
      keyedSplits(v2Scan("keyed")).groupBy(_._1).foreach { case (key, splits) =>
        val held = splits.flatMap(_._2)
        assert(roots.forall(r => held.exists(_.startsWith(r + "/"))),
          s"key $key holds files of only some roots: $held")
      }
      val grouped = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(spark.table("graft.plandb.keyed").queryExecution.executedPlan) {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputRDD.getNumPartitions
        }
      assert(grouped == Seq(4), s"one split per key expected, got $grouped")

      val scan = v2Scan("keyed")
      scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
        GraftTestV2.inPredicate("k", Seq("k1", "k3").map(v =>
          (UTF8String.fromString(v), StringType)))))
      assertKeyedSplits(scan, files.filter(f => f.contains("/k=k1/") || f.contains("/k=k3/")))
    } finally TieredCatalog.unregister("plandb", "keyed")
  }

  test("a file split holding several keys is cut into one split per key") {
    // Spark's file packing may put files of different partition
    // directories into one split; the keyed scan must still hand each
    // key its own split
    val files = Seq("k0", "k1", "k0", "k2").zipWithIndex.map { case (k, i) =>
      s"/t/snap-1/k=$k/part-$i.parquet" }
    // each file carries its key as its partition values, as the scan's
    // file index gives them
    def pf(p: String) = PartitionedFile(
      InternalRow(UTF8String.fromString(p.split("/k=")(1).takeWhile(_ != '/'))),
      SparkPath.fromPathString(p), 0L, 10L, Array.empty[String], 0L, 10L)
    val mixed = new Scan with Batch {
      override def readSchema(): StructType = new StructType().add("k", StringType)
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(FilePartition(0, files.take(3).map(pf).toArray),
          FilePartition(1, files.drop(3).map(pf).toArray))
      override def createReaderFactory(): PartitionReaderFactory =
        throw new UnsupportedOperationException
    }
    val entries = files.map(f => FileStats.FileEntry(f, -1L, 0L, Map.empty, Map.empty))
    val scan = new GraftRuntimeScan(spark, "mixed", CaseInsensitiveStringMap.empty(),
      mixed.readSchema(), entries.size, entries, mixed, Nil, None, Seq("k"),
      _ => fail("no per-key scan is built"))
    assert(keyedSplits(scan).map { case (k, fs) => k -> fs.size }.sorted ==
      Seq("k0" -> 2, "k1" -> 1, "k2" -> 1))
    assertKeyedSplits(scan, files)
  }

  test("every API read and merge-on-read time travel scans through the " +
       "catalog: no V1 file scan, and each reports files_total") {
    val dir = Files.createTempDirectory("graft-plan-shape").toString
    // flat keyless, two snapshots and a hot tail
    val flat = TieredTable(spark, s"$dir/flat")
    flat.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    flat.commitAppend(Seq((3L, "c")).toDF("id", "k"))
    flat.appendLog(Seq((4L, "d")).toDF("id", "k"))
    // partitioned, two snapshots of two Hive-layout roots
    val part = tieredTwice(s"$dir/part")
    // bucketed merge-on-read, key 2 updated in snapshot 2
    val bmor = TieredTable(spark, s"$dir/bmor", pk = Seq("id"),
      mergeOnRead = true, bucketBy = 4)
    bmor.commitUpsert(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    bmor.commitUpsert(Seq((2L, "c")).toDF("id", "k"))
    TieredCatalog.register("plandb", "shflat", flat.tablePath)
    TieredCatalog.register("plandb", "shpart", part.tablePath, partitionBy = Seq("k"))
    TieredCatalog.register("plandb", "shbmor", bmor.tablePath, pk = Seq("id"),
      mergeOnRead = true)
    def reads(name: String, t: TieredTable): Seq[(String, DataFrame)] = Seq(
      "readCold" -> t.readCold(),
      "readUnion" -> t.readUnion(),
      "readColdAsOf(1)" -> t.readColdAsOf(1L),
      "incrementalRead(1, 2)" -> t.incrementalRead(1L, 2L, Seq("id")),
      "changelogSince(0)" -> t.changelogSince(0L, Seq("id"))._2,
      "changelogSince(1)" -> t.changelogSince(1L, Seq("id"))._2,
      "$cold" -> spark.table(s"graft.plandb.`$name$$cold`"),
      "VERSION AS OF 1" -> spark.sql(s"SELECT * FROM graft.plandb.$name VERSION AS OF 1"))
    try {
      // readHot scans only where a hot tail exists; elsewhere it is an
      // empty frame that reads no file
      val all = reads("shflat", flat).map { case (r, df) => s"flat $r" -> df } ++
        Seq("flat readHot" -> flat.readHot()) ++
        reads("shpart", part).map { case (r, df) => s"partitioned $r" -> df } ++
        reads("shbmor", bmor).map { case (r, df) => s"bucketed mor $r" -> df }
      all.foreach { case (what, df) =>
        df.collect()
        val v1 = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
          .collect(df.queryExecution.executedPlan) {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }
        assert(v1.isEmpty, s"$what plans a V1 file scan:\n${df.queryExecution.executedPlan}")
        val total = GraftScanMetrics.of(df).get(GraftScanMetrics.Total)
        assert(total.exists(_ > 0), s"$what reports no files_total")
      }
      // the merge-on-read reads still resolve last-write-wins
      assert(bmor.readCold().select("id", "k").as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "c")))
      assert(spark.sql("SELECT id, k FROM graft.plandb.shbmor VERSION AS OF 1")
        .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    } finally Seq("shflat", "shpart", "shbmor").foreach(TieredCatalog.unregister("plandb", _))
  }

  test("every plan copy of an API read's scan shares one reader factory, " +
       "so the scan broadcasts its configuration once") {
    val dir = Files.createTempDirectory("graft-factory").toString
    val t = TieredTable(spark, s"$dir/t")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "k"))
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(t.readCold().queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
    assert(scans.size == 1)
    // each BatchScanExec copy makes its own factory from the same Scan
    assert(scans.head.copy().readerFactory eq scans.head.readerFactory)
  }
}
