package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.{DataFrame, GraftRuntimeScan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog
import graft.storage.{SessionMemo, TieredTable}

/** A partitioned table's read is one parquet scan: every snapshot dir,
  * log segment and kept `snap-N/col=v` subdir of the read shares one
  * file index whose partition values come from the files' own
  * `col=value` segments. Only roots in different Hive layouts (after
  * partition-spec evolution) plan one scan per layout.
  */
class PartitionedScanSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }

  /** `body`'s result and the warnings Spark's data-source resolution
    * logged while it ran.
    */
  private def dataSourceWarnings[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-spec", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try {
      val out = body
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  /** A log table partitioned by `k`, committed three times: three
    * Hive-layout snapshot roots in one layout.
    */
  private def threeRoots(path: String): TieredTable = {
    val t = TieredTable(spark, path, partitionBy = Seq("k"))
    for (c <- 0 until 3)
      t.commitAppend((0L until 40L).map(i => (c * 100 + i, s"k${i % 4}")).toDF("id", "k"))
    assert(t.currentSnapshot.get.files.size == 3)
    t
  }

  test("a three-root partitioned table plans one BatchScanExec over one " +
       "GraftRuntimeScan, and its first read infers one file schema") {
    val dir = Files.createTempDirectory("graft-onescan").toString
    val t = threeRoots(s"$dir/t")
    TieredCatalog.register("scandb", "three", t.tablePath, partitionBy = Seq("k"))
    try {
      val misses = SessionMemo.misses
      val df = spark.sql("SELECT id, k FROM graft.scandb.three WHERE k = 'k1'")
      val found = scans(df)
      assert(SessionMemo.misses - misses == 1,
        "the first read should infer one file schema for the table state")
      assert(found.size == 1, df.queryExecution.executedPlan.toString)
      assert(found.head.scan.isInstanceOf[GraftRuntimeScan], found.head.scan.description())
      assert(!df.queryExecution.executedPlan.toString.contains("GraftCompositeScan"))
      assert(df.as[(Long, String)].collect().toSet ==
        (0 until 3).flatMap(c => (1L until 40L by 4).map(i => (c * 100 + i, "k1"))).toSet)
    } finally TieredCatalog.unregister("scandb", "three")
  }

  test("a read whose every file prunes at scan build plans GraftEmptyScan: " +
       "no rows, and no parquet table over no paths") {
    val dir = Files.createTempDirectory("graft-onescan-empty").toString
    val t = threeRoots(s"$dir/t")
    TieredCatalog.register("scandb", "pruned", t.tablePath, partitionBy = Seq("k"))
    try {
      val (rows, warned) = dataSourceWarnings {
        val df = spark.sql("SELECT id, k FROM graft.scandb.pruned WHERE id > 1000000")
        assert(scans(df).map(_.scan.description()).exists(_.contains("GraftEmptyScan")),
          df.queryExecution.executedPlan.toString)
        df.collect().length
      }
      assert(rows == 0)
      assert(!warned.exists(_.contains("All paths were ignored")), warned)
      // the API read of the same table prunes the same way
      val (apiRows, apiWarned) =
        dataSourceWarnings(t.readCold().filter(col("id") > 1000000L).collect().length)
      assert(apiRows == 0)
      assert(!apiWarned.exists(_.contains("All paths were ignored")), apiWarned)
    } finally TieredCatalog.unregister("scandb", "pruned")
  }

  test("COUNT(*) of a multi-root partitioned table comes from the sidecars: " +
       "two commits, and kept partition subdirs beside a new root") {
    val dir = Files.createTempDirectory("graft-onescan-count").toString
    def rows(from: Long) = (from until from + 100).map(i =>
      (i, if (i % 2 == 0) "a" else "b")).toDF("id", "grp")
    val two = TieredTable(spark, s"$dir/two", partitionBy = Seq("grp"))
    two.commitAppend(rows(0))
    two.commitAppend(rows(1000))
    val kept = TieredTable(spark, s"$dir/kept", partitionBy = Seq("grp"))
    kept.commitAppend(rows(0))
    kept.commitOverwritePartitions((5000L until 5010L).map(i => (i, "b"))
      .toDF("id", "grp"), Seq("grp" -> "b"))
    assert(kept.currentSnapshot.get.files.count(_.endsWith("/grp=a")) == 1 &&
      kept.currentSnapshot.get.files.size == 2, kept.currentSnapshot.get.files)
    TieredCatalog.register("scandb", "two", two.tablePath, partitionBy = Seq("grp"))
    TieredCatalog.register("scandb", "kept", kept.tablePath, partitionBy = Seq("grp"))
    try Seq("two" -> 200L, "kept" -> 60L).foreach { case (name, want) =>
      val c = spark.sql(s"SELECT COUNT(*) AS c FROM graft.scandb.$name")
      assert(c.queryExecution.executedPlan.toString.contains("GraftMetadataAggScan"),
        s"$name:\n${c.queryExecution.executedPlan}")
      assert(c.head().getLong(0) == want, name)
    } finally Seq("two", "kept").foreach(TieredCatalog.unregister("scandb", _))
  }

  /** Rows whose partition values are a null, escaped strings, a date, an
    * int and a long; `x` is the partition the overwrite replaces.
    */
  private val firstRows = Seq(
    "(1, 'a/b', DATE'2024-01-01', 1, 10000000000)",
    "(2, '50%', DATE'2024-01-02', 2, 20000000000)",
    "(3, NULL, NULL, NULL, NULL)",
    "(4, 'x', DATE'2024-01-03', 3, 3)")
  private val secondRows = Seq(
    "(5, 'a/b', DATE'2024-02-01', -1, 5000000000)",
    "(6, 'x', DATE'2024-01-03', 3, 3)")
  private val overwriteRows = Seq("(7, 'x', DATE'2024-03-01', 7, 7)")
  private val tailRows = Seq("(8, '50%', DATE'2024-04-01', 8, 8)")
  private val want = Set(
    "[1,a/b,2024-01-01,1,10000000000]", "[2,50%,2024-01-02,2,20000000000]",
    "[3,null,null,null,null]", "[5,a/b,2024-02-01,-1,5000000000]",
    "[7,x,2024-03-01,7,7]", "[8,50%,2024-04-01,8,8]")
  private val cols = Seq("id", "s", "d", "i", "l")

  private def frame(values: Seq[String]): DataFrame =
    spark.sql("SELECT CAST(id AS BIGINT) id, s, d, CAST(i AS INT) i, CAST(l AS BIGINT) l " +
      s"FROM VALUES ${values.mkString(", ")} AS v(${cols.mkString(", ")})")

  private def answer(df: DataFrame): Set[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSet

  private def assertTypes(df: DataFrame): Unit =
    assert(cols.map(c => df.schema(c).dataType) ==
      Seq(LongType, StringType, DateType, IntegerType, LongType), df.schema)

  /** The roots of `t`'s union read: kept subdirs, a snapshot dir, a log
    * segment.
    */
  private def assertRoots(t: TieredTable): Unit = {
    val roots = t.unionPaths
    assert(roots.exists(_.matches(".*/snap-\\d+/s=[^/]+")) && roots.size >= 4 &&
      roots.exists(_.contains("/log/")), roots)
  }

  test("partition values read the same through one index: nulls, escaped " +
       "strings, dates, ints and longs over kept subdirs, a snapshot and a " +
       "log segment, for an API table and a declared SQL table") {
    val dir = Files.createTempDirectory("graft-onescan-values").toString
    val parts = Seq("s", "d", "i", "l")

    // API table: no declared schema, so the values' types are inferred
    val api = TieredTable(spark, s"$dir/api", partitionBy = parts)
    api.commitAppend(frame(firstRows))
    api.commitAppend(frame(secondRows))
    api.commitOverwritePartitions(frame(overwriteRows), Seq("s" -> "x"))
    api.appendLog(frame(tailRows))
    assertRoots(api)
    assertTypes(api.readUnion())
    assert(answer(api.readUnion()) == want)
    TieredCatalog.register("scandb", "apivals", api.tablePath, partitionBy = parts)

    // SQL table: the declared schema types every value
    spark.sql(s"""CREATE TABLE graft.scandb.sqlvals
                 |(id BIGINT, s STRING, d DATE, i INT, l BIGINT)
                 |PARTITIONED BY (s, d, i, l)
                 |TBLPROPERTIES ('path' = '$dir/sql')""".stripMargin)
    try {
      val sqlT = TieredTable(spark, s"$dir/sql", partitionBy = parts)
      spark.sql(s"INSERT INTO graft.scandb.sqlvals VALUES ${firstRows.mkString(", ")}")
      sqlT.tier()
      spark.sql(s"INSERT INTO graft.scandb.sqlvals VALUES ${secondRows.mkString(", ")}")
      sqlT.tier()
      spark.sql("INSERT OVERWRITE graft.scandb.sqlvals PARTITION (s = 'x') " +
        s"SELECT id, d, i, l FROM VALUES ${overwriteRows.mkString(", ")} " +
        s"AS v(${cols.mkString(", ")})")
      spark.sql(s"INSERT INTO graft.scandb.sqlvals VALUES ${tailRows.mkString(", ")}")
      assertRoots(sqlT)
      Seq("API table" -> "apivals", "SQL table" -> "sqlvals").foreach { case (what, name) =>
        val read = spark.table(s"graft.scandb.$name")
        assertTypes(read)
        assert(answer(read) == want, what)
        assert(scans(read.select(cols.map(col): _*)).size == 1, what)
        // partition filters on each typed column select the same rows
        assert(answer(read.filter(col("s") === "a/b")) ==
          want.filter(_.contains(",a/b,")), what)
        assert(answer(read.filter(col("s").isNull)) == Set("[3,null,null,null,null]"), what)
        assert(answer(read.filter(col("l") > 4000000000L)).size == 3, what)
        assert(answer(read.filter(col("d") === java.sql.Date.valueOf("2024-03-01"))) ==
          Set("[7,x,2024-03-01,7,7]"), what)
        assert(answer(read.filter(col("i") === -1)) ==
          Set("[5,a/b,2024-02-01,-1,5000000000]"), what)
      }
      assert(answer(sqlT.readUnion()) == want)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft.scandb.sqlvals")
      TieredCatalog.unregister("scandb", "apivals")
    }
  }
}
