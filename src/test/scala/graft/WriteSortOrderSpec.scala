package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog
import graft.storage.{FileStats, TieredTable}

/** Declared write sort order (Iceberg's `WRITE ORDERED BY`, the
  * `'write.sort-order'` table property): every cold write clusters
  * rows by the declared columns. Unpartitioned → a GLOBAL range sort,
  * so files carry DISJOINT key ranges and the min/max sidecars prune
  * range predicates to O(matching files); partitioned → local order
  * within the layout tasks. Hot log appends skip it, and an explicit
  * maintenance layout (compaction's sort key, the z-curve) wins over
  * it. Also covers `$partitions` — the per-partition file/row/byte
  * accounting served entirely from sidecars and listings (no data file
  * opened).
  */
class WriteSortOrderSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("unpartitioned sorted write: files carry disjoint key ranges " +
       "and a range predicate prunes to the matching file") {
    val dir = Files.createTempDirectory("graft-sort-flat").toString
    val t = TieredTable(spark, s"$dir/t", sortBy = Seq("k"))
    // a deliberately scrambled batch across many input partitions —
    // without the declared sort every file would span ~[0, 4000).
    // Pin the sort's output width: AQE correctly coalesces a toy-sized
    // range shuffle to ONE partition (small-file avoidance), which
    // would leave nothing to prove disjointness over
    val scrambled = spark.range(4000)
      .select((col("id") * 2654435761L % 4000).as("k"),
        col("id").as("payload"))
      .repartition(8)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try t.commitAppend(scrambled)
    finally
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")

    val root = t.currentSnapshot.get.files.head
    val bounds = FileStats.entries(Seq(root), Nil).flatten.flatMap(_.cols.get("k").map(s =>
      (s.min.get.toLong, s.max.get.toLong))).sortBy(_._1)
    assert(bounds.size > 1, "the global sort must still write in parallel")
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file ranges must be disjoint, got $bounds")
      case _ =>
    }
    // the payoff: a narrow range predicate opens one file, exactly
    val probe = bounds.head
    val counts = org.apache.spark.sql.GraftScanMetrics.of(
      t.readCold().filter(col("k").between(probe._1, probe._2)))
    val (kept, total) = (counts("files_kept"), counts("files_total"))
    assert(total == bounds.size && kept == 1,
      s"expected 1/$total files kept, got $kept/$total")
    // and the answer is still exact
    assert(t.readCold().agg(sum("k")).head().getLong(0) ==
      (0L until 4000L).map(_ * 2654435761L % 4000).sum)
  }

  test("partitioned sorted write: rows within each file are ordered " +
       "by the sort column") {
    val dir = Files.createTempDirectory("graft-sort-part").toString
    val t = TieredTable(spark, s"$dir/t",
      partitionBy = Seq("p"), sortBy = Seq("k"))
    t.commitAppend(spark.range(2000)
      .select((col("id") % 4).cast("string").as("p"),
        (col("id") * 48271L % 2000).as("k"), col("id").as("payload"))
      .repartition(8))
    val perFile = t.readCold()
      .withColumn("f", input_file_name())
      .select("f", "k").as[(String, Long)].collect()
      .groupBy(_._1).values
    perFile.foreach { rows =>
      val ks = rows.map(_._2).toSeq
      assert(ks == ks.sorted, "each data file must be a sorted run")
    }
  }

  /** (min, max) of `c` per data file of the current snapshot's root,
    * sorted.
    */
  private def boxes(t: TieredTable, c: String): Seq[(Long, Long)] =
    FileStats.entries(t.currentSnapshot.get.files.take(1), Nil).flatten.flatMap(
      _.cols.get(c).map(s => (s.min.get.toLong, s.max.get.toLong))).sorted

  private def assertDisjoint(bounds: Seq[(Long, Long)]): Unit =
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file ranges must be disjoint, got $bounds")
      case _ =>
    }

  test("hot log appends stay unsorted; tier() converges the cold " +
       "layout to the declared order") {
    val dir = Files.createTempDirectory("graft-sort-tier").toString
    val t = TieredTable(spark, s"$dir/t", sortBy = Seq("k"))
    val seg = t.appendLog(Seq(30L, 10L, 20L).toDF("k").coalesce(1))
    t.appendLog(Seq(3L, 1L, 2L).toDF("k"))
    // the hot segment keeps arrival order: one input task, one file,
    // no range sort on the latency path
    val hot = spark.read.parquet(t.segmentDirPath(seg))
    assert(hot.inputFiles.length == 1)
    assert(hot.as[Long].collect().toSeq == Seq(30L, 10L, 20L))
    t.tier()
    assertDisjoint(boxes(t, "k"))
    assert(t.readCold().as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 10L, 20L, 30L))
  }

  test("an explicit maintenance layout beats the declared sort order: " +
       "compact(sortBy) and the z-curve") {
    val dir = Files.createTempDirectory("graft-sort-explicit").toString
    // 400 rows: few enough that the range sampler takes every row, so
    // the z-order file boxes are a function of the content alone
    val data = spark.range(400)
      .select((col("id") * 7919 % 400).as("k"), (col("id") * 263 % 400).as("x"))
      .repartition(4)
    val sorted = TieredTable(spark, s"$dir/sorted", sortBy = Seq("k"))
    val plain = TieredTable(spark, s"$dir/plain")
    Seq(sorted, plain).foreach(_.commitAppend(data))
    // as in the unpartitioned test above: keep AQE from coalescing the
    // toy range sort into one file
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try sorted.compact(sortBy = Seq("x"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val xs = boxes(sorted, "x")
    assert(xs.size > 1, s"the x sort must still write in parallel: $xs")
    assertDisjoint(xs)

    Seq(sorted, plain).foreach(_.compactZOrder(Seq("k", "x"), nFiles = 8))
    def zBoxes(t: TieredTable) =
      FileStats.entries(t.currentSnapshot.get.files.take(1), Nil).flatten.map(_.cols)
        .map { cols =>
          def mm(c: String) = (cols(c).min.get.toLong, cols(c).max.get.toLong)
          (mm("k"), mm("x"))
        }.sorted
    assert(zBoxes(sorted).size == 8)
    assert(zBoxes(sorted) == zBoxes(plain),
      "the declared order must not reshape the z-curve")
    assert(sorted.readCold().count() == 400)
  }

  test("SQL DDL: 'write.sort-order' flows through CREATE TABLE, " +
       "survives catalog persistence, and refuses unknown columns") {
    val name = "sorted_ddl"
    spark.sql(s"DROP TABLE IF EXISTS graft.sorts.$name")
    spark.sql(
      s"""CREATE TABLE graft.sorts.$name (k BIGINT, v STRING)
         |TBLPROPERTIES ('write.sort-order' = 'k')""".stripMargin)
    assert(TieredCatalog.lookup("sorts", name).get.sortBy == Seq("k"))
    spark.sql(s"INSERT INTO graft.sorts.$name " +
      "SELECT id * 7 % 100 AS k, CAST(id AS STRING) FROM range(100)")
    assert(spark.table(s"graft.sorts.$name").count() == 100)

    val bad = intercept[Exception](spark.sql(
      """CREATE TABLE graft.sorts.bad_sort (k BIGINT)
        |TBLPROPERTIES ('write.sort-order' = 'nope')""".stripMargin))
    assert(bad.getMessage.contains("nope"))
  }

  test("ALTER TABLE SET TBLPROPERTIES re-points write.sort-order " +
       "mid-life; structural properties refuse") {
    val name = "alter_sort"
    spark.sql(s"DROP TABLE IF EXISTS graft.sorts.$name")
    spark.sql(s"CREATE TABLE graft.sorts.$name (k BIGINT, v STRING)")
    assert(TieredCatalog.lookup("sorts", name).get.sortBy.isEmpty)
    spark.sql(s"ALTER TABLE graft.sorts.$name " +
      "SET TBLPROPERTIES ('write.sort-order' = 'k')")
    assert(TieredCatalog.lookup("sorts", name).get.sortBy == Seq("k"))

    val badCol = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.sorts.$name " +
        "SET TBLPROPERTIES ('write.sort-order' = 'nope')"))
    assert(badCol.getMessage.contains("nope"))
    val structural = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.sorts.$name " +
        "SET TBLPROPERTIES ('primary-key' = 'k')"))
    assert(structural.getMessage.contains("unsupported"))
  }

  test("$partitions: per-partition file/row/byte accounting from " +
       "sidecars alone") {
    val dir = Files.createTempDirectory("graft-partmeta").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("p"))
    TieredCatalog.register("sorts", "partmeta", s"$dir/t",
      partitionBy = Seq("p"))
    t.commitAppend(spark.range(300)
      .select((col("id") % 3).cast("string").as("p"), col("id").as("v")))

    val rows = spark.sql(
      "SELECT partition, file_count, row_count, size_bytes " +
        "FROM graft.sorts.`partmeta$partitions`")
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._1) == Seq("p=0", "p=1", "p=2"))
    assert(rows.forall(_._3 == 100L), s"row counts must be exact: $rows")
    assert(rows.forall(r => r._2 >= 1L && r._4 > 0L))
    // unpartitioned table → one '' partition covering everything
    val flat = TieredTable(spark, s"$dir/flat")
    TieredCatalog.register("sorts", "flatmeta", s"$dir/flat")
    flat.commitAppend(spark.range(42).toDF("v"))
    val fr = spark.sql("SELECT partition, row_count FROM " +
      "graft.sorts.`flatmeta$partitions`")
      .as[(String, Long)].collect().toSeq
    assert(fr == Seq(("", 42L)))
  }

  test("$partitions accounts kept partitions after a partition-scoped " +
       "overwrite (subdir roots resolve their parent's sidecar)") {
    val name = "pow_meta"
    spark.sql(s"DROP TABLE IF EXISTS graft.sorts.$name")
    spark.sql(
      s"""CREATE TABLE graft.sorts.$name (id BIGINT, p STRING)
         |PARTITIONED BY (p)""".stripMargin)
    spark.sql(s"INSERT INTO graft.sorts.$name " +
      "SELECT id, CAST(id % 3 AS STRING) FROM range(300)")
    spark.sql(s"CALL graft.system.tier('sorts.$name')")
    // replace ONE partition with a smaller backfill; the other two
    // survive as `p=value` SUBDIR references into the old snapshot
    spark.sql(s"INSERT OVERWRITE graft.sorts.$name PARTITION (p = '1') " +
      "SELECT id FROM range(10)")
    val rows = spark.sql(
      s"SELECT partition, row_count FROM graft.sorts.`$name$$partitions`")
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(rows == Seq(("p=0", 100L), ("p=1", 10L), ("p=2", 100L)),
      s"kept partitions must not vanish from the accounting: $rows")
    spark.sql(s"DROP TABLE graft.sorts.$name")
  }

  test("declared sort order + $partitions: 100 rows over two partitions " +
       "account 50 each") {
    val dir = Files.createTempDirectory("graft-sorted-parts").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("p"),
      sortBy = Seq("k"))
    TieredCatalog.register("sorts", "sorted_parts", s"$dir/t",
      partitionBy = Seq("p"), sortBy = Seq("k"))
    t.commitAppend(spark.range(100)
      .selectExpr("CAST(id % 2 AS STRING) AS p", "id * 37 % 100 AS k"))
    val parts = spark.sql(
      "SELECT partition, file_count, row_count FROM " +
        "graft.sorts.`sorted_parts$partitions` ORDER BY partition")
      .collect().map(r => s"${r.getString(0)}:${r.getLong(2)}")
    assert(parts.mkString(" ") == "p=0:50 p=1:50")
  }
}
