package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog
import graft.storage.TieredTable

/** BUCKETED merge-on-read layout (`'write.bucket-by' = N`): deltas
  * write hash(PK)-bucketed `__bucket=K` dirs, so a key's versions
  * co-locate across every delta — and the key-grouped DSv2 scan then
  * satisfies the resolution window's clustering, giving the
  * ZERO-EXCHANGE resolved read (the 100 TB lever for huge PK tables).
  */
class BucketedMorSpec extends AnyFunSuite with SparkSpec {

  private def ddl(name: String, buckets: Int = 4): String = {
    val dir = Files.createTempDirectory(s"graft-bmor-$name").toString
    spark.sql(s"DROP TABLE IF EXISTS graft.bmor.$name")
    spark.sql(
      s"""CREATE TABLE graft.bmor.$name (id BIGINT, v STRING, amt BIGINT)
         |TBLPROPERTIES ('primary-key' = 'id', 'merge-on-read' = 'true',
         |               'write.bucket-by' = '$buckets',
         |               'path' = '$dir/t')""".stripMargin)
    s"graft.bmor.$name"
  }

  private def withSpj[A](f: => A): A = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "true"))
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("deltas land in __bucket=K dirs; SQL resolves LWW; internals " +
      "never surface") {
    val sql = ddl("t1")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3)")
    spark.sql(s"INSERT INTO $sql VALUES (2, 'B', 20)")
    val rows = spark.sql(s"SELECT id, v, amt FROM $sql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", 1L), (2L, "B", 20L), (3L, "c", 3L)))
    assert(!spark.table(sql).columns.exists(c =>
      c == "__seq" || c == "__bucket"))
    // the layout on disk: every delta dir holds __bucket=K subdirs
    val path = spark.sql(s"SHOW CREATE TABLE $sql").head().getString(0)
      .linesIterator.find(_.contains("'path'")).get
      .split("'").toSeq.takeRight(2).head
    val dataDirs = new java.io.File(s"$path/data").listFiles().toSeq
      .filter(_.isDirectory)
    assert(dataDirs.nonEmpty)
    dataDirs.foreach { d =>
      val buckets = d.listFiles().toSeq.filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("__bucket="))
      assert(buckets.nonEmpty, s"delta ${d.getName} has no bucket dirs")
    }
  }

  test("ZERO-EXCHANGE resolution: the key-grouped scan satisfies the " +
      "window's clustering") {
    val sql = ddl("t2", buckets = 3)
    spark.sql(s"INSERT INTO $sql SELECT id, CAST(id AS STRING), id * 10 " +
      "FROM range(0, 300)")
    spark.sql(s"INSERT INTO $sql SELECT id, 'upd', id * 100 " +
      "FROM range(0, 300, 7)")
    withSpj {
      val df = spark.sql(s"SELECT SUM(amt) AS s FROM $sql")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed MoR resolution still shuffles:\n$plan")
      // and the answer is the resolved one
      val expect = (0L until 300L)
        .map(i => if (i % 7 == 0) i * 100 else i * 10).sum
      assert(df.head().getLong(0) == expect)
    }
  }

  test("PK point lookup pushes below the window into the bucketed scan") {
    val sql = ddl("t3")
    spark.sql(s"INSERT INTO $sql VALUES (10, 'x', 1), (11, 'y', 2)")
    spark.sql(s"INSERT INTO $sql VALUES (10, 'X', 100)")
    val df = spark.sql(s"SELECT v FROM $sql WHERE id = 10")
    val plan = df.queryExecution.executedPlan.toString
    // the PK predicate sits BELOW the resolution window (directly over
    // the scan), so only the key's bucket rows feed the window — the
    // scan's description doesn't render PushedFilters, so
    // assert the structural position instead
    val winAt = plan.indexOf("Window [")
    val fltAt = plan.indexOf("Filter (isnotnull(id")
    assert(winAt >= 0 && fltAt > winAt,
      s"PK predicate did not push below the window:\n$plan")
    assert(df.head().getString(0) == "X")
  }

  test("the layout self-configures: a fresh API open without the " +
      "parameter resolves buckets from table meta") {
    import spark.implicits._
    val sql = ddl("t4")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1)")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'b', 2)")
    val path = graft.plans.TieredCatalog.lookup("bmor", "t4").get.path
    // NOTE: no bucketBy passed — meta/BUCKETS drives the layout
    val t = TieredTable(spark, path, pk = Seq("id"), mergeOnRead = true)
    assert(t.bucketBy == 4)
    val got = t.readCold().as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "b", 2L)))
  }

  test("row-level verbs and compact preserve the bucket layout") {
    val sql = ddl("t5")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3)")
    spark.sql(s"UPDATE $sql SET amt = amt + 100 WHERE id = 2")
    spark.sql(s"DELETE FROM $sql WHERE id = 3")
    spark.sql(s"CALL graft.system.compact('bmor.t5')")
    val rows = spark.sql(s"SELECT id, amt FROM $sql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 1L), (2L, 102L)))
    // the compacted snapshot is still bucket-laid-out
    val path = graft.plans.TieredCatalog.lookup("bmor", "t5").get.path
    val t = TieredTable(spark, path, pk = Seq("id"), mergeOnRead = true)
    val head = t.currentSnapshot.get.files.head
    val subdirs = new java.io.File(head).listFiles().toSeq
      .filter(_.isDirectory).map(_.getName)
    assert(subdirs.exists(_.startsWith("__bucket=")), subdirs.toString)
  }

  test("the bucket count is immutable: a conflicting open refuses at " +
      "the first write; retro-bucketing an unbucketed table refuses") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bmor-immutable").toString
    val t8 = TieredTable(spark, s"$dir/t", pk = Seq("id"),
      mergeOnRead = true, bucketBy = 8)
    t8.commitUpsert(Seq((1L, "a")).toDF("id", "v"))
    // a different count would stamp new deltas with another modulus —
    // a key's versions would split across two layouts
    val t16 = TieredTable(spark, s"$dir/t", pk = Seq("id"),
      mergeOnRead = true, bucketBy = 16)
    val e = intercept[IllegalArgumentException] {
      t16.commitUpsert(Seq((1L, "b")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("immutable"))
    // retro-bucketing: unbucketed commits already exist
    val dir2 = Files.createTempDirectory("graft-bmor-retro").toString
    val plain = TieredTable(spark, s"$dir2/t", pk = Seq("id"),
      mergeOnRead = true)
    plain.commitUpsert(Seq((1L, "a")).toDF("id", "v"))
    val late = TieredTable(spark, s"$dir2/t", pk = Seq("id"),
      mergeOnRead = true, bucketBy = 4)
    val e2 = intercept[IllegalArgumentException] {
      late.commitUpsert(Seq((1L, "b")).toDF("id", "v"))
    }
    assert(e2.getMessage.contains("retro-bucketing"))
  }

  test("reserved column names refuse at CREATE; single-col-PK export " +
      "works (bucket[N] spec, r10); $partitions stays engine-internal") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        """CREATE TABLE graft.bmor.bad3 (id BIGINT, __bucket STRING)
          |TBLPROPERTIES ('primary-key' = 'id', 'merge-on-read' = 'true')
          |""".stripMargin)
    }
    assert(e.getMessage.contains("reserved"))
    val sql = ddl("t9")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1)")
    val path = graft.plans.TieredCatalog.lookup("bmor", "t9").get.path
    val t = TieredTable(spark, path, pk = Seq("id"), mergeOnRead = true)
    // round 10: a single-column-PK bucketed table stamps Iceberg's own
    // bucket[N] kernel, so export is no longer refused — the layout IS
    // the spec transform (IcebergExportSpec pins the refusals that
    // remain: multi-column PK, legacy spark-kernel dirs)
    val mpath = graft.storage.IcebergExport.export(t)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(mpath))
      .contains(""""transform":"bucket["""), "export must carry the spec")
    // bucket dirs are not user partitions
    assert(spark.sql(s"SELECT * FROM ${sql}__partitions").isEmpty)
    // ALTER cannot smuggle a reserved name in either (ADD or RENAME);
    // Spark may wrap the refusal, so walk the cause chain
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y =>
        Option(y.getMessage).toSeq ++ msgs(y.getCause))
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $sql ADD COLUMN __seq BIGINT")
    }
    assert(msgs(e3).exists(_.contains("reserved")), msgs(e3).toString)
    val e4 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $sql RENAME COLUMN v TO __bucket")
    }
    assert(msgs(e4).exists(_.contains("reserved")), msgs(e4).toString)
  }

  test("SHOW CREATE TABLE round-trips the bucketed-MoR DDL: re-running " +
      "it attaches an equivalent table") {
    val sql = ddl("t10", buckets = 5)
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1)")
    val rendered = spark.sql(s"SHOW CREATE TABLE $sql").head().getString(0)
    assert(rendered.contains("'merge-on-read' = 'true'") &&
      rendered.contains("'write.bucket-by' = '5'"), rendered)
    // re-attach under a fresh name at the same location: the re-run
    // DDL must resolve the same layout and the same data
    spark.sql("DROP TABLE IF EXISTS graft.bmor.t10b")
    spark.sql(rendered.replace("graft.bmor.t10", "graft.bmor.t10b"))
    spark.sql("INSERT INTO graft.bmor.t10b VALUES (1, 'b', 2)")
    val rows = spark.sql("SELECT id, v, amt FROM graft.bmor.t10b")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "b", 2L)))
    val p = graft.plans.TieredCatalog.lookup("bmor", "t10b").get.path
    assert(TieredTable(spark, p, pk = Seq("id"), mergeOnRead = true)
      .bucketBy == 5)
  }

  test("refusals: bucket-by without merge-on-read; with PARTITIONED BY") {
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(
        """CREATE TABLE graft.bmor.bad1 (id BIGINT)
          |TBLPROPERTIES ('primary-key' = 'id', 'write.bucket-by' = '4')
          |""".stripMargin)
    }
    assert(e1.getMessage.contains("merge-on-read"))
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(
        """CREATE TABLE graft.bmor.bad2 (id BIGINT, p STRING)
          |PARTITIONED BY (p)
          |TBLPROPERTIES ('primary-key' = 'id', 'merge-on-read' = 'true',
          |               'write.bucket-by' = '4')""".stripMargin)
    }
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("hash(PK)-bucketed deltas: the resolved SUM over 100 keys with " +
      "every 9th updated plans with zero exchanges") {
    val dir = Files.createTempDirectory("graft-bmor-sum").toString
    spark.sql("DROP TABLE IF EXISTS graft.bmor.mor_bucketed")
    spark.sql(
      s"""CREATE TABLE graft.bmor.mor_bucketed (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('primary-key' = 'k', 'merge-on-read' = 'true',
         |  'write.bucket-by' = '4',
         |  'path' = '$dir/mor_bucketed')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.bmor.mor_bucketed SELECT id, id FROM range(0, 100)")
    spark.sql(
      "INSERT INTO graft.bmor.mor_bucketed SELECT id, id * 100 " +
        "FROM range(0, 100, 9)")
    val q = spark.sql("SELECT SUM(v) AS s FROM graft.bmor.mor_bucketed")
    val exchanges = q.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    // 4950 + 99 * 594: the 12 updated keys sum to 594 before and
    // 59400 after
    assert(q.head().getLong(0) == 63756L)
    assert(exchanges == 0, q.queryExecution.executedPlan.toString)
  }
}
