package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.storage.TieredTable

/** SQL maintenance procedures: `CALL graft.system.<proc>(…)` — the
  * Iceberg-engine maintenance surface (Trino/Spark `CALL
  * iceberg.system.*`) lowered onto the TieredTable verbs via Spark 4's
  * DSv2 ProcedureCatalog. Named args and defaults ride Spark's own
  * analyzer.
  */
class ProceduresSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def fresh(name: String): (TieredTable, String) = {
    val dir = Files.createTempDirectory("graft-proc").toString
    val t = TieredTable(spark, s"$dir/t")
    graft.plans.TieredCatalog.register("procdb", name, s"$dir/t")
    (t, s"procdb.$name")
  }

  test("CALL compact / vacuum collapse and retire history") {
    val (t, ref) = fresh("cv")
    t.commitAppend(Seq((1L, "a")).toDF("id", "v"))
    t.commitAppend(Seq((2L, "b")).toDF("id", "v"))
    assert(t.currentSnapshot.get.files.size == 2)
    spark.sql(s"CALL graft.system.compact('$ref')")
    assert(t.currentSnapshot.get.id == 3L &&
      t.currentSnapshot.get.op == "compact" &&
      t.currentSnapshot.get.files.size == 1)
    spark.sql(s"CALL graft.system.vacuum('$ref', 1)")
    assert(t.snapshot(1L).isEmpty && t.snapshot(3L).isDefined)
    assert(t.readCold().count() == 2L)
  }

  test("CALL rollback_to_snapshot and named-argument expire_snapshots") {
    val (t, ref) = fresh("rb")
    t.commitAppend(Seq(1L).toDF("id"))                       // snap 1
    t.commitOverwrite(Seq(9L, 10L).toDF("id"))               // snap 2
    spark.sql(s"CALL graft.system.rollback_to_snapshot('$ref', 1)")
    assert(t.readCold().as[Long].collect().toSeq == Seq(1L))
    assert(t.currentSnapshot.get.op == "rollback")
    // named args + keep_last default coming from the parameter spec
    spark.sql(s"CALL graft.system.expire_snapshots(" +
      s"table => '$ref', older_than_ms => ${System.currentTimeMillis() + 1000})")
    assert(t.snapshot(1L).isEmpty && t.latestSnapshotId == 3L,
      "everything but the kept head expires")
  }

  test("CALL zorder rewrites clustered; gc_orphans sweeps debris") {
    val (t, ref) = fresh("zo")
    t.commitAppend(spark.range(0, 1000)
      .selectExpr("id AS x", "id % 37 AS y"))
    spark.sql(s"CALL graft.system.zorder('$ref', 'x, y')")
    assert(t.currentSnapshot.get.op == "zorder")
    assert(t.readCold().count() == 1000L)
    // stage an orphan dir; the procedure sweeps it
    val orphan = java.nio.file.Paths.get(t.tablePath, "data", "snap-000099")
    Files.createDirectories(orphan)
    spark.sql(s"CALL graft.system.gc_orphans('$ref')")
    assert(!Files.exists(orphan))
  }

  test("CALL cherrypick_snapshot: rollback past a bad commit, then " +
       "re-apply the good append that followed it") {
    val (t, ref) = fresh("cp")
    t.commitAppend(Seq((1L, "good")).toDF("id", "v"))   // snap 1
    t.commitAppend(Seq((2L, "BAD")).toDF("id", "v"))    // snap 2
    t.commitAppend(Seq((3L, "good2")).toDF("id", "v"))  // snap 3
    spark.sql(s"CALL graft.system.rollback_to_snapshot('$ref', 1)")
    assert(t.readCold().count() == 1)
    spark.sql(s"CALL graft.system.cherrypick_snapshot('$ref', 3)")
    assert(t.readCold().select("v").as[String].collect().toSet ==
      Set("good", "good2"),
      "the picked append lands; the rolled-back one stays out")
    // $history: the rolled-past commits 2 (BAD) and 3 (its content
    // re-applied by the pick) are off the current-state lineage
    val nonAncestors = spark.sql(
      """SELECT snapshot_id FROM graft.procdb.`cp$history`
        |WHERE NOT is_current_ancestor ORDER BY snapshot_id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(nonAncestors == Seq(2L, 3L))

    // refusals: double-pick, rewrite-lineage snapshots, unknown ids
    val dup = intercept[Exception](t.cherrypick(3L))
    assert(dup.getMessage.contains("double-count"))
    t.compact() // a rewrite snapshot
    val rw = intercept[Exception](
      t.cherrypick(t.latestSnapshotId))
    assert(rw.getMessage.contains("rewrote the file list"))
    intercept[IllegalArgumentException](t.cherrypick(99L))
  }

  test("unknown procedure and unknown table fail loudly") {
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("CALL graft.system.nope('procdb.cv')"))
    assert(e1.getMessage.contains("unknown procedure"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("CALL graft.system.compact('procdb.missing')"))
    assert(e2.getMessage.contains("unknown graft table"), e2.getMessage)
  }

  test("CALL compact then vacuum on a change-feed table retains only " +
       "the compact snapshot") {
    val dir = Files.createTempDirectory("graft-proc-cdf").toString
    val t = TieredTable(spark, s"$dir/t", changeDataFeed = true)
    graft.plans.TieredCatalog.register("procdb", "cdf_cv", s"$dir/t",
      changeDataFeed = true)
    t.commitAppend(Seq(("ASIA", 10L), ("EMEA", 5L), ("ASIA", 7L))
      .toDF("region", "amount_usd"))
    spark.sql("CALL graft.system.compact('procdb.cdf_cv')")
    spark.sql("CALL graft.system.vacuum('procdb.cdf_cv', 1)")
    val ops = spark.sql(
      """SELECT operation FROM graft.procdb.cdf_cv__snapshots
        |ORDER BY snapshot_id""".stripMargin)
      .collect().map(_.getString(0)).mkString(",")
    assert(ops == "compact")
    assert(t.readCold().count() == 3L)
  }
}
