package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog
import graft.storage.TieredTable

/** SQL-addressable MERGE-ON-READ tables ([[graft.plans.GraftMorReadRule]])
  * — the r8 verdict's one surviving API-only surface, lifted: a
  * merge-on-read PK table reads, time-travels, updates, merges, and
  * introspects through plain SQL, with every batch read substituted by
  * the resolved last-write-wins plan at analysis.
  */
class MorSqlSpec extends AnyFunSuite with SparkSpec {

  /** DDL-created MoR table: deltas from the start, declared schema.
    * DDL tables persist durably under the warehouse — drop leftovers
    * from a previous test JVM first.
    */
  private def ddlTable(name: String): String = {
    val dir = Files.createTempDirectory(s"graft-morsql-$name").toString
    spark.sql(s"DROP TABLE IF EXISTS graft.mor.$name")
    spark.sql(
      s"""CREATE TABLE graft.mor.$name (id BIGINT, v STRING, amt BIGINT)
         |TBLPROPERTIES ('primary-key' = 'id', 'merge-on-read' = 'true',
         |               'path' = '$dir/t')""".stripMargin)
    s"graft.mor.$name"
  }

  test("CREATE TABLE 'merge-on-read': INSERTs commit O(batch) deltas, " +
      "SELECT resolves last-write-wins") {
    val sql = ddlTable("t1")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql(s"INSERT INTO $sql VALUES (2, 'B', 200), (3, 'c', 30)")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'A', 100)")
    // resolution: every key shows its LAST written version
    val rows = spark.sql(s"SELECT id, v, amt FROM $sql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "A", 100L), (2L, "B", 200L), (3L, "c", 30L)))
    // merge-on-read contract: three INSERTs = three upsert DELTA
    // snapshots — no copy-on-write rewrite commits in the history
    val ops = spark.sql(
      s"SELECT operation FROM ${sql}__snapshots ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("upsert", "upsert", "upsert"))
    // the internal version column never surfaces
    assert(!spark.table(sql).columns.contains("__seq"))
    assert(!spark.sql(s"SELECT * FROM $sql").columns.contains("__seq"))
  }

  test("filters and aggregates run over the RESOLVED view, not raw versions") {
    val sql = ddlTable("t2")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'x', 5), (2, 'x', 7)")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'y', 50)") // re-keys id=1
    // raw files hold 3 rows; the resolved view holds 2
    assert(spark.sql(s"SELECT COUNT(*) AS c FROM $sql").head().getLong(0) == 2)
    // a filter hitting only the SUPERSEDED version must return nothing
    assert(spark.sql(s"SELECT * FROM $sql WHERE v = 'x' AND id = 1")
      .isEmpty)
    val agg = spark.sql(s"SELECT SUM(amt) AS s FROM $sql").head().getLong(0)
    assert(agg == 57L)
  }

  test("API-registered MoR table (inferred schema) hides __seq and resolves") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-morsql-api").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("id"), mergeOnRead = true)
    t.commitUpsert(Seq((1L, 10L), (2L, 20L)).toDF("id", "amt"))
    t.commitUpsert(Seq((2L, 99L)).toDF("id", "amt"))
    TieredCatalog.register("mor", "api1", s"$dir/t", pk = Seq("id"),
      mergeOnRead = true)
    assert(spark.table("graft.mor.api1").columns.toSeq == Seq("id", "amt"))
    val rows = spark.sql("SELECT id, amt FROM graft.mor.api1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 99L)))
  }

  test("time travel: VERSION AS OF / __v<N> / $cold resolve per-snapshot") {
    val sql = ddlTable("t3")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1)")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'b', 2)")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'c', 3)")
    // as of snapshot 2 the key's winner was 'b' — ONE row, resolved
    val v2 = spark.sql(s"SELECT v FROM $sql VERSION AS OF 2")
      .collect().map(_.getString(0)).toSeq
    assert(v2 == Seq("b"))
    assert(spark.sql(s"SELECT v FROM ${sql}__v2").collect()
      .map(_.getString(0)).toSeq == Seq("b"))
    // $cold (all deltas are cold here) = current resolved state
    val cold = spark.sql(s"SELECT v FROM ${sql.replace(".t3", ".`t3$cold`")}")
      .collect().map(_.getString(0)).toSeq
    assert(cold == Seq("c"))
  }

  test("VERSION AS OF a TAG resolves the tagged snapshot's winners") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-morsql-tag").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("id"), mergeOnRead = true)
    t.commitUpsert(Seq((1L, "old")).toDF("id", "v"))
    t.createTag("before")
    t.commitUpsert(Seq((1L, "new")).toDF("id", "v"))
    TieredCatalog.register("mor", "tagged", s"$dir/t", pk = Seq("id"),
      mergeOnRead = true)
    assert(spark.sql(
      "SELECT v FROM graft.mor.tagged VERSION AS OF 'before'")
      .head().getString(0) == "old")
    assert(spark.sql("SELECT v FROM graft.mor.tagged")
      .head().getString(0) == "new")
  }

  test("SQL UPDATE / DELETE / MERGE lower to the storage verbs on MoR") {
    val sql = ddlTable("t4")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    spark.sql(s"UPDATE $sql SET amt = amt + 1 WHERE id <= 2")
    spark.sql(s"DELETE FROM $sql WHERE id = 3")
    val afterRl = spark.sql(s"SELECT id, amt FROM $sql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(afterRl == Seq((1L, 11L), (2L, 21L)))
    // MERGE with a source that itself reads a MoR table: the source
    // relation substitutes, the target stays a lowering target
    spark.sql(
      s"""MERGE INTO $sql t
         |USING (SELECT id + 1 AS id, amt FROM $sql WHERE id = 1) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amt = s.amt * 100
         |""".stripMargin)
    val afterMerge = spark.sql(s"SELECT id, amt FROM $sql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(afterMerge == Seq((1L, 11L), (2L, 1100L)))
  }

  test("self-join of a MoR table: both relations substitute independently") {
    val sql = ddlTable("t5")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql(s"INSERT INTO $sql VALUES (2, 'b2', 25)")
    val n = spark.sql(
      s"SELECT COUNT(*) AS c FROM $sql a JOIN $sql b ON a.id = b.id")
      .head().getLong(0)
    assert(n == 2) // resolved × resolved, not raw × raw (= 1+4)
  }

  test("empty created MoR table reads as zero rows with the declared schema") {
    val sql = ddlTable("t6")
    val df = spark.sql(s"SELECT id, v, amt FROM $sql")
    assert(df.isEmpty)
    assert(df.columns.toSeq == Seq("id", "v", "amt"))
  }

  test("$changes and $snapshots metadata stay reachable; streaming read " +
      "points at the change feed") {
    val dir = Files.createTempDirectory("graft-morsql-cf").toString
    spark.sql("DROP TABLE IF EXISTS graft.mor.cf")
    spark.sql(
      s"""CREATE TABLE graft.mor.cf (id BIGINT, v STRING)
         |TBLPROPERTIES ('primary-key' = 'id', 'merge-on-read' = 'true',
         |               'change-data-feed' = 'true', 'path' = '$dir/t')""".stripMargin)
    spark.sql("INSERT INTO graft.mor.cf VALUES (1, 'a')")
    spark.sql("INSERT INTO graft.mor.cf VALUES (1, 'b')")
    val feed = spark.sql(
      "SELECT op, v FROM graft.mor.`cf$changes` ORDER BY op, v")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // +I for the insert, then the -U/+U retraction pair for the re-key
    assert(feed.contains(("+I", "a")) && feed.contains(("+U", "b")) &&
      feed.contains(("-U", "a")))
    assert(spark.sql("SELECT COUNT(*) FROM graft.mor.`cf$snapshots`")
      .head().getLong(0) == 2)
    // the refusal fires when the stream plans its first batch — await it
    val q = spark.readStream.table("graft.mor.cf").writeStream
      .format("memory").queryName("mor_cf_refused").start()
    val err = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(t =>
        Option(t.getMessage).toSeq ++ messages(t.getCause))
    assert(messages(err).exists(_.contains("$changes")),
      s"refusal does not point at the change feed: ${messages(err)}")
  }

  test("writeStream.toTable into a MoR table: per-epoch upsert DELTAS, " +
      "resolved reads stay correct") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-morsql-ssrc").toString
    TieredCatalog.register("mor", "stream_src", s"$srcDir/s")
    val src = TieredTable(spark, s"$srcDir/s")
    src.appendLog(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val ckpt = Files.createTempDirectory("graft-morsql-ck").toString
    spark.sql("DROP TABLE IF EXISTS graft.mor.t11")
    val dir = Files.createTempDirectory("graft-morsql-t11").toString
    spark.sql(
      s"""CREATE TABLE graft.mor.t11 (id BIGINT, v STRING)
         |TBLPROPERTIES ('primary-key' = 'id', 'merge-on-read' = 'true',
         |               'path' = '$dir/t')""".stripMargin)
    val q = spark.readStream.table("graft.mor.stream_src")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("graft.mor.t11")
    try {
      q.processAllAvailable()
      src.appendLog(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"))
      q.processAllAvailable()
    } finally q.stop()
    // resolved read: key 2 shows its second-epoch version
    val rows = spark.sql("SELECT id, v FROM graft.mor.t11 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    // merge-on-read streaming contract: every epoch committed an
    // O(batch) upsert DELTA — no copy-on-write rewrite in the history
    val ops = spark.sql(
      "SELECT operation FROM graft.mor.`t11$snapshots` ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq
    assert(ops.nonEmpty && ops.forall(_ == "upsert"), ops.toString)
  }

  test("CALL graft.system.compact resets a MoR table to one resolved " +
      "delta; SQL answers unchanged") {
    val sql = ddlTable("t12")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1), (2, 'b', 2)")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'A', 10)")
    spark.sql(s"INSERT INTO $sql VALUES (2, 'B', 20), (3, 'c', 3)")
    val before = spark.sql(s"SELECT id, v, amt FROM $sql ORDER BY id")
      .collect().toSeq
    assert(spark.sql(s"SELECT COUNT(*) FROM ${sql}__files")
      .head().getLong(0) >= 3)
    spark.sql("CALL graft.system.compact('mor.t12')")
    // read amplification reset: one resolved dir, same answers
    assert(spark.sql(s"SELECT COUNT(*) FROM ${sql}__files")
      .head().getLong(0) == 1)
    val after = spark.sql(s"SELECT id, v, amt FROM $sql ORDER BY id")
      .collect().toSeq
    assert(after == before)
  }

  test("a batch naming one key twice resolves to its LAST row, " +
      "deterministically (within-batch LWW at the PK sink)") {
    val sql = ddlTable("t13")
    // both rows land in ONE insert — without arrival-order LWW the MoR
    // delta would stamp both with the same sequence and resolution
    // would be order-of-scan-dependent
    spark.sql(s"INSERT INTO $sql VALUES (1, 'first', 1), (1, 'last', 2)")
    val rows = spark.sql(s"SELECT id, v, amt FROM $sql").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1) == "last" && rows.head.getLong(2) == 2L)
    // same contract on a copy-on-write PK sink
    val dir = Files.createTempDirectory("graft-morsql-cow").toString
    spark.sql("DROP TABLE IF EXISTS graft.mor.cow13")
    spark.sql(
      s"""CREATE TABLE graft.mor.cow13 (id BIGINT, v STRING)
         |TBLPROPERTIES ('primary-key' = 'id', 'path' = '$dir/t')""".stripMargin)
    spark.sql("INSERT INTO graft.mor.cow13 VALUES (7, 'a'), (7, 'b')")
    val cow = spark.sql("SELECT v FROM graft.mor.cow13").collect()
    assert(cow.map(_.getString(0)).toSeq == Seq("b"))
  }

  test("SHOW CREATE TABLE round-trips the merge-on-read property") {
    val sql = ddlTable("t7")
    val ddl = spark.sql(s"SHOW CREATE TABLE $sql").head().getString(0)
    assert(ddl.contains("'merge-on-read' = 'true'") ||
      ddl.contains("'merge-on-read'='true'"))
  }

  test("merge-on-read without a primary key refuses at CREATE") {
    val err = intercept[IllegalArgumentException] {
      spark.sql(
        """CREATE TABLE graft.mor.nopk (id BIGINT)
          |TBLPROPERTIES ('merge-on-read' = 'true')""".stripMargin)
    }
    assert(err.getMessage.contains("primary-key"))
  }

  test("SCALE: a PK predicate pushes BELOW the resolution window into " +
      "the parquet scan") {
    val sql = ddlTable("t9")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3)")
    spark.sql(s"INSERT INTO $sql VALUES (2, 'B', 20)")
    // the dedup window partitions by the PK, so a predicate on the PK
    // alone is safe below it — Catalyst pushes it through the Window
    // and into the scan (at 100 TB: a point lookup reads O(files with
    // the key), not the whole table resolved first)
    val df = spark.sql(s"SELECT v FROM $sql WHERE id = 2")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]")
        || physical.contains("PushedFilters: [EqualTo(id,2)"),
      s"PK predicate did not reach the scan:\n$physical")
    // and the scan BELOW the window is graft's own skipping scan —
    // manifest-level file pruning (stats sidecars + blooms) serves the
    // point lookup before any parquet footer is opened
    assert(physical.contains("GraftRuntimeScan"),
      s"MoR resolution does not ride the skipping scan:\n$physical")
    assert(df.head().getString(0) == "B")
    // a NON-key predicate must stay ABOVE the window (the winning
    // version of a key can live in a file the filter would prune) —
    // correctness first: superseded 'b' must not resurface
    assert(spark.sql(s"SELECT COUNT(*) FROM $sql WHERE v = 'b'")
      .head().getLong(0) == 0)
  }

  test("partitioned MoR through SQL: partition-column predicate prunes, " +
      "resolution stays per-key") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-morsql-part").toString
    // partition column part of the PK (the Flink-Iceberg upsert-sink
    // rule: a key never changes partitions)
    val t = TieredTable(spark, s"$dir/t", pk = Seq("region", "id"),
      mergeOnRead = true, partitionBy = Seq("region"))
    t.commitUpsert(Seq(("eu", 1L, 10L), ("eu", 2L, 20L), ("us", 1L, 30L))
      .toDF("region", "id", "amt"))
    t.commitUpsert(Seq(("eu", 1L, 11L)).toDF("region", "id", "amt"))
    TieredCatalog.register("mor", "part1", s"$dir/t",
      pk = Seq("region", "id"), mergeOnRead = true,
      partitionBy = Seq("region"))
    val eu = spark.sql(
      """SELECT id, amt FROM graft.mor.part1
        |WHERE region = 'eu' ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(eu == Seq((1L, 11L), (2L, 20L)))
    // the partition predicate is a window-partition key too → Catalyst
    // pushes it below the window, and the graft scan builder consumes
    // it ENTIRELY at scan build (directory pruning — no residual
    // Filter, no PartitionFilters node survives); the pruned
    // key-grouped scan then satisfies the window's clustering, so the
    // whole resolution plans WITHOUT an exchange
    val physical = spark.sql(
      "SELECT amt FROM graft.mor.part1 WHERE region = 'eu'")
      .queryExecution.executedPlan.toString
    assert(physical.contains("GraftCompositeScan") ||
      physical.contains("GraftRuntimeScan"),
      s"partitioned MoR resolution does not ride the graft scan:\n$physical")
    assert(!physical.contains("Exchange"),
      s"partition-pruned MoR resolution should not shuffle:\n$physical")
    // $partitions refuses on MoR: its sidecar accounting counts raw
    // VERSIONS, which would read as live rows
    val e = intercept[IllegalArgumentException] {
      spark.sql("SELECT * FROM graft.mor.`part1$partitions`").collect()
    }
    assert(e.getMessage.contains("raw versions"), e.getMessage)
  }

  test("INSERT OVERWRITE a MoR table replaces the resolved state wholesale") {
    val sql = ddlTable("t10")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1)")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'b', 2), (2, 'c', 3)")
    spark.sql(s"INSERT OVERWRITE $sql VALUES (9, 'z', 90), (9, 'z2', 91)")
    // batch-internal LWW applies at the sink; history stays travelable
    val now = spark.sql(s"SELECT id, v FROM $sql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(now == Seq((9L, "z2")))
    assert(spark.sql(s"SELECT v FROM $sql VERSION AS OF 2 WHERE id = 1")
      .head().getString(0) == "b")
  }

  test("resolution survives under EXPLAIN: no raw-version scan, no __seq") {
    val sql = ddlTable("t8")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 1)")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'b', 2)")
    val plan = spark.sql(s"SELECT * FROM $sql").queryExecution
      .executedPlan.toString
    assert(!plan.contains("__seq") || plan.contains("WindowGroupLimit") ||
      plan.contains("Window"),
      s"plan neither hides __seq nor resolves it:\n$plan")
    // the answer itself is the arbiter
    assert(spark.sql(s"SELECT v FROM $sql").head().getString(0) == "b")
  }

  test("ALTER TABLE ADD COLUMN: winners written before it read NULL in " +
      "the new column, later writes carry it") {
    val sql = ddlTable("t11")
    spark.sql(s"INSERT INTO $sql VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql(s"INSERT INTO $sql VALUES (2, 'B', 200)")
    spark.sql(s"ALTER TABLE $sql ADD COLUMN note STRING")
    def rows() = spark.sql(s"SELECT id, v, note FROM $sql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSeq
    assert(rows() == Seq((1L, "a", None), (2L, "B", None)))
    spark.sql(s"INSERT INTO $sql VALUES (3, 'c', 30, 'n3'), (1, 'A', 100, 'n1')")
    assert(rows() == Seq((1L, "A", Some("n1")), (2L, "B", None),
      (3L, "c", Some("n3"))))
  }
}
