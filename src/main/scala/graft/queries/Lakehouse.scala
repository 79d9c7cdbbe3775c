package graft.queries

import java.nio.file.{Files, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.{SessionMemo, TieredTable}
import graft.tables.Tables

/** Q7/Q9 — the tiered-lakehouse behaviors (SURVEY.md §2 S5/S7/S9):
  * hot∪cold union read and the snapshot-metadata table, exercised through
  * a real [[TieredTable]] built from the `orders` fixture.
  *
  * Construction is deterministic: orders are split into three log
  * segments by `o_orderkey % 3`; segments 0 and 1 are tiered (two cold
  * snapshots), segment 2 stays hot. The DuckDB oracle recomputes the same
  * accounting straight from the parquet — so the manifest bookkeeping,
  * the exactly-once boundary, and the union read are all cross-checked.
  */
object Lakehouse {

  /** Storage-format version of the cached demo table — bump when the
    * TieredTable layout changes so a stale cache from a previous build
    * can never be read with new code.
    */
  private val FormatVersion = 3

  /** Export gated on a head-id marker: the benched lakehouse fixtures
    * are immutable once built, so exporting them is SETUP, not query
    * work — re-running `export` per query call billed every pass a
    * full snapshot walk + fingerprint check (VERDICT r10 item 4: q34's
    * 1.4 s was commit+export pipeline, not read). The marker records
    * the exported head id; a fixture rebuilt under a new FormatVersion
    * gets a fresh path and therefore a fresh export.
    */
  private def exportOnce(t: TieredTable, formatVersion: Int = 2): Unit = {
    val marker = Paths.get(t.tablePath, "metadata", "EXPORTED_HEAD")
    val head = t.currentSnapshot.map(_.id).getOrElse(0L).toString
    val cur =
      if (Files.exists(marker)) Files.readString(marker).trim else ""
    if (cur != head) {
      graft.storage.IcebergExport.export(t, formatVersion)
      Files.createDirectories(marker.getParent)
      Files.writeString(marker, head)
    }
  }

  /** Build (once per sf dir) the demo tiered table; idempotent. */
  def demoTable(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path)
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
      (0 to 2).foreach { i =>
        t.appendLog(orders.filter(pmod(col("o_orderkey"), lit(3)) === i))
      }
      t.tier(upToSeg = Some(0L)) // snapshot 1: cold ← seg 0
      t.tier(upToSeg = Some(1L)) // snapshot 2: cold ← seg 1
      // seg 2 remains hot
    }
    t
  }

  /** Q7 — union read: count + keysum over hot∪cold must equal the plain
    * batch aggregate over all orders (no duplicate, no loss across the
    * tiering boundary; reference README.md:296-316).
    */
  def q7UnionRead(spark: SparkSession, dir: String): DataFrame =
    demoTable(spark, dir).readUnion()
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))

  /** Q7b — cold-only read (the Trino role): strictly the tiered subset. */
  def q7ColdOnly(spark: SparkSession, dir: String): DataFrame =
    demoTable(spark, dir).readCold()
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))

  /** Q9 — snapshot metadata listing (reference README.md:275), projected
    * to its deterministic columns: id, parent lineage, operation, the
    * rows/watermark accounting, and the Iceberg-style `summary` map's
    * counters (`added-records`, `total-data-files`). `committed_at` and
    * `manifest_list` exist in the table but are wall-clock/path-valued,
    * so they stay out of the hashed projection. The oracle recomputes
    * the same accounting from the modulo split.
    */
  def q9Snapshots(spark: SparkSession, dir: String): DataFrame =
    demoTable(spark, dir).snapshots()
      .select(col("snapshot_id"), col("parent_id"), col("operation"),
              col("rows_added"), col("tiered_seg"),
              element_at(col("summary"), "added-records").cast("long")
                .as("added_records"),
              element_at(col("summary"), "total-data-files").cast("long")
                .as("total_data_files"))
      .orderBy(col("snapshot_id"))

  /** Q10 — incremental (CDC) read between the demo table's two
    * snapshots: per-op counts and key sums of the changelog that takes
    * snapshot 1 to snapshot 2 — Iceberg's changelog scan / "consume only
    * what changed" primitive. On the append-only demo table the diff is
    * pure inserts (the `o_orderkey % 3 = 1` segment), which the oracle
    * recomputes from the modulo split.
    */
  def q10Incremental(spark: SparkSession, dir: String): DataFrame =
    demoTable(spark, dir).incrementalRead(1L, 2L, Seq("o_orderkey"))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))

  /** Q10b — FULL changelog-kind coverage: the incremental read across
    * the merged-customer table's MERGE commit (snapshot 1 → 2) carries
    * all four Fluss/Flink changelog op kinds — `+I` (inserted synthetic
    * customers), `-D` (churned heavy accounts), and for every updated
    * account the `-U`/`+U` before/after pair. Per-op counts, key sums,
    * and exact-cents balance sums: the balance column separates the
    * before-image (`-U` carries the OLD acctbal) from the after-image
    * (`+U` carries old + n_orders) — a downstream aggregator could
    * retract/apply exactly these values. The oracle recomputes every op
    * relationally from the raw fixture.
    */
  def q10bChangelog(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    demoMergedCustomer(spark, dir).incrementalRead(1L, 2L, Seq("c_custkey"))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("c_custkey")).as("key_sum"),
        (sum(col("c_acctbal").cast(DecimalType(15, 2))) * 100)
          .cast("long").as("bal_cents"))
  }

  /** Q18 — incremental materialized-view maintenance: the per-nation
    * account-balance aggregate carried from snapshot 1 to snapshot 2 by
    * APPLYING the changelog (retract `-U`/`-D`, apply `+I`/`+U`) —
    * never re-reading the base table — the batch analog of the
    * reference's continuously-maintained `nation_revenue`
    * (README.md:196-200,247-250), and the operator that makes the
    * update_before image earn its keep. The oracle recomputes the
    * FINAL state relationally from the raw fixture, so a wrong sign,
    * a missed retraction, or a double-applied delta all hash-mismatch.
    * Exact integer cents throughout — retraction cancels bit-for-bit.
    */
  def q18IncrementalMv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.operators.IncrementalAgg
    val t = demoMergedCustomer(spark, dir)
    val cents = (col("c_acctbal").cast(DecimalType(15, 2)) * 100).cast("long")
    val state1 = IncrementalAgg.rebuild(
      t.readColdAsOf(1L).select(
        col("c_nationkey").cast("long").as("nation_key"), cents.as("__v")),
      Seq("nation_key"), "__v", "bal_cents", "n_rows")
    val delta = t.incrementalRead(1L, 2L, Seq("c_custkey")).select(
      col("c_nationkey").cast("long").as("nation_key"), cents.as("__v"),
      col("op"))
    IncrementalAgg.applyDelta(state1, delta, Seq("nation_key"),
      "__v", "bal_cents", "n_rows")
  }

  /** Q18b — q18's maintenance with the FULL aggregate vocabulary:
    * SUM/COUNT plus MIN/MAX/AVG carried across the same snapshot-1 →
    * snapshot-2 changelog. MIN/MAX are NOT self-maintainable under
    * retraction — the merge DELETES customers (some holding their
    * nation's extreme balance) and UPDATES balances (retracting the
    * old value) — so this query exercises the dirty-group repair in
    * [[IncrementalAgg.applyDeltaFull]]: affected groups re-aggregate
    * from the snapshot-2 base via a semi-join-pruned scan, clean
    * groups never touch it. The oracle recomputes the final state
    * relationally, so a stale bound (the classic min-stuck-after-
    * delete bug) hash-mismatches. AVG is verified through its EXACT
    * integer accumulators (`avg_num_cents`/`avg_den` BIGINT) rather
    * than the finished double — cross-engine float-kernel agreement
    * is not something a hash gate may depend on (repo convention:
    * no float division in hashed output, cf. p5/g9); the double
    * [[IncrementalAgg.finishAvgs]] projection remains the SQL MV
    * surface.
    */
  def q18bIncrementalMvFull(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.operators.IncrementalAgg
    val t = demoMergedCustomer(spark, dir)
    val cents = (col("c_acctbal").cast(DecimalType(15, 2)) * 100).cast("long")
    val spec = IncrementalAgg.AggSpec(
      sums = Seq("__v" -> "bal_cents"), cntCol = "n_rows",
      mins = Seq("__v" -> "min_cents"), maxs = Seq("__v" -> "max_cents"),
      avgs = Seq("__v" -> "avg_cents"))
    def shaped(df: DataFrame) = df.select(
      col("c_nationkey").cast("long").as("nation_key"), cents.as("__v"))
    val state1 = IncrementalAgg.rebuildFull(
      shaped(t.readColdAsOf(1L)), Seq("nation_key"), spec)
    val delta = t.incrementalRead(1L, 2L, Seq("c_custkey")).select(
      col("c_nationkey").cast("long").as("nation_key"), cents.as("__v"),
      col("op"))
    IncrementalAgg.applyDeltaFull(state1, delta, Seq("nation_key"), spec,
      shaped(t.readColdAsOf(2L)))
      // hashed output carries the exact accumulators, never the
      // finished double (the cents sums sit far inside 2^53, so the
      // long cast is value-exact)
      .withColumn("avg_num_cents", col("__avs_avg_cents").cast("long"))
      .withColumn("avg_den", col("__avc_avg_cents"))
      .drop("__avs_avg_cents", "__avc_avg_cents", "avg_cents")
  }

  /** Q11 — time travel: batch read AS OF snapshot 1 (before the second
    * tier), Iceberg's `VERSION AS OF` semantics. The manifest pins the
    * exact file list of the older snapshot, so the read is reproducible
    * forever regardless of later commits; the oracle recomputes the
    * snapshot-1 contents (the `o_orderkey % 3 = 0` segment) from the
    * raw fixture.
    */
  def q11TimeTravel(spark: SparkSession, dir: String): DataFrame =
    demoTable(spark, dir).readColdAsOf(1L)
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))

  /** Q27 — snapshot TAGS under the oracle (r9): the demo table's first
    * snapshot (the `%3 == 0` segment) pinned under an immutable name,
    * read back through SQL `VERSION AS OF 'q27_base'` — Iceberg's
    * named-ref time travel, the reproducible-corpus-pin a training run
    * records. Same oracle accounting as q11; the ref resolution, not
    * the snapshot read, is what's newly under test. Tag creation is
    * idempotent (the fixture may pre-exist).
    */
  def q27TagTravel(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val t = demoTable(spark, dir)
    graft.plans.TieredCatalog.register("bench", "orders_tagged", t.tablePath)
    if (t.tagSnapshot("q27_base").isEmpty) t.createTag("q27_base", 1L)
    spark.sql(
      """SELECT COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM graft.bench.orders_tagged VERSION AS OF 'q27_base'"""
        .stripMargin)
  }

  /** Fixture for q28 — the write-audit-publish flow, end-to-end through
    * the SQL surface: base load (`o_orderkey % 3 == 1`), then the
    * `% 3 == 2` segment STAGED under `spark.graft.wap.id` via a plain
    * `INSERT INTO`, audited through `VERSION AS OF 'q28-candidate'`
    * (main reads must NOT see it yet — asserted here), then published
    * with `CALL graft.system.publish_wap`. Crash-safe idempotence: a
    * re-run that finds the stage pending just publishes it.
    */
  def demoWapPublished(spark: SparkSession, dir: String): TieredTable = {
    ensureCatalog(spark)
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_wap"
    val t = TieredTable(spark, path)
    graft.plans.TieredCatalog.register("bench", "orders_wap", path)
    val wap = "q28-candidate"
    if (t.latestSnapshotId < 1) {
      val orders = Tables.load(spark, dir, "orders")
      t.commitAppend(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1))
    }
    if (t.latestSnapshotId < 2) {
      if (t.stagedRead(wap).isEmpty) {
        val orders = Tables.load(spark, dir, "orders")
        orders.createOrReplaceTempView("q28_orders_src")
        spark.conf.set("spark.graft.wap.id", wap)
        try spark.sql(
          """INSERT INTO graft.bench.orders_wap
            |SELECT * FROM q28_orders_src WHERE o_orderkey % 3 = 2"""
            .stripMargin)
        finally spark.conf.unset("spark.graft.wap.id")
      }
      // the audit: staged rows are visible ONLY through the wap ref —
      // a stage that leaked into the main read is the failure mode
      // write-audit-publish exists to prevent
      val mainN = spark.table("graft.bench.orders_wap").count()
      val auditN = spark.sql(
        "SELECT count(*) FROM graft.bench.orders_wap VERSION AS OF " +
          s"'$wap'").head().getLong(0)
      require(auditN > mainN,
        s"wap stage leaked or vanished: main=$mainN audit=$auditN")
      spark.sql(s"CALL graft.system.publish_wap('bench.orders_wap', '$wap')")
    }
    t
  }

  /** Q28 — write-audit-publish under the oracle: per-priority counts,
    * key sums, and exact cents over the POST-PUBLISH state. The oracle
    * recomputes the base∪staged split from the raw fixture, so a lost
    * staged batch, a double publish, or a stage leaking before publish
    * all change the totals and hash-mismatch.
    */
  def q28Wap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    demoWapPublished(spark, dir).readCold()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).as("key_sum"),
        (sum(col("o_totalprice").cast(DecimalType(15, 2))) * 100)
          .cast("long").as("price_cents"))
  }

  /** Fixture for q29 — a table with a DECLARED write sort order
    * (`write.sort-order` = o_orderkey): the one batch-committed load
    * range-sorts globally, so files carry disjoint key ranges and the
    * sidecars prune the q29 key-band scan to O(matching files).
    */
  def demoTableSorted(spark: SparkSession, dir: String): TieredTable = {
    ensureCatalog(spark)
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_sorted"
    val t = TieredTable(spark, path, sortBy = Seq("o_orderkey"))
    graft.plans.TieredCatalog.register("bench", "orders_sorted", path,
      sortBy = Seq("o_orderkey"))
    if (t.latestSnapshotId < 1)
      t.commitAppend(Tables.load(spark, dir, "orders"))
    t
  }

  /** Q29 — range scan over the sort-clustered table: priority totals
    * inside a key band. Values are oracle-checked; the SCALE property
    * (disjoint per-file bounds pruning the band to O(matching files))
    * is pinned by WriteSortOrderSpec.
    */
  def q29SortedScan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    demoTableSorted(spark, dir).readCold()
      .filter(col("o_orderkey").between(10000L, 20000L))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        (sum(col("o_totalprice").cast(DecimalType(15, 2))) * 100)
          .cast("long").as("price_cents"))
  }

  /** Fixture for q20: a tiered table whose price column is RENAMED
    * between its two commits — snapshot 1's files carry `price`,
    * snapshot 2's carry `price_usd`; the COLMAP mapping makes every
    * read (mixed vintages coalesced) present the current name. Built
    * once per sf dir; a trailing done-marker makes the multi-step
    * build crash-safe (a half-built fixture rebuilds).
    */
  def demoRenamedTable(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/renamed"
    val done = Paths.get(path, "meta", "_FIXTURE_DONE")
    val t = TieredTable(spark, path)
    if (!Files.exists(done)) {
      val o = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      t.commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumnRenamed("o_totalprice", "price"))
      t.renameColumn("price", "price_usd")
      t.commitAppend(o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .withColumnRenamed("o_totalprice", "price_usd"))
      Files.writeString(done, "ok")
    }
    t
  }

  /** Q20 — schema evolution under the oracle: after the mid-history
    * RENAME, the full read must present every order's price under the
    * new name with no row lost on either side of the evolution — the
    * oracle recomputes the totals from the raw fixture, so a mapping
    * bug (dropped old-name files, missed coalesce, resurrected name)
    * hash-mismatches. Exact cents arithmetic as everywhere.
    */
  def q20SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    demoRenamedTable(spark, dir).readCold()
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum((col("price_usd").cast(DecimalType(15, 2)) * 100).cast("long"))
          .cast("long").as("price_cents"))
  }

  /** Fixture for q21: a PK table with the CHANGE DATA FEED on — two
    * upsert commits whose change files carry the bootstrap `+I` set,
    * the `-U`/`+U` before/after pairs of the updated third, and the
    * inserted synthetics.
    */
  def demoCdfTable(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/cdf_customer"
    val done = Paths.get(path, "meta", "_FIXTURE_DONE")
    val t = TieredTable(spark, path, pk = Seq("k"), changeDataFeed = true)
    if (!Files.exists(done)) {
      val cust = Tables.load(spark, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
      t.commitUpsert(cust)
      val upd = cust.filter(pmod(col("k"), lit(3)) === 0)
        .withColumn("bal", col("bal") + 1)
      val ins = cust.filter(pmod(col("k"), lit(7)) === 0)
        .select((col("k") + 10000000L).as("k"), lit(0.0).as("bal"))
      t.commitUpsert(upd.unionByName(ins))
      Files.writeString(done, "ok")
    }
    t
  }

  /** Q21 — the change data feed under the oracle: read the COMMITTED
    * change files (the exact bytes a streaming consumer replays) as a
    * batch and account per op kind — counts, key sums, and exact-cents
    * balance sums separating the `-U` before-image from the `+U`
    * after-image. The oracle recomputes all four accounting rows
    * relationally from the raw fixture, so a wrong op, a missed pair,
    * or a double-published file hash-mismatches. The change dirs are
    * read as the explicit list the table commits (recovering any
    * interrupted publication first), not as a glob.
    */
  def q21ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = demoCdfTable(spark, dir)
    spark.read.option("mergeSchema", "true")
      .parquet(t.committedChangeIds().map(t.changeDirPath): _*)
      .groupBy(col("op"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("k")).cast("long").as("key_sum"),
        (sum(col("bal").cast(DecimalType(15, 2))) * 100)
          .cast("long").as("bal_cents"))
  }

  /** Q19 — cross-format interop: export the demo table's cold tier as
    * Apache Iceberg v2 metadata, then read it back through
    * [[graft.storage.IcebergExport.readTable]] — a reader that resolves
    * data files PURELY from the exported artifacts (version-hint →
    * metadata.json → manifest-list Avro → manifest Avro), sharing no
    * code with TieredTable's scan path. This is the reference's
    * Trino-reads-the-Iceberg-tier promise (README.md:257-292) as a
    * checkable query: the oracle recomputes the cold subset straight
    * from the raw fixture, so a wrong manifest, missed file, or stale
    * version hint all hash-mismatch.
    */
  def q19IcebergRead(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTable(spark, dir)
    exportOnce(t)
    graft.storage.IcebergExport.readTable(spark, t.tablePath)
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
  }

  /** Q19b — Iceberg time travel over the SAME exported metadata:
    * resolve snapshot 1 (before the second tier) through the Iceberg
    * snapshot list and its own manifest list — must equal q11's
    * TieredTable time travel, recomputed by the oracle from the modulo
    * split.
    */
  def q19bIcebergAsOf(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTable(spark, dir)
    exportOnce(t)
    graft.storage.IcebergExport.readTable(spark, t.tablePath,
        asOfSnapshotId = Some(1L))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
  }

  /** Partitioned variant of the demo table: orders laid out Hive-style
    * by `o_orderpriority` (Iceberg partition-spec role). Built once per
    * sf dir, idempotent, same tier split as [[demoTable]].
    */
  def demoTablePartitioned(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_part"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path, partitionBy = Seq("o_orderpriority"))
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
      t.appendLog(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0))
      t.tier()
      t.appendLog(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)) // hot
    }
    t
  }

  /** Q22 — the PARTITIONED cold tier through the exported Iceberg
    * chain: export [[demoTablePartitioned]] (hive layout by
    * `o_orderpriority`) with an identity partition spec, read it back
    * through [[graft.storage.IcebergExport.readTable]] — which must
    * reconstruct the partition column from the manifests' typed
    * partition structs, since hive-layout data pages don't contain it
    * — and aggregate BY the partition column. A missing, mistyped, or
    * misparsed partition value changes the group keys and
    * hash-mismatches against the oracle's recomputation from the raw
    * fixture.
    */
  def q22IcebergPart(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTablePartitioned(spark, dir)
    exportOnce(t)
    graft.storage.IcebergExport.readTable(spark, t.tablePath)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"))
  }

  /** Merge-on-read orders table: the full fixture as the base delta,
    * then two overlapping upsert waves (every 7th key re-priced and
    * re-statused at seq 2, every 13th again at seq 3 — keys divisible
    * by both get the seq-3 version). Three live delta dirs, resolution
    * entirely via last-write-wins — the reference's huge-PK-table
    * shape where per-batch rewrites are the bottleneck.
    */
  def demoTableMor(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_mor"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path, pk = Seq("o_orderkey"), mergeOnRead = true)
    if (!Files.exists(donePath)) {
      // money on DECIMAL(15,2) from the base batch on: exact arithmetic
      // and one schema across all delta dirs (the fixture ships DOUBLE)
      val orders = Tables.load(spark, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(15,2)"))
      t.commitUpsert(orders)                                        // seq 1
      t.commitUpsert(orders                                         // seq 2
        .filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("R")))
      t.commitUpsert(orders                                         // seq 3
        .filter(pmod(col("o_orderkey"), lit(13)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") + 1000).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("X")))
    }
    t
  }

  /** Q23 — merge-on-read through the exported Iceberg chain: export
    * [[demoTableMor]] (three overlapping delta dirs) and read it back
    * through [[graft.storage.IcebergExport.readTable]], which must
    * apply the exported EQUALITY-DELETE files — a delete at sequence d
    * removes matching PKs from data files with strictly smaller data
    * sequence — to resolve last-write-wins with zero graft metadata. A
    * missed delete double-counts a key (cnt/key_sum shift); a
    * mis-sequenced one surfaces a stale price or status (price_cents /
    * group keys shift) against the oracle's CASE recomputation.
    */
  /** Q30 — merge-on-read through PLAIN SQL (r9, GraftMorReadRule): the
    * three-delta MoR table of [[demoTableMor]] read as
    * `SELECT … FROM graft.bench.orders_mor` — the analyzer substitutes
    * the resolved last-write-wins plan for the relation, so the filter
    * and aggregate run over winning versions only. A resolution bug
    * shows a superseded price (price_cents shifts) or a duplicate key
    * (cnt/key_sum shift) against the oracle's CASE recomputation; the
    * WHERE clause spans base, seq-2 and seq-3 winners so all three
    * delta dirs participate.
    */
  def q30MorSql(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val t = demoTableMor(spark, dir)
    graft.plans.TieredCatalog.register("bench", "orders_mor", t.tablePath,
      pk = Seq("o_orderkey"), mergeOnRead = true)
    spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM graft.bench.orders_mor
        |WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderstatus""".stripMargin)
  }

  /** Q31 — merge-on-read TIME TRAVEL through SQL: `VERSION AS OF 2`
    * over [[demoTableMor]] resolves the seq-2 state (base rows plus
    * the %7 re-price wave; the %13 wave does not exist yet). A
    * resolution bug that leaks a raw version or the seq-3 future
    * shifts cnt/price_cents against the oracle's recomputation of
    * exactly that intermediate state.
    */
  def q31MorAsOf(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val t = demoTableMor(spark, dir)
    graft.plans.TieredCatalog.register("bench", "orders_mor", t.tablePath,
      pk = Seq("o_orderkey"), mergeOnRead = true)
    spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM graft.bench.orders_mor VERSION AS OF 2
        |GROUP BY o_orderstatus""".stripMargin)
  }

  /** Q32 — PARTITIONED merge-on-read through SQL: [[demoTableMorPart]]
    * (hive-partitioned by `o_orderpriority`, partition col ∈ PK) read
    * with a partition predicate — the filter is consumed as directory
    * pruning BELOW the resolution window (the partition col is a
    * window key, so pushing it is safe), and resolution runs per key
    * inside the surviving partitions. The oracle recomputes winning
    * versions for exactly the two filtered priorities.
    */
  def q32MorPartSql(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val t = demoTableMorPart(spark, dir)
    graft.plans.TieredCatalog.register("bench", "orders_mor_part",
      t.tablePath, pk = Seq("o_orderpriority", "o_orderkey"),
      mergeOnRead = true, partitionBy = Seq("o_orderpriority"))
    spark.sql(
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM graft.bench.orders_mor_part
        |WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |GROUP BY o_orderpriority, o_orderstatus""".stripMargin)
  }

  /** Q33 — BUCKETED merge-on-read through SQL: the same three upsert
    * waves as [[demoTableMor]], committed into a
    * `'write.bucket-by'=8` layout (hash(PK)-bucketed delta dirs) and
    * read as plain SQL — resolution windows over (bucket, key), the
    * key-grouped scan satisfies the clustering, and the whole read
    * plans with NO exchange (BucketedMorSpec pins the plan shape; this
    * entry pins the ANSWERS under the oracle: a bucket-routing bug
    * splits a key across buckets and the window resurrects a
    * superseded version, shifting price_cents).
    */
  def q33MorBucketed(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_mor_b"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path, pk = Seq("o_orderkey"),
      mergeOnRead = true, bucketBy = 8)
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(15,2)"))
      t.commitUpsert(orders)                                        // seq 1
      t.commitUpsert(orders                                         // seq 2
        .filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("R")))
      t.commitUpsert(orders                                         // seq 3
        .filter(pmod(col("o_orderkey"), lit(13)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") + 1000).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("X")))
    }
    graft.plans.TieredCatalog.register("bench", "orders_mor_b", path,
      pk = Seq("o_orderkey"), mergeOnRead = true, bucketBy = 8)
    spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM graft.bench.orders_mor_b
        |GROUP BY o_orderstatus""".stripMargin)
  }

  /** Q34 — the BUCKETED MoR layout exported as an Iceberg `bucket[8]`
    * partition spec and read back PURELY from the exported metadata
    * chain ([[graft.storage.IcebergExport.readTable]] shares no state
    * with the engine's manifests): the same upsert waves as q33, so
    * the oracle recomputes every key's winning version relationally.
    * This is the reference's Trino-over-the-cold-tier role for the
    * engine's flagship 100 TB PK layout — before round 10 a bucketed
    * table refused export; now the `__bucket` dirs ARE the spec
    * transform (Iceberg murmur3 kernel, IcebergTransformsSpec) and an
    * external engine's bucket pruning is correct by construction.
    */
  def q34IcebergBucketed(spark: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_mor_bice"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path, pk = Seq("o_orderkey"),
      mergeOnRead = true, bucketBy = 8)
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(15,2)"))
      t.commitUpsert(orders)                                        // seq 1
      t.commitUpsert(orders                                         // seq 2
        .filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("R")))
      t.commitUpsert(orders                                         // seq 3
        .filter(pmod(col("o_orderkey"), lit(13)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") + 1000).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("X")))
    }
    exportOnce(t)
    graft.storage.IcebergExport.readTable(spark, t.tablePath)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum((col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
  }

  /** Q35 — partition-spec evolution under the oracle: an events table
    * commits its first half UNPARTITIONED, evolves
    * (`CALL graft.system.add_partition_field` — Iceberg's ADD
    * PARTITION FIELD), then commits the second half hive-partitioned
    * by `event_type`. The query reads the MIXED table through the SQL
    * catalog with an event-type filter: the new vintage prunes by
    * directory name, the old vintage is conservatively kept and
    * pruned by file stats, and the answers must equal the relational
    * recomputation over the raw fixture — a vintage dropped or
    * double-read shifts every count.
    */
  def q35PartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/events_evolved"
    val t = TieredTable(spark, path)
    if (!Files.exists(Paths.get(path, "meta", "LATEST"))) {
      val events = Tables.load(spark, dir, "events")
      t.commitAppend(events.filter(pmod(col("event_id"), lit(2)) === 0))
      graft.plans.TieredCatalog.register("bench", "events_evolved", path)
      spark.sql(
        "CALL graft.system.add_partition_field('bench.events_evolved', 'event_type')")
      val evolved = graft.plans.TieredCatalog
        .lookup("bench", "events_evolved").get
      val t2 = TieredTable(spark, path, partitionBy = evolved.partitionBy)
      t2.commitAppend(events.filter(pmod(col("event_id"), lit(2)) === 1))
    } else
      graft.plans.TieredCatalog.register("bench", "events_evolved", path,
        partitionBy = Seq("event_type"))
    spark.sql(
      """SELECT event_type, COUNT(*) AS cnt,
        |       CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |       CAST(SUM(CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS value_cents
        |FROM graft.bench.events_evolved
        |WHERE event_type IN ('click', 'error', 'purchase')
        |GROUP BY event_type""".stripMargin)
  }

  /** Build-once ADD→DROP fixture: a third of the events committed
    * UNPARTITIONED (spec 0), a third after `ADD PARTITION FIELD
    * event_type` (spec 1, hive layout — values only in dir names), a
    * third after `DROP PARTITION FIELD event_type` (spec 2, values
    * back in the data pages). The exit ramp a long-lived table that
    * mis-partitioned needs, exercised end-to-end. Returns the path.
    */
  def demoTableDropEvolved(spark: SparkSession, dir: String): String = {
    ensureCatalog(spark)
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/events_dropped"
    if (!Files.exists(Paths.get(path, "meta", "LATEST"))) {
      val t = TieredTable(spark, path)
      val events = Tables.load(spark, dir, "events")
      t.commitAppend(events.filter(pmod(col("event_id"), lit(3)) === 0))
      graft.plans.TieredCatalog.register("bench", "events_dropped", path)
      spark.sql(
        "CALL graft.system.add_partition_field('bench.events_dropped', 'event_type')")
      val t2 = TieredTable(spark, path, partitionBy = Seq("event_type"))
      t2.commitAppend(events.filter(pmod(col("event_id"), lit(3)) === 1))
      spark.sql(
        "CALL graft.system.drop_partition_field('bench.events_dropped', 'event_type')")
      val t3 = TieredTable(spark, path)
      t3.commitAppend(events.filter(pmod(col("event_id"), lit(3)) === 2))
    } else
      graft.plans.TieredCatalog.register("bench", "events_dropped", path)
    path
  }

  /** Q37 — ADD→DROP partition evolution under the oracle: the table
    * reads through the SQL catalog with an event-type filter that must
    * stay exact across ALL THREE vintages — dir-name values (hive
    * vintage), page values (both unpartitioned vintages) — against the
    * relational recomputation from the raw fixture. A vintage dropped,
    * double-read, or a filter claimed-but-unapplied on one root (the
    * composite-residual bug class) shifts every group.
    */
  def q37DropEvolution(spark: SparkSession, dir: String): DataFrame = {
    demoTableDropEvolved(spark, dir)
    spark.sql(
      """SELECT event_type, COUNT(*) AS cnt,
        |       CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |       CAST(SUM(CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS value_cents
        |FROM graft.bench.events_dropped
        |WHERE event_type IN ('click', 'error', 'purchase')
        |GROUP BY event_type""".stripMargin)
  }

  /** Q37B — the ADD→DROP table EXPORTED as a THREE-SPEC Iceberg table
    * (spec 2 without the field; the dropped field's partition field-id
    * stays consumed) and read back purely from the exported chain —
    * same oracle as q37.
    */
  def q37bDropEvolvedExport(spark: SparkSession, dir: String): DataFrame = {
    val path = demoTableDropEvolved(spark, dir)
    val t = TieredTable(spark, path)
    exportOnce(t)
    graft.storage.IcebergExport.readTable(spark, path)
      .filter(col("event_type").isin("click", "error", "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).cast("long").as("id_sum"),
        sum((col("value").cast("decimal(15,2)") * 100).cast("long"))
          .cast("long").as("value_cents"))
  }

  /** Q35B — the evolved table EXPORTED as a MULTI-SPEC Iceberg table
    * (spec-id 0 = the unpartitioned vintage, spec-id 1 = the
    * `event_type` identity spec; each manifest carries its own
    * `partition_spec_id`, per the Iceberg spec's partition-evolution
    * rules) and read back purely from the exported chain. The same
    * relational recomputation as q35 is the oracle: a vintage exported
    * under the wrong spec reads null partition values and its rows
    * vanish from the filtered groups.
    */
  def q35bEvolvedExport(spark: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/events_evolved"
    // fixture build only when absent — running the q35 aggregation on
    // every call would bill q35b for an entire extra query
    if (!Files.exists(Paths.get(path, "meta", "LATEST")))
      q35PartitionEvolution(spark, dir).count()
    val t = TieredTable(spark, path, partitionBy = Seq("event_type"))
    exportOnce(t)
    graft.storage.IcebergExport.readTable(spark, path)
      .filter(col("event_type").isin("click", "error", "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("event_id")).cast("long").as("id_sum"),
        sum((col("value").cast("decimal(15,2)") * 100).cast("long"))
          .cast("long").as("value_cents"))
  }

  def q23IcebergMor(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTableMor(spark, dir)
    exportOnce(t)
    graft.storage.IcebergExport.readTable(spark, t.tablePath)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum((col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
  }

  /** PARTITIONED merge-on-read orders table — the reference's
    * huge-PK-table shape under a partition spec (the first combination
    * a production user hits): hive-partitioned by `o_orderpriority`
    * with the partition column part of the PK (the Flink-Iceberg
    * upsert-sink rule, so a key never changes partitions and the
    * exported partition-scoped equality deletes are exact). Same
    * overlapping upsert waves as [[demoTableMor]]; each wave derives
    * from the base fixture, so every key keeps its priority.
    */
  def demoTableMorPart(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_mor_part"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path, pk = Seq("o_orderpriority", "o_orderkey"),
      mergeOnRead = true, partitionBy = Seq("o_orderpriority"))
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(15,2)"))
      t.commitUpsert(orders)                                        // seq 1
      t.commitUpsert(orders                                         // seq 2
        .filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("R")))
      t.commitUpsert(orders                                         // seq 3
        .filter(pmod(col("o_orderkey"), lit(13)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") + 1000).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("X")))
    }
    t
  }

  /** Q24 — PARTITIONED merge-on-read through the exported Iceberg
    * chain: [[demoTableMorPart]]'s three overlapping delta waves under
    * a hive partition spec export as PARTITION-SCOPED equality-delete
    * files (one per partition per superseding sequence — the v2 rule
    * that forbids global equality deletes under a partitioned spec),
    * and [[graft.storage.IcebergExport.readTable]] must both
    * reconstruct the partition column from the manifests AND apply the
    * scoped deletes for last-write-wins. Grouping by (priority,
    * status) makes either failure visible: a missed scoped delete
    * double-counts a key in its partition; a misparsed partition value
    * shifts the priority group keys — both hash-mismatch against the
    * oracle's CASE recomputation from the raw fixture.
    */
  def q24IcebergPartMor(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTableMorPart(spark, dir)
    exportOnce(t)
    graft.storage.IcebergExport.readTable(spark, t.tablePath)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum((col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
  }

  /** Build-once FORMAT-VERSION-3 fixture: the orders fixture committed
    * as ONE key-sorted file, exported, then a Puffin DELETION VECTOR
    * attached (the artifacts a modern Iceberg 1.8+ writer leaves where
    * a v2 writer wrote position-delete parquet) erasing exactly the
    * physical positions whose `o_orderkey % 7 = 0` — positions read
    * back from the committed file's own `_metadata.row_index`, so the
    * vector targets real ordinals, not assumed ones. Returns the table
    * path.
    */
  def demoTableDv(spark: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_dv"
    val marker = Paths.get(path, "metadata", "DV_ATTACHED")
    if (!Files.exists(marker)) {
      val t = TieredTable(spark, path)
      val orders = Tables.load(spark, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(15,2)"))
        .repartition(1).sortWithinPartitions("o_orderkey")
      t.commitAppend(orders)
      graft.storage.IcebergExport.export(t)
      val dataFile = graft.storage.IcebergExport
        .readAvro(s"$path/metadata/manifest-000001.avro")._1
        .map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord])
        .map(_.get("file_path").toString).distinct match {
          case Seq(one) => one
          case many => throw new IllegalStateException(
            s"DV fixture expects one data file, got ${many.size}")
        }
      // fixture-build collect: bounded by the deleted-key count at the
      // build sf (~o/7 longs), and paid once per fixture dir ever
      import spark.implicits._
      val positions = spark.read.parquet(dataFile)
        .filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("_metadata.row_index"))
        .as[Long].collect().sorted
      graft.storage.IcebergExport.attachDeletionVectors(path,
        Seq(dataFile -> positions), sequenceNumber = 1L)
      Files.writeString(marker, positions.length.toString)
    }
    path
  }

  /** Q36 — v3 DELETION VECTORS under the oracle: read the DV-carrying
    * table purely from its exported metadata chain
    * ([[graft.storage.IcebergExport.readTable]] decodes the Puffin
    * blob IN EXECUTORS and anti-joins the positions). The oracle
    * recomputes relationally (`o_orderkey % 7 <> 0`): a vector decoded
    * off-by-one, a CRC false pass, or a missed/over-applied position
    * shifts cnt/key_sum/price_cents.
    */
  /** The [[demoTableMor]] waves rebuilt at a v3 path — the fixture for
    * the DV WRITE path: the engine's own export, not a hand-attached
    * blob, emits the puffin deletion vectors here.
    */
  def demoTableMorV3(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_mor_v3"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path, pk = Seq("o_orderkey"), mergeOnRead = true)
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(15,2)"))
      t.commitUpsert(orders)                                        // seq 1
      t.commitUpsert(orders                                         // seq 2
        .filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("R")))
      t.commitUpsert(orders                                         // seq 3
        .filter(pmod(col("o_orderkey"), lit(13)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") + 1000).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("X")))
    }
    t
  }

  /** Q36b — v3 DELETION VECTOR WRITE path: the same three-wave MoR
    * table as q23, exported with format-version 3 so the engine's OWN
    * export emits puffin `deletion-vector-v1` blobs (positions of
    * rows superseded by later upsert waves) instead of v2
    * equality-delete parquet, then read back purely from the exported
    * chain. The oracle is q23's relational CASE recomputation — a
    * position computed off-by-one, a blob serialized wrong, or a
    * manifest field 143-145 mis-addressed shifts cnt/key_sum/
    * price_cents exactly as a mis-applied equality delete would.
    */
  def q36bDvWrite(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTableMorV3(spark, dir)
    exportOnce(t, formatVersion = 3)
    graft.storage.IcebergExport.readTable(spark, t.tablePath)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum((col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
  }

  /** Key-banded merge-on-read fixture: three commits cover disjoint
    * o_orderkey thirds (each file gets a TIGHT [min,max] on the key),
    * then a %7 upsert wave spans all bands — the layout where a range
    * read can prune whole bands while still resolving the wave's
    * superseding versions.
    */
  def demoTableMorBanded(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_mor_banded"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path, pk = Seq("o_orderkey"), mergeOnRead = true)
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(15,2)"))
      val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      t.commitUpsert(orders.filter(col("o_orderkey") <= mx / 3))    // seq 1
      t.commitUpsert(orders.filter(col("o_orderkey") > mx / 3 &&    // seq 2
        col("o_orderkey") <= 2 * mx / 3))
      t.commitUpsert(orders.filter(col("o_orderkey") > 2 * mx / 3)) // seq 3
      t.commitUpsert(orders                                         // seq 4
        .filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(15,2)"))
        .withColumn("o_orderstatus", lit("R")))
    }
    t
  }

  /** Q38 — range read through the exported pruning metadata on a
    * merge-on-read v3 table: [[graft.storage.IcebergExport
    * .readTableWhereLong]] scans only the key bands whose manifest
    * [min,max] intersect, while the deletion vectors still erase every
    * superseded version inside the kept bands (deletes are file-local
    * under the anti-join formulation — the pruned read must equal
    * filter(full read), which the oracle recomputes relationally).
    */
  def q38PrunedMorRange(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTableMorBanded(spark, dir)
    exportOnce(t, formatVersion = 3)
    graft.storage.IcebergExport
      .readTableWhereLong(spark, t.tablePath, "o_orderkey", 1000L, 5000L)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum((col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
  }

  def q36DvRead(spark: SparkSession, dir: String): DataFrame = {
    val path = demoTableDv(spark, dir)
    graft.storage.IcebergExport.readTable(spark, path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum((col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
  }

  /** Untimed SETUP for the lakehouse queries, with per-fixture costs:
    * build + export each immutable fixture so the TIMED bench passes
    * measure reads, and the setup cost stays visible as its own
    * reported component (VERDICT r10 item 4 — the split, not a hidden
    * subsidy). Each component's outcome is REPORTED, not swallowed —
    * otherwise a broken fixture shows a normal-looking setup time while
    * the timed pass silently re-pays the export, reintroducing the
    * distortion this split exists to fix.
    */
  def stageLakehouseExports(spark: SparkSession, dir: String)
      : Seq[(String, (scala.util.Try[Any], graft.Measure.Sample))] = {
    def stage(name: String)(f: => Any) = name -> graft.Measure(spark)(f)
    Seq(
      stage("q19_export_setup") { exportOnce(demoTable(spark, dir)) },
      stage("q22_export_setup") {
        exportOnce(demoTablePartitioned(spark, dir)) },
      stage("q23_export_setup") { exportOnce(demoTableMor(spark, dir)) },
      stage("q24_export_setup") {
        exportOnce(demoTableMorPart(spark, dir)) },
      stage("q34_export_setup") {
        q34IcebergBucketed(spark, dir).count() },
      stage("q35b_export_setup") {
        q35bEvolvedExport(spark, dir).count() },
      stage("q36_export_setup") { demoTableDv(spark, dir) },
      stage("q36b_export_setup") {
        exportOnce(demoTableMorV3(spark, dir), formatVersion = 3) },
      stage("q38_export_setup") {
        exportOnce(demoTableMorBanded(spark, dir), formatVersion = 3) },
      stage("q39_export_setup") {
        exportOnce(demoTableByDate(spark, dir)) },
      stage("q37b_export_setup") {
        q37bDropEvolvedExport(spark, dir).count() },
      // the tiered fixtures no export carries (the q19, q22 and q39
      // exports above build demoTable, demoTablePartitioned and
      // demoTableByDate)
      stage("q14_fixture_setup") { demoMergedCustomer(spark, dir) },
      stage("q15_fixture_setup") { demoRolledBack(spark, dir) },
      stage("q17_fixture_setup") { demoTableBloom(spark, dir) })
  }

  /** Date-clustered variant of the demo table: orders land in three
    * commits by `o_orderdate` range — the natural layout of any
    * time-ingested fact table (each day's load covers a narrow date
    * band). Gives every cold file a TIGHT [min,max] on the date
    * column, which is what manifest-level skipping feeds on.
    */
  def demoTableByDate(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_bydate"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path)
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
      val d = col("o_orderdate")
      // the fixture's order dates span 1995-01-01..2001-08-01
      Seq(
        d < lit("1997-01-01").cast("date"),
        d >= lit("1997-01-01").cast("date") && d < lit("1999-01-01").cast("date"),
        d >= lit("1999-01-01").cast("date")
      ).foreach(band => t.commitAppend(orders.filter(band).coalesce(1)))
    }
    t
  }

  /** Q13 — manifest-level FILE SKIPPING: a one-year date-range query
    * through [[TieredTable.readCold]] on the date-clustered table.
    * The footer-stats sidecar proves two of the three cold files cannot
    * hold a matching row, so the scan opens only the middle band
    * (skipping counts asserted in FileSkippingSpec); the oracle
    * recomputes the aggregate from the raw fixture — skipping must be
    * invisible in the answer.
    */
  def q13FileSkipping(spark: SparkSession, dir: String): DataFrame =
    demoTableByDate(spark, dir)
      .readCold().filter(col("o_orderdate").between(
        lit("1997-06-01").cast("date"), lit("1998-06-01").cast("date")))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))

  /** Q39 — the q13 date-range probe through the EXPORTED Iceberg
    * chain: [[graft.storage.IcebergExport.readTableWhereDate]] prunes
    * by the manifests' 4-byte epoch-day bounds (the external-reader
    * analog of q13's sidecar skipping — same fixture, same range, a
    * different metadata source doing the pruning). The oracle
    * recomputes relationally; a bound decoded at the wrong width, an
    * off-by-one epoch day, or an over-eager prune shifts every
    * aggregate.
    */
  def q39IcebergDatePrune(spark: SparkSession, dir: String): DataFrame = {
    val t = demoTableByDate(spark, dir)
    exportOnce(t)
    graft.storage.IcebergExport
      .readTableWhereDate(spark, t.tablePath, "o_orderdate",
        java.time.LocalDate.parse("1997-06-01"),
        java.time.LocalDate.parse("1998-06-01"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum((col("o_totalprice").cast("decimal(15,2)") * 100)
          .cast("long")).cast("long").as("price_cents"))
  }

  /** Build-once fixture for Q14: the customer dimension seeded as a
    * tiered table, then one `MERGE INTO` commit driven by per-customer
    * order activity —
    *
    *  - WHEN MATCHED AND n_orders ≥ 15 → DELETE (churn the heaviest
    *    accounts),
    *  - WHEN MATCHED → c_acctbal += n_orders, c_mktsegment = 'MERGED',
    *  - WHEN NOT MATCHED (keys shifted far past the custkey domain) → INSERT synthetic rows.
    *
    * Idempotent: the merge commit is snapshot 2 — a rebuilt session
    * sees LATEST ≥ 2 and leaves the table alone (re-applying a MERGE
    * is not idempotent, unlike the append fixtures).
    */
  def demoMergedCustomer(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/customer_merged"
    val t = TieredTable(spark, path, pk = Seq("c_custkey"))
    if (t.latestSnapshotId < 2) {
      t.commitAppend(Tables.load(spark, dir, "customer").coalesce(1))
      val base = Tables.load(spark, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      val upd = base.filter(pmod(col("o_custkey"), lit(3)) === 0)
        .select(col("o_custkey").as("c_custkey"), col("n_orders"))
      val ins = base.filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select((col("o_custkey") + 10000000L).as("c_custkey"), col("n_orders"))
      val src = upd.unionByName(ins).select(
        col("c_custkey"), col("n_orders"),
        concat(lit("cust-"), col("c_custkey")).as("c_name"),
        pmod(col("c_custkey"), lit(25)).cast("int").as("c_nationkey"),
        lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment"))
      t.merge(src, Seq("c_custkey"),
        whenMatchedUpdate = Map(
          "c_acctbal" -> (col("t.c_acctbal") + col("s.n_orders")),
          "c_mktsegment" -> lit("MERGED")),
        whenMatchedDelete = Some(col("s.n_orders") >= 15L))
    }
    t
  }

  /** Q14 — the merged customer state read back: every MERGE clause
    * (update, delete, insert, untouched passthrough) is visible in the
    * output and recomputed relationally by the oracle.
    */
  def q14Merge(spark: SparkSession, dir: String): DataFrame =
    demoMergedCustomer(spark, dir).readCold()
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))

  /** Fixture for q14b — the DIM-SYNC merge, driven through SQL: the
    * source carries only the still-live keys (`c_custkey % 2 == 0`);
    * one MERGE marks matched rows LIVE, deletes stale rows the policy
    * hits (`% 5 == 0`), and marks the rest STALE — `WHEN NOT MATCHED
    * BY SOURCE` doing the work a second anti-join statement would.
    */
  def demoDimSynced(spark: SparkSession, dir: String): TieredTable = {
    ensureCatalog(spark)
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/customer_synced"
    val t = TieredTable(spark, path)
    graft.plans.TieredCatalog.register("bench", "customer_synced", path)
    if (t.latestSnapshotId < 2) {
      if (t.latestSnapshotId < 1)
        t.commitAppend(Tables.load(spark, dir, "customer"))
      Tables.load(spark, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(2)) === 0)
        .select("c_custkey").createOrReplaceTempView("q14b_src")
      spark.sql(
        """MERGE INTO graft.bench.customer_synced AS t
          |USING (SELECT c_custkey FROM q14b_src) AS s
          |ON t.c_custkey = s.c_custkey
          |WHEN MATCHED THEN UPDATE SET c_mktsegment = 'LIVE'
          |WHEN NOT MATCHED BY SOURCE AND t.c_custkey % 5 = 0 THEN DELETE
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_mktsegment = 'STALE'
          |""".stripMargin)
    }
    t
  }

  /** Q14b — the synced state: per-segment counts and exact key sums;
    * the oracle recomputes the live/stale/deleted split from the raw
    * customer fixture, so a leg that fired on the wrong rows (or a
    * delete that over- or under-pruned) hash-mismatches.
    */
  def q14bDimSync(spark: SparkSession, dir: String): DataFrame =
    demoDimSynced(spark, dir).readCold()
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("c_custkey")).as("key_sum"))

  /** Q15 — ROLLBACK: the date-banded table is built (three commits)
    * and then rolled back to snapshot 2, so the current state is the
    * first two date bands again — Iceberg's `rollback_to_snapshot`,
    * as a forward-moving commit that pins the old file list (history
    * intact, snapshot 3 still time-travelable). The oracle recomputes
    * the two-band aggregate from the raw fixture.
    */
  def demoRolledBack(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_rollback"
    val t = TieredTable(spark, path)
    if (t.latestSnapshotId < 4) {
      val orders = Tables.load(spark, dir, "orders")
      val d = col("o_orderdate")
      Seq(
        d < lit("1997-01-01").cast("date"),
        d >= lit("1997-01-01").cast("date") && d < lit("1999-01-01").cast("date"),
        d >= lit("1999-01-01").cast("date")
      ).foreach(band => t.commitAppend(orders.filter(band).coalesce(1)))
      t.rollbackTo(2L)
    }
    t
  }

  def q15Rollback(spark: SparkSession, dir: String): DataFrame =
    demoRolledBack(spark, dir).readCold()
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))

  /** Q16 — METADATA-ONLY aggregates through the SQL catalog: an
    * unfiltered COUNT(*) + MIN/MAX over the date-banded table is
    * served by `GraftMetadataAggScan` straight from the stats sidecars
    * (zero parquet files opened — plan-asserted in FileSkippingSpec);
    * the oracle recomputes the same numbers by actually scanning.
    */
  /** The graft catalog is session-lazy: any session that runs the SQL
    * catalog queries (Verify/Bench run without the test harness's
    * pre-configured session) gets it bound here on first use.
    */
  private def ensureCatalog(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.plans.GraftTableCatalog].getName)

  def q16MetaAgg(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val t = demoTableByDate(spark, dir)
    graft.plans.TieredCatalog.register("bench", "orders_bydate", t.tablePath)
    spark.sql(
      """SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS min_key,
        |       MAX(o_orderkey) AS max_key
        |FROM graft.bench.orders_bydate""".stripMargin)
  }

  /** Build-once fixture for Q17: orders in three commits split by
    * `o_orderkey % 3` — every file spans the whole key range, so
    * min/max boxes cannot separate them — written with a bloom on the
    * key column.
    */
  def demoTableBloom(spark: SparkSession, dir: String): TieredTable = {
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_bloom"
    val donePath = Paths.get(path, "meta", "LATEST")
    val t = TieredTable(spark, path, bloomCols = Seq("o_orderkey"))
    if (!Files.exists(donePath)) {
      val orders = Tables.load(spark, dir, "orders")
      (0 to 2).foreach(i => t.commitAppend(
        orders.filter(pmod(col("o_orderkey"), lit(3)) === i).coalesce(1)))
    }
    t
  }

  /** Q17 — BLOOM-pruned SQL point lookup: equality probes on the
    * modulo-scattered key open one of three files by bloom sidecar
    * (ranges keep all three — spec-asserted); the oracle recomputes
    * the probed rows from the raw fixture.
    */
  def q17BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val t = demoTableBloom(spark, dir)
    graft.plans.TieredCatalog.register("bench", "orders_bloom", t.tablePath)
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_orderpriority
        |FROM graft.bench.orders_bloom
        |WHERE o_orderkey IN (7, 1100, 40)""".stripMargin)
  }

  /** Q12 — partition-pruned read: one priority's rows through the
    * partitioned table's hot∪cold union. The scan touches ONLY the
    * `o_orderpriority=<p>/` directories (plan-asserted in
    * TieredTableSpec) — the coarse file-skipping level that makes a
    * partition-keyed query read 1/|partitions| of a 100 TB table; the
    * oracle recomputes the same aggregate from the raw fixture.
    */
  def q12PartitionPruned(spark: SparkSession, dir: String): DataFrame =
    demoTablePartitioned(spark, dir).readUnion()
      .filter(col("o_orderpriority") === "1-URGENT")
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))

  /** Q26 — dynamic partition pruning under the oracle (r9): the
    * partitioned hot∪cold table joined through the SQL catalog against
    * a dimension whose surviving keys are only known after its own
    * filter runs — Spark plans a `dynamicpruning` subquery and the
    * graft scan (SupportsRuntimeV2Filtering) re-prunes its file list
    * from the broadcast keys at EXECUTION time, partition columns by
    * Hive path segment, everything else by stats/bloom sidecar. The
    * oracle recomputes the join relationally from the raw fixture, so
    * an over-eager runtime skip (a dropped file that held matching
    * rows) hash-mismatches; the DPP plan shape itself is pinned in
    * RuntimeScanSpec. Scale: this is the difference between scanning
    * every partition of a 100 TB fact and scanning the two the dim
    * actually kept.
    */
  def q26RuntimePrune(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val t = demoTablePartitioned(spark, dir)
    graft.plans.TieredCatalog.register("bench", "orders_part", t.tablePath,
      partitionBy = Seq("o_orderpriority"))
    val dimPath = s"${t.tablePath}_dim"
    // 4-row dim parquet (the filtering side must be a real scan with
    // its own selective predicate — the shape dynamic partition
    // pruning plans against); built once, _SUCCESS-gated so a crashed
    // half-write rebuilds instead of poisoning the read, and resolved
    // once per state of its dir like the fixtures (Tables.load)
    if (!Files.exists(Paths.get(s"$dimPath/_SUCCESS")))
      spark.createDataFrame(Seq(("1-URGENT", "keep"), ("2-HIGH", "keep"),
        ("5-LOW", "drop"), ("9-NONE", "drop"))).toDF("prio", "tag")
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
    val dim = SessionMemo(spark, "tables", Seq(dimPath), Seq(dimPath)) {
      spark.read.parquet(dimPath)
    }.filter(col("tag") === "keep")
    spark.table("graft.bench.orders_part")
      .join(dim, col("o_orderpriority") === col("prio"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
  }

  /** K4 — storage-partitioned join under the oracle (r9): two tiered
    * tables Hive-partitioned on the same key (orders and a derived
    * financials subset, both by `o_orderpriority`), joined on
    * (partition key, order key) through the SQL catalog. With
    * `spark.sql.sources.v2.bucketing.enabled` the scans report
    * `KeyGroupedPartitioning` and the join plans with NO exchange on
    * either side (StoragePartitionedJoinSpec pins the plan; Verify and
    * Bench run with the conf on) — Iceberg's SPJ, the k1/k2/k3 family
    * member where the co-location comes from the table LAYOUT rather
    * than salting or bucketing. The oracle recomputes the join
    * relationally from the raw fixture, so a key mistyped or a file
    * mis-grouped by the keyed planning hash-mismatches.
    */
  def k4SpjJoin(spark: SparkSession, dir: String): DataFrame = {
    ensureCatalog(spark)
    val a = demoTablePartitioned(spark, dir)
    graft.plans.TieredCatalog.register("bench", "orders_part", a.tablePath,
      partitionBy = Seq("o_orderpriority"))
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_fin_part"
    val t = TieredTable(spark, path, partitionBy = Seq("o_orderpriority"))
    if (!Files.exists(Paths.get(path, "meta", "LATEST"))) {
      val orders = Tables.load(spark, dir, "orders")
      t.appendLog(orders
        .filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(15,2)") * 100)
            .cast("long").as("price_cents")))
      t.tier()
    }
    graft.plans.TieredCatalog.register("bench", "orders_fin_part", path,
      partitionBy = Seq("o_orderpriority"))
    val aDf = spark.table("graft.bench.orders_part")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_custkey"))
    val bDf = spark.table("graft.bench.orders_fin_part")
      .select(col("o_orderpriority"), col("o_orderkey"), col("price_cents"))
    aDf.join(bDf, Seq("o_orderpriority", "o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_custkey")).cast("long").as("cust_sum"),
        sum(col("price_cents")).cast("long").as("price_cents_sum"))
  }

  /** Build-once fixture for Q25: the BUILDING customer segment is
    * committed, then SQL `INSERT OVERWRITE` (Flink's batch replace
    * verb, through the DSv2 truncate write) replaces the content with
    * the MACHINERY segment. Current state is machinery-only; the
    * pre-overwrite snapshot stays time-travelable.
    */
  def demoOverwritten(spark: SparkSession, dir: String): TieredTable = {
    ensureCatalog(spark)
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/customer_overwrite"
    val t = TieredTable(spark, path)
    if (t.latestSnapshotId < 2) {
      val customer = Tables.load(spark, dir, "customer")
      t.commitAppend(customer.filter(col("c_mktsegment") === "BUILDING"))
      graft.plans.TieredCatalog.register("bench", "customer_overwrite", path)
      customer.createOrReplaceTempView("q25_customer_src")
      spark.sql(
        """INSERT OVERWRITE graft.bench.customer_overwrite
          |SELECT * FROM q25_customer_src
          |WHERE c_mktsegment = 'MACHINERY'""".stripMargin)
    }
    t
  }

  /** Q25 — INSERT OVERWRITE: the replaced content is exactly the
    * machinery segment (the oracle recomputes it from the raw
    * fixture); the building rows are gone from the current snapshot.
    */
  def q25InsertOverwrite(spark: SparkSession, dir: String): DataFrame =
    demoOverwritten(spark, dir).readCold()
      .agg(count(lit(1)).as("cnt"), sum(col("c_custkey")).as("key_sum"))

  /** Fixture for q25b: the PARTITIONED orders table (hive layout by
    * `o_orderpriority`, the q12/q22 shape) with ONE partition
    * backfilled through the SQL `INSERT OVERWRITE … PARTITION` verb:
    * snapshot 1 holds the even-key orders, then the `1-URGENT`
    * partition alone is replaced by the odd-key urgent orders. The
    * kept partitions are subdir references into snapshot 1 (metadata
    * surgery, never a rewrite) — so a read that loses a kept
    * partition, resurrects the replaced one, or drops the partition
    * column from subdir entries all hash-mismatch. Built once per sf
    * dir; `latestSnapshotId < 2` doubles as the crash-safe marker.
    */
  def demoPartOverwritten(spark: SparkSession, dir: String): TieredTable = {
    ensureCatalog(spark)
    val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val path = s"${sys.props("java.io.tmpdir")}/graft-tiered/v$FormatVersion/$safe/orders_pow"
    val t = TieredTable(spark, path, partitionBy = Seq("o_orderpriority"))
    if (t.latestSnapshotId < 2) {
      val orders = Tables.load(spark, dir, "orders")
      t.commitAppend(orders.filter(pmod(col("o_orderkey"), lit(2)) === 0))
      graft.plans.TieredCatalog.register("bench", "orders_pow", path,
        partitionBy = Seq("o_orderpriority"))
      orders.createOrReplaceTempView("q25b_orders_src")
      spark.sql(
        """INSERT OVERWRITE graft.bench.orders_pow
          |PARTITION (o_orderpriority = '1-URGENT')
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |       o_orderdate
          |FROM q25b_orders_src
          |WHERE o_orderkey % 2 = 1 AND o_orderpriority = '1-URGENT'
          |""".stripMargin)
    }
    t
  }

  /** Q25b — partition-scoped INSERT OVERWRITE (the daily-backfill
    * verb): per-priority counts, key sums, and exact cents over the
    * post-backfill state. The oracle recomputes the keep/replace split
    * from the raw fixture, so both failure modes of the metadata
    * surgery — a lost untouched partition and a resurrected replaced
    * one — change the group totals and hash-mismatch.
    */
  def q25bPartitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    demoPartOverwritten(spark, dir).readCold()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).as("key_sum"),
        (sum(col("o_totalprice").cast(DecimalType(15, 2))) * 100)
          .cast("long").as("price_cents"))
  }
}
