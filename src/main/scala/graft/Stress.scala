package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, GraftScanMetrics}
import org.apache.spark.sql.functions._

/** Scale-up stress harness behind SCALING.md's measured numbers: the
  * sf0.1 corpus replicated `copies`× with a per-shard suffix token —
  * every original document gains (copies−1) cross-shard NEAR-duplicates
  * (the suffix shifts a few shingles, so pairs pass a 0.8-Jaccard
  * check), the adversarial regime for dedup. Runs the dedup family and
  * prints one JSON line of wall times; compare against the 1× bench to
  * see whether runtime tracks corpus size or output size.
  *
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), `SPARK_GRAFT_COPIES`
  * (default 10).
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    val spark = GraftSession.local("graft-stress")

    val base = graft.tables.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val n = base.count()
    val widened = (0 until copies).map { k =>
      base.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" shard$k")).as("text"))
    }.reduce(_.union(_)).localCheckpoint(true) // isolate input build from timings

    val vec = graft.operators.Dedup.shingleVectors(widened, "doc_id", "text", n = 3)
      .localCheckpoint(true) // shared substrate, like Pipeline's memo
    /** Wall time and rows of `df`, computed whole. */
    def record(df: => DataFrame) = {
      val (rows, m) = Measure(spark)(Measure.rows(df))
      ListMap("sec" -> m.wallS, "rows" -> rows.get)
    }
    val results = ListMap(
      "d3_pairs" -> record {
        graft.operators.Dedup.ngramJaccardPairsFrom(vec, num = 4, den = 5) },
      "d4_lsh" -> record {
        graft.operators.Dedup.minhashLshPairsFrom(vec, k = 16, bands = 4,
          num = 4, den = 5) },
      "d6_simhash_pairs" -> record {
        graft.operators.Dedup.simhashPairs(widened, "doc_id", "text",
          width = 48, maxDist = 3) },
      "d8_chunk_dedup" -> record {
        graft.operators.Dedup.chunkDedup(widened, "doc_id", "text",
          chunkTokens = 16) },
      // d10's O(Δ) claim, measured against d4_lsh's full recompute on
      // the SAME corpus and substrate: a 10%-of-corpus batch probed
      // against the standing index should cost a fraction of the full
      // pair job — the number SCALING.md quotes for why per-commit
      // dedup stays flat as the corpus grows. Two variants: bands
      // recomputed from the vector index (no persisted band table), and
      // the production shape probing a PERSISTED band index (built
      // untimed below — on disk it is maintenance state, not query work)
      "d10_incremental" -> record {
        graft.operators.Dedup.incrementalLshPairs(
          corpusVectors = vec.filter(col("id") % 10 =!= 0),
          deltaVectors = vec.filter(col("id") % 10 === 0),
          k = 16, bands = 4, num = 4, den = 5) },
      {
        val cBands = graft.operators.Dedup
          .lshBands(vec.filter(col("id") % 10 =!= 0), k = 16, bands = 4)
          .localCheckpoint(true) // the standing index, staged untimed
        "d10_incr_indexed" -> record {
          graft.operators.Dedup.incrementalLshPairs(
            corpusVectors = vec.filter(col("id") % 10 =!= 0),
            deltaVectors = vec.filter(col("id") % 10 === 0),
            k = 16, bands = 4, num = 4, den = 5,
            corpusBands = Some(cBands)) }
      },
      // sequence packing at 10×: the two-pass prefix sum + chunk
      // explode (c13's shape) and shard-local FFD (c14's) — both
      // should scale linearly in the corpus; the prefix sum's only
      // coordination is B driver rows, FFD's is none
      "c13_pack_chunks" -> record {
        graft.operators.Packing.packChunks(widened,
          size(split(col("text"), " ")), chunkLen = 256L, buckets = 32) },
      "c14_pack_bins" -> record {
        graft.operators.Packing.packBinsFFD(widened,
          size(split(col("text"), " ")), binLen = 512L, shards = 32) },
    ) ++ {
      // bucketed vs default merge-on-read: the SAME three-delta upsert
      // history committed into both layouts, the SAME resolved
      // aggregate through the SQL face — the structural claim is the
      // exchange count (0 vs 1); wall-clock rides along
      import graft.plans.TieredCatalog
      def build(nm: String, buckets: Int): String = {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-stress-$nm").toString
        val t = graft.storage.TieredTable(spark, s"$dir/t",
          pk = Seq("doc_id"), mergeOnRead = true, bucketBy = buckets)
        val base = widened.withColumn("n", length(col("text")).cast("long"))
        t.commitUpsert(base)
        t.commitUpsert(base.filter(col("doc_id") % 7 === 0)
          .withColumn("n", col("n") * 100))
        t.commitUpsert(base.filter(col("doc_id") % 13 === 0)
          .withColumn("n", col("n") + 5))
        TieredCatalog.register("stress", nm, s"$dir/t",
          pk = Seq("doc_id"), mergeOnRead = true, bucketBy = buckets)
        s"graft.stress.$nm"
      }
      val defName = build("mor_def", 0)
      val bukName = build("mor_buk", 32)
      def exchanges(sql: String): Int =
        spark.sql(sql).queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("Exchange hashpartitioning"))
      val q = (n: String) => s"SELECT SUM(n) AS s FROM $n"
      val warm = spark.sql(q(defName)).head().getLong(0) // warm both
      require(warm == spark.sql(q(bukName)).head().getLong(0),
        "bucketed and default layouts must resolve identically")
      // in these two rows the "rows" field is the EXCHANGE COUNT of
      // the resolved read's plan — the structural claim under test
      def resolve(table: String) = {
        val (sum, m) = Measure(spark)(spark.sql(q(table)).head())
        sum.get
        ListMap("sec" -> m.wallS, "rows" -> exchanges(q(table)))
      }
      ListMap("mor_resolve_default_exch" -> resolve(defName),
        "mor_resolve_bucketed_exch" -> resolve(bukName))
    }

    // File-skipping stress: orders committed in half-year bands (the
    // time-ingested layout), then a one-band range query through
    // readColdWhere vs the full scan — files opened is the scale
    // metric (wall-clock at this size is dominated by fixed overhead;
    // at 100 TB files-not-opened IS the win). Measured at 1× (14 files)
    // AND `copies`× (14 × copies files — each copy commits its own
    // bands with shifted keys) to show the skip RATIO holds as the
    // file count grows: planning touches O(matching files) regardless.
    val skipDir = java.nio.file.Files
      .createTempDirectory("graft-stress-skip").toString
    val orders = graft.tables.Tables.load(spark, sfDir, "orders")
    val d = col("o_orderdate")
    val bands = (0 until 14).map { i =>
      val lo = add_months(lit("1995-01-01").cast("date"), i * 6)
      val hi = add_months(lit("1995-01-01").cast("date"), (i + 1) * 6)
      d >= lo && (if (i == 13) lit(true) else d < hi)
    }
    val cond = d >= lit("1997-01-01").cast("date") &&
      d < lit("1997-07-01").cast("date")
    // the files a scan kept and listed, as the scan reported them
    def files(df: DataFrame, kept: String = "files_kept") = {
      val m = GraftScanMetrics.of(df)
      ListMap(kept -> m(GraftScanMetrics.Kept), "files_total" -> m(GraftScanMetrics.Total))
    }
    def q13At(name: String, nCopies: Int) = {
      val t = new graft.storage.TieredTable(spark, s"$skipDir/$name")
      for (k <- 0 until nCopies; b <- bands)
        t.commitAppend(orders.filter(b)
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
          .coalesce(1))
      // planning builds the scan: one listing, the sidecar reads, the pruning
      val skipDf = t.readColdWhere(cond)
      val (_, plan) = Measure(spark)(skipDf.queryExecution.executedPlan)
      val (fullRows, full) = Measure(spark)(Measure.rows(t.readCold().filter(cond)))
      val (skipRows, skip) = Measure(spark)(Measure.rows(skipDf))
      require(fullRows.get == skipRows.get, "skipping changed an answer")
      s"q13_skip_${nCopies}x" -> (files(skipDf) ++ ListMap("plan_sec" -> plan.wallS,
        "full_sec" -> full.wallS, "skip_sec" -> skip.wallS,
        "rows" -> skipRows.get))
    }
    val q13 = Seq(q13At("orders_1x", 1), q13At("orders_Nx", copies))

    // q16 metadata-only aggregate at copies×: COUNT/MIN/MAX answered
    // from the sidecars — files OPENED must stay 0 as file count grows.
    graft.plans.TieredCatalog.register("stress", "orders_nx",
      s"$skipDir/orders_Nx")
    val aggDf = spark.sql(
      """SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
        |FROM graft.stress.orders_nx""".stripMargin)
    val (agg, aggM) = Measure(spark)(aggDf.collect()(0))
    val q16 = s"q16_meta_agg_${copies}x" -> (files(aggDf, "files_opened") ++
      ListMap("sec" -> aggM.wallS, "cnt" -> agg.get.getLong(0)))

    // q17 bloom point lookup at (3·copies) key-scattered files: every
    // file spans the whole key range (min/max useless); the bloom must
    // keep ~1 file no matter how many commits the table accumulates.
    val nBloomFiles = 3 * copies
    val tb = new graft.storage.TieredTable(spark, s"$skipDir/orders_bloom",
      bloomCols = Seq("o_orderkey"))
    for (i <- 0 until nBloomFiles)
      tb.commitAppend(orders
        .filter(pmod(col("o_orderkey"), lit(nBloomFiles)) === i).coalesce(1))
    val probe = col("o_orderkey") === 7L
    val bloomDf = tb.readColdWhere(probe)
    val (_, bloomPlan) = Measure(spark)(bloomDf.queryExecution.executedPlan)
    val bloomRows = Measure.rows(bloomDf)
    require(bloomRows == orders.filter(probe).count(),
      "bloom skipping changed an answer")
    val q17 = s"q17_bloom_${copies}x" -> (files(bloomDf) ++
      ListMap("plan_sec" -> bloomPlan.wallS, "rows" -> bloomRows))

    // Storage-partitioned join at copies×: two tiered tables
    // Hive-partitioned on the same key, joined on (partition key, row
    // key) — once with v2 bucketing ON (keyed scans, zero exchanges)
    // and once OFF (both sides fully shuffled). Wall-clock plus the
    // counted exchanges; at 100 TB the exchange count IS the win (the
    // shuffled bytes scale with the fact tables, the SPJ plan moves
    // none).
    val spjOrders = (0 until copies).map { k =>
      orders.select(
        (col("o_orderkey") + lit(k * 100000000L)).as("k"),
        col("o_custkey"))
    }.reduce(_.union(_))
      // 32 partition values = the executor width: the comparison
      // measures the EXCHANGES, not a parallelism handicap (SPJ runs
      // one task per partition-value group at this scale)
      .withColumn("pp", pmod(col("k"), lit(32)).cast("string"))
      .localCheckpoint(true)
    val spj = {
      Seq("a", "b").foreach { s =>
        val t = new graft.storage.TieredTable(spark, s"$skipDir/spj_$s",
          partitionBy = Seq("pp"))
        t.appendLog(spjOrders)
        graft.plans.TieredCatalog.register("stress", s"spj_$s",
          s"$skipDir/spj_$s", partitionBy = Seq("pp"))
      }
      def run(on: Boolean): (Double, Int, Long) = {
        val confs = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> on.toString,
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> on.toString,
          "spark.sql.requireAllClusterKeysForCoPartition" -> (!on).toString,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          // exchange counting reads the plan pre-execution; AQE's
          // adaptive root would hide it
          "spark.sql.adaptive.enabled" -> "false")
        val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          val j = spark.table("graft.stress.spj_a")
            .select(col("pp"), col("k"), col("o_custkey").as("ca"))
            .join(spark.table("graft.stress.spj_b")
              .select(col("pp"), col("k"), col("o_custkey").as("cb")),
              Seq("pp", "k"))
          val (rows, m) = Measure(spark)(Measure.rows(j))
          val ex = j.queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }.size
          (m.wallS, ex, rows.get)
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      // warm BOTH paths once (codegen + OS page cache for the freshly
      // written tables) before timing — whichever leg runs first would
      // otherwise eat the cold-read penalty and bias the comparison
      run(on = true); run(on = false)
      val (onSec, onEx, onRows) = run(on = true)
      val (offSec, offEx, offRows) = run(on = false)
      require(onRows == offRows, "SPJ changed an answer")
      s"spj_join_${copies}x" -> ListMap("rows" -> onRows, "spj_sec" -> onSec,
        "spj_exchanges" -> onEx, "shuffle_sec" -> offSec,
        "shuffle_exchanges" -> offEx)
    }

    // Iceberg-export latency curve: a table accumulating snapshots,
    // export re-run after EVERY commit (the tiering service's cadence,
    // `icebergExport = true`). The r8 incremental-export work claims
    // O(Δ) per call — existing snapshots' manifests are reused
    // byte-for-byte, only the new snapshot's manifest is built — so
    // per-export wall time must stay FLAT as history deepens. The
    // spec pins footer-open counts; this prints the measured curve
    // (SCALING.md's number): export seconds at a 1/10/30/60-snapshot
    // history over a fixed-size delta.
    val te = new graft.storage.TieredTable(spark, s"$skipDir/orders_export")
    val expDelta = orders.limit(2000).coalesce(1).localCheckpoint(true)
    val expCheck = Set(1, 10, 30, 60)
    val expTimes = (1 to 60).flatMap { i =>
      te.commitAppend(expDelta.withColumn("o_orderkey",
        col("o_orderkey") + lit(i * 1000000000L)))
      val (exported, m) = Measure(spark)(graft.storage.IcebergExport.export(te))
      exported.get
      if (expCheck(i)) Some(s"snapshots_$i" -> m.wallS) else None
    }

    // q18b's dirty-group MIN/MAX repair vs full rebuild, on a
    // DELETE-HEAVY changelog built adversarially: every deleted row is
    // its group's current MINIMUM, so every touched group goes dirty —
    // the repair path's worst case (O(|delta| + |state| +
    // |base ∩ dirty|), the semi-join-pruned recompute) against the
    // O(|base|) rebuild it replaces. The claim is the repair stays a
    // fraction of the rebuild even when EVERY delete dirties a group.
    val ivm = {
      import graft.operators.IncrementalAgg
      val orders10 = (0 until copies).map { k =>
        orders.select(
          (col("o_orderkey") + lit(k * 1000000000L)).as("o_orderkey"),
          pmod(col("o_custkey") + lit(k), lit(50000)).as("g"),
          (col("o_totalprice").cast("decimal(15,2)") * 100)
            .cast("long").as("v"))
      }.reduce(_.union(_)).localCheckpoint(true)
      val spec = IncrementalAgg.AggSpec(
        sums = Seq("v" -> "sum_v"), cntCol = "n",
        mins = Seq("v" -> "min_v"), maxs = Seq("v" -> "max_v"))
      val state = IncrementalAgg.rebuildFull(orders10, Seq("g"), spec)
        .localCheckpoint(true)
      // the group-minimum row of ~20% of groups, retracted (-D)
      val victims = orders10
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("g")).orderBy(col("v"), col("o_orderkey"))))
        .filter(col("__rk") === 1 && pmod(col("g"), lit(5)) === 0)
        .drop("__rk")
      val delta = victims.withColumn("op", lit("-D"))
        .localCheckpoint(true)
      val deletes = delta.count()
      val remaining = orders10.join(
        victims.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      // warm both paths (codegen + page cache), then time
      record(IncrementalAgg.applyDeltaFull(state, delta, Seq("g"), spec,
        orders10))
      record(IncrementalAgg.rebuildFull(remaining, Seq("g"), spec))
      val repair = record(
        IncrementalAgg.applyDeltaFull(state, delta, Seq("g"), spec, orders10))
      val rebuild = record(IncrementalAgg.rebuildFull(remaining, Seq("g"), spec))
      require(repair("rows") == rebuild("rows"),
        "IVM repair changed the group set")
      s"ivm_repair_${copies}x" -> ListMap("base_rows" -> orders10.count(),
        "groups" -> repair("rows"), "deletes" -> deletes,
        "repair_sec" -> repair("sec"), "rebuild_sec" -> rebuild("sec"))
    }

    println(Measure.line(Seq("metric" -> "stress", "docs" -> n * copies,
      "copies" -> copies, "results" -> results) ++ q13 ++ Seq(q16, q17, spj,
      "iceberg_export_curve" -> ListMap.from(expTimes), ivm): _*))
    spark.stop()
  }
}
