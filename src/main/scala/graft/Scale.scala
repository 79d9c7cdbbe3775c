package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, GraftScanMetrics, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IncrementalAgg, Packing, Similarity}
import graft.plans.TieredCatalog
import graft.storage.{IcebergExport, TieredTable}

/** The scale harness behind SCALING.md's 10× and 100× rows: the
  * fixtures replicated `copies`× and measured section by section, one
  * JSON line per measurement, its metric named with `_<copies>x`.
  *
  *   runMain graft.Scale <copies> [section,…|all]
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1, Bench's contract).
  *
  * Two corpus shapes, each honest about what it measures:
  *  - documents replicate with a per-shard suffix token: every document
  *    gains (copies−1) cross-shard NEAR-duplicates (the suffix shifts a
  *    few shingles, so pairs pass a 0.8-Jaccard check), the adversarial
  *    regime where dedup is output-bound;
  *  - embeddings replicate with per-(vector, shard, dim) hash noise:
  *    distinct vectors, the deepening-corpus regime where the claim
  *    under test is that [[graft.operators.Similarity.planesFor]] keeps
  *    bucket occupancy bounded as n grows (s2).
  *
  * The `dedup` section's d6 emits a pair set quadratic in the
  * duplicate-group size, i.e. in `copies`: it is meant for 10×, not
  * 100×.
  */
object Scale {
  /** Every section, in the order a run measures them. */
  val Sections: Seq[String] = Seq("dedup", "lsh", "packing", "mor", "skipping",
    "spj", "export", "ivm", "text", "vectors", "lake")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Scale <copies> [section,…|all]")
    val sections = args.lift(1).filter(_ != "all")
      .fold(Sections)(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale")
    run(spark, sfDir, args(0).toInt, sections)
    spark.stop()
  }

  /** Measures `sections` over the fixtures at `sfDir` replicated
    * `copies`×, printing each line as it lands; returns the lines.
    */
  def run(spark: SparkSession, sfDir: String, copies: Int,
          sections: Seq[String]): Seq[String] = {
    val unknown = sections.filterNot(Sections.contains)
    require(unknown.isEmpty, s"unknown sections: ${unknown.mkString(",")}")
    require(copies >= 1, s"copies must be positive, got $copies")
    val r = new Run(spark, sfDir, copies)
    Sections.filter(sections.contains).foreach(r.section)
    r.lines.toSeq
  }

  /** One run's inputs, each built on first use, and its sections. */
  private final class Run(spark: SparkSession, sfDir: String, copies: Int) {
    val lines = ArrayBuffer.empty[String]
    private val x = s"_${copies}x"
    private lazy val root = Files.createTempDirectory("graft-scale").toString

    def section(name: String): Unit = name match {
      case "dedup" => dedup()
      case "lsh" => lsh()
      case "packing" => packing()
      case "mor" => mor()
      case "skipping" => skipping()
      case "spj" => spj()
      case "export" => exportCurve()
      case "ivm" => ivm()
      case "text" => text()
      case "vectors" => vectors()
      case "lake" => lake()
    }

    private def emit(fields: (String, Any)*): Unit = {
      val l = Measure.line(fields: _*)
      println(l)
      lines += l
    }

    /** `copies` shards of one input, shard k built by `shard(k)`. */
    private def replicate(shard: Int => DataFrame): DataFrame =
      (0 until copies).map(shard).reduce(_.union(_))

    private def load(table: String) = graft.tables.Tables.load(spark, sfDir, table)
    private lazy val orders = load("orders")
    private lazy val emb = load("embeddings").select(col("vec_id"), col("embedding"))
    private lazy val nVec = emb.count() * copies

    /** The documents at copies×, every shard's texts suffixed with its
      * own token. Checkpointed: the input build stays out of every timing.
      */
    private lazy val widened = {
      val docs = load("documents").select(col("doc_id"), col("text"))
      replicate(k => docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" shard$k")).as("text"))).localCheckpoint(true)
    }
    private lazy val nDocs = widened.count()

    /** Shingle vectors of [[widened]]: the dedup family's shared
      * substrate, like Pipeline's memo.
      */
    private lazy val vec = Dedup.shingleVectors(widened, "doc_id", "text", n = 3)
      .localCheckpoint(true)

    /** Row count and wall seconds of `df`, computed whole. */
    private def timed(df: => DataFrame): (Long, Double) = {
      val (n, m) = Measure(spark)(Measure.rows(df))
      (n.get, m.wallS)
    }

    private def rows(metric: String)(df: => DataFrame): Unit = {
      val (n, sec) = timed(df)
      emit("metric" -> metric, "sec" -> sec, "rows" -> n)
    }

    private def pairs(metric: String)(df: => DataFrame): Unit = {
      val (n, sec) = timed(df)
      emit("metric" -> metric, "sec" -> sec, "pairs" -> n, "pairs_per_sec" -> n / sec)
    }

    /** Max, p99, mean and count of the `c` column of `sizes`. */
    private def histogram(sizes: DataFrame, c: String) =
      sizes.agg(max(col(c)), expr(s"percentile_approx($c, 0.99)"),
        avg(col(c)), count(lit(1))).head()

    /** d3 exact Jaccard, d6 SimHash pairs, d8 chunk dedup. */
    private def dedup(): Unit = {
      val (docs, v) = (widened, vec) // built here, outside the timings
      pairs(s"d3_pairs$x")(Dedup.ngramJaccardPairsFrom(v, num = 4, den = 5))
      pairs(s"d6_simhash_pairs$x")(
        Dedup.simhashPairs(docs, "doc_id", "text", width = 48, maxDist = 3))
      rows(s"d8_chunk_dedup$x")(
        Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 16))
    }

    /** d4 MinHash+LSH and d10's O(Δ) claim on the same substrate. */
    private def lsh(): Unit = {
      // the band-bucket histogram: the quantity that bounds the
      // per-bucket candidate join
      val b = histogram(Dedup.lshBands(vec, k = 16, bands = 4)
        .groupBy(col("sig")).agg(count(lit(1)).as("size")), "size")
      emit("metric" -> s"d4_bucket_histogram$x", "docs" -> nDocs,
        "max_bucket" -> b.getLong(0), "p99_bucket" -> b.getLong(1),
        "mean_bucket" -> b.getDouble(2), "n_buckets" -> b.getLong(3))
      pairs(s"d4_lsh$x")(Dedup.minhashLshPairsFrom(vec, k = 16, bands = 4,
        num = 4, den = 5))
      // d10: the `id % copies == 0` share (10 % at 10×, 1 % at 100×)
      // probed against the rest, which should cost a fraction of d4's
      // full recompute. Once with the bands recomputed from the vectors,
      // once against a persisted band index, staged untimed: on disk it
      // is maintenance state, not query work.
      val corpus = vec.filter(col("id") % copies =!= 0)
      val delta = vec.filter(col("id") % copies === 0)
      pairs(s"d10_incremental$x")(Dedup.incrementalLshPairs(corpus, delta,
        k = 16, bands = 4, num = 4, den = 5))
      val cBands = Dedup.lshBands(corpus, k = 16, bands = 4).localCheckpoint(true)
      pairs(s"d10_incr_indexed$x")(Dedup.incrementalLshPairs(corpus, delta,
        k = 16, bands = 4, num = 4, den = 5, corpusBands = Some(cBands)))
    }

    /** Sequence packing: the two-pass prefix sum + chunk explode (c13's
      * shape) and shard-local FFD (c14's). Both should scale linearly:
      * the prefix sum's only coordination is B driver rows, FFD's none.
      */
    private def packing(): Unit = {
      val docs = widened // built here, outside the timings
      val len = size(split(col("text"), " "))
      rows(s"c13_pack_chunks$x")(
        Packing.packChunks(docs, len, chunkLen = 256L, buckets = 32))
      rows(s"c14_pack_bins$x")(
        Packing.packBinsFFD(docs, len, binLen = 512L, shards = 32))
    }

    /** Bucketed vs default merge-on-read: the same three-delta upsert
      * history committed into both layouts, the same resolved aggregate
      * through the SQL face. The structural claim is the exchange count
      * (0 vs 1); wall-clock rides along.
      */
    private def mor(): Unit = {
      def build(nm: String, buckets: Int): String = {
        val t = TieredTable(spark, s"$root/$nm", pk = Seq("doc_id"),
          mergeOnRead = true, bucketBy = buckets)
        val base = widened.withColumn("n", length(col("text")).cast("long"))
        t.commitUpsert(base)
        t.commitUpsert(base.filter(col("doc_id") % 7 === 0)
          .withColumn("n", col("n") * 100))
        t.commitUpsert(base.filter(col("doc_id") % 13 === 0)
          .withColumn("n", col("n") + 5))
        TieredCatalog.register("scale", nm, s"$root/$nm",
          pk = Seq("doc_id"), mergeOnRead = true, bucketBy = buckets)
        s"SELECT SUM(n) AS s FROM graft.scale.$nm"
      }
      val qDef = build("mor_def", 0)
      val qBuk = build("mor_buk", 32)
      require(spark.sql(qDef).head().getLong(0) == spark.sql(qBuk).head().getLong(0),
        "bucketed and default layouts must resolve identically")
      def resolve(q: String): (Double, Int) = {
        val (sum, m) = Measure(spark)(spark.sql(q).head())
        sum.get
        (m.wallS, spark.sql(q).queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("Exchange hashpartitioning")))
      }
      val (defSec, defEx) = resolve(qDef)
      val (bukSec, bukEx) = resolve(qBuk)
      emit("metric" -> s"mor_resolve$x", "default_sec" -> defSec,
        "default_exchanges" -> defEx, "bucketed_sec" -> bukSec,
        "bucketed_exchanges" -> bukEx)
    }

    /** File skipping as the file count grows: files opened is the scale
      * metric (wall-clock at this size is dominated by fixed overhead).
      */
    private def skipping(): Unit = {
      // the files a scan kept and listed, as the scan reported them
      def files(df: DataFrame, kept: String = "files_kept") = {
        val m = GraftScanMetrics.of(df)
        Seq(kept -> m(GraftScanMetrics.Kept), "files_total" -> m(GraftScanMetrics.Total))
      }
      // q13: orders committed in half-year bands (the time-ingested
      // layout), then a one-band range query through the pruning cold
      // read, at 1× (14 files) and at copies× (each copy commits its own
      // bands with shifted keys): the skip RATIO holds as the file count
      // grows
      val d = col("o_orderdate")
      val bands = (0 until 14).map { i =>
        val lo = add_months(lit("1995-01-01").cast("date"), i * 6)
        val hi = add_months(lit("1995-01-01").cast("date"), (i + 1) * 6)
        d >= lo && (if (i == 13) lit(true) else d < hi)
      }
      val cond = d >= lit("1997-01-01").cast("date") && d < lit("1997-07-01").cast("date")
      def q13(n: Int): Unit = {
        val t = new TieredTable(spark, s"$root/orders_${n}x")
        for (k <- 0 until n; b <- bands)
          t.commitAppend(orders.filter(b)
            .withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
            .coalesce(1))
        // planning builds the scan: one listing, the sidecar reads, the pruning
        val skipDf = t.readCold().filter(cond)
        val (_, plan) = Measure(spark)(skipDf.queryExecution.executedPlan)
        val (skipRows, skipSec) = timed(skipDf)
        // every copy holds the same dates, so the unpruned answer is n×
        // the fixture's own
        require(skipRows == n * orders.filter(cond).count(),
          "skipping changed an answer")
        emit(Seq("metric" -> s"q13_skip_${n}x") ++ files(skipDf) ++ Seq(
          "plan_sec" -> plan.wallS, "skip_sec" -> skipSec,
          "rows" -> skipRows): _*)
      }
      Seq(1, copies).distinct.foreach(q13)

      // q16: COUNT/MIN/MAX at copies× answered from the sidecars, so the
      // files OPENED stay 0 as the file count grows
      TieredCatalog.register("scale", "orders_nx", s"$root/orders_${copies}x")
      val aggDf = spark.sql("SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS mn, " +
        "MAX(o_orderkey) AS mx FROM graft.scale.orders_nx")
      val (agg, aggM) = Measure(spark)(aggDf.collect()(0))
      emit(Seq("metric" -> s"q16_meta_agg$x") ++ files(aggDf, "files_opened") ++
        Seq("sec" -> aggM.wallS, "cnt" -> agg.get.getLong(0)): _*)

      // q17: a bloom point lookup over (3·copies) key-scattered files:
      // every file spans the whole key range (min/max useless), the
      // bloom must keep ~1 file however many commits accumulate
      val nFiles = 3 * copies
      val tb = new TieredTable(spark, s"$root/orders_bloom", bloomCols = Seq("o_orderkey"))
      for (i <- 0 until nFiles)
        tb.commitAppend(orders
          .filter(pmod(col("o_orderkey"), lit(nFiles)) === i).coalesce(1))
      val probe = col("o_orderkey") === 7L
      val bloomDf = tb.readCold().filter(probe)
      val (_, bloomPlan) = Measure(spark)(bloomDf.queryExecution.executedPlan)
      val bloomRows = Measure.rows(bloomDf)
      require(bloomRows == orders.filter(probe).count(), "bloom skipping changed an answer")
      emit(Seq("metric" -> s"q17_bloom$x") ++ files(bloomDf) ++
        Seq("plan_sec" -> bloomPlan.wallS, "rows" -> bloomRows): _*)
    }

    /** Storage-partitioned join: two tiered tables Hive-partitioned on
      * the same key, joined on (partition key, row key) with v2
      * bucketing on (keyed scans, zero exchanges) and off (both sides
      * shuffled). At 100 TB the exchange count IS the win.
      */
    private def spj(): Unit = {
      val keyed = replicate(k => orders.select(
        (col("o_orderkey") + lit(k * 100000000L)).as("k"), col("o_custkey")))
        // 32 partition values = the executor width: the comparison
        // measures the EXCHANGES, not a parallelism handicap (SPJ runs
        // one task per partition-value group at this scale)
        .withColumn("pp", pmod(col("k"), lit(32)).cast("string"))
        .localCheckpoint(true)
      Seq("a", "b").foreach { s =>
        new TieredTable(spark, s"$root/spj_$s", partitionBy = Seq("pp")).appendLog(keyed)
        TieredCatalog.register("scale", s"spj_$s", s"$root/spj_$s", partitionBy = Seq("pp"))
      }
      def join(on: Boolean): (Double, Int, Long) = {
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
          val j = spark.table("graft.scale.spj_a")
            .select(col("pp"), col("k"), col("o_custkey").as("ca"))
            .join(spark.table("graft.scale.spj_b")
              .select(col("pp"), col("k"), col("o_custkey").as("cb")), Seq("pp", "k"))
          val (rows, sec) = timed(j)
          val ex = j.queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }.size
          (sec, ex, rows)
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      // warm BOTH paths once (codegen + OS page cache for the freshly
      // written tables): whichever leg ran first would otherwise eat the
      // cold-read penalty
      join(on = true); join(on = false)
      val (onSec, onEx, onRows) = join(on = true)
      val (offSec, offEx, offRows) = join(on = false)
      require(onRows == offRows, "SPJ changed an answer")
      emit("metric" -> s"spj_join$x", "rows" -> onRows, "spj_sec" -> onSec,
        "spj_exchanges" -> onEx, "shuffle_sec" -> offSec, "shuffle_exchanges" -> offEx)
    }

    /** Iceberg-export latency curve: export re-run after EVERY commit
      * (the tiering service's cadence) over a fixed-size delta. Existing
      * snapshots' manifests are reused, so per-export wall time must stay
      * flat as history deepens. Independent of `copies`, so its metric
      * carries no `_<copies>x`.
      */
    private def exportCurve(): Unit = {
      val t = new TieredTable(spark, s"$root/orders_export")
      val delta = orders.limit(2000).coalesce(1).localCheckpoint(true)
      val at = Set(1, 10, 30, 60)
      val times = (1 to 60).flatMap { i =>
        t.commitAppend(delta.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * 1000000000L)))
        val (exported, m) = Measure(spark)(IcebergExport.export(t))
        exported.get
        if (at(i)) Some(s"snapshots_$i" -> m.wallS) else None
      }
      emit(("metric" -> "iceberg_export_curve") +: times: _*)
    }

    /** q18b's dirty-group MIN/MAX repair vs full rebuild, on a changelog
      * built adversarially: every deleted row is its group's current
      * minimum, so every touched group goes dirty. The repair should stay
      * a fraction of the rebuild even then.
      */
    private def ivm(): Unit = {
      val base = replicate(k => orders.select(
        (col("o_orderkey") + lit(k * 1000000000L)).as("o_orderkey"),
        pmod(col("o_custkey") + lit(k), lit(50000)).as("g"),
        (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long").as("v")))
        .localCheckpoint(true)
      val spec = IncrementalAgg.AggSpec(sums = Seq("v" -> "sum_v"), cntCol = "n",
        mins = Seq("v" -> "min_v"), maxs = Seq("v" -> "max_v"))
      val state = IncrementalAgg.rebuildFull(base, Seq("g"), spec).localCheckpoint(true)
      // the group-minimum row of ~20% of groups, retracted (-D)
      val victims = base
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("v"), col("o_orderkey"))))
        .filter(col("__rk") === 1 && pmod(col("g"), lit(5)) === 0)
        .drop("__rk")
      val delta = victims.withColumn("op", lit("-D")).localCheckpoint(true)
      val remaining = base.join(victims.select(col("o_orderkey")), Seq("o_orderkey"),
        "left_anti")
      def repair = timed(IncrementalAgg.applyDeltaFull(state, delta, Seq("g"), spec, base))
      def rebuild = timed(IncrementalAgg.rebuildFull(remaining, Seq("g"), spec))
      repair; rebuild // warm both paths (codegen + page cache), then time
      val (repairGroups, repairSec) = repair
      val (rebuildGroups, rebuildSec) = rebuild
      require(repairGroups == rebuildGroups, "IVM repair changed the group set")
      emit("metric" -> s"ivm_repair$x", "base_rows" -> base.count(),
        "groups" -> repairGroups, "deletes" -> delta.count(),
        "repair_sec" -> repairSec, "rebuild_sec" -> rebuildSec)
    }

    /** t8 tf-idf, t9 bigram-LM and t6 repetition over [[widened]]: every
      * shard adds one distinct token, so the vocabulary grows with the
      * corpus. The shapes are exactly t8_tfidf's and t9_bigram_lm's
      * dataflow, so the measured exchanges are the declared queries', and
      * t6 runs the query's own columns.
      */
    private def text(): Unit = {
      import graft.functions.TextFunctions.{hash60, tokens}
      val docs = widened.repartition(spark.sparkContext.defaultParallelism * 2)
        .localCheckpoint(true)
      def mb(bytes: Long) = bytes / 1e6

      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      // hot-key probe FIRST: the largest per-word doc frequency bounds
      // the worst key of the score join's shuffle
      val dfStats = histogram(dfreq, "df")
      emit("metric" -> s"t8_df_histogram$x", "docs" -> nDocs,
        "max_df" -> dfStats.getLong(0), "p99_df" -> dfStats.getLong(1),
        "n_words" -> dfStats.getLong(3))
      val (t8Rows, t8) = Measure(spark) {
        val scored = tf.join(dfreq, Seq("word"))
          .withColumn("score", col("tf") * lit(nDocs.toDouble) / col("df"))
        val topk = udaf(new graft.functions.TopKStrAgg(5))
        Measure.rows(scored.groupBy(col("doc_id"))
          .agg(topk(col("score"), col("word")).as("kw"))
          .select(col("doc_id"), posexplode(col("kw"))))
      }
      emit("metric" -> s"t8_tfidf$x", "docs" -> nDocs, "sec" -> t8.wallS,
        "rows" -> t8Rows.get, "shuffle_read_mb" -> mb(t8.shuffleReadBytes),
        "shuffle_write_mb" -> mb(t8.shuffleWriteBytes))

      val bi = {
        val t = tokens(col("text"))
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => hash60(concat(a, lit(" "), b)))
      }
      val docBi = docs.select(col("doc_id"), explode(bi).as("bh"))
      def counts = docBi.groupBy(col("bh")).agg(count(lit(1)).as("cnt"))
      val biStats = counts.agg(max(col("cnt")), count(lit(1))).head()
      emit("metric" -> s"t9_bigram_histogram$x", "docs" -> nDocs,
        "max_bigram_count" -> biStats.getLong(0), "n_bigrams" -> biStats.getLong(1))
      val (t9Rows, t9) = Measure(spark)(Measure.rows(docBi.join(counts, Seq("bh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cnt")).as("fluency_sum"))))
      emit("metric" -> s"t9_bigram$x", "docs" -> nDocs, "sec" -> t9.wallS,
        "rows" -> t9Rows.get, "shuffle_read_mb" -> mb(t9.shuffleReadBytes),
        "shuffle_write_mb" -> mb(t9.shuffleWriteBytes))

      // t6's repetition score: map-side, one distinct-window count per doc
      rows(s"t6_repetition$x")(graft.queries.Pipeline.repetition(docs))
    }

    /** The embeddings at copies×, shard k ≥ 1 perturbed by `noise(k)`, a
      * SQL expression over `x` (a component), `i` (its index) and
      * `vec_id`. Shard 0 keeps the original corpus intact.
      */
    private def deepened(noise: Int => String): DataFrame = replicate { k =>
      if (k == 0) emb
      else emb.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> ${noise(k)})").as("embedding"))
    }.localCheckpoint(true)

    /** s2 sign-LSH occupancy and pairs; s4 IVF kNN against brute force. */
    private def vectors(): Unit = {
      // per-(vector, shard, dim) murmur3 HASH noise: distinct new
      // content. (A sine-of-index perturbation is rank-2: every noise
      // vector is a phase-shifted copy of one waveform, so the "new"
      // vectors all sit on a 2-D circle and everything near-dups
      // everything; a first run measured 5.4 B pairs from exactly that.)
      val deep = deepened(k => s"x + float(pmod(hash(vec_id, $k, i), 1000) / 500.0 - 1.0)")
      val occ = histogram(Similarity.lshBucketSizes(deep, "vec_id", "embedding"), "size")
      emit("metric" -> s"s2_bucket_histogram$x", "vectors" -> nVec,
        "planes" -> Similarity.planesForCorpus(deep),
        "max_bucket" -> occ.getLong(0), "p99_bucket" -> occ.getLong(1),
        "mean_bucket" -> occ.getDouble(2), "n_buckets" -> occ.getLong(3))
      pairs(s"s2_lsh$x")(
        Similarity.lshNearDupPairs(deep, "vec_id", "embedding", threshold = 0.4))

      // s4 IVF, the production ANN shape: broadcast centroids, map-side
      // argmax assignment, cell-confined probe. A SECOND deep corpus:
      // ±5 % RELATIVE noise plants each original vector's replicas as its
      // true nearest neighbors (the standard planted-neighbor ANN
      // benchmark). Under s2's LARGE noise the "true top-10" is
      // noise-dominated and recall would measure a lottery, not the index.
      val nC = 256
      val nprobe = 16
      val near = deepened(k =>
        s"x * float(1.0 + pmod(hash(vec_id, $k, i), 1000) / 10000.0 - 0.05)")
      val v = near.select(col("vec_id").as("id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("nrm", Similarity.l2norm(col("v")))
      val cents = v.filter(col("id") < nC)
        .select(col("id").as("cell"), col("v").as("cv"), col("nrm").as("cnrm"))
      // the assignment (corpus × centroids argmax) is the INDEX BUILD,
      // once per corpus and amortized over every query batch after it
      val (cells, asg) = Measure(spark)(histogram(v.join(broadcast(cents))
        .withColumn("cos", Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
        .groupBy(col("id"))
        .agg(max_by(col("cell"), struct(col("cos"), -col("cell"))).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("size")), "size"))
      emit("metric" -> s"s4_cell_histogram$x", "vectors" -> nVec, "centroids" -> nC,
        "assign_sec" -> asg.wallS,
        "max_cell" -> cells.get.getLong(0), "p99_cell" -> cells.get.getLong(1),
        "mean_cell" -> cells.get.getDouble(2), "n_cells" -> cells.get.getLong(3))

      // query-count sweep: brute force scales linearly with the batch
      // (every query scores the FULL corpus) while IVF re-pays its fixed
      // assignment and then touches ~nprobe/nC of the corpus per query.
      // The crossover is the claim, not one ratio at one batch size.
      for (nq <- Seq(50, 500)) {
        // queries drawn from the ids ABOVE the centroid range: a
        // centroid-query's planted neighbors sit in its own cell by
        // construction, which reads as free recall
        val queries = emb.filter(col("vec_id") >= nC).orderBy(col("vec_id")).limit(nq)
          .localCheckpoint(true)
        val n = queries.count()
        require(n > 0, s"no embedding has a vec_id >= $nC to query with")
        val (ivfRes, ivf) = Measure(spark)(Similarity.ivfKnn(queries, near, "vec_id",
          "embedding", k = 10, nCentroids = nC, nprobe = nprobe).localCheckpoint(true))
        val (bruteRes, brute) = Measure(spark)(Similarity.knnBrute(queries, near,
          "vec_id", "embedding", k = 10).localCheckpoint(true))
        val hits = ivfRes.get.select(col("query_id"), col("neighbor_id"))
          .intersect(bruteRes.get.select(col("query_id"), col("neighbor_id"))).count()
        emit("metric" -> s"s4_ivf_q$nq$x", "queries" -> n, "sec" -> ivf.wallS,
          "brute_sec" -> brute.wallS, "nprobe" -> nprobe,
          "recall_at_10" -> hits.toDouble / bruteRes.get.count(),
          "speedup_vs_brute" -> brute.wallS / ivf.wallS)
      }
    }

    /** Partitioned merge-on-read readTable, the q24/q34 O(1)-plan-width
      * claim: ~1.3 k (sequence × partition) groups (10 upsert waves × 128
      * identity partitions) at copies× row volume, read back purely from
      * the exported chain, for v2 equality deletes (the tiering-sink
      * default) and v3 deletion vectors. The data side stays ONE parquet
      * scan + a broadcast metadata join however many groups there are.
      */
    private def lake(): Unit = {
      val priced = orders.select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(15,2)").as("price"))
      val wide = replicate(k => priced.select(
        (col("o_orderkey") + lit(k * 100000000L)).as("okey"), col("price")))
        .withColumn("pt", pmod(col("okey"), lit(128)).cast("int"))
      val waves = 9
      for (fv <- Seq(2, 3)) {
        val t = TieredTable(spark, s"$root/lake_v$fv", pk = Seq("okey", "pt"),
          mergeOnRead = true, partitionBy = Seq("pt"))
        val (built, build) = Measure(spark) {
          t.commitUpsert(wide)                                   // seq 1
          (1 to waves).foreach { w =>                            // seq 2..10
            t.commitUpsert(wide
              .filter(pmod(col("okey"), lit(50)) === w)
              .withColumn("price", (col("price") + w).cast("decimal(15,2)")))
          }
          IcebergExport.export(t, fv)
        }
        built.get
        val df = IcebergExport.readTable(spark, t.tablePath)
        // read before execution: an executed adaptive root prints its
        // initial and its final plan, so every scan would count twice
        val plan = df.queryExecution.executedPlan.toString
        val (rows, readSec) = timed(df)
        val scans = "FileScan parquet".r.findAllIn(plan).size
        val bcastJoins = "BroadcastHashJoin".r.findAllIn(plan).size
        emit("metric" -> s"lakehouse_mor_v$fv$x", "groups" -> (waves + 1) * 128,
          "rows" -> rows, "base_rows" -> priced.count() * copies,
          "build_export_sec" -> build.wallS, "read_sec" -> readSec,
          "parquet_scans" -> scans, "broadcast_joins" -> bcastJoins)
        // v2: one data scan + one eq-delete scan. v3: the delete side is
        // DV decode in executors (no parquet scan), so ONE scan.
        val wantScans = if (fv == 2) 2 else 1
        require(scans == wantScans, s"plan width must stay O(1) in group count, " +
          s"expected $wantScans scans at v$fv, got $scans:\n$plan")
        require(bcastJoins >= 1, "metadata must attach via broadcast join")
      }
    }
  }
}
