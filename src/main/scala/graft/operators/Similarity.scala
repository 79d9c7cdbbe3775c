package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Scale design:
  *  - [[knnBrute]] is the exact baseline: queries × corpus block
  *    nested-loop with the small side broadcast — correct at any corpus
  *    size when the query set is bounded (the common "probe" shape).
  *  - [[lshNearDupPairs]] is the all-pairs scale path: random-hyperplane
  *    (sign-LSH) signatures bucket the corpus so only same-bucket pairs
  *    are compared; the final cosine check is exact. Hyperplane
  *    components are md5-derived ±1 (deterministic, oracle-reproducible)
  *    — at 100 TB the shuffle carries (bucket, id, vec) once instead of
  *    an O(n²) cross join.
  *
  * Cosine is computed in double, strictly left-to-right (`zip_with` +
  * `aggregate`), matching DuckDB's list evaluation order so results are
  * bit-identical for the oracle.
  */
object Similarity {

  /** Elementwise dot product of two double arrays — a codegen'd Catalyst
    * expression ([[graft.functions.expressions.DotProduct]]) with the
    * exact semantics of the sequential fold
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` it replaces.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.expressions.DotProduct(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** An `array<float>` vector widened to `array<double>` — a codegen'd
    * cast; float→double widening is exact.
    */
  def toDouble(v: Column): Column = v.cast("array<double>")

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` and `corpus` both carry (idCol, vecCol float array).
    * Output: query_id, neighbor_id, rank (1..k); self-match excluded;
    * ties broken by neighbor id.
    *
    * Top-k is a partial-aggregating [[graft.functions.TopKAgg]]: each
    * map task reduces its corpus slice to ≤ k candidates per query
    * before the exchange — the shuffle carries O(queries·k), never the
    * full scored cross product (the window/row_number formulation
    * shuffles and sorts everything).
    */
  def knnBrute(queries: DataFrame, corpus: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"), l2norm(toDouble(col(vecCol))).as("qn"))
    val c = Scale.widen(corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("cv"), l2norm(toDouble(col(vecCol))).as("cn")))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    topKByGroup(scored, "query_id", "cos", "neighbor_id", k)
  }

  /** MMR-diversified top-k retrieval: re-rank one query's candidate
    * pool by Maximal Marginal Relevance — greedily pick the item
    * maximizing `λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s)`, so the
    * result trades raw similarity against redundancy with what is
    * already picked (the dedup-at-retrieval-time companion to s11's
    * dedup-at-corpus-time).
    *
    * Scale split: candidate MINING is distributed ([[knnBrute]] — swap
    * in the LSH/IVF miners at corpus scale), the greedy re-rank runs on
    * the driver over the BOUNDED candidate pool (≤ `candidates` rows —
    * the constant-size-collect precedent of the PQ codebook). O(C·k)
    * dot products of constant-size vectors; ties break by smaller id,
    * so the selection is engine-deterministic.
    */
  def mmrRerank(corpus: DataFrame, idCol: String, vecCol: String,
                queryId: Long, candidates: Int = 50, k: Int = 5,
                lambda: Double = 0.7): DataFrame = {
    require(k > 0 && candidates >= k, "need candidates >= k > 0")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda in [0,1]")
    val spark = corpus.sparkSession
    val cand = knnBrute(corpus.filter(col(idCol) === queryId), corpus,
      idCol, vecCol, candidates)
    val vecs = corpus.select(col(idCol).as("nid"),
      toDouble(col(vecCol)).as("v"))
    val pool = cand.join(vecs, col("neighbor_id") === col("nid"))
      .select(col("neighbor_id"), col("v"))
      .collect() // bounded: ≤ `candidates` rows of dim-sized vectors
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val qv = corpus.filter(col(idCol) === queryId)
      .select(toDouble(col(vecCol))).head().getSeq[Double](0).toArray
    def dotp(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosv(a: Array[Double], b: Array[Double]): Double =
      dotp(a, b) / (math.sqrt(dotp(a, a)) * math.sqrt(dotp(b, b)))
    val vecOf = pool.toMap
    val simQ = pool.map { case (id, v) => id -> cosv(qv, v) }.toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(pool: _*)
    while (picked.size < k && remaining.nonEmpty) {
      val (bestId, bestScore) = remaining.iterator.map { case (id, v) =>
        val redundancy =
          if (picked.isEmpty) 0.0
          else picked.iterator.map(p => cosv(v, vecOf(p._1))).max
        id -> (lambda * simQ(id) - (1 - lambda) * redundancy)
      }.minBy { case (id, s) => (-s, id) } // max score, ties → smaller id
      picked += ((bestId, bestScore))
      remaining.remove(bestId)
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case ((id, s), i) => (id, (i + 1).toLong,
        math.rint(s * 1e6).toLong) }
      .toDF("neighbor_id", "rank", "mmr_e6")
  }

  /** Shared top-k-per-group via the partial-aggregating TopKAgg;
    * output (group, neighbor_id, rank 1..k), (score desc, id asc) order.
    */
  private[operators] def topKByGroup(scored: DataFrame, groupCol: String,
                                     scoreCol: String, idCol: String,
                                     k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    scored.groupBy(col(groupCol))
      .agg(topk(col(scoreCol), col(idCol)).as("nn"))
      .select(col(groupCol), posexplode(col("nn")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as(idCol))
      .select(col(groupCol), col(idCol), col("rank"))
  }

  /** Exact all-pairs cosine near-dup: pairs with cosine ≥ threshold.
    * O(n²) — the correctness baseline for [[lshNearDupPairs]].
    */
  def nearDupPairsBrute(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    val v = Scale.widen(df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v")))
      .withColumn("nrm", l2norm(col("v")))
    v.select(col("id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
      .join(v.select(col("id").as("b_id"), col("v").as("vb"), col("nrm").as("nb")),
        col("a_id") < col("b_id"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"))
  }

  /** JVM-side evaluation of [[graft.functions.TextFunctions.hash60]]:
    * first 15 hex chars of md5, base-16 — bit-identical to the SQL form,
    * so plans built from it stay oracle-reproducible.
    */
  def jvmHash60(s: String): Long = {
    val d = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  /** ±1.0 hyperplane component for plane `seed`, dimension `j` — the
    * md5-derived random-hyperplane family. Precomputed driver-side (it
    * depends only on constants) and shipped as a literal array: the scan
    * does one multiply per element instead of one md5 per element.
    */
  def planeSign(seed: Int, j: Int): Double =
    if ((jvmHash60(s"$seed:$j") & 1L) == 1L) 1.0 else -1.0

  /** Smallest hyperplane count p ≥ 4 whose 2^p buckets per table keep
    * the EXPECTED bucket size (n / 2^p) at or under `maxBucket` — the
    * per-bucket pair walk is the quadratic piece of the LSH family, so the
    * plane count must grow with the corpus or a fixed default (16
    * buckets) turns into an O(n²/16) skew bomb at 100 TB. The recall
    * trade: each extra plane roughly halves a true pair's per-table
    * collision odds (P ≈ (1−θ/π)^planes), so deployments that raise
    * `planes` far beyond the floor should raise `tables` with it
    * (overall P(candidate) = 1−(1−(1−θ/π)^planes)^tables).
    *
    * The bound is in expectation for spread-out data; genuinely
    * near-identical vectors always share buckets — that collision IS
    * the signal, and its cost is output-sized, not a hashing artifact.
    */
  def planesFor(n: Long, maxBucket: Long = 1024L): Int = {
    var p = 4
    while (p < 30 && (n >> p) > maxBucket) p += 1
    p
  }

  /** Corpus size for [[planesFor]] WITHOUT an eager Spark job: CBO /
    * parquet-footer metadata via [[graft.storage.FileStats.estimatedRows]]
    * (driver-side, bounded footer sample), falling back to an exact
    * `count()` only for frames with no file-backed leaf — which are
    * in-memory test fixtures, small by construction. r8 verdict #4:
    * the previous `df.count()` here ran two full scans at 100 TB
    * before the pair query's own action even started. Overestimation
    * is safe (more planes → finer buckets); only the ORDER of
    * magnitude steers the geometry.
    */
  private def sizeForPlanes(df: DataFrame): Long =
    graft.storage.FileStats.estimatedRows(df).getOrElse(df.count())

  /** Multi-table sign-LSH (random hyperplane) bucketed near-dup:
    * `tables` hash tables of `planes` hyperplanes each (plane seed =
    * t*planes+p); signature bit p of table t = (Σ_j s·v_j) ≥ 0; bucket
    * key = "t:bits". Docs sharing any table's bucket become candidates;
    * exact cosine ≥ threshold check after. Multi-table boosts recall:
    * P(candidate) = 1-(1-(1-θ/π)^planes)^tables. Deterministic — the
    * oracle reproduces candidate set and verification exactly; pair with
    * [[nearDupPairsBrute]] to measure recall.
    *
    * `planes` ≤ 0 (the default) derives the plane count from the corpus
    * size via [[planesFor]] — one extra count() job; pass it explicitly
    * to skip the count or to pin a geometry for reproducibility.
    *
    * Scale: shuffle carries (bucket, id, vec) × tables — O(n·L), never
    * O(n²); the per-bucket pair walk is the only quadratic piece and bucket
    * sizes shrink geometrically in `planes`.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, planes: Int = 0,
                      tables: Int = 8, dim: Int = 64): DataFrame = {
    val p = if (planes > 0) planes else planesFor(sizeForPlanes(df))
    bucketPairs(lshBuckets(df, idCol, vecCol, p, tables, dim), threshold,
      cross = false)
  }

  /** The plane count [[lshNearDupPairs]] would derive for `df` —
    * observability for the scale harness (SCALING.md's "planesFor
    * sizing holds as the corpus deepens" is measured, not assumed).
    */
  def planesForCorpus(df: DataFrame): Int = planesFor(sizeForPlanes(df))

  /** Per-(table, bucket) occupancy of the sign-LSH geometry
    * [[lshNearDupPairs]] uses on `df`: (bucket, size) rows. The
    * histogram SCALING.md's 100× rows report — max bucket size bounds
    * the per-bucket quadratic pair walk.
    */
  def lshBucketSizes(df: DataFrame, idCol: String, vecCol: String,
                     planes: Int = 0, tables: Int = 8,
                     dim: Int = 64): DataFrame = {
    val p = if (planes > 0) planes else planesFor(sizeForPlanes(df))
    lshBuckets(df, idCol, vecCol, p, tables, dim)
      .groupBy(col("bucket")).agg(count(lit(1)).as("size"))
  }

  /** (id, v, bks, tbl, bucket) with one row per (vector, hash table) —
    * the shared signature step of the sign-LSH family. `v` is the vector
    * as stored (it is widened only to project it), `bks` the row's full
    * signature as an array of per-table bit LONGS, `tbl` the 0-based
    * table index of the exploded `bucket` ("t:bits").
    */
  private def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                         planes: Int, tables: Int, dim: Int): DataFrame = {
    val v = Scale.widen(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("vd", toDouble(col("v")))
    val bitsCols = (0 until tables).map { t =>
      (0 until planes).map { p =>
        val seed = t * planes + p
        val signs = typedLit((0 until dim).map(planeSign(seed, _)))
        val proj = dot(col("vd"), signs)
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce((a, b) => a + b)
    }
    v.withColumn("bks", array(bitsCols: _*))
      .withColumn("tbl", explode(array((0 until tables).map(lit): _*)))
      .withColumn("bucket",
        concat_ws(":", col("tbl"), element_at(col("bks"), col("tbl") + 1)))
      .drop("vd")
  }

  /** The verified pairs of every bucket of `sig` ([[lshBuckets]] rows,
    * plus an int `side` in the cross form): one group per (table,
    * bucket) whose members go through the
    * [[graft.functions.expressions.LshBucketPairs]] generator — id
    * order (or side), first colliding table, exact cosine. The exchange
    * carries each (vector, table) once with its stored float vector;
    * pairs never materialize as joined rows.
    */
  private def bucketPairs(sig: DataFrame, threshold: Double,
                          cross: Boolean): DataFrame = {
    val fields = Seq(col("id"), col("v"), col("bks")) ++
      (if (cross) Seq(col("side")) else Nil)
    val grouped = sig.groupBy(col("tbl"), col("bucket"))
      .agg(collect_list(struct(fields: _*)).as("members"))
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    grouped.select(column(graft.functions.expressions.LshBucketPairs(
      expression(col("tbl")), expression(col("members")), threshold, cross)))
  }

  /** CROSS-CORPUS sign-LSH similarity join: pairs (a_id, b_id) with
    * cosine ≥ threshold where the sides come from DIFFERENT tables —
    * the record-linkage / find-my-eval-set-in-the-training-corpus
    * shape. Both sides are bucketed by the SAME deterministic
    * hyperplane family, so only same-bucket cross pairs are scored;
    * the exact cosine check runs after. Shuffle carries (bucket, id,
    * vec) × tables per side — O((|A|+|B|)·L), never |A|·|B|.
    *
    * `planes` ≤ 0 derives the geometry from the COMBINED corpus size
    * ([[planesFor]]; both sides hash into the same buckets, so the
    * bucket-size bound must count both).
    */
  def lshCrossPairs(a: DataFrame, b: DataFrame, idCol: String,
                    vecCol: String, threshold: Double, planes: Int = 0,
                    tables: Int = 8, dim: Int = 64): DataFrame = {
    val p = if (planes > 0) planes
            else planesFor(sizeForPlanes(a) + sizeForPlanes(b))
    val sa = lshBuckets(a, idCol, vecCol, p, tables, dim).withColumn("side", lit(0))
    val sb = lshBuckets(b, idCol, vecCol, p, tables, dim).withColumn("side", lit(1))
    bucketPairs(sa.unionByName(sb), threshold, cross = true)
  }

  /** IVF (inverted-file) approximate top-k: the corpus is coarse-
    * quantized to its nearest of `nCentroids` centroid vectors (here: the
    * vectors with id < nCentroids — a deterministic coarse codebook;
    * k-means would drop in without changing the dataflow); a query probes
    * only its `nprobe` nearest cells and re-ranks those candidates with
    * the exact cosine. Recall < 1 by construction; deterministic, so the
    * oracle reproduces cells, probes, and ranking exactly.
    *
    * Scale shape: centroids broadcast (≤ a few thousand rows); cell
    * assignment is a map-side argmax — the corpus×centroid expansion is
    * reduced by partial aggregation BEFORE any exchange, so the only
    * corpus-wide shuffle carries (id, cell). Probing touches
    * ~nprobe/nCentroids of the corpus per query.
    */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, nCentroids: Int = 32,
             nprobe: Int = 4): DataFrame = {
    val v = Scale.widen(corpus.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v")))
      .withColumn("nrm", l2norm(col("v")))
    val cents = v.filter(col("id") < nCentroids)
      .select(col("id").as("cell"), col("v").as("cv"), col("nrm").as("cnrm"))
    // argmax via max_by over a (cos, -cell) struct = cos desc, cell asc —
    // partial-aggregated map-side, so the ×nCentroids expansion never shuffles
    val asg = v.join(broadcast(cents))
      .withColumn("cos", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy(col("id"))
      .agg(max_by(col("cell"), struct(col("cos"), -col("cell"))).as("cell"))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("cell"))
    val probes = broadcast(q).join(cents)
      .withColumn("pcos", dot(col("qv"), col("cv")) / (col("qn") * col("cnrm")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qv"), col("qn"), col("cell"))
    // candidate expansion stays NARROW: (qid, id) pairs only — the
    // query vectors re-attach by broadcast at the very end. Carrying
    // qv through the cell join would shuffle |candidates| × dim
    // doubles (at 200 k vectors × 500 queries that is gigabytes);
    // the narrow form shuffles 16 bytes per candidate and the
    // query batch rides a broadcast.
    val cand = probes.select(col("qid"), col("cell"))
      .join(asg, Seq("cell"))
      .select(col("qid"), col("id"))
    val scored = cand.join(v, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .filter(col("qid") =!= col("id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"), col("cos"))
    topKByGroup(scored, "query_id", "cos", "neighbor_id", k)
  }

  /** SemDeDup-style semantic deduplication: vectors are coarse-clustered
    * to their nearest centroid (same deterministic codebook and argmax
    * as [[ivfKnn]]), then WITHIN each cell a vector is marked duplicate
    * iff a smaller-id cell-mate sits above the cosine threshold — the
    * keep-one-per-semantic-neighborhood pass of an embedding-level
    * training-data pipeline (arXiv:2303.09540's shape).
    *
    * Scale: the quadratic term is confined to cells (corpus/nCentroids
    * each, and the centroid count grows with the corpus in a real
    * deployment); assignment is the map-side partial-aggregated argmax;
    * the only corpus-wide exchanges carry (id, cell) and the in-cell
    * join rows. Output: (id, cell, is_dup 0/1) for every input vector.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCentroids: Int = 32): DataFrame = {
    val v = Scale.widen(df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v")))
      .withColumn("nrm", l2norm(col("v")))
    val cents = v.filter(col("id") < nCentroids)
      .select(col("id").as("cell"), col("v").as("cv"), col("nrm").as("cnrm"))
    val asg = v.join(broadcast(cents))
      .withColumn("cos", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy(col("id"))
      .agg(max_by(col("cell"), struct(col("cos"), -col("cell"))).as("cell"))
    val withVec = asg.join(v, Seq("id"))
    // a vector is a duplicate iff some SMALLER-id cell-mate is near it —
    // the deterministic keep-first election, no connected components
    val dups = withVec
      .select(col("cell"), col("id").as("a_id"), col("v").as("va"),
        col("nrm").as("na"))
      .join(withVec.select(col("cell"), col("id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("b_id").as("id")).distinct()
      .withColumn("__dup", lit(1L))
    withVec.select(col("id"), col("cell"))
      .join(dups, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("__dup"), lit(0L)).as("is_dup"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * storage/serving compression step of an ANN pipeline (4× smaller
    * than float32, 8× smaller than the double working form). Per
    * vector: scale = 127 / max|x|, q_i = ⌊x_i·scale + 0.5⌋ ∈ [-127,
    * 127]. Map-side only — no shuffle at any corpus size.
    *
    * Output per id: `max_abs` (the dequantization scale's inverse),
    * `q_fingerprint` = Σ q_i·(i+1) — an integer-exact checksum of the
    * quantized vector (order-sensitive, so transposed codes don't
    * cancel), and `n_sat` = count of saturated codes (|q| = 127; > 0
    * only via float→double rounding at the max element — a health
    * metric for the scale choice).
    *
    * Determinism: x·scale is IEEE binary64 arithmetic (identical in any
    * engine) and ⌊·+0.5⌋ avoids banker's-rounding divergence — the
    * oracle reproduces every code bit-for-bit.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = int8Codes(df.select(col(idCol), col(vecCol)), vecCol)
    v.select(col(idCol), col("max_abs"),
      aggregate(zip_with(col("q"), sequence(lit(1L), size(col("q")).cast("long")),
        (q, i) => q * i), lit(0L), (acc, x) => acc + x).as("q_fingerprint"),
      aggregate(transform(col("q"), q =>
          when(abs(q) === 127L, 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x).as("n_sat"))
  }

  /** k-NN GRAPH restricted to an explicit candidate pair set (normally
    * the output of [[lshNearDupPairs]]): for every id, its top-k cosine
    * neighbors among the candidates — the "build the neighbor graph"
    * step feeding embedding clustering / diversity filtering.
    *
    * Scale shape: candidates are the *mined* pair graph (output-sized,
    * not corpus²); both endpoint vectors are pulled next to each edge by
    * two hash-joins (cost ∝ edges), and top-k per id is the
    * partial-aggregating [[graft.functions.TopKAgg]] — the final
    * exchange carries ≤ k survivors per (task, id), never the scored
    * edge list. Ties broken by neighbor id, matching the oracle.
    *
    * The symmetrized edge list is de-duplicated before scoring:
    * candidate miners other than [[lshNearDupPairs]] may emit the same
    * (a_id, b_id) edge more than once, and a duplicated neighbor would
    * otherwise occupy several top-k slots, displacing real neighbors.
    * The extra exchange is on (src, dst) longs only — cheap relative to
    * letting duplicate edges pull vectors twice in the joins below.
    */
  def knnGraphFromPairs(pairs: DataFrame, vectors: DataFrame,
                        idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = Scale.widen(vectors.select(col(idCol).as("__vid"),
      toDouble(col(vecCol)).as("__v")))
      .withColumn("__n", l2norm(col("__v")))
    val sym = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
    val scored = sym
      .join(v.select(col("__vid").as("src"), col("__v").as("sv"),
        col("__n").as("sn")), Seq("src"))
      .join(v.select(col("__vid").as("dst"), col("__v").as("dv"),
        col("__n").as("dn")), Seq("dst"))
      .withColumn("cos", dot(col("sv"), col("dv")) / (col("sn") * col("dn")))
      .select(col("src").as("vec_id"), col("cos"),
        col("dst").as("neighbor_id"))
    topKByGroup(scored, "vec_id", "cos", "neighbor_id", k)
  }

  /** Random-projection (Johnson–Lindenstrauss) dimensionality reduction:
    * the embedding is multiplied by a deterministic ±1 projection matrix
    * (entry sign = bit 0 of md5("rp:j:i")), yielding `outDim` double
    * components. The JL lemma bounds pairwise-distance distortion, so
    * the reduced vectors can feed clustering / coarse ANN at a fraction
    * of the storage and dot-product cost.
    *
    * Scale: pure map-side — the matrix is precomputed driver-side and
    * shipped as `outDim` literal arrays, each output component is one
    * codegen'd [[dot]] over the row's own vector. No shuffle, no UDF;
    * throughput is scan-bandwidth-bound at any corpus size.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       outDim: Int = 8, dim: Int = 64): DataFrame = {
    val v = df.select(col(idCol), toDouble(col(vecCol)).as("__v"))
    val projCols = (0 until outDim).map { j =>
      val signs = typedLit((0 until dim).map(i =>
        if ((jvmHash60(s"rp:$j:$i") & 1L) == 1L) 1.0 else -1.0))
      dot(col("__v"), signs).as(s"p$j")
    }
    v.select(col(idCol) +: projCols: _*)
  }

  /** PRODUCT QUANTIZATION encode — the memory-compression half of the
    * classic IVF-PQ ANN index (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): the vector is split into `m` subvectors
    * and each is replaced by the index of its nearest subspace centroid
    * (L2², ties to the smallest index), packing a `dim`-float vector
    * into m·log2(k) bits — 64 floats → one 32-bit code at the defaults,
    * the compression that lets a 100 TB embedding corpus's index live
    * in RAM for ADC (lookup-table) distance scans.
    *
    * The codebook is deterministic and data-derived (subspace s's
    * centroid j = the slice of corpus vector id j — k-means would drop
    * in without changing the dataflow, exactly as [[ivfKnn]]'s coarse
    * codebook). It is collected to the driver (k·dim doubles — codebook
    * size is independent of corpus size) and shipped as literals, so
    * encoding is pure map-side: no shuffle, no UDF, scan-bandwidth-
    * bound. Distances fold left-to-right in double, matching the
    * oracle's list_reduce — the argmin (and so every code bit) is
    * reproducible cross-engine.
    *
    * Output: (id, pq_code) with code_s in bits [4s, 4s+4) of the long.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               m: Int = 8, k: Int = 16, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    require(k <= 16 && m * 4 <= 62, "codes are packed 4 bits per subspace")
    val sub = dim / m
    val v = df.select(col(idCol), toDouble(col(vecCol)).as("__v"))
    val centRows = v.filter(col(idCol) < k)
      .orderBy(col(idCol)).collect()
    require(centRows.length == k && centRows.zipWithIndex.forall {
        case (r, i) => r.getLong(0) == i.toLong },
      s"PQ codebook needs corpus vectors with ids 0..${k - 1}")
    val cents: Array[Array[Double]] =
      centRows.map(_.getSeq[Double](1).toArray)
    val codeCols = (0 until m).map { s =>
      val sv = slice(col("__v"), s * sub + 1, sub)
      val dists = (0 until k).map { j =>
        val cj = typedLit(cents(j).slice(s * sub, s * sub + sub).toSeq)
        aggregate(zip_with(sv, cj, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x)
      }
      // argmin, smallest index on ties: struct order is (dist, j)
      val best = least(dists.zipWithIndex.map { case (d, j) =>
        struct(d.as("d"), lit(j.toLong).as("j")) }: _*)
      best.getField("j") * lit(1L << (4 * s))
    }
    v.select(col(idCol), codeCols.reduce(_ + _).as("pq_code"))
  }

  /** The raw int8 code arrays behind [[quantizeInt8]]: appends `max_abs`
    * and `q` (array<long> of codes in [-127, 127]) to the input,
    * preserving every other column — so downstream aggregations
    * (per-label centroids, code histograms) can carry their grouping
    * columns without a re-join. Map-side only.
    */
  def int8Codes(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__v", toDouble(col(vecCol)))
      .withColumn("max_abs", array_max(transform(col("__v"), x => abs(x))))
      .withColumn("q", when(col("max_abs") > 0.0,
          transform(col("__v"), x =>
            floor(x * (lit(127.0) / col("max_abs")) + 0.5).cast("long")))
        .otherwise(transform(col("__v"), _ => lit(0L))))
      .drop("__v")
}
