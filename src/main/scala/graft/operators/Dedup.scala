package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document deduplication for large-scale training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, and SimHash variants.
  *
  * Scale design (the point of each variant):
  *  - exact/fingerprint: one hash-shuffle on a 32-byte digest, never on
  *    the document text — at 100 TB the shuffle payload is keys+ids only.
  *  - ngramJaccardPairs: exact pairwise Jaccard, but only over pairs
  *    sharing ≥1 shingle (inverted-index join), never a cross join. Cost
  *    is Σ_shingle df² — use [[minhashLshPairs]] when document frequency
  *    is heavy-tailed.
  *  - minhashLshPairs: k seeded MinHashes → b bands; candidate pairs only
  *    within equal band signatures, then exact-Jaccard verification.
  *    Shuffles carry (band_sig, doc_id) — constant width per doc
  *    regardless of document size.
  *  - simhash: constant-width (64-bit) signature per doc; near-dup =
  *    small Hamming distance.
  *
  * All hashes are md5-derived ([[graft.functions.TextFunctions.hash60]])
  * so the DuckDB oracle reproduces results bit-for-bit.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the smallest id.
    * Output: (text key omitted) keep_id, n_dups per distinct text.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /** Content fingerprint (md5) per document — the cheap global-dedup key. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("fingerprint"))

  /** Distinct (id, shingle-hash) pairs — the inverted-index building
    * block. Shingles are reduced to their 60-bit md5 hash immediately:
    * every downstream shuffle/join carries an 8-byte key instead of an
    * n-word string, and the MinHash family needs one md5 total (not one
    * per family member). Collisions (~2^-60) affect Spark and the oracle
    * identically — both join on the same hash.
    */
  private def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Scale.widen(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(shingleHashes(tokens(col("__text")), n)).as("sh"))

  /** Per-document sorted shingle-hash SET vector: (id, shs, n_sh) — the
    * shared substrate of the Jaccard family. Built entirely MAP-SIDE:
    * one row is one document, so the per-doc set is a projection over
    * the row's own shingle array (transform → array_distinct →
    * sort_array) — no explode, no groupBy, ZERO shuffle. d3 (exact
    * pairs), d4 (MinHash+LSH), and d7 (clusters) all run off this
    * shape, so a pipeline computing several variants shares one
    * scan-bandwidth pass (see [[graft.queries.Pipeline]]'s memo). Docs
    * with no shingles (< n tokens, null text) are dropped, matching the
    * inverted-index formulation where they simply never appear.
    *
    * PRECONDITION: `idCol` must be unique — one row per document. The
    * map-side form emits one vector per ROW, so a duplicated id yields
    * several vectors for that id and the verification joins downstream
    * (ngramJaccardPairs, minhashLshPairs) would multiply them into
    * duplicate/ambiguous pairs. (The corpus tables guarantee this;
    * callers with raw multi-row inputs must dedup ids first.)
    */
  def shingleVectors(df: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    Scale.widen(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), shingleHashes(tokens(col("__text")), n).as("shs"))
      .withColumn("n_sh", size(col("shs")).cast("long"))
      .filter(col("n_sh") > 0)

  /** MinHash universal-hash family over the shingle hash, mod the
    * Mersenne prime 2^31−1: h_i(x) = (A_i·(x mod p) + B_i) mod p with
    * md5-derived constants — products stay < 2^62, so the arithmetic is
    * exact in 64-bit on both engines.
    */
  val MinhashP = 2147483647L
  def minhashA(i: Int): Long = Similarity.jvmHash60(s"a:$i") % (MinhashP - 1) + 1
  def minhashB(i: Int): Long = Similarity.jvmHash60(s"b:$i") % MinhashP

  /** Exact Jaccard pairs over a prepared (id, sh) shingle set, with
    * PPJoin-style prefix filtering: each document's shingles are sorted
    * by hash and only the (|s| − ⌈θ·|s|⌉ + 1)-prefix enters the
    * inverted-index join — any pair with Jaccard ≥ θ must share a prefix
    * element (prefix-filtering lemma), so recall at the threshold is
    * EXACT while a heavy (high-document-frequency) shingle outside the
    * prefixes can no longer produce df² candidates. Candidates are then
    * verified with the true intersection over the FULL shingle sets.
    * Threshold compare is integer-exact: inter*den ≥ union*num.
    * Output: a_id < b_id, inter, union_sz.
    */
  private def jaccardPairs(byDoc0: DataFrame, num: Int, den: Int,
                           owned: Boolean): DataFrame = {
    // prefix length = n − ⌈n·num/den⌉ + 1 in all-integer arithmetic
    val byDoc = {
      val d = byDoc0.withColumn("__pl", col("n_sh") -
        expr(s"(n_sh * $num + ${den - 1}) DIV $den") + 1)
      // referenced 3× below (prefix index + both verification sides):
      // localCheckpoint (not cache) unless the caller already holds the
      // vectors cached — it materializes once for all three references
      // and its blocks are freed by the ContextCleaner when the frame is
      // GC'd, so repeated standalone calls can't accumulate CacheManager
      // entries that only an explicit unpersist would release
      if (owned) d.localCheckpoint(true) else d
    }
    // candidate pairs: inverted index over prefixes only — any pair with
    // Jaccard ≥ θ shares a prefix element (prefix-filtering lemma), so
    // recall at the threshold is EXACT while a heavy shingle outside the
    // prefixes can no longer produce df² candidates. The length filter
    // (J(A,B) ≤ min/max, so J ≥ θ forces max·num ≤ min·den) kills
    // size-mismatched candidates inside the join, before the dedup
    // exchange and the verification joins — also exact.
    val pref = byDoc.select(col("id"), col("n_sh"),
      explode(slice(col("shs"), lit(1), col("__pl").cast("int"))).as("sh"))
    val cand = pref.select(col("id").as("a_id"), col("n_sh").as("na"), col("sh"))
      .join(pref.select(col("id").as("b_id"), col("n_sh").as("nb"), col("sh")),
        Seq("sh"))
      .filter(col("a_id") < col("b_id") &&
        col("na") * num <= col("nb") * den &&
        col("nb") * num <= col("na") * den)
      .select(col("a_id"), col("b_id")).distinct()
    verifyPairs(cand, byDoc, num, den)
  }

  /** Exact-Jaccard verification of explicit candidate pairs: two
    * id-joins pull both docs' full sorted sets next to the pair; the
    * true intersection is one O(|A|+|B|) merge count
    * ([[graft.functions.expressions.SortedIntersectSize]], no array
    * built per pair) — no expansion join, cost ∝ candidate volume, never
    * Σ_shingle df². Threshold compare is integer-exact: inter·den ≥
    * union·num. PRECONDITION: `shs` is ascending and distinct, as
    * [[shingleVectors]] builds it.
    */
  private def verifyPairs(cand: DataFrame, byDoc: DataFrame,
                          num: Int, den: Int): DataFrame = {
    val a = byDoc.select(col("id").as("a_id"), col("shs").as("sa"),
      col("n_sh").as("na"))
    val b = byDoc.select(col("id").as("b_id"), col("shs").as("sb"),
      col("n_sh").as("nb"))
    cand.join(a, Seq("a_id")).join(b, Seq("b_id"))
      .withColumn("inter", sortedIntersectSize(col("sa"), col("sb")))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * den >= col("un") * num)
      .select(col("a_id"), col("b_id"), col("inter"), col("un").as("union_sz"))
  }

  /** Exact n-gram Jaccard near-dup pairs with similarity ≥ num/den
    * (PPJoin-style prefix-filtered inverted index; exact at θ=num/den).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, num: Int = 4, den: Int = 5): DataFrame =
    jaccardPairs(shingleVectors(df, idCol, textCol, n), num, den,
      owned = true)

  /** [[ngramJaccardPairs]] over pre-built (and ideally cached)
    * [[shingleVectors]].
    */
  def ngramJaccardPairsFrom(vectors: DataFrame, num: Int = 4,
                            den: Int = 5): DataFrame =
    jaccardPairs(vectors, num, den, owned = false)

  /** MinHash signature columns mh0..mh{k-1} computed map-side from the
    * shingle-set vector: mh_i = min over shingles of h_i(shingle). Pure
    * codegen'd array ops — NO shuffle beyond the one that built the
    * vectors.
    */
  private def minhashSignatureFrom(vectors: DataFrame, k: Int): DataFrame = {
    val sigs = (0 until k).map { i =>
      array_min(transform(col("shs"), x =>
        pmod(pmod(x, lit(MinhashP)) * minhashA(i) + minhashB(i),
          lit(MinhashP)))).as(s"mh$i")
    }
    vectors.select(col("id") +: sigs: _*)
  }

  /** MinHash signatures: for each doc, min over shingles of h_i(shingle),
    * i = 0..k-1, as k columns mh0..mh{k-1}. One shuffle on doc id.
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, k: Int = 16): DataFrame =
    minhashSignatureFrom(shingleVectors(df, idCol, textCol, n), k)

  /** MinHash + LSH banding near-dup pairs: k hashes in `bands` bands of
    * k/bands rows; docs sharing any full band signature become candidate
    * pairs; candidates are then verified with exact n-gram Jaccard ≥
    * num/den. Deterministic (md5 hash family) — the oracle reproduces
    * both the candidate set and the verification.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      num: Int = 4, den: Int = 5): DataFrame =
    minhashLshPairsFrom(shingleVectors(df, idCol, textCol, n).localCheckpoint(true),
      k, bands, num, den)

  /** [[minhashLshPairs]] over pre-built (cached) [[shingleVectors]].
    * Scale shape: signatures are map-side array math on the vectors;
    * the only new shuffles carry (band_sig, doc_id) — constant width
    * per doc regardless of document size — and the verification joins,
    * whose cost ∝ candidate volume (each candidate pair is verified
    * with one O(|A|+|B|) sorted-array intersection, never an expansion
    * join).
    */
  def minhashLshPairsFrom(vectors: DataFrame, k: Int = 16, bands: Int = 4,
                          num: Int = 4, den: Int = 5): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val sig = minhashSignatureFrom(vectors, k)
    // band signature = "b:mh_a,mh_b,..." string; unpivot bands via explode
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => col(s"mh${b * rows + r}"))
      concat_ws(",", lit(b.toString) +: parts: _*).as(s"band$b")
    }
    val withBands = sig.select(col("id") +: bandCols: _*)
    val stacked = withBands.select(col("id"),
      explode(array((0 until bands).map(b => col(s"band$b")): _*)).as("sig"))
    val cand = stacked.select(col("id").as("a_id"), col("sig"))
      .join(stacked.select(col("id").as("b_id"), col("sig")), Seq("sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    verifyPairs(cand, vectors, num, den)
  }

  /** LSH band signatures (id, sig) of a vector set — the persistable
    * bucket index behind [[incrementalLshPairs]]. `bands` rows per doc,
    * computed map-side from the shingle vector (no shuffle). Persist
    * this next to the vectors (one narrow table, `bands` short strings
    * per doc) and each future batch probes it WITHOUT re-hashing the
    * corpus.
    */
  def lshBands(vectors: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val sig = minhashSignatureFrom(vectors, k)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => col(s"mh${b * rows + r}"))
      concat_ws(",", lit(b.toString) +: parts: _*).as(s"band$b")
    }
    sig.select(col("id") +: bandCols: _*).select(col("id"),
      explode(array((0 until bands).map(b => col(s"band$b")): _*)).as("sig"))
  }

  /** Incremental MinHash-LSH near-dup pairs: the pairs a NEW batch of
    * documents (`deltaVectors`) introduces against a standing corpus
    * whose shingle vectors are already indexed (`corpusVectors`) —
    * delta×delta plus delta×corpus, exactly the full-recompute pair set
    * restricted to pairs touching the delta (corpus×corpus pairs were
    * emitted when THOSE rows were the delta; over a sequence of batches
    * the union of incremental outputs IS the full pair set).
    *
    * This is how dedup runs at 100 TB, and the plan shape is built for
    * it: the delta's band signatures are BROADCAST (a micro-batch is
    * bounded by contract), so the corpus-side probe is a map-side hash
    * lookup — the index never shuffles, and when `corpusBands` passes
    * the persisted [[lshBands]] table the corpus is never re-hashed
    * either. Per batch: O(Δ) signature math + one streaming pass over
    * the band index + verification joins that pull only candidate-named
    * rows. Feed it from the changelog
    * ([[graft.storage.TieredTable.incrementalRead]] `+I` rows → delta;
    * append the delta's vectors and bands after the batch commits —
    * [[graft.streaming.CorpusPipeline]] wires exactly that).
    *
    * Same hash family, banding, and exact-Jaccard verification as
    * [[minhashLshPairsFrom]], so the d10 oracle replays it in SQL.
    */
  def incrementalLshPairs(corpusVectors: DataFrame, deltaVectors: DataFrame,
                          k: Int = 16, bands: Int = 4,
                          num: Int = 4, den: Int = 5,
                          corpusBands: Option[DataFrame] = None): DataFrame = {
    // referenced twice (delta×delta + delta×corpus probes): the delta is
    // batch-sized, so materializing it once is cheap and keeps the big
    // side single-pass
    val dStack = lshBands(deltaVectors, k, bands).localCheckpoint(true)
    val cStack = corpusBands.getOrElse(lshBands(corpusVectors, k, bands))
    val dd = dStack.select(col("id").as("a_id"), col("sig"))
      .join(dStack.select(col("id").as("b_id"), col("sig")), Seq("sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    // the batch side is the build side BY CONTRACT (bounded micro-batch)
    // — broadcast it so the corpus index streams map-side through the
    // probe instead of shuffling O(corpus) band rows every batch; id
    // order is normalized so the pair key is orientation-free
    val dc = cStack.select(col("id").as("c_id"), col("sig"))
      .join(broadcast(dStack.select(col("id").as("d_id"), col("sig"))),
        Seq("sig"))
      .select(least(col("d_id"), col("c_id")).as("a_id"),
        greatest(col("d_id"), col("c_id")).as("b_id"))
    val cand = dd.union(dc).distinct()
    // verification pulls only candidate-named rows from either side: the
    // id-equi-joins prune the corpus scan to matched keys
    verifyPairs(cand, corpusVectors.unionByName(deltaVectors), num, den)
  }

  /** Connected components over a near-dup pair graph — the "keep one
    * representative per duplicate cluster" step after any pair-finding
    * variant. Min-label propagation with POINTER JUMPING: each round a
    * node takes the minimum label over {itself} ∪ neighbors, then jumps
    * to its label's label (labels only decrease and every label is a
    * node id, so comp(comp(id)) is defined and ≤ comp(id)). The jump
    * halves path lengths, so convergence is O(log diameter) rounds
    * instead of O(diameter) — the difference between 5 rounds and 30 on
    * chain-shaped duplicate clusters. Converged label = smallest id in
    * the component (the canonical representative).
    *
    * Scale: each round is two hash-joins + a groupBy-min, all O(E)/O(V)
    * — no driver-side graph state; only the loop counter and a
    * convergence flag live on the driver.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          driverEdgeLimit: Long = 2000000L): DataFrame = {
    // integral ids additionally enable the adaptive driver path; any
    // other orderable id type (string fingerprints, …) takes the
    // type-generic distributed loop unchanged
    val integralIds = Seq(pairs.schema("a_id"), pairs.schema("b_id"))
      .forall(f => f.dataType match {
        case _: org.apache.spark.sql.types.LongType |
             _: org.apache.spark.sql.types.IntegerType |
             _: org.apache.spark.sql.types.ShortType |
             _: org.apache.spark.sql.types.ByteType => true
        case _ => false
      })
    // both directions in ONE scan of pairs (a union would compute an
    // unmaterialized upstream twice)
    val edges = pairs
      .select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    val edgeCount = edges.count()
    // ADAPTIVE: the pair graph is the *output* of near-dup mining —
    // usually orders of magnitude smaller than the corpus that produced
    // it. Below the (bounded-memory, ~hundred-MB) threshold, a
    // driver-side union-find finishes in one collect instead of
    // O(log d) distributed rounds of ~4 scheduler jobs each — at local
    // bench scale that is the difference between 4 s and 0.3 s. Above
    // the threshold (a 100 TB corpus can mine billions of pairs), the
    // distributed min-label loop below is the path — no driver state.
    if (integralIds && edgeCount <= driverEdgeLimit)
      return connectedComponentsDriver(edges, pairs.schema("a_id").dataType)
    // The iteration state is the pair GRAPH — size the loop's shuffles
    // to the graph, not the corpus: ~250k edges per partition, never
    // more partitions than configured (so a cluster-sized setting still
    // rules at real scale). Partition counts are imposed with explicit
    // repartition(p, key) on each round's shuffles, NOT by mutating
    // spark.sql.shuffle.partitions — session confs are shared, and a
    // concurrent query (e.g. a streaming micro-batch) must not silently
    // inherit this loop's tiny counts.
    val spark = pairs.sparkSession
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = math.max(1L,
      math.min(configured.toLong, edgeCount / 250000L + 1)).toInt
    // Pre-shuffle edges onto the join key once and cache — each round's
    // neighbor join then reuses the partitioning (zero exchange on the
    // edge side) instead of re-shuffling the edge list every round.
    val edgesP = edges.repartition(p, col("dst")).cache()
    edgesP.count()
    edges.unpersist()
    // localCheckpoint each round: an iterative plan that references its
    // previous iteration doubles its lineage every round — truncating it
    // keeps plan size (and analyzer/codegen cost) constant. On a
    // cluster, swap for checkpoint() on reliable storage to also survive
    // executor loss.
    var labels = edgesP.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    try {
    while (!converged && i < maxIters) {
      val viaNeighbors = edgesP
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "ncomp"), Seq("dst"))
        .select(col("src").as("id"), col("ncomp").as("component"))
      // the labels row carries its own component as `old` (exactly one
      // per id), so the previous label survives the min without a join.
      // repartition(p, id) IS the aggregation's exchange: the groupBy
      // sees its required clustering already satisfied at p partitions,
      // so the session's shuffle-partition conf never enters the loop.
      val minned = labels
        .select(col("id"), col("component"), col("component").as("old"))
        .union(viaNeighbors.withColumn("old",
          lit(null).cast(viaNeighbors.schema("component").dataType)))
        .repartition(p, col("id"))
        .groupBy(col("id")).agg(min(col("component")).as("component"),
          max(col("old")).as("old"))
      // pointer jump THROUGH THE FRESH MAPPING: comp'(id) ← comp'(comp'(id)).
      // Every label is a node id (labels only decrease from the identity
      // labeling), so the self-lookup always hits; using minned rather
      // than the round-start labels roughly halves the rounds again.
      // The jump side's alias id→component inherits HashPartitioning
      // from minned's groupBy, so only the probe side repartitions.
      val next = minned.repartition(p, col("component"))
        .join(minned.select(col("id").as("component"),
          col("component").as("jumped")), Seq("component"))
        .select(col("id"), least(col("component"), col("jumped")).as("component"),
          col("old"))
        .localCheckpoint(true)
      val changed =
        next.filter(col("component") =!= col("old")).limit(1).count() > 0
      labels = next.select(col("id"), col("component"))
      converged = !changed
      i += 1
    }
    } finally edgesP.unpersist()
    labels
  }

  /** Benchmark decontamination: training documents that share ≥1 word
    * n-gram with a benchmark/eval corpus, with the shared-shingle count
    * — the standard n-gram-collision test run before training so eval
    * answers don't leak into the training set.
    *
    * Scale shape: the benchmark side is MB-scale against a TB-scale
    * corpus, so its distinct shingle hashes are BROADCAST; the corpus
    * side is a map-side hash-join probe plus one groupBy that shuffles
    * only the matching (id, shingle-hash) pairs — the full corpus never
    * shuffles and the benchmark never leaves one executor's memory.
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val trainSh = shingleSet(train, idCol, textCol, n)
    val benchSh = shingleSet(bench, idCol, textCol, n)
      .select(col("sh")).distinct()
    trainSh.join(broadcast(benchSh), Seq("sh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("id").as(idCol), col("n_hits"))
  }

  /** Driver-side union-find over a (bidirectional, cached) edge list —
    * the adaptive small-graph path of [[connectedComponents]]. Memory
    * is bounded by the caller's edge threshold; union-by-min + path
    * compression, so each node's representative is the smallest id in
    * its component — exactly the distributed loop's converged label.
    */
  private def connectedComponentsDriver(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    edges.unpersist() // collected — the cached partitions are dead weight now
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrElse(p, p)
        parent(x) = gp
        x = p; p = gp
      }
      x
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // edges carry both directions, so every node occurs as a src; dedup
    // with a primitive-keyed map (not a boxed Set) — output is O(nodes)
    val seen = scala.collection.mutable.LongMap.empty[Unit]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    es.foreach { case (a, _) =>
      if (!seen.contains(a)) { seen(a) = (); out += ((a, find(a))) }
    }
    out.toSeq.toDF("id", "component")
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
  }

  /** SimHash (width bits, ≤ 60): per doc, bit j is set iff
    * Σ_{distinct word w} (bit_j(hash60(w)) ? +1 : -1) > 0.
    * Constant-size signature per document.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              width: Int = 32): DataFrame = {
    // Entirely map-side: each document's distinct-word hashes live in a
    // per-row array; every bit's ±1 sum is an array fold. No explode, no
    // shuffle, no aggregation state — the operator is a projection, so
    // it scales with scan bandwidth alone (the earlier explode+groupBy
    // formulation shuffled |words| rows per doc to compute the same
    // integers).
    // null-text docs are dropped (the explode-based formulation did so
    // implicitly; a fold over a null array would emit signature 0 and
    // pair every null doc with every other at distance 0)
    // width-1 shingles = the distinct word-hash set; the per-bit ±1 sums
    // below are order-independent, so the fused sorted form is equivalent
    val hs = Scale.widen(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .filter(col("__text").isNotNull)
      .select(col("id"), shingleHashes(tokens(col("__text")), 1).as("hs"))
    val bitSums = (0 until width).map { j =>
      aggregate(col("hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
    }
    val sigExpr = (0 until width).map { j =>
      when(bitSums(j) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a + b)
    hs.select(col("id"), sigExpr.as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist, with EXACT
    * recall by pigeonhole blocking: the signature is split into
    * maxDist+1 disjoint bit-blocks — a pair within distance maxDist has
    * at most maxDist differing bits, so at least one block is identical
    * and the pair meets in that block's bucket. Per-bucket join + exact
    * Hamming check; candidate space shrinks by ~2^blockBits per block
    * instead of a full cross join.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   width: Int = 32, maxDist: Int = 3): DataFrame =
    hammingPairs(simhash(df, idCol, textCol, width), "id", "simhash",
      width, maxDist)

  /** Signature-level Hamming near-dup pairs — the generic core behind
    * [[simhashPairs]], reusable for ANY fixed-width integer signature
    * (SimHash over text, perceptual hash over media). Pigeonhole
    * blocking with exact recall at `maxDist`: the signature splits into
    * maxDist+1 disjoint bit-blocks, a pair within distance must agree
    * on ≥1 whole block and meets in that block's bucket.
    */
  def hammingPairs(sigDf: DataFrame, idCol: String, sigCol: String,
                   width: Int, maxDist: Int): DataFrame = {
    val blocks = maxDist + 1
    require(width % blocks == 0,
      s"width=$width must divide into maxDist+1=$blocks equal bit-blocks")
    val blockBits = width / blocks
    val mask = (1L << blockBits) - 1
    // localCheckpoint: the signature projection feeds both sides of the
    // block self-join; one materialization, blocks GC-freed (a cache()
    // here would outlive the call in the CacheManager)
    val sig = sigDf.select(col(idCol).as("id"), col(sigCol).as("simhash"))
      .localCheckpoint(true)
    val blockKeys = (0 until blocks).map { b =>
      concat_ws(":", lit(b.toString),
        shiftright(col("simhash"), b * blockBits).bitwiseAND(mask))
    }
    val keyed = sig.select(col("id"), col("simhash"),
      explode(array(blockKeys: _*)).as("blk"))
    // Hamming filter BEFORE the dedup exchange: candidates beyond
    // maxDist never enter the distinct's shuffle (on a low-entropy
    // corpus the block buckets are dense, so most candidates fail the
    // exact check — shuffling them just to drop them is pure waste)
    keyed.select(col("id").as("a_id"), col("simhash").as("sig_a"), col("blk"))
      .join(keyed.select(col("id").as("b_id"), col("simhash").as("sig_b"), col("blk")),
        Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Sub-document (chunk-level) exact dedup — the CCNet/RefinedWeb-style
    * pass that removes REPEATED PASSAGES (boilerplate headers, quoted
    * replies, licence blocks) while keeping the documents themselves:
    * each document is cut into fixed-size token chunks, a chunk survives
    * only at its FIRST corpus-wide occurrence (smallest (doc_id,
    * chunk_idx)), and per document we report the chunk accounting plus a
    * fingerprint of the text reassembled from surviving chunks in order.
    *
    * Scale: chunking is a pure map-side projection (transform over the
    * row's own token array — no explode of text, the chunk explode
    * carries md5 digests + ids); first-occurrence election is ONE
    * hash-shuffle on the 32-byte chunk digest (min of an encoded
    * position — no window, no sort); reassembly is a per-document
    * aggregate over (idx, chunk) pairs. Nothing is ever compared
    * pairwise.
    *
    * PRECONDITION: `idCol` unique, non-negative, < 2^43, and documents
    * shorter than 2^20 chunks — the first-occurrence election encodes
    * (doc_id, chunk_idx) as doc_id·2^20 + chunk_idx in one long.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val t = tokens(col("__text"))
    // ceil-div via double (exact: token counts << 2^53), truncating cast
    val nChunks = ((size(t) + lit(chunkTokens - 1)) / lit(chunkTokens))
      .cast("int")
    val chunked = Scale.widen(
        df.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(t, i * chunkTokens + 1, lit(chunkTokens)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"))
      .withColumn("cfp", md5(col("chunk")))
      .withColumn("pos", col("doc_id") * (1L << 20) + col("chunk_idx"))
    // first-occurrence election: one partial-aggregated shuffle of
    // (digest, encoded position) — the text never leaves its map task
    val keep = chunked.groupBy(col("cfp")).agg(min(col("pos")).as("kpos"))
      .select(col("cfp").as("kfp"), col("kpos"))
    chunked.join(keep,
        col("cfp") === col("kfp") && col("pos") === col("kpos"), "left")
      .withColumn("kept", col("kfp").isNotNull)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(coalesce(array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")), " "), lit(""))).as("kept_fp"))
  }
}
