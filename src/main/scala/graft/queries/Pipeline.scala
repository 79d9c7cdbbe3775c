package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis._
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Events, Multimodal, Sampling, Similarity}
import graft.storage.SessionMemo
import graft.tables.Tables

/** The training-data-pipeline query set: deduplication, similarity
  * search, and text analysis over the `documents` / `embeddings`
  * fixtures. Every query is deterministic (md5-derived hashes, exact
  * integer arithmetic, single-rooted IEEE double ops) so the DuckDB
  * oracle reproduces it bit-for-bit — including the LSH candidate sets.
  */
object Pipeline {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  private val MemoNamespace = "pipeline"

  /** Session-scoped memo of expensive pair DataFrames: d7 clusters over
    * d3's pairs and s5 over s2's — without sharing, each cluster query
    * re-executes the full shingle/LSH pipeline of its pair producer
    * (VERDICT r1 #4). Valid while the fixture `table` is unchanged
    * ([[SessionMemo]]).
    */
  private def memo(spark: SparkSession, name: String, dir: String, table: String)
                  (build: => DataFrame): DataFrame =
    SessionMemo(spark, MemoNamespace, Seq(name, dir), Seq(Tables.path(dir, table))) {
      val df = build.cache()
      df.count() // materialize: consumers with multi-branch plans would
                 // otherwise race to compute the cache several times
      df
    }

  /** Evict this session's memoized pair/vector frames, unpersisting
    * their cached partitions. A long-lived session that walks many data
    * dirs should call this between corpora. Fixture relations
    * ([[Tables.load]]) stay memoized.
    */
  def clearMemo(spark: SparkSession): Unit = SessionMemo.clear(spark, MemoNamespace)

  // ---- deduplication ----

  /** D1 — exact dedup: one row per distinct text, keep smallest id. */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir), "doc_id", "text")

  /** D2 — md5 content fingerprint per document. */
  def d2Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.fingerprint(docs(spark, dir), "doc_id", "text")

  /** Memoized per-document 3-gram shingle vectors — the shared
    * substrate of the Jaccard dedup family: d3 and d4 both run off one
    * shingling + grouping pass instead of re-exploding the corpus each.
    */
  private def docVectors(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "shv", dir, "documents") {
      Dedup.shingleVectors(docs(spark, dir), "doc_id", "text", n = 3)
    }

  /** D3 — exact 3-gram Jaccard ≥ 0.8 near-dup pairs (prefix-filtered
    * inverted index). Memoized: d7 clusters over the same pairs.
    */
  def d3NgramPairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "d3", dir, "documents") {
      Dedup.ngramJaccardPairsFrom(docVectors(spark, dir), num = 4, den = 5)
    }

  /** D4 — MinHash(16)+LSH(4 bands) candidates, Jaccard-verified ≥ 0.8. */
  def d4MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairsFrom(docVectors(spark, dir),
      k = 16, bands = 4, num = 4, den = 5)

  /** D10 — incremental dedup of an arriving batch against the standing
    * corpus: docs with `doc_id % 10 == 0` play the delta (the changelog
    * `+I` rows of a new commit), the rest the already-indexed corpus.
    * Output = d4's full pair set restricted to pairs touching the delta
    * (the oracle states exactly that equivalence) — computed WITHOUT the
    * corpus×corpus join: at 100 TB each batch costs O(Δ) plus bucket
    * probes of the index, which is why dedup stays incremental instead
    * of quadratic-in-corpus per refresh. Both sides slice the memoized
    * vector substrate, so the bench measures the operator, not
    * re-shingling.
    */
  def d10IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val v = docVectors(spark, dir)
    Dedup.incrementalLshPairs(
      corpusVectors = v.filter(col("id") % 10 =!= 0),
      deltaVectors = v.filter(col("id") % 10 === 0),
      k = 16, bands = 4, num = 4, den = 5)
  }

  /** D5 — 48-bit SimHash signature per document (wider than the classic
    * 32 because the synthetic vocabulary is tiny — more bits spread the
    * Hamming distances and keep near-dup blocking selective).
    */
  def d5Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(spark, dir), "doc_id", "text", width = 48)

  /** D6 — SimHash near-dup pairs, Hamming ≤ 3, exact-recall pigeonhole
    * blocking (4 disjoint 12-bit blocks).
    */
  def d6SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(spark, dir), "doc_id", "text",
      width = 48, maxDist = 3)

  /** D7 — duplicate-cluster representatives: connected components over
    * the exact-Jaccard near-dup graph; component = smallest doc id in
    * the cluster (the row to keep).
    */
  def d7DedupGroups(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(d3NgramPairs(spark, dir))

  /** D9 — QUALITY-AWARE representative election: each near-dup cluster
    * (connected components over the memoized d3 pair graph) keeps its
    * highest-quality member (n_chars; ties to the smallest id) instead
    * of d7's arbitrary min-id label — the "keep the best copy" pass a
    * production dedup pipeline actually wants. One dimension-sized
    * join + one partial-aggregated max_by per cluster on top of the
    * shared component computation.
    */
  def d9BestRep(spark: SparkSession, dir: String): DataFrame = {
    val comps = Dedup.connectedComponents(d3NgramPairs(spark, dir))
    comps.join(docs(spark, dir).select(col("doc_id").as("id"), col("n_chars")),
        Seq("id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("id"), struct(col("n_chars"), -col("id"))).as("rep_id"))
      .select(col("component"), col("rep_id"), col("n_members"))
  }

  /** D8 — chunk-level (sub-document) exact dedup: repeated 16-token
    * passages survive only at their first corpus-wide occurrence; per
    * document, the chunk accounting plus the fingerprint of the
    * reassembled deduplicated text.
    */
  def d8ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(docs(spark, dir), "doc_id", "text", chunkTokens = 16)

  // ---- similarity search ----

  /** S1 — exact brute-force top-10 cosine neighbors for probe vectors
    * (vec_id < 5); ranks only (ordering is float-robust: cosines are
    * bit-identical on both sides).
    */
  def s1KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.knnBrute(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", k = 10)
  }

  /** S2 — multi-table sign-LSH near-dup pairs, cosine ≥ 0.4.
    * Memoized: s5 clusters over the same pairs.
    */
  def s2LshAnn(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "s2", dir, "embeddings") {
      Similarity.lshNearDupPairs(emb(spark, dir), "vec_id", "embedding",
        threshold = 0.4)
    }

  /** S15 — MMR-diversified top-5 for probe vector 0 over a top-50
    * candidate pool (λ=0.7): retrieval that penalizes redundancy with
    * what is already picked — the rows-only sibling of e4 (the greedy
    * argmax chain is deterministic but not SQL-expressible, so the
    * oracle checks shape, not hashes; SimilaritySpec pins the
    * diversity behavior on a crafted fixture).
    */
  def s15MmrRerank(spark: SparkSession, dir: String): DataFrame =
    Similarity.mmrRerank(emb(spark, dir), "vec_id", "embedding",
      queryId = 0L, candidates = 50, k = 5, lambda = 0.7)

  /** S14 — ANN quality measurement as a first-class query ("measure,
    * don't guess"): per probe, how many of the exact cosine top-10
    * (s1) the LSH near-dup retrieval (s2, symmetrized pairs) actually
    * reaches. Exact integers (hits of a deterministic set against a
    * deterministic set), so the oracle reproduces it bit-for-bit.
    * Recall < 1 here is the LSH contract, not a bug — top-10 neighbors
    * below the 0.4 cosine verification threshold are unreachable by
    * construction; this query is what makes that trade measurable when
    * tuning planes/tables at corpus scale. Cost: both inputs are
    * memo-shared with s1/s2; the join runs at candidate-set size.
    */
  def s14AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = s1KnnBrute(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val pairs = s2LshAnn(spark, dir)
    val sym = pairs
      .select(col("a_id").as("query_id"), col("b_id").as("neighbor_id"))
      .unionByName(pairs
        .select(col("b_id").as("query_id"), col("a_id").as("neighbor_id")))
      .withColumn("__hit", lit(1L))
    brute.join(sym, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
  }

  /** S3 — exact all-pairs cosine ≥ 0.4 (the recall baseline for S2). */
  def s3NearDupBrute(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsBrute(emb(spark, dir), "vec_id", "embedding",
      threshold = 0.4)

  /** S4 — IVF top-10 for the same probes as S1 (32 cells, 4 probed). */
  def s4IvfKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.ivfKnn(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
      k = 10, nCentroids = 32, nprobe = 4)
  }

  /** S5 — embedding-level duplicate clusters: connected components over
    * the deterministic sign-LSH pair graph (S2). Riding the LSH pairs —
    * not the brute baseline — is what keeps this O(n·L) at corpus scale;
    * S3 stays available as the bounded-scale recall oracle for S2.
    */
  def s5AnnGroups(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(s2LshAnn(spark, dir))

  /** S9 — the approximate k-NN graph: every vector's top-3 cosine
    * neighbors among the deterministic sign-LSH candidates (S2's
    * memoized pairs). Edge scoring costs ∝ mined pairs; top-k is
    * partial-aggregated — the clustering/diversity-filter input at any
    * corpus size.
    */
  def s9AnnGraph(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphFromPairs(s2LshAnn(spark, dir), emb(spark, dir),
      "vec_id", "embedding", k = 3)

  /** S10 — Johnson–Lindenstrauss random projection of the embedding
    * table to 8 dims (deterministic ±1 matrix) — the cheap-vector feed
    * for coarse clustering; map-side only, scan-bandwidth-bound.
    */
  def s10RandProj(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(emb(spark, dir), "vec_id", "embedding",
      outDim = 8, dim = 64)

  /** S11 — SemDeDup semantic dedup: coarse-cluster to the deterministic
    * 32-centroid codebook, mark every vector that has a smaller-id
    * cell-mate above cosine 0.4 — the embedding-level keep-one-per-
    * neighborhood pass; quadratic work confined to cells.
    */
  def s11SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(emb(spark, dir), "vec_id", "embedding",
      threshold = 0.4, nCentroids = 32)

  /** S12 — product-quantization encode of the embedding table: 64
    * floats → one packed 32-bit PQ code per vector (8 subspaces × 16
    * deterministic centroids), every code bit oracle-reproducible —
    * the RAM-resident index representation that IVF-PQ ANN search
    * scans with distance lookup tables.
    */
  def s12PqEncode(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(emb(spark, dir), "vec_id", "embedding",
      m = 8, k = 16, dim = 64)

  /** S6 — int8 scalar quantization of the embedding table (the ANN
    * storage-compression step), with an integer-exact code fingerprint
    * and saturation accounting per vector.
    */
  def s6Quantize(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(emb(spark, dir), "vec_id", "embedding")

  /** S7 — per-label quantized centroids: the k-means / IVF "train the
    * codebook" aggregation over int8 codes. Integer-exact (sum + count
    * per (label, dim) instead of a float mean), and one partial-
    * aggregated shuffle of (label, dim) pairs — the dim expansion is
    * combined map-side, so the exchange carries ≤ labels × dims rows
    * per task at any corpus size.
    */
  def s7Centroids(spark: SparkSession, dir: String): DataFrame =
    Similarity.int8Codes(emb(spark, dir), "embedding")
      .select(col("label").cast("long").as("label"), posexplode(col("q")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        col("col").as("code"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("code")).as("sum_code"), count(lit(1)).as("n_vecs"))

  /** S8 — hybrid retrieval rerank: the top-100 cosine neighbors of probe
    * vector 0 are fused with a document-quality signal (n_chars) by
    * Borda rank sum (integer-exact; reciprocal-rank fusion without the
    * rational arithmetic), keeping the best 20. Stage 1 is the
    * partial-aggregating top-k (shuffle carries ≤ k candidates); stage
    * 2 ranks WITHIN the bounded candidate set — quality never needs a
    * corpus-wide sort.
    */
  def s8Hybrid(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cand = Similarity.knnBrute(e.filter(col("vec_id") === 0), e,
        "vec_id", "embedding", k = 100)
      .select(col("neighbor_id"), col("rank").cast("long").as("cos_rank"))
    // the candidate set is k-bounded (≤100 rows), so ranking it on a
    // single partition is by design. The partition key is a constant
    // that is NOT foldable (EliminateWindowPartitions would fold a
    // literal back to the global-window form and log WindowExec's
    // misleading degradation warning on every run).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("neighbor_id"), lit(1)))
      .orderBy(col("n_chars").desc, col("neighbor_id"))
    cand.join(docs(spark, dir).select(col("doc_id"), col("n_chars")),
        cand("neighbor_id") === col("doc_id"))
      .withColumn("qual_rank", row_number().over(w).cast("long"))
      .withColumn("borda", col("cos_rank") + col("qual_rank"))
      .select(col("neighbor_id"), col("cos_rank"), col("qual_rank"),
        col("borda"))
      .orderBy(col("borda"), col("neighbor_id"))
      .limit(20)
  }

  /** C9 — balanced source mixture: every source downsampled to the
    * smallest source's size by deterministic hash election
    * ([[Sampling.balanceGroups]]); per-source accounting proves the
    * SAME documents were elected (sum of kept ids), not just the same
    * count.
    */
  def c9Mixture(spark: SparkSession, dir: String): DataFrame =
    Sampling.balanceGroups(docs(spark, dir), "doc_id", "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))

  // ---- text analysis ----

  /** T1 — stopword-marker language ID with deterministic argmax. */
  def t1LangId(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val Seq(en, es, fr, de) = langHits(t).map(_._2)
    docs(spark, dir).select(
      col("doc_id"), en.as("en_hits"), es.as("es_hits"),
      fr.as("fr_hits"), de.as("de_hits"),
      langPred(en, es, fr, de).as("lang_pred"))
  }

  /** T2 — quality metrics + composite score per document. */
  def t2Quality(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val sumLen = sumTokenLen(t)
    val stopHits = langHits(t).head._2.cast("long")
    val symbols = symbolCount(col("text")).cast("long")
    docs(spark, dir).select(
      col("doc_id"), nTok.as("n_tokens"), sumLen.as("sum_token_len"),
      (sumLen.cast("double") / nTok).as("avg_token_len"),
      (stopHits.cast("double") / nTok).as("stopword_ratio"),
      symbols.as("n_symbols"),
      (least(nTok.cast("double") / 100.0, lit(1.0)) * 0.5 +
        (stopHits.cast("double") / nTok) * 0.5).as("quality_score"))
  }

  /** T11 — Gopher-style hard quality rules (the repetition/format
    * sibling of t2's soft score; arXiv:2112.11446 §A1's shape): per
    * document, five pass/fail rules — token count in [50, 100000],
    * mean token length in [3, 10], symbol share ≤ 1/10, ≥ 2 stopword
    * hits, ≥ 4/5 of tokens containing a letter — and their
    * conjunction. Every ratio test is an INTEGER cross-multiply
    * (sum_len ≥ 3·n, not sum_len/n ≥ 3): no division, no float, so
    * the rules are bit-identical in any engine. Pure map-side
    * projection — scan-bandwidth-bound at any corpus size.
    */
  def t11GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("long")
    val sumLen = sumTokenLen(t)
    val stopHits = langHits(t).head._2.cast("long")
    val symbols = symbolCount(col("text")).cast("long")
    val alphaWords = size(filter(t, w => w.rlike("[a-z]"))).cast("long")
    val rLen = n >= 50L && n <= 100000L
    val rMean = sumLen >= n * 3L && sumLen <= n * 10L
    val rSym = symbols * 10L <= n
    val rStop = stopHits >= 2L
    val rAlpha = alphaWords * 5L >= n * 4L
    docs(spark, dir).select(
      col("doc_id"), n.as("n_tokens"),
      rLen.cast("long").as("r_len"), rMean.cast("long").as("r_mean_len"),
      rSym.cast("long").as("r_symbol"), rStop.cast("long").as("r_stop"),
      rAlpha.cast("long").as("r_alpha"),
      (rLen && rMean && rSym && rStop && rAlpha).cast("long").as("pass"))
  }

  /** T12 — text normalization + charset profile: the canonical-form
    * pass that precedes exact dedup (lowercase, collapse whitespace
    * runs, trim) plus integer charset accounting (alnum / space /
    * other counts — the inputs of junk-ratio filters). Pure map-side
    * projection, codegen'd string ops; only the md5 fingerprint of the
    * normalized text leaves the task, never the text itself — at
    * 100 TB the downstream exact-dedup shuffle carries 16-byte
    * digests, the same shape as d1/d2.
    */
  def t12Normalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val nAlnum = length(norm) - length(regexp_replace(norm, "[a-z0-9]", ""))
    val nSpace = length(norm) - length(regexp_replace(norm, " ", ""))
    docs(spark, dir).select(
      col("doc_id"),
      md5(norm).as("norm_fp"),
      length(norm).cast("long").as("n_chars_norm"),
      nAlnum.cast("long").as("n_alnum"),
      nSpace.cast("long").as("n_space"),
      (length(norm) - nAlnum - nSpace).cast("long").as("n_other"))
  }

  /** C10 — temperature-reweighted source mixture (α = 0.5): heavy
    * sources damped to sqrt proportions, the smallest source kept
    * whole, elections by deterministic key hash
    * ([[Sampling.temperatureMix]]); per-source counts and kept-id sums
    * prove the exact same documents are elected cross-engine.
    */
  def c10TemperatureMix(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(docs(spark, dir), "doc_id", "source", alpha = 0.5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))

  /** C11 — per-domain quota: every source capped at 15 documents by
    * deterministic hash election ([[Sampling.quotaGroups]]) — the "no
    * single site dominates the mixture" rule of web-corpus curation.
    * The output is the elected (doc_id, source) set itself, so the
    * oracle checks exactly WHICH documents were elected, not counts.
    */
  def c11SourceQuota(spark: SparkSession, dir: String): DataFrame =
    Sampling.quotaGroups(docs(spark, dir), "doc_id", "source",
        maxPerGroup = 15)
      .select(col("doc_id"), col("source"))

  /** C12 — quantile-gate calibration: a raw quality signal (chars here;
    * any per-doc score) is converted to its PER-LANGUAGE percentile
    * rank and gated at the 90th — how a real pipeline sets "keep the
    * top decile" thresholds without hand-tuning per-language absolute
    * cutoffs (longer-written languages would otherwise dominate). One
    * hash-shuffle on lang + in-partition sort; the rank ordering is
    * made total by the doc id so tied scores get engine-deterministic
    * ranks, and percent_rank's (rank−1)/(n−1) is the same single
    * double division on both engines. At 100 TB swap the exact window
    * for approx_percentile cutoffs per language (constant-size state);
    * the gate semantics stay identical.
    */
  def c12QuantileGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= 0.9)
      .select(col("doc_id"), col("lang"), col("pr"))
  }

  /** C13 — SEQUENCE PACKING, concat-and-split (GPT-pretraining shape):
    * documents laid end to end in `doc_id` order, the token stream cut
    * into 256-token windows, one row per (chunk, document) span. The
    * global prefix-sum is the TWO-PASS distributed scan
    * ([[graft.operators.Packing.tokenOffsets]]) — never a
    * single-partition window; the oracle recomputes the identical
    * spans from a relational window + generate_series.
    */
  def c13PackChunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packChunks(
      docs(spark, dir), wsTokenCount(col("text")), chunkLen = 256L,
      buckets = 8)

  /** C14 — SEQUENCE PACKING, boundary-preserving (SFT shape): each doc
    * lands WHOLE in one bin of 512 tokens, first-fit-decreasing inside
    * hash shards ([[graft.operators.Packing.packBinsFFD]]). Bin ids
    * depend on the FFD heuristic, so the driver gate checks the
    * packing INVARIANTS relationally: every doc exactly once, no bin
    * over capacity, and the per-shard bin count = what FFD's longest-
    * first fill produces — summarized per shard so the oracle can
    * recompute totals without replaying the heuristic.
    */
  def c14PackBins(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packBinsFFD(
        docs(spark, dir), wsTokenCount(col("text")), binLen = 512L,
        shards = 8)
      .groupBy(col("shard"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("toks")).cast("long").as("tok_sum"),
        max(col("bin")).cast("long").as("max_bin"))

  /** C15 — TRAINING-BATCH MATERIALIZATION: the end-to-end consumer of
    * [[c13PackChunks]] — join the (chunk, doc) spans back to the text,
    * slice each document's contributing token run, and assemble every
    * chunk's final token string in stream order. One shuffle (the
    * group-by-chunk), slices map-side; the within-chunk order rides a
    * `sort_array(collect_list(struct(doc_id, …)))` so no window is
    * needed. The oracle rebuilds identical strings with
    * `string_agg(… ORDER BY doc_id)` over relational slices — any
    * off-by-one in a span boundary corrupts a chunk's text and fails
    * the hash.
    */
  def c15ChunkText(spark: SparkSession, dir: String): DataFrame = {
    val spans = graft.operators.Packing.packChunks(
      docs(spark, dir), wsTokenCount(col("text")), chunkLen = 256L,
      buckets = 8)
    val sliced = spans.join(docs(spark, dir), Seq("doc_id"))
      .select(col("chunk_id"), col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "),
          (col("off") + 1L).cast("int"), col("len").cast("int")))
          .as("piece"))
    sliced.groupBy(col("chunk_id"))
      .agg(concat_ws(" ", transform(
        sort_array(collect_list(struct(col("doc_id"), col("piece")))),
        s => s.getField("piece"))).as("chunk_text"),
        count(lit(1)).as("n_docs"))
  }

  /** T3 — token counting three ways: whitespace, regex pre-tokenizer,
    * approximate BPE (ceil(len/4) per word).
    */
  def t3Tokens(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    docs(spark, dir).select(
      col("doc_id"),
      wsTokenCount(col("text")).cast("long").as("ws_tokens"),
      regexTokenCount(col("text")).cast("long").as("regex_tokens"),
      approxBpeCount(t).as("approx_bpe"))
  }

  /** T4 — order-sensitive rolling polynomial fingerprint per document. */
  def t4RollingFp(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"), rollingFingerprint(tokens(col("text"))).as("fp"))

  /** T13 — the catalog FUNCTION surface under the oracle (r9): the
    * same document profile computed through `graft.system.*` SQL
    * functions ([[graft.plans.GraftSqlFunctions]] — DSv2
    * FunctionCatalog, magic-method codegen bindings) instead of the
    * Column/expression API. The oracle recomputes hash60, the
    * distinct 3-shingle count, and the md5 bucket relationally in
    * DuckDB, so the SQL-resolved functions must agree bit-for-bit
    * with the engine kernels they share.
    */
  /** T14 — PII detect + redact ([[graft.operators.Pii]]): the corpus
    * text with DETERMINISTIC synthetic PII mixed in (the fixture text
    * is word-only, so the contamination is constructed per doc_id —
    * an email for every 3rd doc, a phone for every 4th, an IPv4 for
    * every 5th; both engines build the identical string), then typed
    * match counts and the md5 of the redacted text. The oracle
    * recomputes counts and redaction relationally in DuckDB (RE2), so
    * the hash pins that Java-regex and RE2 redaction agree
    * byte-for-byte — the portability property the patterns were
    * written for.
    */
  def t14PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val contaminated = docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id"),
            lit("@example.com"))).otherwise(""),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" call +49 555 "),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 4, "0"),
            lit(" 1234"))).otherwise(""),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" from 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".7"))).otherwise(""),
        // US-format phone for every 6th doc, a credit-card candidate
        // for every 7th, and NEGATIVE decoys for every 11th (version
        // string + invalid octet — must survive redaction verbatim,
        // which the hash pins across both engines)
        when(pmod(col("doc_id"), lit(6)) === 0,
          concat(lit(" tel ("),
            lpad((pmod(col("doc_id"), lit(800)) + 200).cast("string"), 3, "0"),
            lit(") 555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(""),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" card 4242-4242-4242-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(""),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" build v1.2.3.4 rev 999.1.2.3")).otherwise(""))
        .as("t"))
    graft.operators.Pii.audit(contaminated, "doc_id", "t")
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        col("n_us_phones"), col("n_cc"), col("n_ipv4"),
        md5(col("redacted")).as("redacted_md5"))
  }

  def t13SqlFunctions(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("t13_docs")
    spark.sql(
      """SELECT doc_id,
        |       graft.system.hash60(text) AS h60,
        |       CAST(size(graft.system.shingle_hashes(split(text, ' '), 3))
        |            AS BIGINT) AS n_sh,
        |       CAST(graft.system.bucket(16, CAST(doc_id AS STRING))
        |            AS BIGINT) AS bk
        |FROM t13_docs""".stripMargin)
  }

  /** T5 — corpus word-frequency table (the classic shuffle-side agg). */
  def t5WordCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** T6 — within-document repetition score: 5-gram windows vs distinct
    * 5-grams, with the repeated share in basis points (integer-exact).
    * High repetition is the classic low-quality / generated-text signal.
    * Pure map-side projection — scales with scan bandwidth.
    */
  def t6Repetition(spark: SparkSession, dir: String): DataFrame =
    repetition(docs(spark, dir))

  /** [[t6Repetition]] over any (doc_id, text) frame: n_windows,
    * n_distinct (one codegen'd distinct-window count per row, no
    * window strings) and rep_bp.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(col("doc_id"),
        greatest(size(t) - 4, lit(0)).cast("long").as("n_windows"),
        distinctWindows(t, 5).as("n_distinct"))
      .withColumn("rep_bp", when(col("n_windows") > 0,
          expr("((n_windows - n_distinct) * 10000) DIV n_windows"))
        .otherwise(0L))
  }

  /** T7 — boilerplate incidence: per source, how many documents contain
    * at least one of the corpus's 10 most document-frequent 5-grams.
    */
  def t7Boilerplate(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.incidence(docs(spark, dir),
      "doc_id", "text", "source", n = 5, k = 10)

  /** T8 — per-document keyword extraction: top-5 terms by tf·idf with
    * LINEAR idf (tf · N / df, no logarithm — `ln` is libm-dependent and
    * not bit-stable across engines; the linear form is one IEEE multiply
    * + divide both sides compute identically, and ranking is what
    * matters). Term counts are one explode + groupBy; document
    * frequency reuses that aggregate; top-k per doc is the
    * partial-aggregating [[graft.functions.TopKStrAgg]], so the final
    * exchange carries ≤ 5 terms per (task, doc), never the scored
    * (doc, term) matrix.
    */
  def t8Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // corpus size from parquet footer metadata when exact (zero Spark
    // jobs — the previous count() ran a full scan job per invocation
    // despite only needing N); falls back to count() whenever footers
    // can't prove the number
    val n = graft.storage.FileStats.exactRows(d).getOrElse(d.count())
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("word"))
      .withColumn("score", col("tf") * lit(n.toDouble) / col("df"))
    val topk = udaf(new graft.functions.TopKStrAgg(5))
    scored.groupBy(col("doc_id"))
      .agg(topk(col("score"), col("word")).as("kw"))
      .select(col("doc_id"), posexplode(col("kw")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("word"))
  }

  /** T9 — corpus-LM fluency proxy: per document, the count and summed
    * corpus-wide frequency of its ORDERED bigrams (duplicates included —
    * multiplicity is the signal). Integer-exact stand-in for bigram-LM
    * scoring: common-phrase documents score high, word-salad low, and no
    * logarithm enters (libm rounding is engine-specific). Bigrams are
    * built map-side (zip of the token array with its own tail) and
    * hashed to 60-bit longs before the explode, so the count join and
    * both aggregations shuffle 8-byte keys, never phrase strings.
    */
  def t9BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val bi = zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => hash60(concat(a, lit(" "), b)))
    val docBi = docs(spark, dir)
      .select(col("doc_id"), explode(bi).as("bh"))
    val counts = docBi.groupBy(col("bh")).agg(count(lit(1)).as("cnt"))
    docBi.join(counts, Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cnt")).as("fluency_sum"))
  }

  /** C5 — per-source corpus health report: doc/token/language counts
    * and exact-duplicate incidence per source. Everything derived from
    * the text (md5 fingerprint, token count) is projected map-side
    * FIRST, so no shuffle ever carries a document: the duplicate count
    * is one window pass over the 32-byte fingerprints, then a narrow
    * per-source aggregation.
    */
  def c5SourceReport(spark: SparkSession, dir: String): DataFrame = {
    val slim = docs(spark, dir).select(col("source"), col("lang"),
      md5(col("text")).as("fp"),
      wsTokenCount(col("text")).cast("long").as("toks"))
    val perFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    slim.withColumn("cnt", count(lit(1)).over(perFp))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("sum_ws_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
  }

  /** C6 — the pipeline composed end-to-end in ONE lazy plan: quality
    * gate (token floor) → exact dedup keep-smallest-id → deterministic
    * 50% hash sample → per-language accounting. Catalyst fuses the
    * stages (the filter pushes below the dedup shuffle, the sample is a
    * map-side filter) — composing operators costs plans, not passes.
    */
  def c6PipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val qual = docs(spark, dir)
      .filter(wsTokenCount(col("text")).cast("long") >= 5)
    val keep = qual.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val kept = qual.join(keep, Seq("doc_id"), "left_semi")
    graft.operators.Sampling.hashSample(kept, "doc_id", 1, 2)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokenCount(col("text")).cast("long")).as("sum_tokens"))
  }

  /** T10 — PII detection + redaction. The fixture corpus carries no PII,
    * so each document gets a deterministic synthetic tail (an e-mail +
    * an IPv4, derived from doc_id — the oracle constructs the identical
    * string), then the scrubber counts and redacts both classes with
    * anchored character-class regexes that Java regex and RE2 interpret
    * identically (no backrefs, no lookaround). Output: per-doc match
    * counts and the md5 of the redacted text.
    *
    * Scale: pure map-side projection over the text column — regex
    * matching is codegen'd (`RegExpCount`/`RegExpReplace`), no shuffle,
    * no UDF; the redacted text itself never leaves the map task (only
    * its 32-byte digest does).
    */
  def t10Pii(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9.]+@[a-z]+\\.[a-z]+"
    val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val t2 = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"),
      lit("@example.com or admin@test.org from 10.0."),
      pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"))
    docs(spark, dir).select(
      col("doc_id"),
      regexp_count(t2, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(t2, lit(ipRe)).cast("long").as("n_ips"),
      md5(regexp_replace(regexp_replace(t2, emailRe, "<EMAIL>"),
        ipRe, "<IP>")).as("red_fp"))
  }

  // ---- corpus selection (sampling / sharding / packing / decontam) ----

  /** C1 — benchmark decontamination: the corpus is split by
    * `doc_id % 20` into a pseudo-benchmark (0) and a training set
    * (rest); flags every training doc sharing a 3-gram with the
    * benchmark, with the collision count.
    */
  def c1Decontam(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.decontaminate(
      d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(20)) === 0),
      "doc_id", "text", n = 3)
  }

  /** C2 — deterministic 10% hash sample, reported per language stratum
    * (n_total vs n_sampled — the reproducible-ablation primitive).
    */
  def c2Sample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sampled = pmod(hash60(concat(lit("sample:"),
      col("doc_id").cast("string"))), lit(10)) === 0
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"))
  }

  /** C3 — deterministic shard assignment (32 shards) with per-shard
    * document and character accounting — the training-shard layout
    * check (shards must stay balanced and stable).
    */
  def c3Shards(spark: SparkSession, dir: String): DataFrame =
    Sampling.assignShards(docs(spark, dir), "doc_id", nShards = 32)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** C4 — sequence packing: 8 shards, ~256-token sequences (approx-BPE
    * counts), per-(shard, pack) accounting.
    */
  def c4Pack(spark: SparkSession, dir: String): DataFrame = {
    val withTok = docs(spark, dir).select(col("doc_id"),
      approxBpeCount(tokens(col("text"))).as("tok"))
    Sampling.packSequences(withTok, "doc_id", "tok",
        nShards = 8, budget = 256)
      .groupBy(col("shard_id"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tokens"))
  }

  /** C7 — exact per-source stratified 10% sample: every source keeps
    * ⌊n/10⌋ documents (smallest salted hash first), unlike the
    * Bernoulli c2 whose small strata fluctuate. Reported per source:
    * kept count and kept characters.
    */
  def c7Stratified(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(docs(spark, dir), "doc_id", Seq("source"),
        num = 1, den = 10)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))

  /** C8 — token-budget corpus selection: take documents best-first
    * (n_chars as the quality proxy, doc_id tie-break) until a 25k-token
    * budget is spent; per-language accounting of the selected set.
    * The cutoff is found on per-score aggregates — no global sort.
    */
  def c8BudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("lang"),
      col("n_chars"), approxBpeCount(tokens(col("text"))).as("tok"))
    Sampling.budgetSelect(d, "doc_id", "tok", "n_chars", budget = 25000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"))
  }

  // ---- multimodal ----

  private def media(spark: SparkSession, dir: String): DataFrame =
    Multimodal.synthesize(docs(spark, dir), "doc_id")

  /** M1 — partition-wise decode + feature extraction over binary
    * payloads (decode itself is a deterministic stub — no codecs in the
    * container; the plumbing is real).
    */
  def m1MediaFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(media(spark, dir)).toDF()

  /** M2 — video frame sampling: metadata-only, payload never read. */
  def m2FrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(media(spark, dir), step = 30)

  /** M3 — metadata resize to a 512px bounding box. */
  def m3Resize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizeMeta(media(spark, dir), maxSide = 512)
      .select(col("media_id"), col("width"), col("height"),
        col("out_width"), col("out_height"))

  /** M4 — media near-dup detection by perceptual hash: every media item
    * gets a planted "re-encode" twin (one phash bit flipped, id +10^7 —
    * the fixture phashes are md5-derived, so organic collisions are
    * ~zero), and the generic Hamming-blocking dedup
    * ([[graft.operators.Dedup.hammingPairs]], the SimHash machinery
    * over a media signature) must recover exactly the planted pairs.
    * Same 100 TB shape as d6: constant-width signatures, bucketed
    * join, never all-pairs.
    */
  def m4MediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.decodeFeatures(media(spark, dir)).toDF()
      .select(col("media_id"), col("phash"))
    val twins = feats.select(
      (col("media_id") + lit(10000000L)).as("media_id"),
      col("phash").bitwiseXOR(
        expr("shiftleft(CAST(1 AS BIGINT), CAST(media_id % 56 AS INT))"))
        .as("phash"))
    Dedup.hammingPairs(feats.union(twins), "media_id", "phash",
      width = 56, maxDist = 3)
  }

  /** M5 — REAL image decode end-to-end: genuine JDK-encoded PNG
    * payloads (one per document id) decoded by the production
    * `javax.imageio` path; features are the decoded raster facts.
    * No SQL oracle can re-decode a PNG, so the driver records the
    * rows-only check (the e4/s15 stance); bit-exactness is
    * spec-pinned in MultimodalSpec with known images.
    */
  def m5RealImageDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImageFeatures(
        Multimodal.synthesizeImagePayloads(docs(spark, dir), "doc_id"))
      .toDF()
      .select(col("media_id"), col("width"), col("height"),
        round(col("brightness"), 4).as("brightness"), col("phash"))

  /** M2b — REAL animated-GIF frame sampling end-to-end: genuine
    * multi-frame GIFs (2–6 frames, JDK sequence-written) decoded
    * frame-by-frame by the production `javax.imageio` GIF reader;
    * every 2nd frame is kept and perceptually hashed. The metadata
    * frame-sample (m2) stays oracle-checked; this is the decode leg
    * made real for one container format. Rows-only driver check (no
    * SQL oracle can decode a GIF); bit-exactness spec-pinned in
    * MultimodalSpec against independently re-encoded frames.
    */
  def m2bGifFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeGifFrames(
        Multimodal.synthesizeGifPayloads(docs(spark, dir), "doc_id"),
        step = 2)
      .toDF()
      .select(col("media_id"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"), col("phash"))

  /** M6 — REAL audio decode end-to-end: genuine RIFF/WAVE payloads
    * (16-bit mono sines, id-derived frequency/amplitude) decoded by
    * the production `javax.sound.sampled` path. Rows-only driver
    * check for the same reason as M5; exactness spec-pinned.
    */
  def m6RealAudioDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioFeatures(
        Multimodal.synthesizeAudioPayloads(docs(spark, dir), "doc_id"))
      .toDF()
      .select(col("media_id"), col("sample_rate"), col("channels"),
        col("n_frames"), round(col("rms"), 4).as("rms"),
        round(col("peak"), 4).as("peak"),
        round(col("zero_cross_rate"), 6).as("zero_cross_rate"))

  /** S13 — cross-corpus LSH similarity join: the even-id half of the
    * embedding table probed against the odd-id half (the
    * record-linkage / eval-contamination shape) — only same-bucket
    * cross pairs are scored, then the exact cosine gate applies.
    */
  def s13CrossLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.lshCrossPairs(
      e.filter(pmod(col("vec_id"), lit(2)) === 0),
      e.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", threshold = 0.4)
  }

  // ---- event analytics ----

  /** E9 — top-5 users per event type by activity: the grouped top-k
    * (leaderboard-per-segment) rollup. Counts partial-aggregate
    * map-side; the per-type top-k is the partial-aggregating
    * [[graft.functions.TopKAgg]], so the final exchange carries ≤ k
    * survivors per (task, type) — never the full (type, user) matrix
    * sorted.
    */
  def e9TopUsers(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val topk = udaf(new graft.functions.TopKAgg(5))
    counts.groupBy(col("event_type"))
      .agg(topk(col("cnt").cast("double"), col("user_id")).as("nn"))
      .select(col("event_type"), posexplode(col("nn")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("col._1").cast("long").as("cnt"), col("col._2").as("user_id"))
      .select(col("event_type"), col("rank"), col("user_id"), col("cnt"))
  }

  /** E10 — user-journey transition counts: the (event_type → next
    * event_type) Markov matrix over per-user ordered streams. One hash
    * shuffle on user_id + in-partition sort (the minimum any per-user
    * ordering needs — same budget as sessionization), then a
    * partial-aggregated count per transition pair; the matrix is
    * |event_types|² rows regardless of corpus size.
    */
  def e10Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.load(spark, dir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** E1 — batch sessionization (30-min gap) over the events table. */
  def e1Sessionize(spark: SparkSession, dir: String): DataFrame =
    Events.sessionizeBatch(Tables.load(spark, dir, "events"), gapMinutes = 30)

  /** E11 — sessionization by the NATIVE session_window operator (the
    * one the streaming path runs continuously), under the oracle: the
    * half-open [first, last+gap) window contract, counts per merged
    * per-user session. Complements e1, which pins the window-function
    * formulation of the same analysis.
    */
  def e11SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Events.sessionizeNative(Tables.load(spark, dir, "events"))

  /** E2 — tumbling-hour rollup: events + distinct users per hour. */
  def e2Hourly(spark: SparkSession, dir: String): DataFrame =
    Events.hourlyBatch(Tables.load(spark, dir, "events"))

  /** E12 — SLIDING-window rollup (2 h windows every 1 h): each event
    * feeds two overlapping windows. Spark's `window()` expands the
    * slide map-side (each row emits its ⌈len/slide⌉ window starts
    * before the one hash-shuffle on the window key), so overlap
    * multiplies mapper output width, never adds passes or shuffles —
    * the standard trend-smoothing companion to e2's tumbling hour.
    * Epoch-aligned starts; exact distinct users per window.
    */
  def e12Sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("cnt"),
        count_distinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("cnt"), col("n_users"))

  /** E3 — per-type order statistics incl. exact interpolated median. */
  def e3Stats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        percentile(col("value"), lit(0.5)).as("median_v"))

  /** E5 — hourly × event-type PIVOT (the wide-activity-matrix shape):
    * one shuffle on the hour key; the pivot columns are map-side
    * conditional partial aggregates, so width doesn't add shuffles.
    * Explicit value list — at scale an implicit pivot would need a
    * distinct-values pre-pass and nondeterministic column order.
    */
  def e5Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("hour", expr("unix_micros(ts) div 3600000000"))
      .groupBy(col("hour"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("hour"), col("click").as("n_click"),
        col("error").as("n_error"), col("purchase").as("n_purchase"),
        col("signup").as("n_signup"), col("view").as("n_view"))

  /** E7 — ordered funnel: users by deepest strictly-ordered
    * view → click → purchase progression. One shuffle on user_id; each
    * stage is a running conditional MIN over the same sorted window.
    * The fixture is deterministically sparsified (event_id % 17 = 0,
    * ~6%) so per-user histories are short and the depth distribution is
    * non-degenerate — on the full table every user trivially completes
    * the funnel.
    */
  def e7Funnel(spark: SparkSession, dir: String): DataFrame =
    Events.funnelBatch(Tables.load(spark, dir, "events")
      .filter(pmod(col("event_id"), lit(17)) === 0))

  /** E8 — daily cohort retention triangle: distinct active users per
    * (first-activity-day cohort, day offset). Exact integer epoch-day
    * arithmetic end to end.
    */
  def e8Retention(spark: SparkSession, dir: String): DataFrame =
    Events.cohortRetention(Tables.load(spark, dir, "events"))

  /** E4 — the 100 TB path for e3's exact percentiles: mergeable
    * constant-memory quantile sketches (`percentile_approx`) +
    * HLL distinct counts (`approx_count_distinct`) — partial-aggregated
    * map-side, no full per-group sort at any scale. No DuckDB oracle
    * (sketch internals are engine-specific): the driver records the
    * rows-only check; `SketchSpec` bounds the error against the exact
    * answers.
    */
  /** E6 — semi-structured property extraction: pull the integer `k` out
    * of the JSON `props` column and aggregate per event type. The
    * extraction is a codegen'd path expression evaluated in the scan
    * projection — no UDF, no intermediate parse table; `n_k` counts the
    * rows where the key was present.
    */
  def e6JsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  def e4SketchStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95"),
        percentile_approx(col("value"), lit(0.99), lit(10000)).as("p99"))
}
