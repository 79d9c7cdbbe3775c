package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Packing

/** Sequence packing ([[graft.operators.Packing]]) — the training-batch
  * assembly ops: concat-and-split chunking (exact spans, two-pass
  * distributed prefix sum) and boundary-preserving first-fit-decreasing
  * bin packing (invariants + exact small-fixture behavior).
  */
class PackingSpec extends AnyFunSuite with SparkSpec {

  private def docsDf(lens: Seq[Long]) = {
    import spark.implicits._
    lens.zipWithIndex.map { case (n, i) => (i.toLong + 1, n) }
      .toDF("doc_id", "toks")
  }

  test("tokenOffsets: exact global prefix sum across many partitions") {
    val lens = Seq.tabulate(200)(i => (i % 7 + 1).toLong)
    val got = Packing.tokenOffsets(docsDf(lens), col("toks"), buckets = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    val expect = lens.scanLeft(0L)(_ + _).init.zipWithIndex
      .map { case (s, i) => (i.toLong + 1, s) }
    assert(got == expect)
  }

  test("packChunks: spans tile the stream exactly, chunk-aligned") {
    // 10 + 250 + 300 tokens, chunks of 256:
    //   doc 1 [0,10)   → chunk 0 off 0 len 10
    //   doc 2 [10,260) → chunk 0 off 0 len 246; chunk 1 off 246 len 4
    //   doc 3 [260,560)→ chunk 1 off 0 len 252; chunk 2 off 252 len 48
    val got = Packing.packChunks(docsDf(Seq(10L, 250L, 300L)),
        col("toks"), chunkLen = 256L, buckets = 4)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (0L, 1L, 0L, 10L),
      (0L, 2L, 0L, 246L), (1L, 2L, 246L, 4L),
      (1L, 3L, 0L, 252L), (2L, 3L, 252L, 48L)))
  }

  test("packChunks invariants at scale shape: every token exactly once, " +
      "every chunk (but the last) full") {
    val lens = Seq.tabulate(500)(i => (i * 37 % 113 + 1).toLong)
    val spans = Packing.packChunks(docsDf(lens), col("toks"),
      chunkLen = 64L, buckets = 8)
    val total = lens.sum
    assert(spans.agg(sum("len")).head().getLong(0) == total)
    val perChunk = spans.groupBy("chunk_id").agg(sum("len").as("n"))
      .orderBy("chunk_id").collect().map(_.getLong(1)).toSeq
    assert(perChunk.init.forall(_ == 64L))
    assert(perChunk.last == total - 64L * (perChunk.size - 1))
    // empty docs occupy no span
    assert(Packing.packChunks(docsDf(Seq(0L, 5L, 0L)), col("toks"), 8L, 2)
      .select("doc_id").distinct().count() == 1)
  }

  test("packBinsFFD: invariants — each doc once, no bin over capacity, " +
      "FFD fill on a known fixture") {
    val lens = Seq.tabulate(300)(i => (i * 53 % 400 + 1).toLong)
    val out = Packing.packBinsFFD(docsDf(lens), col("toks"),
      binLen = 512L, shards = 4).cache()
    assert(out.select("doc_id").distinct().count() == 300)
    val overfull = out.groupBy("shard", "bin").agg(sum("toks").as("fill"))
      .filter(col("fill") > 512L).count()
    assert(overfull == 0)
    // FFD within one shard on a hand-checked fixture: 500, 300, 212,
    // 200, 100 into 512-bins → [500], [300+212], [200+100] = 3 bins
    import spark.implicits._
    val one = Seq((1L, 500L), (2L, 300L), (3L, 212L), (4L, 200L),
        (5L, 100L)).toDF("doc_id", "toks")
    val packed = Packing.packBinsFFD(one, col("toks"), 512L, shards = 1)
      .groupBy("bin").agg(sum("toks").as("fill"), count(lit(1)).as("n"))
      .orderBy("bin").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(packed == Seq((500L, 1L), (512L, 2L), (300L, 2L)))
  }

  test("packBinsFFD refuses a zero-token doc instead of silently " +
      "dropping it (every doc lands in exactly one bin)") {
    val e = intercept[org.apache.spark.SparkException] {
      Packing.packBinsFFD(docsDf(Seq(3L, 0L)), col("toks"),
        binLen = 8L, shards = 2).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("non-positive token count")))
  }

  test("packBinsFFD refuses a doc longer than the bin capacity") {
    val e = intercept[org.apache.spark.SparkException] {
      Packing.packBinsFFD(docsDf(Seq(100L, 600L)), col("toks"),
        binLen = 512L, shards = 2).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("refusing to truncate")))
  }

  test("exact small fixture: 4+2+5 tokens into windows of 5, FFD bins " +
      "of capacity 6") {
    import spark.implicits._
    val corpus = Seq((1L, "the quick brown fox"), (2L, "jumps over"),
      (3L, "the lazy dog and naps")).toDF("doc_id", "text")
    val toks = size(split($"text", " "))
    val chunks = Packing.packChunks(corpus, toks, chunkLen = 5L, buckets = 2)
      .orderBy("chunk_id", "doc_id")
      .collect().map(r => s"c${r.getLong(0)}:d${r.getLong(1)}" +
        s"[${r.getLong(2)},+${r.getLong(3)})").mkString(" ")
    assert(chunks == "c0:d1[0,+4) c0:d2[0,+1) c1:d2[1,+1) c1:d3[0,+4) " +
      "c2:d3[4,+1)")
    // first-fit decreasing: 5 | 4+2
    val bins = Packing.packBinsFFD(corpus, toks, binLen = 6L, shards = 1)
      .groupBy("bin").count().orderBy("bin")
      .collect().map(r => s"b${r.getLong(0)}=${r.getLong(1)}docs")
      .mkString(" ")
    assert(bins == "b0=1docs b1=2docs")
  }
}
