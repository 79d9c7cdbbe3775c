package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class OrderEvent(order_key: Long, cust_key: Option[Int],
                      total_price: Double, order_date: java.sql.Date,
                      order_priority: String, clerk: String)

class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def mkOrders(n: Int): Seq[OrderEvent] = {
    val rnd = new scala.util.Random(11)
    (0 until n).map { i =>
      OrderEvent(i.toLong,
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(20)),
        1.0 + rnd.nextInt(999000) / 1000.0,
        java.sql.Date.valueOf("2026-08-01"), "low", s"Clerk${i % 4}")
    }
  }

  test("streaming first-occurrence dedup drops dups within and across batches") {
    import graft.streaming.StreamDedup
    val src = MemoryStream[OrderEvent]
    val out = StreamDedup.firstOccurrence[OrderEvent](
      src.toDS(), e => e.order_key.toString)
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    val e = mkOrders(3)
    src.addData(e(0), e(0), e(1))   // dup within batch
    q.processAllAvailable()
    src.addData(e(0), e(2))         // dup across batches
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup").select("order_key")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keys == Seq(0L, 1L, 2L))
  }

  test("corpus pipeline: stream dedup + quality gate + profiling + tiered sink") {
    import graft.streaming.{CorpusDoc, CorpusPipeline}
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val p = new CorpusPipeline(spark, dir)
    val src = MemoryStream[CorpusDoc]
    val q = p.start(src.toDF(), s"$dir/ckpt", minTokens = 3)
    src.addData(
      CorpusDoc(1L, "the quick brown fox jumps", "en", "web"),
      CorpusDoc(2L, "the quick brown fox jumps", "en", "web"), // dup of 1
      CorpusDoc(3L, "too short", "en", "web"))                 // quality reject
    q.processAllAvailable()
    src.addData(
      CorpusDoc(4L, "the quick brown fox jumps", "en", "crawl"), // dup across batches
      CorpusDoc(5L, "a completely different document here", "en", "crawl"))
    q.processAllAvailable()
    q.stop()
    // clean corpus: unique, quality-passing docs, profiled
    val clean = p.corpus.readUnion()
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 5L))
    assert(clean.columns.toSet.contains("lang_pred") &&
      clean.columns.toSet.contains("approx_bpe"))
    assert(clean.filter(col("lang_pred") === "en").count() == 2)
    // rejects are quarantined, not silently dropped
    assert(p.rejects.readUnion().select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // the streaming sink is immediately addressable by the batch dedup ops
    assert(graft.operators.Dedup.exact(clean, "doc_id", "text").count() == 2)
  }

  test("streaming near-dup stage: union of incremental pair batches == full recompute") {
    import graft.streaming.{CorpusDoc, CorpusPipeline}
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val p = new CorpusPipeline(spark, dir)
    val src = MemoryStream[CorpusDoc]
    val q = p.start(src.toDF(), s"$dir/ckpt", minTokens = 3, nearDup = true)
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"
    src.addData(
      CorpusDoc(1L, base, "en", "web"),
      CorpusDoc(2L, "one two three four five six seven eight nine ten", "en", "web"))
    q.processAllAvailable()
    src.addData(
      // near-dup of 1 ACROSS batches (exact dups never reach this stage
      // — firstOccurrence eats them): one appended word, Jaccard 18/20
      CorpusDoc(3L, base + " extra", "en", "crawl"),
      CorpusDoc(4L, "totally different content in this very document here", "en", "crawl"))
    q.processAllAvailable()
    q.stop()

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val incremental = pairSet(p.nearDups.readUnion())
    // the cross-batch planted pair came out of the standing index, not
    // batch-local data
    assert(incremental.contains((1L, 3L)))
    // THE contract: batches of incremental pairs sum to exactly the full
    // corpus recompute — nothing missed at batch boundaries, nothing
    // duplicated
    val full = pairSet(graft.operators.Dedup.minhashLshPairs(
      p.corpus.readUnion(), "doc_id", "text"))
    assert(incremental == full)
    // the index holds every accepted doc's vectors for the next batch,
    // and the band index carries `bands` signature rows per doc (what
    // the broadcast probe scans instead of re-hashing the corpus)
    assert(p.vectors.readUnion().select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    assert(p.bandsIdx.readUnion().count() == 16) // 4 docs × 4 bands
  }

  test("dropDuplicatesWithinWatermark drops key dups inside the watermark") {
    import java.sql.Timestamp
    val src = MemoryStream[Ev]
    def ev(id: Long, user: Long, minute: Int) =
      Ev(id, user, new Timestamp(1700000000000L + minute * 60000L), "click")
    val out = src.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = out.writeStream.format("memory").queryName("ddww")
      .outputMode("append").start()
    src.addData(ev(1, 1, 0), ev(1, 1, 1), ev(2, 1, 2))  // dup of key 1 in-batch
    q.processAllAvailable()
    src.addData(ev(2, 2, 3), ev(3, 1, 4))               // dup of key 2 across batches
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ddww").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("stream-stream interval join pairs clicks with errors within 5 minutes") {
    import java.sql.Timestamp
    val clicks = MemoryStream[Ev]
    val errs = MemoryStream[Ev]
    def ev(id: Long, user: Long, minute: Int, typ: String) =
      Ev(id, user, new Timestamp(1700000000000L + minute * 60000L), typ)
    // both sides watermarked; the time-range condition bounds join state
    val c = clicks.toDF().withWatermark("ts", "10 minutes").alias("c")
    val e = errs.toDF().withWatermark("ts", "10 minutes").alias("e")
    val joined = c.join(e,
      expr("""c.user_id = e.user_id AND
              e.ts BETWEEN c.ts - interval 5 minutes AND c.ts"""))
      .select(col("c.event_id").as("click_id"), col("e.event_id").as("err_id"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    errs.addData(ev(100, 1, 0, "error"),   // 3 min before u1's click: joins
                 ev(101, 2, 0, "error"))   // wrong user: no join
    clicks.addData(ev(1, 1, 3, "click"),
                   ev(2, 1, 20, "click"))  // 20 min after the error: outside range
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L)))
  }
}
