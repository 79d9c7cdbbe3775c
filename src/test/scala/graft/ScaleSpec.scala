package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs the scale harness at 2× over sf0.001 and checks its answers:
  * every measurement prints one strict-JSON line, and the structural
  * claims SCALING.md quotes at 10× and 100× (files kept, files opened,
  * exchanges, parquet scans, recall) already hold at this size.
  */
class ScaleSpec extends AnyFunSuite with SparkSpec {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.parse

  private val sfDir = "/root/testdata/sf0.001"

  test("every section prints its lines and keeps its structural claims at 2x") {
    val lines = Scale.run(spark, sfDir, copies = 2, Scale.Sections)
    val byMetric = lines.map { l =>
      val j = parse(l)
      val JString(metric) = j \ "metric"
      metric -> j
    }.toMap
    assert(byMetric.size == lines.size, lines.mkString("\n"))
    val expected = Seq("d3_pairs", "d6_simhash_pairs", "d8_chunk_dedup",
      "d4_bucket_histogram", "d4_lsh", "d10_incremental", "d10_incr_indexed",
      "c13_pack_chunks", "c14_pack_bins", "mor_resolve", "q13_skip",
      "q16_meta_agg", "q17_bloom", "spj_join", "ivm_repair",
      "t8_df_histogram", "t8_tfidf", "t9_bigram_histogram", "t9_bigram",
      "t6_repetition",
      "s2_bucket_histogram", "s2_lsh", "s4_cell_histogram", "s4_ivf_q50",
      "s4_ivf_q500", "lakehouse_mor_v2", "lakehouse_mor_v3").map(_ + "_2x") ++
      Seq("q13_skip_1x", "iceberg_export_curve")
    assert(expected.toSet == byMetric.keySet, lines.mkString("\n"))

    def long(metric: String, field: String): BigInt = byMetric(metric) \ field match {
      case JInt(n) => n
      case other => fail(s"$metric.$field is $other")
    }
    for (m <- Seq("q13_skip_1x", "q13_skip_2x"))
      assert(long(m, "files_kept") < long(m, "files_total"), byMetric(m))
    assert(long("q16_meta_agg_2x", "files_opened") == 0)
    assert(long("spj_join_2x", "spj_exchanges") == 0)
    assert(long("spj_join_2x", "shuffle_exchanges") == 2)
    assert(long("lakehouse_mor_v2_2x", "parquet_scans") == 2)
    assert(long("lakehouse_mor_v3_2x", "parquet_scans") == 1)
    for (m <- Seq("s4_ivf_q50_2x", "s4_ivf_q500_2x")) {
      assert(long(m, "queries") > 0)
      assert(byMetric(m) \ "recall_at_10" match {
        case JDouble(r) => r >= 0 && r <= 1
        case _ => false
      }, byMetric(m))
    }
  }

  test("an unknown section is refused before anything runs") {
    val e = intercept[IllegalArgumentException](
      Scale.run(spark, sfDir, copies = 2, Seq("lsh", "nope")))
    assert(e.getMessage.contains("nope"))
  }
}
