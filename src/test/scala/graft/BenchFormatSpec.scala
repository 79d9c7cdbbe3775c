package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver-parse contract of graft.Bench's output: the
  * trailing summary line must be strict one-line JSON regardless of
  * platform locale, short enough to survive bounded tail capture, and
  * numerically consistent with the per-query line. A malformed or
  * truncation-prone bench line cost rounds 1-4 their machine-readable
  * perf signal — this spec makes the format a tested invariant instead
  * of a hope.
  */
class BenchFormatSpec extends AnyFunSuite with SparkSpec {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.parse

  private val results = Map("q1" -> 0.25, "q2" -> 1.75, "q3" -> 0.5)

  test("summary line is one short strict-JSON line with the right fields") {
    val line = Bench.summaryLine(results, "/data/sf0.1")
    assert(!line.contains("\n"))
    assert(line.length < 200, "must survive any bounded tail capture")
    val j = parse(line)
    assert((j \ "metric") == JString("total"))
    assert((j \ "unit") == JString("sec"))
    assert((j \ "sf") == JString("/data/sf0.1"))
    val JDouble(total) = j \ "value"
    val JDouble(mx) = j \ "max"
    val JInt(n) = j \ "n"
    assert(math.abs(total - 2.5) < 1e-9 && math.abs(mx - 1.75) < 1e-9)
    assert(n == 3)
  }

  test("summary line stays valid JSON under a comma-decimal locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = Bench.summaryLine(results, "/d")
      // under Locale.GERMANY a locale-sensitive %.3f renders "2,500"
      assert(line.contains("\"value\":2.500"), s"comma decimal leaked: $line")
      val JDouble(total) = parse(line) \ "value"
      assert(math.abs(total - 2.5) < 1e-9)
    } finally java.util.Locale.setDefault(saved)
  }

  test("chunked query lines are short, strict JSON, and reassemble the full map") {
    // 30 queries → multiple parts; every line must stay under ~1 KB so
    // a bounded TAIL capture keeps whole lines, and the union of parts
    // must reproduce every (query, time) pair.
    val many = (1 to 30).map(i => f"q$i%02d" -> i * 0.125).toMap
    val lines = Bench.chunkedQueryLines(many, "/d")
    assert(lines.size > 1)
    val reassembled = lines.flatMap { l =>
      assert(!l.contains("\n") && l.length < 1024, s"line too long: $l")
      val j = parse(l)
      assert((j \ "metric") == JString("queries_part"))
      val JInt(parts) = j \ "parts"
      assert(parts == lines.size)
      val JObject(qs) = j \ "queries"
      qs.map { case (k, v) => k -> v.asInstanceOf[JDouble].num }
    }.toMap
    assert(reassembled.keySet == many.keySet)
    for ((k, v) <- many)
      assert(math.abs(reassembled(k) - v) < 5e-4, s"$k drifted")
  }

  test("spread line is short strict JSON carrying every pass total") {
    val p2 = Map("q1" -> 0.30, "q2" -> 1.50, "q3" -> 0.45)
    val p3 = Map("q1" -> 0.28, "q2" -> 1.40, "q3" -> 0.40)
    val line = Bench.spreadLine(Seq(results, p2, p3), "/data/sf0.1")
    assert(!line.contains("\n") && line.length < 200)
    val j = parse(line)
    assert((j \ "metric") == JString("pass_spread"))
    val JDouble(a) = j \ "pass1"
    val JDouble(b) = j \ "pass2"
    val JDouble(c) = j \ "pass3"
    assert(math.abs(a - 2.5) < 1e-9 && math.abs(b - 2.25) < 1e-9 &&
      math.abs(c - 2.08) < 1e-9)
    assert((j \ "sf") == JString("/data/sf0.1"))
  }

  test("per-query line parses and agrees with the summary") {
    val line = Bench.perQueryLine(results, "/d")
    val j = parse(line)
    val JObject(qs) = j \ "queries"
    assert(qs.map(_._1).toSet == Set("q1", "q2", "q3"))
    val JDouble(total) = j \ "value"
    assert(math.abs(total - 2.5) < 1e-9)
    // empty result set still yields parseable lines
    assert((parse(Bench.summaryLine(Map.empty, "/d")) \ "n") == JInt(0))
    val JDouble(z) = parse(Bench.perQueryLine(Map.empty, "/d")) \ "value"
    assert(z == 0.0)
  }

  test("a pass over two queries, one of which throws, gives failed = 1 " +
      "and a total that excludes the failed query") {
    var calls = 0
    val queries: Seq[(String, Bench.Query)] = Seq(
      "ok" -> ((s, _) => s.range(10).toDF("id")),
      // throws in the second pass only
      "flaky" -> { (s, _) =>
        calls += 1
        if (calls == 2) throw new IllegalStateException("boom")
        s.range(5).toDF("id")
      })
    val out = Bench.run(spark, "/unused", queries, passes = 2)
    assert(out.failed.keySet == Set("flaky") && out.failed("flaky").contains("boom"))
    assert(out.best.keySet == Set("ok"))
    assert(out.passes.size == 2 && out.passes.forall(_.keySet == Set("ok")))
    val summary = parse(Bench.summaryLine(out.times, "/d", out.failed.size))
    assert((summary \ "failed") == JInt(1) && (summary \ "n") == JInt(1))
    val JDouble(total) = summary \ "value"
    assert(math.abs(total - out.best("ok").wallS) < 5e-4)
    // the full carrier keeps the error and the kept pass's sample
    val full = parse(Bench.perQueryLine(out.times, "/d", out.best, out.failed))
    assert((full \ "failed" \ "flaky").isInstanceOf[JString])
    assert((full \ "samples" \ "ok" \ "jobs") == JInt(out.best("ok").jobs))
    assert((full \ "queries" \ "flaky") == JNothing)
  }
}
