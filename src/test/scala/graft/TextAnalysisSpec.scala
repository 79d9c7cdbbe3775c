package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.CorpusKernelSpec.shingles
import graft.functions.TextAnalysis._
import graft.functions.TextFunctions._

class TextAnalysisSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("shingles: n-grams of tokens, distinct, empty below n tokens") {
    val got = Seq("a b c d", "a b", "x x x x")
      .toDF("t")
      .select(shingles(tokens(col("t")), 3).as("s"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq("x x x"))
  }

  test("language ID: marker hits + deterministic argmax") {
    val df = Seq(
      (1L, "the cat is in the hat"),     // en markers
      (2L, "el que de la y en"),         // es markers
      (3L, "zzz qqq www"),               // none → und
    ).toDF("doc_id", "text")
    val t = tokens(col("text"))
    val Seq(en, es, fr, de) = langHits(t).map(_._2)
    val got = df.select(col("doc_id"), langPred(en, es, fr, de).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("token counting: whitespace, regex, approx-BPE") {
    val df = Seq("hello world abc").toDF("text")
    val got = df.select(
      wsTokenCount(col("text")).as("ws"),
      regexTokenCount(col("text")).as("re"),
      approxBpeCount(tokens(col("text"))).as("bpe")).head()
    assert(got.getInt(0) == 3)
    assert(got.getInt(1) == 3)
    // ceil(5/4)+ceil(5/4)+ceil(3/4) = 2+2+1
    assert(got.getLong(2) == 5L)
  }

  test("rolling fingerprint is order-sensitive; identical text agrees") {
    val got = Seq("a b c", "c b a", "a b c")
      .toDF("text")
      .select(rollingFingerprint(tokens(col("text"))).as("fp"))
      .as[Long].collect()
    assert(got(0) == got(2))
    assert(got(0) != got(1))
  }

  test("hash60 is non-negative and stable") {
    val h = Seq("hello").toDF("s").select(hash60(col("s"))).as[Long].head()
    assert(h == 419982666956583591L) // = conv(substr(md5('hello'),1,15),16,10)
  }

  test("repetition: repeated 5-grams raise rep_bp, unique text scores 0") {
    val docs = Seq(
      (1L, "a b c d e a b c d e a b c d e"), // 15 toks, 11 windows, lots repeated
      (2L, "one two three four five six seven"), // all windows distinct
      (3L, "tiny doc") // fewer than 5 tokens → 0 windows
    ).toDF("doc_id", "text")
    // the t6 query's own columns over an in-memory frame
    val got = graft.queries.Pipeline.repetition(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: 11 windows over a period-5 cycle → 5 distinct
    assert(got(1L) == ((11L, 5L, (11L - 5L) * 10000L / 11L)))
    assert(got(2L) == ((3L, 3L, 0L)))
    assert(got(3L) == ((0L, 0L, 0L)))
  }

  test("graft_shingle_hashes from SQL equals the unfused expression chain") {
    graft.functions.GraftFunctions.register(spark)
    Seq((1L, "a b c d"), (2L, "a b a b a b"), (3L, "x"))
      .toDF("doc_id", "text").createOrReplaceTempView("sh_sql")
    val sql = spark.sql(
      "SELECT doc_id, graft_shingle_hashes(split(text, ' '), 2) AS h FROM sh_sql")
      .as[(Long, Seq[Long])].collect().toMap
    val chain = Seq((1L, "a b c d"), (2L, "a b a b a b"), (3L, "x"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), sort_array(array_distinct(
        transform(shingles(tokens(col("text")), 2), s => hash60(s)))).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sql == chain)
    assert(sql(1L).length == 3 && sql(2L).length == 2 && sql(3L).isEmpty)
    // null elements are skipped like concat_ws — no NPE from SQL input
    val withNull = spark.sql(
      "SELECT graft_shingle_hashes(array('a', CAST(NULL AS STRING), 'b'), 2) AS h")
      .as[Seq[Long]].head()
    val expect = spark.sql(
      """SELECT array_sort(array_distinct(transform(
        |  array(concat_ws(' ', 'a', CAST(NULL AS STRING)),
        |        concat_ws(' ', CAST(NULL AS STRING), 'b')),
        |  s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)))) AS h""".stripMargin)
      .as[Seq[Long]].head()
    assert(withNull == expect)
  }

  test("TopKStrAgg keeps (score desc, key asc) order through partial merges") {
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKStrAgg(3))
    val rows = Seq(
      (1L, 5.0, "zebra"), (1L, 5.0, "apple"), (1L, 9.0, "mid"),
      (1L, 1.0, "low"), (2L, 2.0, "only")
    ).toDF("g", "score", "word").repartition(4) // force partial merges
    val got = rows.groupBy(col("g")).agg(topk(col("score"), col("word")).as("k"))
      .as[(Long, Seq[(Double, String)])].collect().toMap
    assert(got(1L) == Seq((9.0, "mid"), (5.0, "apple"), (5.0, "zebra")))
    assert(got(2L) == Seq((2.0, "only")))
  }

  test("bigram fluency counts ordered bigrams with multiplicity") {
    // mirror t9's map-side bigram construction over a tiny corpus
    val t = tokens(col("text"))
    val bi = zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => hash60(concat(a, lit(" "), b)))
    val docBi = Seq(
      (1L, "a b a b"),  // bigrams: (a b), (b a), (a b) — "a b" twice
      (2L, "a b"),      // bigram (a b) once
      (3L, "solo")      // no bigrams → absent
    ).toDF("doc_id", "text").select(col("doc_id"), explode(bi).as("bh"))
    val counts = docBi.groupBy(col("bh")).agg(count(lit(1)).as("cnt"))
    val got = docBi.join(counts, Seq("bh")).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("f"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // corpus counts: "a b" ×3, "b a" ×1
    assert(got == Map(1L -> ((3L, 3L + 1L + 3L)), 2L -> ((1L, 3L))))
  }

  test("boilerplate incidence counts docs carrying a top gram, per group") {
    val boiler = "this page is served from cache today" // 7 toks → 3 5-grams
    val docs = Seq(
      (1L, s"alpha beta $boiler", "a"),
      (2L, s"$boiler gamma delta", "a"),
      (3L, s"unrelated words entirely here now definitely", "a"),
      (4L, s"other prefix then $boiler", "b")
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.Boilerplate
      .incidence(docs, "doc_id", "text", "source", n = 5, k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the 3 most document-frequent 5-grams are the shared boilerplate
    // ones (df 3) — docs 1, 2, 4 carry them; doc 3 does not
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }

  test("t11 gopher rules: pass is the exact conjunction, both outcomes occur") {
    val out = graft.queries.Pipeline
      .t11GopherRules(spark, "/root/testdata/sf0.001")
      .select("doc_id", "r_len", "r_mean_len", "r_symbol", "r_stop",
        "r_alpha", "pass")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val conj = (1 to 5).map(r.getLong).product
      assert(r.getLong(6) == conj, s"pass != conjunction for doc ${r.getLong(0)}")
    }
    val passes = out.count(_.getLong(6) == 1L)
    assert(passes > 0 && passes < out.length,
      "rule bounds should split the fixture corpus, not rubber-stamp it")
  }

  test("t12 normalization: lower/collapse/trim is idempotent; charset counts partition") {
    import spark.implicits._
    def norm(c: org.apache.spark.sql.Column) =
      trim(regexp_replace(lower(c), "\\s+", " "))
    val df = Seq((1L, "  Hello,\t\tWORLD!!  this   is\n a Test  "),
                 (2L, "already normal text"),
                 (3L, "123  MIXED\r\n456")).toDF("doc_id", "text")
    val once = df.select(col("doc_id"), norm(col("text")).as("t"))
    val t1 = once.orderBy("doc_id").as[(Long, String)].collect()
    assert(t1(0)._2 == "hello, world!! this is a test")
    assert(t1(1)._2 == "already normal text")
    assert(t1(2)._2 == "123 mixed 456")
    // idempotent: normalizing a normalized text is the identity
    val twice = once.select(col("doc_id"), norm(col("t")).as("t"))
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(twice.toSeq == t1.toSeq)
    // the three charset counters partition the normalized length
    val counted = graft.queries.Pipeline
      .t12Normalize(spark, "/root/testdata/sf0.001").collect()
    assert(counted.nonEmpty)
    counted.foreach { r =>
      assert(r.getLong(2) == r.getLong(3) + r.getLong(4) + r.getLong(5),
        s"alnum+space+other != length for doc ${r.getLong(0)}")
    }
  }
}
