package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.functions.expressions.{DistinctWindows, SortedIntersectSize}
import graft.operators.Similarity

/** The corpus-operator kernels against the expression chains and joins
  * they replace: the distinct-window count (t6) against
  * `size(shingles(toks, n))`, the sorted-set intersection (Jaccard
  * verification) against `size(array_intersect(a, b))`, and the
  * per-bucket LSH pair generator against the bucket self-join with its
  * first-collision and cosine filters.
  */
class CorpusKernelSpec extends AnyFunSuite with SparkSpec {
  import CorpusKernelSpec._

  private def check(prop: Prop, tests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(tests), prop)
    assert(res.passed, res.status.toString)
  }

  // tokens drawn from a tiny vocabulary so windows repeat; "" is what a
  // double space splits into, tokens with spaces can join two windows
  // to one string, and the multibyte ones are 2-, 3- and 4-byte UTF-8
  private val token: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("a", "b", "c"), 2 -> Gen.const(""),
    2 -> Gen.oneOf("a b", "b c", " a", "c "),
    2 -> Gen.oneOf("é", "日本", "😀"), 1 -> Gen.const(null: String))
  private val tokenArray: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(null: Seq[String]), 2 -> Gen.choose(0, 4).flatMap(Gen.listOfN(_, token)),
    8 -> Gen.choose(5, 40).flatMap(Gen.listOfN(_, token)))

  /** The string reference: distinct concat_ws of every n-window. */
  private def windowsRef(toks: Seq[String], n: Int): Long =
    if (toks == null || toks.length < n) 0L
    else toks.sliding(n).map(_.filter(_ != null).mkString(" ")).toSet.size.toLong

  test("distinct-window kernel equals the string count on generated arrays") {
    check(Prop.forAll(tokenArray, Gen.choose(1, 6)) { (toks, n) =>
      val lit = Literal.create(
        if (toks == null) null
        else ArrayData.toArrayData(toks.map(t =>
          if (t == null) null else UTF8String.fromString(t)).toArray),
        ArrayType(StringType))
      DistinctWindows(lit, n).eval(null) == windowsRef(toks, n)
    }, 2000)
  }

  test("distinct-window column equals size(shingles(toks, n)), and " +
       "shingle hashes equal the unfused chain, on generated arrays") {
    import spark.implicits._
    val rows = Gen.listOfN(300, tokenArray).apply(
      Gen.Parameters.default, org.scalacheck.rng.Seed(8L)).get
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("i", "toks")
    for (n <- Seq(2, 5)) {
      val t = col("toks")
      val got = df.select(
          (distinctWindows(t, n) === size(shingles(t, n)).cast("long")).as("w"),
          (coalesce(shingleHashes(t, n), array().cast("array<bigint>")) ===
            sort_array(array_distinct(transform(shingles(t, n), s => hash60(s)))))
            .as("h"))
        .collect()
      assert(got.forall(_.getBoolean(0)), s"window counts differ at n=$n")
      assert(got.forall(_.getBoolean(1)), s"shingle hashes differ at n=$n")
    }
  }

  test("distinct-window count over SQL arrays: null elements skip like " +
       "concat_ws, null and short arrays count 0") {
    spark.sql(
      """SELECT * FROM VALUES
        |  (array('a', NULL, 'b', 'a', NULL, 'b')),
        |  (array(CAST(NULL AS STRING), NULL, NULL, 'x')),
        |  (array('a b', 'c', 'a', 'b c', 'a', 'b', 'c')),
        |  (array('', '', 'a', '', '')),
        |  (array('x')),
        |  (CAST(NULL AS ARRAY<STRING>)) AS v(toks)""".stripMargin)
      .createOrReplaceTempView("dw_sql")
    val got = spark.table("dw_sql").select(
        distinctWindows(col("toks"), 2).as("k"),
        size(shingles(col("toks"), 2)).cast("long").as("ref"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (k, ref) => k == ref }, got.mkString(" "))
    // row 1: "a", "b", "b a" (nulls skipped); row 2: "" (all null), "x";
    // row 3: "a b c" twice from different token splits; row 4: " ", " a", "a "
    assert(got.map(_._1).toSeq == Seq(3L, 2L, 5L, 3L, 0L, 0L))
  }

  private val sortedSet: Gen[Array[Long]] = Gen.frequency(
    1 -> Gen.const(Array.emptyLongArray),
    6 -> Gen.listOf(Gen.choose(-20L, 60L)).map(_.distinct.sorted.toArray),
    2 -> Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
      .map(_.distinct.sorted.toArray))

  test("sorted-intersection kernel equals size(array_intersect) on " +
       "generated ascending sets") {
    check(Prop.forAll(sortedSet, sortedSet) { (a, b) =>
      SortedIntersectSize.compute(ArrayData.toArrayData(a),
        ArrayData.toArrayData(b)) == a.intersect(b).length.toLong
    }, 2000)
    import spark.implicits._
    val pairs = Gen.listOfN(400, Gen.zip(sortedSet, sortedSet)).apply(
      Gen.Parameters.default, org.scalacheck.rng.Seed(9L)).get
    val got = pairs.map { case (a, b) => (a.toSeq, b.toSeq) }.toDF("a", "b")
      .select((sortedIntersectSize(col("a"), col("b")) ===
        size(array_intersect(col("a"), col("b"))).cast("long")).as("eq"))
      .collect()
    assert(got.length == 400 && got.forall(_.getBoolean(0)))
  }

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def pairList(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("LSH bucket generator equals the bucket self-join on sf0.001 " +
       "embeddings") {
    // the s2 geometry (planes derived from the corpus) at a lower
    // threshold, so more candidates reach the cosine gate
    val p = Similarity.planesForCorpus(emb)
    val ref = pairList(joinForm(lshBucketsRef(emb, p), None, 0.3))
    val got = pairList(Similarity.lshNearDupPairs(emb, "vec_id",
      "embedding", threshold = 0.3))
    assert(ref.nonEmpty)
    assert(got == ref)
  }

  test("LSH bucket generator equals the cross join form on sf0.001 " +
       "embeddings") {
    val a = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    val b = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val ref = pairList(joinForm(lshBucketsRef(a, 5), Some(lshBucketsRef(b, 5)), 0.2))
    val got = pairList(Similarity.lshCrossPairs(a, b, "vec_id", "embedding",
      threshold = 0.2, planes = 5))
    assert(ref.nonEmpty)
    assert(got == ref)
  }

  test("a bucket of 2,000 identical vectors streams all 1,999,000 pairs") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, Array(0.5f, -1.0f, 2.0f, 0.25f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.99, planes = 4, tables = 8, dim = 4)
    assert(pairs.count() == 1999000L)
    assert(pairSet(pairs.filter(col("a_id") === 0L && col("b_id") < 3L)) ==
      Set((0L, 1L), (0L, 2L)))
  }
}

object CorpusKernelSpec {

  /** The shingle-string chain the t6 and shingle-hash kernels replace:
    * distinct word n-gram shingles of a token array, empty for arrays
    * with fewer than n tokens.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
    .otherwise(array().cast("array<string>"))

  private val Tables = 8
  private val Dim = 64

  /** The sign-LSH signature rows (id, v, nrm, bucket, tbl, bks) the join
    * form ran on, vectors widened element by element before the exchange.
    */
  def lshBucketsRef(df: DataFrame, planes: Int): DataFrame = {
    val v = df.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
    val bitsCols = (0 until Tables).map { t =>
      (0 until planes).map { p =>
        val signs = typedLit((0 until Dim).map(Similarity.planeSign(t * planes + p, _)))
        when(Similarity.dot(col("v"), signs) >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    v.withColumn("bks", array(bitsCols: _*))
      .withColumn("tbl", explode(array((0 until Tables).map(lit): _*)))
      .withColumn("bucket",
        concat_ws(":", col("tbl"), element_at(col("bks"), col("tbl") + 1)))
  }

  /** The bucket join (self when `other` is empty, then `a_id < b_id`),
    * kept only in the pair's first colliding table, cosine-filtered.
    */
  def joinForm(sa: DataFrame, other: Option[DataFrame], threshold: Double): DataFrame = {
    val sb = other.getOrElse(sa)
    val joined = sa.select(col("id").as("a_id"), col("v").as("va"),
        col("nrm").as("na"), col("bucket"), col("tbl"), col("bks").as("a_bks"))
      .join(sb.select(col("id").as("b_id"), col("v").as("vb"),
        col("nrm").as("nb"), col("bucket"), col("bks").as("b_bks")), Seq("bucket"))
    val ordered = if (other.isEmpty) joined.filter(col("a_id") < col("b_id")) else joined
    ordered.filter(!(0 until Tables - 1).map { t =>
        (col("tbl") > t) &&
          (element_at(col("a_bks"), t + 1) === element_at(col("b_bks"), t + 1))
      }.reduce(_ || _))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"))
  }
}
