package graft

import java.util.Locale

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite with SparkSpec {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.parse

  test("back-to-back calls each report exactly their own jobs and tasks") {
    def job() = spark.sparkContext.parallelize(1 to 100, 4).count()
    (1 to 20).foreach { i =>
      val want = if (i % 2 == 1) 2 else 1
      val (out, m) = Measure(spark)((1 to want).map(_ => job()).sum)
      assert(out.get == 100L * want)
      assert(m.jobs == want, s"call $i")
      assert(m.tasks == 4 * want, s"call $i")
    }
  }

  test("a throwing body returns its error and still a sample") {
    val (out, m) = Measure(spark) {
      spark.sparkContext.parallelize(1 to 4, 2).count()
      throw new IllegalStateException("boom")
    }
    assert(out.failed.get.getMessage == "boom")
    assert(m.jobs == 1 && m.wallS > 0)
  }

  test("rows computes the columns that count() prunes") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("computed")
      x
    }
    val df = spark.range(3).select(col("id"), boom(col("id")).as("b"))
    assert(df.count() == 3)
    val e = intercept[Exception](Measure.rows(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("computed")))
    assert(Measure.rows(spark.range(7).toDF()) == 7)
  }

  test("line is strict JSON under a comma-decimal locale and round-trips") {
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      val text = "a\ttab, a \"quote\" and a\nnewline \\ \u0001"
      val line = Measure.line("x" -> 2.5, "s" -> text,
        "m" -> Map("n" -> 3L, "nan" -> Double.NaN))
      assert(!line.contains("\n") && line.contains("\"x\":2.500"), line)
      val j = parse(line)
      assert((j \ "x") == JDouble(2.5))
      assert((j \ "s") == JString(text))
      assert((j \ "m" \ "n") == JInt(3) && (j \ "m" \ "nan") == JNull)
    } finally Locale.setDefault(saved)
  }
}
