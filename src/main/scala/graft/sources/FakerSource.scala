package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The Flink faker connector's generator surface, Spark-native — the
  * reference's data sources are three `CREATE TEMPORARY TABLE … WITH
  * ('connector' = 'faker', 'fields.<col>.expression' = '#{…}')`
  * statements (/root/reference/flink/sql/sql-client.sql:1-48). This
  * compiles each `#{provider.method 'arg'…}` expression into a
  * DETERMINISTIC Spark Column keyed on the row id (xxhash64 of
  * table:column:id), so batch
  * and streaming runs over the same id range produce identical rows and
  * test assertions can recompute expected state exactly.
  *
  * Scale shape: a faker table is `spark.range(n)` under narrow
  * projections — no shuffle, no driver data, parallelism = range
  * partitioning; at any `number-of-rows` the generators are pure
  * codegen'd column expressions.
  */
object FakerSource {

  /** A registered faker table: the parsed DDL plus compiled generators.
    * `ddlText` is the original statement, echoed by SHOW CREATE TABLE.
    */
  case class FakerTable(name: String, schema: StructType,
                        numRows: Option[Long], rowsPerSecond: Option[Int],
                        primaryKey: Seq[String], ddlText: String,
                        exprs: Map[String, String],
                        nullRates: Map[String, Double],
                        watermark: Option[String] = None) {

    /** Generator columns as functions of the row-id column. */
    private[FakerSource] def columns(id: Column): Seq[Column] =
      schema.fields.toSeq.map { f =>
        val tag = s"$name:${f.name}"
        val expr = exprs.getOrElse(f.name,
          throw new IllegalArgumentException(
            s"faker table $name: column ${f.name} has no " +
              s"'fields.${f.name}.expression' option"))
        val base = compile(tag, id, expr, f.dataType)
        val withNull = nullRates.get(f.name).filter(_ > 0).map { rate =>
          when(uniform(s"$tag:null", id, 1000000L) < (rate * 1000000).toLong,
            lit(null)).otherwise(base)
        }.getOrElse(base)
        withNull.cast(f.dataType).as(f.name)
      }

    /** The bounded batch this table generates (`number-of-rows`). */
    def bounded(spark: SparkSession): DataFrame = {
      val n = numRows.getOrElse(throw new IllegalArgumentException(
        s"faker table $name is unbounded ('number-of-rows' not set) — " +
          "it can only be read as a stream"))
      spark.range(n).select(columns(col("id")): _*)
    }

    /** Bounded batch plus the generation sequence (`__faker_seq`) — the
      * arrival-order column a last-write-wins upsert load keys on.
      */
    def boundedWithSeq(spark: SparkSession): DataFrame = {
      val n = numRows.getOrElse(throw new IllegalArgumentException(
        s"faker table $name is unbounded ('number-of-rows' not set)"))
      spark.range(n).select(col("id").as(SeqCol) +: columns(col("id")): _*)
    }

    /** Unbounded rate-limited stream (`rows-per-second`), same
      * deterministic columns keyed on the rate source's value.
      */
    def stream(spark: SparkSession): DataFrame = {
      val rps = rowsPerSecond.getOrElse(10)
      val src = spark.readStream.format("rate")
        .option("rowsPerSecond", rps).load()
      val bounded = numRows.map(n => src.where(col("value") < n))
        .getOrElse(src)
      bounded.select(columns(col("value")): _*)
    }
  }

  val SeqCol = "__faker_seq"

  private val reg = TrieMap.empty[String, FakerTable]

  def register(t: FakerTable): Unit = reg.put(t.name.toLowerCase, t)
  def lookup(name: String): Option[FakerTable] = reg.get(name.toLowerCase)
  def unregister(name: String): Boolean = {
    graft.plans.FlinkDialect.unregisterProctime(name)
    reg.remove(name.toLowerCase).isDefined
  }
  def clear(): Unit = reg.clear()

  /** Uniform [0, n) long, deterministic per (tag, id): a hash grid. */
  private def uniform(tag: String, id: Column, n: Long): Column =
    pmod(xxhash64(lit(tag), id), lit(n))

  /** Reproducibility anchor for date/time providers: faker's "past 100
    * days" is relative to the wall clock, which would make every run a
    * different dataset — pinned instead.
    */
  val AnchorDate = "2026-08-01"

  private val FakerExpr = """(?s)#\{([A-Za-z_.]+)\s*(.*?)\}""".r
  private val Arg = """'((?:[^']|'')*)'""".r

  /** Compile one `#{provider.method 'arg'…}` faker expression to a
    * deterministic Column over the row-id. Supported providers cover the
    * reference scripts plus the common generators; anything else fails
    * loudly with the supported list.
    */
  def compile(tag: String, id: Column, expression: String,
              dt: DataType): Column = {
    val (method, args) = expression.trim match {
      case FakerExpr(m, rest) =>
        (m, Arg.findAllMatchIn(rest).map(_.group(1).replace("''", "'")).toSeq)
      case other => throw new IllegalArgumentException(
        s"faker expression must be #{provider.method 'arg'…}, got '$other'")
    }
    def arg(i: Int): String = args.lift(i).getOrElse(
      throw new IllegalArgumentException(
        s"faker $method: missing argument ${i + 1} in '$expression'"))
    method.toLowerCase match {
      // #{number.numberBetween 'a','b'} → uniform [a, b)
      case "number.numberbetween" =>
        val a = arg(0).toLong; val b = arg(1).toLong
        require(b > a, s"faker numberBetween: empty range [$a,$b)")
        uniform(tag, id, b - a) + a
      // #{number.randomDouble 'dp','min','max'} → dp-decimal uniform grid
      case "number.randomdouble" =>
        val dp = arg(0).toInt; val min = arg(1).toLong; val max = arg(2).toLong
        val grid = math.pow(10, dp).toLong
        (uniform(tag, id, (max - min) * grid) / lit(grid.toDouble)) + min
      // #{date.past 'n','DAYS'} → anchor − uniform [0, n) days
      case "date.past" =>
        val n = arg(0).toLong
        val unit = args.lift(1).getOrElse("DAYS").toUpperCase
        val days = unit match {
          case "DAYS" => uniform(tag, id, n)
          case "HOURS" => uniform(tag, id, math.max(1, n / 24))
          case other => throw new IllegalArgumentException(
            s"faker date.past: unsupported unit '$other' (DAYS, HOURS)")
        }
        date_sub(to_date(lit(AnchorDate)), days.cast("int"))
      // #{regexify '(a|b|c){1}'} → one alternative, uniformly
      case "regexify" =>
        val alts = regexifyAlternatives(arg(0))
        element_at(array(alts.map(lit): _*),
          (uniform(tag, id, alts.size.toLong) + 1).cast("int"))
      case "funnyname.name" | "name.name" | "name.fullname" =>
        concat(lit("Name#"), uniform(tag, id, 100000L))
      case "phonenumber.cellphone" | "phonenumber.phonenumber" =>
        format_string("555-%04d", uniform(tag, id, 10000L))
      case "internet.uuid" =>
        // deterministic uuid-shaped string from two hash words
        format_string("%08x-0000-4000-8000-%012x",
          uniform(tag + ":a", id, 0xFFFFFFFFL),
          uniform(tag + ":b", id, 0xFFFFFFFFFFFFL))
      case "lorem.characters" =>
        val n = args.headOption.map(_.toInt).getOrElse(10)
        // n pseudo-random lowercase letters, deterministic per row
        concat((0 until n).map(i =>
          chr(uniform(s"$tag:$i", id, 26L) + 97)): _*)
      case other => throw new IllegalArgumentException(
        s"faker provider '$other' is not supported — supported: " +
          "number.numberBetween, number.randomDouble, date.past, " +
          "regexify, funnyName.name, name.name, phoneNumber.cellPhone, " +
          "internet.uuid, lorem.characters")
    }
  }

  /** `(a|b|c){1}` (or `(a|b|c)`) → Seq(a, b, c). Only the alternation
    * form the scripts use — general regex generation would need a full
    * automaton walk, refused loudly.
    */
  private[sources] def regexifyAlternatives(pattern: String): Seq[String] = {
    val Alt = """\(([^()]*)\)(?:\{1\})?""".r
    pattern.trim match {
      case Alt(body) =>
        val alts = body.split("\\|").toSeq
        require(alts.nonEmpty && alts.forall(_.nonEmpty),
          s"regexify: empty alternative in '$pattern'")
        require(alts.forall(a => !a.exists("[]{}()*+?.\\^$".contains(_))),
          s"regexify: only plain alternation '(a|b|c){1}' is supported, " +
            s"got '$pattern'")
        alts
      case other => throw new IllegalArgumentException(
        s"regexify: only '(a|b|c){1}' alternation patterns are " +
          s"supported, got '$other'")
    }
  }
}
