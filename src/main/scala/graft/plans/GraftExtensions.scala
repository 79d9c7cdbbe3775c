package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Session extensions for the graft SQL surface. Registered with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (alongside
  * `spark.sql.catalog.graft=graft.plans.GraftTableCatalog`).
  *
  * Extensions: the `FOR SYSTEM_TIME AS OF` temporal-join clause (the
  * reference's most distinctive SQL construct,
  * /root/reference/README.md:236-238), the `graft_changes` CDC TVF,
  * and the `CREATE/DROP MATERIALIZED VIEW` streaming DDL
  * ([[MaterializedViewSql]] — the reference's continuous
  * INSERT-INTO-SELECT jobs, README.md:222-250).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new TemporalJoinParser(delegate))
    // SQL UPDATE / MERGE INTO over graft tables → storage-layer verbs
    // (RowLevelSql); resolution-stage so the lowering happens before
    // CheckAnalysis rejects the un-rewritten row-level plan
    ext.injectResolutionRule(GraftRowLevelRule)
    // merge-on-read SQL reads: substitute the resolved last-write-wins
    // plan for the relation (write/row-level targets stay relations)
    ext.injectResolutionRule(GraftMorReadRule)
    ext.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftExtensions].getName, "graft_changes"),
      (args: Seq[Expression]) => GraftChangesTvf.plan(args)))
    // internal splice point of EXECUTE STATEMENT SET (StreamingInsertSql):
    // re-analyzes a registered statement plan at every call site
    ext.injectTableFunction((
      FunctionIdentifier("graft_stream_stmt"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftExtensions].getName, "graft_stream_stmt"),
      (args: Seq[Expression]) => StreamingInsertSql.plan(args)))
  }
}

/** SQL surface for the CDC changelog: the table-valued function
  * `graft_changes('<db>.<table>', <fromSnapshot>, <toSnapshot>)` —
  * the Flink-SQL-changelog / Iceberg-`table_changes` analog of
  * [[graft.storage.TieredTable.incrementalRead]]. Key columns come
  * from the registered table's primary key; keyless (append-only)
  * tables pass them as an optional fourth argument (`'col1,col2'`).
  * The builder splices the incremental read's logical plan in place of
  * the TVF, so everything downstream — projections, filters,
  * aggregates, EXPLAIN — is ordinary Catalyst over an ordinary plan;
  * filters on the output push into the underlying snapshot scans like
  * any other subquery.
  */
object GraftChangesTvf {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

  private def str(e: Expression): Option[String] = e match {
    case Literal(v, StringType) if v != null => Some(v.toString)
    case _ => None
  }
  private def long(e: Expression): Option[Long] = e match {
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case _ => None
  }
  private def fail(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> s"graft_changes: $msg"))

  def plan(args: Seq[Expression]): LogicalPlan = {
    if (args.size < 3 || args.size > 4)
      fail("expected (table, fromSnapshot, toSnapshot[, keyCols]), " +
        s"got ${args.size} arguments")
    val tbl = str(args(0)).getOrElse(
      fail("table must be a string literal like 'db.table'"))
    val from = long(args(1)).getOrElse(
      fail("fromSnapshot must be an integer literal"))
    val to = long(args(2)).getOrElse(
      fail("toSnapshot must be an integer literal"))
    val parts = tbl.split("\\.").toSeq match {
      case Seq(TieredCatalog.CatalogName, db, t) => Seq(db, t)
      case p @ Seq(_, _) => p
      case _ => fail(s"table must be '<db>.<table>', got '$tbl'")
    }
    val entry = TieredCatalog.lookup(parts.head, parts(1)).getOrElse(
      fail(s"unknown graft table '$tbl' — register or CREATE it first"))
    val keys = args.lift(3).flatMap(str)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(entry.pk)
    if (keys.isEmpty)
      fail(s"'$tbl' has no primary key — pass key columns as the " +
        "fourth argument, e.g. graft_changes('db.t', 1, 2, 'id')")
    val spark = org.apache.spark.sql.SparkSession.active
    val t = graft.storage.TieredTable(spark, entry.path, entry.pk,
      entry.mergeOnRead, entry.partitionBy, entry.bloomCols)
    SubqueryAlias("graft_changes",
      t.incrementalRead(from, to, keys).queryExecution.logical)
  }
}

object TemporalJoinParser {
  /** `FOR SYSTEM_TIME AS OF <proctime-attr>` where the attribute is a
    * (possibly qualified) processing-time attribute — the last segment
    * must be `proctime` (any case), `PROCTIME()`, or a column declared
    * `AS PROCTIME()` in a Flink-dialect CREATE TABLE (the reference's
    * `ptime`, README.md:148 — checked via
    * [[FlinkDialect.isProctime]]). Event-time versioned joins (AS OF an
    * event-time column) deliberately do NOT match: they would need
    * per-row dim versioning, so they fall through to Spark's parser and
    * fail loudly instead of silently joining the current snapshot.
    */
  private val AsOf =
    ("""(?is)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+""" +
     """((?:`?[A-Za-z_][A-Za-z0-9_]*`?\s*\.\s*)*)""" +
     """(?:PROCTIME\s*\(\s*\)|`?([A-Za-z_][A-Za-z0-9_]*)`?)""").r

  /** FROM/JOIN table references with their optional alias — the
    * textual binding environment for resolving an AS OF attribute's
    * qualifier to a table. Alias candidates that are SQL keywords
    * (the `FOR` of the clause itself, ON, WHERE, …) are not aliases.
    */
  private val Bind =
    ("""(?is)\b(?:FROM|JOIN)\s+""" +
     """(?:`?[A-Za-z_][A-Za-z0-9_]*`?\s*\.\s*)*`?([A-Za-z_][A-Za-z0-9_]*)`?""" +
     """(?:\s+(?:AS\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?)?""").r
  private val Reserved = Set(
    "for", "on", "where", "left", "right", "full", "inner", "outer",
    "cross", "join", "group", "order", "as", "using", "natural", "union",
    "limit", "having", "select", "lateral", "when", "matched", "set")

  /** The (unqualified) table name bound to `qual` — via an explicit
    * alias or the table's own last name segment — if this statement
    * binds it textually; None for subquery aliases and anything the
    * regex can't see.
    */
  private def boundTable(sql: String, qual: String): Option[String] =
    Bind.findAllMatchIn(sql).flatMap { m =>
      val tbl = m.group(1)
      val alias = Option(m.group(2)).filterNot(a => Reserved(a.toLowerCase))
      if (alias.getOrElse(tbl).equalsIgnoreCase(qual)) Some(tbl) else None
    }.toSeq.headOption

  /** Strip the clause: in batch execution over the snapshot-isolated
    * graft catalog, "dim as of the probe row's processing time" IS the
    * dim's current committed snapshot at query resolution — a plain
    * join. (The same collapse Flink applies to processing-time temporal
    * joins in batch runtime mode; streaming per-batch semantics come
    * from re-resolving the dim per micro-batch, see
    * [[StreamingInsertSql]].)
    *
    * Which attributes count as processing time (r8 advice — the old
    * any-table column-name check silently collapsed event-time AS OF
    * on unrelated tables): the literal `proctime`/`PROCTIME()` always;
    * a declared `AS PROCTIME()` column when its qualifier resolves to
    * the declaring table; when the qualifier resolves to a DIFFERENT
    * table that declares its own proctime column, the attribute is a
    * provable non-match and the clause SURVIVES (failing loudly
    * downstream); only an unresolvable qualifier falls back to the
    * any-live-table name check — now bounded by DROP TABLE
    * unregistration.
    */
  def rewrite(sqlText: String): String =
    AsOf.replaceAllIn(sqlText, m => Option(m.group(2)) match {
      case None => "" // literal PROCTIME()
      case Some(attr) if attr.equalsIgnoreCase("proctime") => ""
      case Some(attr) =>
        val qual = Option(m.group(1)).map(_.trim).filter(_.nonEmpty)
          .map(_.split('.').last.trim.stripPrefix("`").stripSuffix("`"))
        val erase = qual.flatMap(boundTable(sqlText, _)) match {
          case Some(tbl) if FlinkDialect.isProctimeOf(tbl, attr) => true
          case Some(tbl) if FlinkDialect.hasProctimeDecls(tbl) => false
          case _ => FlinkDialect.isProctime(attr)
        }
        if (erase) "" else java.util.regex.Matcher.quoteReplacement(m.matched)
    })
}

/** Delegating parser that erases `FOR SYSTEM_TIME AS OF <proctime>`
  * before handing the text to Spark's parser. Purely textual by design:
  * the clause is not expressible as a Catalyst node Spark lacks — after
  * the batch-semantics collapse (see [[TemporalJoinParser.rewrite]])
  * the remaining query is ordinary Spark SQL, so the built-in parser,
  * analyzer, and optimizer do all the real work.
  *
  * The original text is parsed FIRST and the rewrite only runs as a
  * retry after a ParseException — so a statement that is already valid
  * SQL (including one with the clause's text inside a string literal)
  * is never touched.
  */
class TemporalJoinParser(delegate: ParserInterface) extends ParserInterface {
  private def withRewrite[A](sqlText: String, parse: String => A): A =
    try parse(sqlText)
    catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        val rewritten = TemporalJoinParser.rewrite(sqlText)
        if (rewritten == sqlText) throw e
        parse(rewritten)
    }

  override def parsePlan(sqlText: String): LogicalPlan =
    // graft DDL first: Spark's grammar has neither MATERIALIZED VIEW,
    // EXECUTE STATEMENT SET, nor the Flink-dialect verbs, and
    // intercepting up front keeps the error messages ours instead of a
    // generic ParseException
    MaterializedViewSql.parse(sqlText, delegate)
      .orElse(StreamingInsertSql.parse(sqlText, delegate))
      .orElse(PartitionEvolutionSql.parse(sqlText, delegate))
      .orElse(FlinkDialect.parse(sqlText, delegate))
      .getOrElse(withRewrite(sqlText, delegate.parsePlan))
  override def parseQuery(sqlText: String): LogicalPlan =
    withRewrite(sqlText, delegate.parseQuery)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

/** Analyzer rule lifting merge-on-read tables into the SQL surface:
  * every BATCH READ relation over a merge-on-read graft table (the
  * base read, `$cold`, `VERSION AS OF` / `TIMESTAMP AS OF`, a tag /
  * branch / staged-WAP ref, a `spark.graft.wap.branch` view) is
  * substituted with the table's RESOLVED last-write-wins plan —
  * the same window-dedup the API read applies
  * ([[graft.storage.TieredTable.readUnion]]). Downstream operators
  * (filters, aggregates, joins, EXPLAIN) see an ordinary Catalyst
  * subtree; column pruning reaches through the dedup window, and a
  * filter stays ABOVE it — a key's winning version may live in a file
  * a pushed predicate would prune, so resolution must happen first
  * (the API's `readCold().filter` keeps it above the window too).
  *
  * What is NOT substituted: write and row-level TARGETS. INSERT
  * commits upsert deltas through the table's own write path,
  * UPDATE / MERGE / DELETE lower through [[GraftRowLevelRule]] into
  * the storage verbs (which resolve-and-rewrite with the version
  * column reset) — replacing the target relation with a read view
  * would break both.
  */
case class GraftMorReadRule(session: org.apache.spark.sql.SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // relation INSTANCES serving as write / row-level targets (marked
    // by identity: the same table read elsewhere in the statement —
    // e.g. a MERGE whose source queries the target — still resolves)
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def mark(p: LogicalPlan): Unit = p.foreach {
      case r: DataSourceV2Relation => writeTargets.add(r)
      case _ => ()
    }
    plan.foreach {
      case u: UpdateTable => mark(u.table)
      case m: MergeIntoTable => mark(m.targetTable)
      case d: DeleteFromTable => mark(d.table)
      case i: InsertIntoStatement => mark(i.table)
      case v: V2WriteCommand => mark(v.table)
      case _ => ()
    }
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if !writeTargets.contains(r) =>
        r.table match {
          case ts: TieredSqlTable if ts.catalogEntry.mergeOnRead =>
            substitute(r, ts.morRead())
          case rt: GraftResolvedTable =>
            substitute(r, Some(rt.resolvedRead()))
          case _ => r
        }
    }
  }

  /** The resolved plan, projected onto the relation's attribute ids so
    * every downstream reference keeps resolving; None (a created-but-
    * never-written table) becomes an empty relation of the same shape.
    */
  private def substitute(r: DataSourceV2Relation,
                         view: Option[org.apache.spark.sql.DataFrame])
      : LogicalPlan = view match {
    case None => LocalRelation(r.output)
    case Some(df) =>
      val child = df.queryExecution.analyzed
      val out = child.output
      val cols = r.output.map { a =>
        val src = out.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
          throw new IllegalStateException(
            s"merge-on-read resolution of ${r.table.name()}: the " +
              s"resolved view has no column ${a.name}"))
        val e = if (src.dataType == a.dataType) src
          else Cast(src, a.dataType)
        Alias(e, a.name)(exprId = a.exprId)
      }
      Project(cols, child)
  }
}
