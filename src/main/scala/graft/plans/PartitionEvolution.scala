package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import graft.storage.TieredTable

/** Partition-spec evolution — Iceberg's `ADD PARTITION FIELD`
  * semantics, shared by the stored procedure
  * (`CALL graft.system.add_partition_field`) and the Iceberg-spelled
  * DDL (`ALTER TABLE graft.db.t ADD PARTITION FIELD col`, intercepted
  * by [[PartitionEvolutionSql.parse]] — Spark's own grammar routes
  * ADD PARTITION to the Hive partition-VALUE verb, which the catalog
  * refuses).
  *
  * The new spec applies to FUTURE writes; dirs committed earlier keep
  * their physical layout (the evolved column stays in their data
  * pages, so every vintage serves it). Reads union both vintages;
  * Iceberg export is multi-spec (per-manifest `partition_spec_id`).
  */
object PartitionEvolution {

  private def fail(verb: String, msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> s"$verb PARTITION FIELD: $msg"))

  /** Resolve `<db>.<table>` to its registered entry, refusing
    * PK tables: exported equality deletes are partition-scoped, and a
    * spec that changed mid-history would leave old deltas' delete
    * files scoped to the WRONG spec — the Iceberg community rule
    * (upsert sinks require a frozen spec) applies to BOTH verbs.
    */
  private def resolveEntry(dbTable: String,
                           verb: String): (String, String, TieredCatalog.Entry) = {
    val parts = dbTable.split("\\.").toSeq match {
      case Seq(TieredCatalog.CatalogName, db, t) => Seq(db, t)
      case pr @ Seq(_, _) => pr
      case _ => fail(verb, s"table must be '<db>.<table>', got '$dbTable'")
    }
    val (db, name) = (parts.head, parts(1))
    val e = TieredCatalog.lookup(db, name).getOrElse(
      fail(verb, s"unknown graft table '$dbTable'"))
    if (e.pk.nonEmpty)
      fail(verb, s"$dbTable is a primary-key table — its partition " +
        "spec is frozen (partition-scoped upsert deltas and " +
        "equality deletes are exact only under one spec); rewrite " +
        "into a new table to change the layout")
    (db, name, e)
  }

  /** The table's declared schema, persisting it to `meta/SCHEMA` if
    * this evolution is the first: the layouts of a mixed-vintage table
    * infer DIFFERENT column orders (partition columns from dirs come
    * last), and the composite SQL scan, one scan per layout, needs one
    * authoritative shape to reconcile them by name.
    */
  private def ensureSchema(dbTable: String, verb: String,
                           e: TieredCatalog.Entry,
                           t: TieredTable): StructType = {
    val tfs = graft.storage.TableFs.forPath(e.path)
    val persisted = tfs.readString(s"${e.path}/meta/SCHEMA")
      .map(StructType.fromDDL)
    val schema = persisted.getOrElse {
      if (t.latestSnapshotId > 0 || t.logSegments.nonEmpty)
        t.readUnion().schema
      else fail(verb, s"$dbTable has no schema yet — evolve after " +
        "the first write (or CREATE the table with DDL)")
    }
    if (persisted.isEmpty) {
      tfs.mkdirs(s"${e.path}/meta")
      tfs.writeString(s"${e.path}/meta/SCHEMA", schema.toDDL)
    }
    schema
  }

  private def reRegister(db: String, name: String,
                         e: TieredCatalog.Entry,
                         newPartitionBy: Seq[String]): Unit = {
    TieredCatalog.register(db, name, e.path, e.pk, e.mergeOnRead,
      newPartitionBy, e.bloomCols, e.changeDataFeed, e.datalake,
      e.watermark, e.sortBy, e.bucketBy)
    TieredCatalog.persist(db, name)
  }

  def addField(dbTable: String, c: String): Unit = {
    val verb = "ADD"
    val (db, name, e) = resolveEntry(dbTable, verb)
    if (e.partitionBy.exists(_.equalsIgnoreCase(c)))
      fail(verb, s"$dbTable is already partitioned by $c")
    if (TieredTable.SqlReserved.exists(_.equalsIgnoreCase(c)))
      fail(verb, s"column name '$c' is reserved for the engine's " +
        "internal layout")
    val t = TieredTable(SparkSession.active, e.path,
      partitionBy = e.partitionBy)
    // the evolved column must exist: every vintage serves it (old
    // dirs from data pages, new dirs from the hive layout)
    val schema = ensureSchema(dbTable, verb, e, t)
    // store the SCHEMA's canonical spelling: a case-variant argument
    // would otherwise persist verbatim and break the export's
    // case-sensitive schema lookup (and allow the same source column
    // under two spellings)
    val canonical = schema.fieldNames.find(_.equalsIgnoreCase(c))
      .getOrElse(fail(verb, s"column $c not in $dbTable's schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    t.recordPartitionEvolution(e.partitionBy, e.partitionBy :+ canonical)
    reRegister(db, name, e, e.partitionBy :+ canonical)
  }

  /** Iceberg's `DROP PARTITION FIELD`: future writes stop laying the
    * column out as hive dirs (its values move into the data pages,
    * where an unpartitioned write always put them); dirs committed
    * earlier keep their physical layout and serve the column from
    * their `col=value` names. Reads union both vintages — new dirs
    * prune by file stats, old dirs by directory name — and Iceberg
    * export emits a NEW spec id without the field while old manifests
    * keep theirs (the spec's evolution rule; a dropped field's
    * partition field-id stays consumed, never reused). The exit ramp a
    * long-lived table that mis-partitioned needs — without rewriting
    * 100 TB of history.
    */
  def dropField(dbTable: String, c: String): Unit = {
    val verb = "DROP"
    val (db, name, e) = resolveEntry(dbTable, verb)
    val canonical = e.partitionBy.find(_.equalsIgnoreCase(c)).getOrElse(
      fail(verb, s"$dbTable is not partitioned by $c (current spec: " +
        (if (e.partitionBy.isEmpty) "unpartitioned"
         else e.partitionBy.mkString(", ")) + ")"))
    val t = TieredTable(SparkSession.active, e.path,
      partitionBy = e.partitionBy)
    // persist the declared shape BEFORE the spec narrows: post-drop
    // roots put the column back among the data columns while old
    // roots append it last (hive discovery) — one authoritative order
    ensureSchema(dbTable, verb, e, t)
    val to = e.partitionBy.filterNot(_ == canonical)
    t.recordPartitionEvolution(e.partitionBy, to)
    reRegister(db, name, e, to)
  }

  /** `REPLACE PARTITION FIELD old WITH new` — Iceberg's one-step spec
    * swap: ONE recorded evolution (one new spec id), not a drop
    * vintage followed by an add vintage. Old dirs keep their layout
    * and serve `old` from dir names; new writes hive-partition by the
    * swapped-in column (whose values every old vintage serves from its
    * data pages).
    */
  def replaceField(dbTable: String, oldC: String, newC: String): Unit = {
    val verb = "REPLACE"
    val (db, name, e) = resolveEntry(dbTable, verb)
    val oldCanonical = e.partitionBy.find(_.equalsIgnoreCase(oldC))
      .getOrElse(fail(verb,
        s"$dbTable is not partitioned by $oldC (current spec: " +
          (if (e.partitionBy.isEmpty) "unpartitioned"
           else e.partitionBy.mkString(", ")) + ")"))
    if (e.partitionBy.exists(_.equalsIgnoreCase(newC)))
      fail(verb, s"$dbTable is already partitioned by $newC")
    if (TieredTable.SqlReserved.exists(_.equalsIgnoreCase(newC)))
      fail(verb, s"column name '$newC' is reserved for the engine's " +
        "internal layout")
    val t = TieredTable(SparkSession.active, e.path,
      partitionBy = e.partitionBy)
    val schema = ensureSchema(dbTable, verb, e, t)
    val newCanonical = schema.fieldNames.find(_.equalsIgnoreCase(newC))
      .getOrElse(fail(verb, s"column $newC not in $dbTable's schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    val to = e.partitionBy.filterNot(_ == oldCanonical) :+ newCanonical
    t.recordPartitionEvolution(e.partitionBy, to)
    reRegister(db, name, e, to)
  }
}

/** Parser intercept for the Iceberg DDL spelling. Spark's grammar
  * parses `ALTER TABLE t ADD PARTITION (spec)` as the Hive
  * partition-VALUE add, and has no `ADD PARTITION FIELD` at all —
  * intercepting up front keeps the verb AND the error messages ours.
  */
object PartitionEvolutionSql {
  private val AddField =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+PARTITION\s+FIELD\s+`?(\w+)`?\s*;?\s*$""".r
  private val DropField =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+PARTITION\s+FIELD\s+`?(\w+)`?\s*;?\s*$""".r
  private val ReplaceField =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+REPLACE\s+PARTITION\s+FIELD\s+`?(\w+)`?\s+WITH\s+`?(\w+)`?\s*;?\s*$""".r

  def parse(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      // both verbs are scoped to REGISTERED graft tables — a session
      // stacking other extensions (real Iceberg's, where these are
      // legal DDL) must keep its statements for THEIR catalogs
      case AddField(ident, col) if graftTable(ident) =>
        Some(AddPartitionFieldCommand(ident.replace("`", ""), col))
      case DropField(ident, col) if graftTable(ident) =>
        Some(DropPartitionFieldCommand(ident.replace("`", ""), col))
      case ReplaceField(ident, oldCol, newCol) if graftTable(ident) =>
        Some(ReplacePartitionFieldCommand(
          ident.replace("`", ""), oldCol, newCol))
      case _ => None
    }

  /** Does the identifier name a registered graft table? (The refusal
    * above must not hijack the verb for other catalogs' tables.)
    */
  private def graftTable(ident: String): Boolean =
    ident.replace("`", "").split("\\.").toSeq match {
      case Seq(TieredCatalog.CatalogName, db, t) =>
        TieredCatalog.lookup(db, t).isDefined
      case Seq(db, t) => TieredCatalog.lookup(db, t).isDefined
      case _ => false
    }
}

/** Eager DDL node — `spark.sql(...)` runs it like any ALTER. */
case class AddPartitionFieldCommand(dbTable: String, column: String)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    PartitionEvolution.addField(dbTable, column)
    Seq.empty
  }
}

/** Eager DDL node for the DROP verb. */
case class DropPartitionFieldCommand(dbTable: String, column: String)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    PartitionEvolution.dropField(dbTable, column)
    Seq.empty
  }
}

/** Eager DDL node for the REPLACE verb (one-step swap, one spec id). */
case class ReplacePartitionFieldCommand(dbTable: String, oldColumn: String,
                                        newColumn: String)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    PartitionEvolution.replaceField(dbTable, oldColumn, newColumn)
    Seq.empty
  }
}
