package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._

import org.apache.spark.sql.types.StructType

/** DSv2 scan over a table whose files lie in SEVERAL Hive layouts —
  * the one shape a single file index cannot serve. A partitioned
  * [[graft.storage.TieredTable]] reads every root through one index
  * (one layout, one scan); only after partition-spec evolution (ADD,
  * DROP or REPLACE PARTITION FIELD) do its roots carry different
  * `col=value` segment sets, and one index cannot give a file two
  * partition schemas. The catalog then plans one scan per layout, and
  * this builder applies the SAME column pruning and filter pushdown to
  * each and concatenates the resulting batches — every layout keeps its
  * own partition pruning and vectorized read, and the union costs plan
  * width, not data movement.
  *
  * Lives in `org.apache.spark.sql` because filter pushdown for file
  * sources flows through the `private[sql]`
  * [[org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]]
  * seam (same rationale as [[GraftSqlBridge]]).
  */
class GraftCompositeScanBuilder(builders: Seq[ScanBuilder],
    streamFactory: Option[String =>
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
  require(builders.nonEmpty, "need at least one child scan builder")
  // children are addressed through the pushdown INTERFACES, not a
  // concrete builder class
  private val children = builders

  override def pruneColumns(requiredSchema: StructType): Unit =
    children.foreach {
      case c: SupportsPushDownRequiredColumns => c.pruneColumns(requiredSchema)
      case _ =>
    }

  /** Forward every filter to every child, and report the UNION of the
    * children's residual (post-scan) sets: the layouts differ, so each
    * child may claim a different subset of the filters.
    */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val residuals = children.map {
      case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        c.pushFilters(filters)
      case _ => filters
    }
    // UNION of the children's residuals, not the first child's: a
    // hive-vintage layout claims a partition filter exactly (directory
    // pruning), while a page-vintage layout must keep it post-scan.
    // Reporting only child 0's set silently dropped the filter for the
    // other vintage (Spark then pruned the filter column from the
    // projection, and the parquet-level pushdown over the missing
    // column dropped every row). Re-applying an already-claimed filter
    // on the claiming child is a no-op — the safe direction.
    residuals.flatten.distinct
  }

  override def pushedFilters: Array[Predicate] = children.head match {
    case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
      c.pushedFilters
    case _ => Array.empty
  }

  override def build(): Scan =
    new GraftCompositeScan(children.map(_.build()), streamFactory)
}

/** Concatenation of child scans: one Batch whose input partitions are
  * the children's, tagged with the child index so the reader factory
  * can dispatch. Row/columnar decisions delegate per partition.
  *
  * Reports SUMMED statistics (a multi-layout tiered table must still be
  * eligible as a join's broadcast side — without this the relation
  * falls back to `defaultSizeInBytes` and never broadcasts) and
  * forwards runtime filters to every child that can act on them, so
  * dynamic partition pruning crosses the layouts intact.
  * `batches` is a def, not a cached val: a runtime `filter` narrows
  * the children's file lists, and partition planning after it must
  * observe the narrowed state.
  */
class GraftCompositeScan(children: Seq[Scan],
    streamFactory: Option[String =>
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None)
    extends Scan with Batch with GraftFileCounts
    with SupportsReportStatistics with SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = children.head.readSchema()
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    streamFactory.map(_(checkpointLocation)).getOrElse(
      throw new UnsupportedOperationException(
        "composite scan: micro-batch scan is not supported"))
  private def batches = children.map(_.toBatch)
  override def planInputPartitions(): Array[InputPartition] =
    batches.zipWithIndex.flatMap { case (b, i) =>
      b.planInputPartitions().map(GraftCompositePartition(i, _))
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    // children may present DIFFERENT column orders for the same column
    // set: Spark's file scans put hive-discovered partition columns
    // LAST, so a pre-evolution layout (partition column still in its
    // data pages, no partition values from dirs) orders
    // differently than its evolved siblings. The factory permutes each
    // child's output to this scan's declared order by NAME — without
    // it the concatenated batches misalign positionally (wrong values,
    // or an NPE when the types differ).
    GraftCompositeReaderFactory(batches.map(_.createReaderFactory()),
      children.map(_.readSchema()), readSchema())
  override def description(): String =
    s"GraftCompositeScan(${children.size} layouts)"

  /** Sum of the children's estimates; unknown as soon as any child
    * can't say (a partial sum would UNDERestimate, and a too-small
    * size is the dangerous direction — it green-lights a broadcast).
    */
  override def estimateStatistics(): Statistics = {
    val childStats = children.map {
      case s: SupportsReportStatistics => Some(s.estimateStatistics())
      case _ => None
    }
    def total(f: Statistics => java.util.OptionalLong): java.util.OptionalLong = {
      var sum = 0L
      childStats.foreach {
        case Some(st) =>
          val v = f(st)
          if (!v.isPresent) return java.util.OptionalLong.empty()
          sum += v.getAsLong
        case None => return java.util.OptionalLong.empty()
      }
      java.util.OptionalLong.of(sum)
    }
    val size = total(_.sizeInBytes)
    val rows = total(_.numRows)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = size
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  /** Union of the children's filterable attributes: a child that can't
    * act on a given attribute just keeps all its files — runtime
    * pruning is advisory, so over-claiming is safe and under-claiming
    * would disable pruning for every layout.
    */
  override def filterAttributes(): Array[NamedReference] =
    children.flatMap {
      case s: SupportsRuntimeV2Filtering => s.filterAttributes().toSeq
      case _ => Nil
    }.distinct.toArray

  override def filter(predicates: Array[Predicate]): Unit =
    children.foreach {
      case s: SupportsRuntimeV2Filtering => s.filter(predicates)
      case _ =>
    }

  /** The children's per-layout file counts, summed. */
  def fileCounts: Seq[Long] = GraftScanMetrics.sum(children)
}

case class GraftCompositePartition(child: Int, inner: InputPartition)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

case class GraftCompositeReaderFactory(factories: Seq[PartitionReaderFactory],
                                       childSchemas: Seq[StructType],
                                       target: StructType)
    extends PartitionReaderFactory {
  private def parts(p: InputPartition): (Int, InputPartition) = {
    val GraftCompositePartition(i, inner) = p
    (i, inner)
  }

  /** target-position → child-position, or None when the child already
    * matches. Same column SET is a construction invariant (all
    * children scan the same declared table schema); order may differ
    * per layout (partition columns from dirs come last).
    */
  private def permutation(i: Int): Option[Array[Int]] = {
    val child = childSchemas(i)
    if (child.fieldNames.sameElements(target.fieldNames)) None
    else Some(target.fieldNames.map { n =>
      val at = child.fieldIndex(n) // throws on a genuinely missing col
      at
    })
  }

  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val (i, inner) = parts(p)
    val reader = factories(i).createReader(inner)
    permutation(i) match {
      case None => reader
      case Some(perm) =>
        val child = childSchemas(i)
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(perm.toIndexedSeq.map(j =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              j, child(j).dataType, child(j).nullable)))
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          override def next(): Boolean = reader.next()
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            proj(reader.get())
          override def close(): Unit = reader.close()
        }
    }
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (i, inner) = parts(p)
    val reader = factories(i).createColumnarReader(inner)
    permutation(i) match {
      case None => reader
      case Some(perm) =>
        new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
          override def next(): Boolean = reader.next()
          override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
            val b = reader.get()
            // thin wrapper over PERMUTED column-vector references — no
            // data copies; vector lifetime stays with the inner reader
            val cols = perm.map(b.column)
            new org.apache.spark.sql.vectorized.ColumnarBatch(
              cols.toArray, b.numRows())
          }
          override def close(): Unit = reader.close()
        }
    }
  }

  override def supportColumnarReads(p: InputPartition): Boolean = {
    val (i, inner) = parts(p); factories(i).supportColumnarReads(inner)
  }
}
