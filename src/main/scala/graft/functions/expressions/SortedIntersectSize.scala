package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Size of the intersection of two ascending, distinct `array<bigint>`
  * sets — one codegen'd merge walk with the answer of
  * `size(array_intersect(a, b))`, without building the intersection
  * array (one allocation per candidate pair in the Jaccard
  * verification of [[graft.operators.Dedup]]).
  *
  * PRECONDITION: both arrays are sorted ascending with no duplicates and
  * no null elements — what [[ShingleHashes]] produces. On other input
  * the count is not `array_intersect`'s. A null array on either side
  * yields null.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.SortedIntersectSize.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {

  /** Static entry shared by eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (y < x) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }
}
