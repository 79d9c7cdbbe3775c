package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The candidate pairs of one sign-LSH bucket, verified — a generator
  * over `(tbl, members)` rows, one row per (hash table, bucket), that
  * replaces the bucket self-join of [[graft.operators.Similarity]] and
  * the two filters after it.
  *
  * `members` is an array of `struct(id bigint, v array<float|double>,
  * bks array<bigint>[, side int])`: the vector as stored (widened to
  * double here, which is exact, so the exchange carries half the bytes)
  * and the full per-table signature. Each pair of members is checked in
  * order:
  *  1. self form: the ids differ, and the pair is emitted as
  *     `(a_id, b_id)` with `a_id < b_id`; cross form (`cross = true`):
  *     one member has `side` 0 and the other 1, emitted side 0 first;
  *  2. first colliding table: no table before `tbl` buckets the two
  *     together (`a.bks[t] != b.bks[t]` for every `t < tbl`), so each
  *     pair is emitted once over all tables;
  *  3. exact cosine `dot(va, vb) / (na * nb) >= threshold`, with the
  *     same strict left-to-right dot as [[DotProduct]], `na = sqrt(dot(va,
  *     va))`, and Spark's double ordering for the compare.
  * These are the join form's answers bit for bit, except that a pair
  * whose norm product is 0 is dropped where the join form divided by
  * zero, and members with a null id or vector never pair.
  *
  * Pairs are produced lazily, so memory is the bucket's members (their
  * widened vectors), never its pairs.
  */
case class LshBucketPairs(tbl: Expression, members: Expression,
                          threshold: Double, cross: Boolean)
    extends Expression with Generator {

  override def children: Seq[Expression] = Seq(tbl, members)

  private def memberFields: Array[StructField] = members.dataType match {
    case ArrayType(st: StructType, _) => st.fields
    case _ => Array.empty
  }

  /** Whether members carry `array<float>` vectors (else double). */
  private def floats: Boolean = memberFields.lift(1).exists(_.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult = {
    val f = memberFields.map(_.dataType)
    val vecOk = f.lift(1).exists {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val ok = tbl.dataType == IntegerType && f.length == (if (cross) 4 else 3) &&
      f(0) == LongType && vecOk && f(2).isInstanceOf[ArrayType] &&
      f(2).asInstanceOf[ArrayType].elementType == LongType &&
      (!cross || f(3) == IntegerType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (int, array<struct<bigint, array<float|double>, " +
        s"array<bigint>${if (cross) ", int" else ""}>>), got " +
        s"${tbl.dataType.sql} and ${members.dataType.sql}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false)))

  override def prettyName: String = "graft_lsh_bucket_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    LshBucketPairs.compute(members.eval(input).asInstanceOf[ArrayData],
      tbl.eval(input).asInstanceOf[Int], threshold, cross, floats)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = members.genCode(ctx)
    val t = tbl.genCode(ctx)
    val bits = java.lang.Double.doubleToRawLongBits(threshold)
    ev.copy(code = code"""
      |${m.code}
      |${t.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.functions.expressions.LshBucketPairs.compute(
      |    ${m.isNull} ? null : ${m.value}, ${t.value},
      |    java.lang.Double.longBitsToDouble(${bits}L), $cross, $floats);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LshBucketPairs =
    copy(tbl = newChildren(0), members = newChildren(1))
}

object LshBucketPairs {

  /** Static entry shared by eval and generated code. */
  def compute(members: ArrayData, tbl: Int, threshold: Double,
              cross: Boolean, floats: Boolean): Iterator[InternalRow] = {
    if (members == null) return Iterator.empty
    val fields = if (cross) 4 else 3
    // cross form: side-0 members first, so the pair loops are two ranges
    val order = (0 until members.numElements()).filter { k =>
      !members.isNullAt(k) && {
        val s = members.getStruct(k, fields)
        !s.isNullAt(0) && !s.isNullAt(1) && !s.isNullAt(2) &&
          (!cross || !s.isNullAt(3))
      }
    }.sortBy(k => if (cross) members.getStruct(k, fields).getInt(3) else 0)
    val m = order.length
    val ids = new Array[Long](m)
    val vecs = new Array[Array[Double]](m)
    val norms = new Array[Double](m)
    val sigs = new Array[Array[Long]](m)
    var sideA = m
    var k = 0
    while (k < m) {
      val s = members.getStruct(order(k), fields)
      ids(k) = s.getLong(0)
      val v = s.getArray(1)
      val d = new Array[Double](v.numElements())
      var i = 0
      while (i < d.length) {
        d(i) = if (floats) v.getFloat(i).toDouble else v.getDouble(i)
        i += 1
      }
      vecs(k) = d
      norms(k) = math.sqrt(dot(d, d))
      sigs(k) = s.getArray(2).toLongArray()
      if (cross && sideA == m && s.getInt(3) != 0) sideA = k
      k += 1
    }
    new Pairs(ids, vecs, norms, sigs, tbl, threshold, cross, sideA)
  }

  /** Strict left-to-right dot product over the shorter length — the
    * [[DotProduct]] fold.
    */
  private def dot(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  /** Walks the member pairs (self: i < j over all; cross: side-0 i ×
    * side-1 j) and yields the ones that pass, one at a time.
    */
  private final class Pairs(ids: Array[Long], vecs: Array[Array[Double]],
                            norms: Array[Double], sigs: Array[Array[Long]],
                            tbl: Int, threshold: Double, cross: Boolean,
                            sideA: Int) extends Iterator[InternalRow] {
    private val m = ids.length
    private val lastI = if (cross) sideA else m
    private var i = 0
    private var j = if (cross) sideA else 1
    private var ready: InternalRow = null

    private def firstCollision(a: Int, b: Int): Boolean = {
      val x = sigs(a)
      val y = sigs(b)
      val n = math.min(tbl, math.min(x.length, y.length))
      var t = 0
      while (t < n) {
        if (x(t) == y(t)) return false
        t += 1
      }
      true
    }

    private def similar(a: Int, b: Int): Boolean = {
      val den = norms(a) * norms(b)
      den != 0.0 &&
        SQLOrderingUtil.compareDoubles(dot(vecs(a), vecs(b)) / den, threshold) >= 0
    }

    private def advance(): Unit = {
      while (ready == null && i < lastI) {
        if (j >= m) {
          i += 1
          j = if (cross) sideA else i + 1
        } else {
          val a = i
          val b = j
          j += 1
          if ((cross || ids(a) != ids(b)) && firstCollision(a, b) && similar(a, b)) {
            ready = if (cross || ids(a) < ids(b))
              new GenericInternalRow(Array[Any](ids(a), ids(b)))
            else new GenericInternalRow(Array[Any](ids(b), ids(a)))
          }
        }
      }
    }

    override def hasNext: Boolean = {
      advance()
      ready != null
    }

    override def next(): InternalRow = {
      advance()
      if (ready == null) throw new NoSuchElementException("no more pairs")
      val r = ready
      ready = null
      r
    }
  }
}
