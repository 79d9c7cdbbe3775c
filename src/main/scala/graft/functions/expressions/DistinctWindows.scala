package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Number of distinct word n-gram windows of a token array — one
  * codegen'd loop with the exact answer of
  * `size(array_distinct(transform(sequence(0, size(toks) - n),
  * i => concat_ws(" ", slice(toks, i + 1, n)))))`, the shingle-string
  * chain t6's repetition score used to build.
  *
  * The windows are never materialized as strings: the non-null tokens
  * are written once per row into one byte buffer, a single space apart,
  * so every window's `concat_ws` value is a slice of that buffer. Each
  * slice is murmur3-hashed in place into an open-addressing table of
  * window starts; on a hash match the two slices are compared byte for
  * byte, so the count is exact (no collision is tolerated — tokens
  * containing spaces can make different windows join to equal strings,
  * and those count once, as they do over strings).
  *
  * Null ELEMENTS are skipped, as `concat_ws` skips them (a window of
  * only nulls joins to ""); empty tokens are kept. A null array or one
  * with fewer than `n` tokens counts 0 — what the chain's
  * `when(size(toks) >= n, …).otherwise(array())` guard gave.
  */
case class DistinctWindows(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"window width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def prettyName: String = "graft_distinct_windows"

  override def eval(input: InternalRow): Any = {
    val toks = child.eval(input)
    if (toks == null) 0L
    else DistinctWindows.compute(toks.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |long ${ev.value} = ${c.isNull} ? 0L :
      |  graft.functions.expressions.DistinctWindows.compute(${c.value}, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DistinctWindows =
    copy(child = newChild)
}

object DistinctWindows {
  private val Seed = 42

  /** Per-thread buffers, grown on demand and reused across rows. */
  private final class Scratch {
    var bytes = new Array[Byte](1024)
    var from = new Array[Int](64)  // per token: start in `bytes` (null: -1)
    var to = new Array[Int](64)    // per token: end in `bytes`
    var next = new Array[Int](64)  // first non-null token at or after i
    var prev = new Array[Int](64)  // last non-null token at or before i
    var start = new Array[Int](64) // per window: slice start
    var end = new Array[Int](64)   // per window: slice end
    var hash = new Array[Int](64)  // per window: murmur3 of its slice
    var table = new Array[Int](128) // window index + 1; 0 = empty
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  private def grow(a: Array[Int], n: Int): Array[Int] =
    if (a.length >= n) a else new Array[Int](math.max(n, a.length * 2))

  /** Static entry shared by eval and generated code. */
  def compute(toks: ArrayData, n: Int): Long = {
    val len = toks.numElements()
    if (len < n) return 0L
    val s = scratch.get()
    s.from = grow(s.from, len)
    s.to = grow(s.to, len)
    // the non-null tokens, one space apart: concat_ws over the whole row
    var pos = 0
    var written = false
    var nulls = false
    var i = 0
    while (i < len) {
      if (toks.isNullAt(i)) {
        s.from(i) = -1
        nulls = true
      } else {
        val u = toks.getUTF8String(i)
        val need = pos + u.numBytes() + 1
        if (need > s.bytes.length)
          s.bytes = java.util.Arrays.copyOf(s.bytes, math.max(need, s.bytes.length * 2))
        if (written) { s.bytes(pos) = ' '; pos += 1 }
        written = true
        s.from(i) = pos
        u.writeToMemory(s.bytes, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += u.numBytes()
        s.to(i) = pos
      }
      i += 1
    }
    // each window's concat_ws value: the slice from its first non-null
    // token's start to its last non-null token's end
    val windows = len - n + 1
    s.start = grow(s.start, windows)
    s.end = grow(s.end, windows)
    s.hash = grow(s.hash, windows)
    if (!nulls) {
      var w = 0
      while (w < windows) {
        s.start(w) = s.from(w)
        s.end(w) = s.to(w + n - 1)
        w += 1
      }
    } else {
      s.next = grow(s.next, len)
      s.prev = grow(s.prev, len)
      var last = -1
      i = 0
      while (i < len) {
        if (s.from(i) >= 0) last = i
        s.prev(i) = last
        i += 1
      }
      var first = len
      i = len - 1
      while (i >= 0) {
        if (s.from(i) >= 0) first = i
        s.next(i) = first
        i -= 1
      }
      var w = 0
      while (w < windows) {
        val f = s.next(w)
        if (f > w + n - 1) { s.start(w) = 0; s.end(w) = 0 } // all null: ""
        else { s.start(w) = s.from(f); s.end(w) = s.to(s.prev(w + n - 1)) }
        w += 1
      }
    }
    // open addressing over window indexes; exact byte compare on a match
    var cap = 1
    while (cap < windows * 2) cap <<= 1
    s.table = grow(s.table, cap)
    val table = s.table
    java.util.Arrays.fill(table, 0, cap, 0)
    val mask = cap - 1
    val bytes = s.bytes
    var distinct = 0L
    var w = 0
    while (w < windows) {
      val a = s.start(w)
      val b = s.end(w)
      val h = Murmur3_x86_32.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + a, b - a, Seed)
      s.hash(w) = h
      var slot = h & mask
      var seen = false
      while (!seen && table(slot) != 0) {
        val o = table(slot) - 1
        seen = s.hash(o) == h &&
          java.util.Arrays.equals(bytes, s.start(o), s.end(o), bytes, a, b)
        slot = (slot + 1) & mask
      }
      if (!seen) {
        table(slot) = w + 1
        distinct += 1
      }
      w += 1
    }
    distinct
  }
}
