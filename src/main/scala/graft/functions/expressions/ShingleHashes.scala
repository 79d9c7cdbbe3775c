package graft.functions.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct 60-bit md5 hashes of the word n-gram shingles of a
  * token array — one codegen'd loop replacing the four-expression chain
  * `sort_array(array_distinct(transform(shingles(toks, n), hash60)))`.
  *
  * Semantics are bit-identical to the chain (and therefore to the DuckDB
  * oracle): each window's md5 is computed over exactly the bytes of
  * `concat_ws(" ", toks[i..i+n-1])`, and the 60-bit value is the first
  * 15 hex chars base-16 = (first 8 digest bytes as a big-endian long)
  * >>> 4 — see [[graft.functions.TextFunctions.hash60]]. Deduplication
  * happens at the hash level; the string-level `array_distinct` of the
  * chain only differs if two DISTINCT shingles md5-collide (~2^-60,
  * and the oracle dedups at the hash level too).
  *
  * Why it exists: the higher-order chain allocates a UTF8String per
  * window plus three intermediate arrays per document; at corpus scale
  * shingling IS the CPU cost of the whole dedup family (measured ~2 s of
  * d3's 3.3 s at sf0.1). Here each window streams its token bytes into
  * one thread-local MessageDigest — no string materialization at all.
  *
  * Fewer than `n` tokens yields an empty array (no shingles); a null
  * token array yields null; null ELEMENTS are skipped within their
  * window exactly as `concat_ws` skips them (so the SQL-registered
  * surface cannot NPE on arrays with null entries).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks =>
      s"${ev.value} = graft.functions.expressions.ShingleHashes.compute($toks, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val Space = Array[Byte](' ')

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Static entry shared by eval and generated code. */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val md = md5Local.get()
    // token bytes materialized once per row, reused across windows
    val bytes = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      val u = toks.getUTF8String(i) // null element → null marker, skipped
      bytes(i) = if (u == null) null else u.getBytes
      i += 1
    }
    val out = new Array[Long](len - n + 1)
    i = 0
    while (i <= len - n) {
      md.reset()
      // null tokens are skipped with no separator — concat_ws semantics
      var j = 0
      var written = false
      while (j < n) {
        val b = bytes(i + j)
        if (b != null) {
          if (written) md.update(Space)
          md.update(b)
          written = true
        }
        j += 1
      }
      val d = md.digest()
      // first 15 hex chars base-16 = big-endian first-8-bytes >>> 4
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v >>>= 4
      out(i) = v
      i += 1
    }
    // ascending, then adjacent duplicates dropped: the distinct set
    java.util.Arrays.sort(out)
    var m = if (out.length == 0) 0 else 1
    i = 1
    while (i < out.length) {
      if (out(i) != out(m - 1)) { out(m) = out(i); m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }
}
