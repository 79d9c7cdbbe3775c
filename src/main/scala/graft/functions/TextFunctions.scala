package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Column-level text primitives shared by the dedup / text-analysis
  * operators. Everything here is a composition of codegen'd built-ins
  * or one of graft's codegen'd expressions
  * ([[graft.functions.expressions]]) — no UDFs — so the hot paths stay
  * inside WholeStageCodegen, and every
  * function has an exact DuckDB-SQL equivalent for the oracle.
  */
object TextFunctions {

  /** Whitespace tokenization (fixture text is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Deterministic 60-bit hash shared with the DuckDB oracle:
    * first 15 hex chars of md5, parsed base-16. Fits in a signed long
    * (2^60), always non-negative. Used as the MinHash/SimHash base hash —
    * md5 is bit-identical across engines, unlike murmur3 variants.
    */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /** Seeded hash family: h_i(s) = hash60(i || ":" || s). Avoids modular
    * arithmetic (and its 64-bit overflow pitfalls) entirely — each family
    * member is an independent md5.
    */
  def seededHash(i: Int, s: Column): Column =
    hash60(concat(lit(i.toString), lit(":"), s))

  /** Sorted distinct [[hash60]] values of the n-gram shingles of a token
    * array — the codegen'd fused form of
    * `sort_array(array_distinct(transform(shingles(toks, n), hash60)))`
    * ([[graft.functions.expressions.ShingleHashes]]); bit-identical
    * semantics, one primitive loop, no per-window string allocation.
    * The workhorse of the dedup family's shingling pass.
    */
  def shingleHashes(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.expressions.ShingleHashes(
        org.apache.spark.sql.GraftSqlBridge.expression(toks), n))

  /** Number of distinct word n-gram windows (`concat_ws(" ", …)` of n
    * consecutive tokens) of a token array, as a long; 0 for a null array
    * or one with fewer than n tokens
    * ([[graft.functions.expressions.DistinctWindows]]: exact, no window
    * string built).
    */
  def distinctWindows(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.expressions.DistinctWindows(
        org.apache.spark.sql.GraftSqlBridge.expression(toks), n))

  /** Size of the intersection of two ascending, distinct `array<bigint>`
    * sets, as a long — `size(array_intersect(a, b))` without building
    * the intersection
    * ([[graft.functions.expressions.SortedIntersectSize]]).
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.expressions.SortedIntersectSize(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))
}
