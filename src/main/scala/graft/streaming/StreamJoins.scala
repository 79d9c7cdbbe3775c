package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream joins. The reference's Flink engine joins two
  * changelogs either temporally (processing-time lookup — the
  * `FOR SYSTEM_TIME AS OF` enrichment that [[graft.plans.StreamingInsertSql]]
  * runs per micro-batch, SURVEY §2.J) or by event-time interval (Flink's
  * `l.ts BETWEEN r.ts - x AND r.ts + y` interval join); this is the
  * interval half, Spark-native: Structured Streaming's watermarked
  * stream-stream join, where the time-band condition doubles as the
  * state-eviction proof.
  *
  * Scale: one hash-shuffle per side on the join key; per-key state holds
  * only rows inside `watermark + band` of the frontier — eviction is
  * derived by Spark from the SAME band predicate the join semantics use,
  * so state is bounded by input rate × window, independent of stream
  * length. The identical call works in batch (the analyzer elides the
  * watermark node and plans a plain range-banded equi-join), which is
  * what puts the operator's semantics under the DuckDB oracle as
  * `r2_interval` while the streaming path is spec-checked.
  */
object StreamJoins {

  /** Event-time interval join: match left row `l` to right rows `r`
    * with `l.key == r.key` and
    * `r.ts ∈ [l.ts − lookback, l.ts + lookahead]`.
    *
    * Contract: the two inputs must share NO column names (rename before
    * the call) — both frames' columns survive into the output, and an
    * ambiguous name would silently resolve to the left side.
    *
    * `watermark` bounds how late either stream may be; in streaming it
    * sets both sides' watermarks (required for Spark to evict
    * stream-stream join state), in batch it is a no-op.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   lookback: String, lookahead: String,
                   watermark: String,
                   joinType: String = "inner"): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"interval-join inputs share columns ${overlap.mkString(", ")}; " +
        "rename one side so every output column is unambiguous")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val cond = col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $lookahead")
    l.join(r, cond, joinType)
  }
}
