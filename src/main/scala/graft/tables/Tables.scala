package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.storage.SessionMemo

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * Every query in the engine addresses tables through this registry so the
  * physical location/format can change (plain parquet today, tiered
  * [[graft.storage.TieredTable]] for the lakehouse paths) without touching
  * query code.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Batch snapshot read of a fixture table. Plain parquet: Catalyst gets
    * predicate pushdown + column pruning + vectorized reads for free.
    * The relation is resolved once per session and fixture file state
    * ([[SessionMemo]]).
    *
    * `events.ts` arrives in whatever physical type the fixture
    * generator chose, so normalize every variant to one session-facing
    * type — TIMESTAMP (µs, UTC session) — here, where all queries read:
    *  - TIMESTAMP(NANOS) reads as a nanosecond long
    *    (`spark.sql.legacy.parquet.nanosAsLong=true`, set in every
    *    session builder) → exact ns→µs integer division, the same
    *    truncation DuckDB applies;
    *  - timestamp[us] without UTC adjustment reads as TIMESTAMP_NTZ →
    *    cast to TIMESTAMP, which under the pinned UTC session timezone
    *    reinterprets the same wall-clock instant bit-for-bit (and keeps
    *    `unix_micros`/range-frame arithmetic, which reject NTZ, working).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo(spark, "tables", Seq(dir, name), Seq(path(dir, name))) {
      val df = spark.read.parquet(path(dir, name))
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("CAST(ts div 1000 AS BIGINT)")))
      else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
        df.withColumn("ts", col("ts").cast(TimestampType))
      else df
    }

  /** The parquet file or dir a fixture table is read from. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Register all fixture tables as temp views so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
