package graft

import java.nio.file.Files

import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
import org.apache.spark.sql.GraftTestV2
import org.apache.spark.sql.connector.read.{SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog
import graft.storage.TieredTable

/** The two planner faces a 100 TB table must present (r9):
  *
  *  - SupportsReportStatistics — exact sidecar row counts + summed
  *    file sizes, so a small tiered table is ELIGIBLE as the broadcast
  *    side of a join instead of inheriting defaultSizeInBytes.
  *  - SupportsRuntimeV2Filtering — dynamic partition pruning's
  *    execution-time IN predicates shrink the file list through the
  *    Hive path segments (partition columns) and the stats/bloom
  *    sidecars (data columns), Iceberg's runtime-filtering behavior.
  *
  * Invariant throughout: runtime skipping is advisory — answers never
  * change, only files opened.
  */
class RuntimeScanSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def v2Scan(db: String, name: String)
      : org.apache.spark.sql.connector.read.Scan = {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val tbl = cat.loadTable(Identifier.of(Array(db), name))
    tbl.asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
  }

  private def partitions(s: org.apache.spark.sql.connector.read.Scan): Int =
    s.toBatch.planInputPartitions().length

  test("reported statistics: exact rows from sidecars, bytes from files; " +
       "multi-root partitioned table sums across roots") {
    val dir = Files.createTempDirectory("graft-rts").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("day"))
    t.commitAppend(Seq((1L, "d0"), (2L, "d1"), (3L, "d1")).toDF("id", "day"))
    t.commitAppend(Seq((4L, "d0"), (5L, "d2")).toDF("id", "day"))
    TieredCatalog.register("rtsdb", "stats", t.tablePath,
      partitionBy = Seq("day"))
    try {
      val scan = v2Scan("rtsdb", "stats")
      val st = scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
      assert(st.numRows.isPresent && st.numRows.getAsLong == 5L,
        s"sidecar row count must be exact, got ${st.numRows}")
      assert(st.sizeInBytes.isPresent && st.sizeInBytes.getAsLong > 0L)
      assert(st.sizeInBytes.getAsLong <
        spark.sessionState.conf.autoBroadcastJoinThreshold,
        "a tiny table must report under the broadcast threshold")

      // ...and Spark USES it: joined as the dim side with no hint, the
      // graft table is chosen for broadcast
      val fact = spark.range(0, 10000).withColumn("day",
        concat(lit("d"), (col("id") % 3).cast("string")))
      val joined = fact.join(spark.table("graft.rtsdb.stats"), "day")
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"stats should make the graft side broadcastable:\n$plan")
      assert(joined.count() > 0)
    } finally TieredCatalog.unregister("rtsdb", "stats")
  }

  test("runtime IN predicate on the partition column prunes files " +
       "by Hive path segment; answer unchanged") {
    val dir = Files.createTempDirectory("graft-rtp").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("day"))
    // one commit per day → every partition its own file set
    t.commitAppend(Seq((1L, "d0", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
      .toDF("id", "day", "v"))
    TieredCatalog.register("rtsdb", "part", t.tablePath,
      partitionBy = Seq("day"))
    try {
      val full = partitions(v2Scan("rtsdb", "part"))
      assert(full >= 3, s"3 partitions expected, got $full")

      val scan = v2Scan("rtsdb", "part")
      val rf = scan.asInstanceOf[SupportsRuntimeV2Filtering]
      assert(rf.filterAttributes().map(_.describe).contains("day"))
      rf.filter(Array(GraftTestV2.inPredicate("day",
        Seq((UTF8String.fromString("d1"), StringType)))))
      val kept = partitions(scan)
      assert(kept < full, s"runtime filter must drop files ($kept/$full)")
      // the narrowed scan still returns exactly d1's rows
      val rows = spark.sql(
        "SELECT v FROM graft.rtsdb.part WHERE day = 'd1'").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(20L))

      // an IN matching nothing → zero partitions (GraftEmptyScan)
      val scan2 = v2Scan("rtsdb", "part")
      scan2.asInstanceOf[SupportsRuntimeV2Filtering].filter(
        Array(GraftTestV2.inPredicate("day",
          Seq((UTF8String.fromString("nope"), StringType)))))
      assert(partitions(scan2) == 0)
    } finally TieredCatalog.unregister("rtsdb", "part")
  }

  test("runtime IN predicate on a DATA column prunes through the " +
       "min/max sidecars of an unpartitioned table") {
    val dir = Files.createTempDirectory("graft-rtd").toString
    val t = new TieredTable(spark, s"$dir/t")
    for (b <- 0 until 3) // disjoint id ranges per commit
      t.commitAppend(((b * 100) until (b * 100 + 100)).map(_.toLong)
        .toDF("id").coalesce(1))
    TieredCatalog.register("rtsdb", "data", t.tablePath)
    try {
      val scan = v2Scan("rtsdb", "data")
      val rf = scan.asInstanceOf[SupportsRuntimeV2Filtering]
      assert(rf.filterAttributes().map(_.describe).contains("id"))
      val before = partitions(scan)
      rf.filter(Array(GraftTestV2.inPredicate("id", Seq((150L, LongType)))))
      val after = partitions(scan)
      assert(after < before,
        s"sidecar range check must drop the other commits ($after/$before)")
      val report = scan.reportDriverMetrics().map(m => m.name -> m.value).toMap
      assert(report("files_runtime_kept") == 1 && report("files_kept") == 3,
        s"runtime skip metric: $report")
    } finally TieredCatalog.unregister("rtsdb", "data")
  }

  test("dynamic partition pruning end-to-end: a broadcast dim filter " +
       "reaches the graft fact scan at execution time") {
    val dir = Files.createTempDirectory("graft-dpp").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("day"))
    t.commitAppend((0 until 300).map(i => (i.toLong, s"d${i % 3}", i * 2L))
      .toDF("id", "day", "v"))
    TieredCatalog.register("rtsdb", "fact", t.tablePath,
      partitionBy = Seq("day"))
    val dimPath = s"$dir/dim"
    Seq(("d1", "keep"), ("d9", "other")).toDF("day", "tag")
      .write.parquet(dimPath)
    try {
      val dim = spark.read.parquet(dimPath).filter($"tag" === "keep")
      val joined = spark.table("graft.rtsdb.fact")
        .join(dim, "day").agg(sum("v").as("s"), count(lit(1)).as("c"))
      val r = joined.head()
      // d1 rows: i % 3 == 1 → 100 rows, sum(v) = 2 * sum(i)
      val expect = (0 until 300).filter(_ % 3 == 1).map(_ * 2L).sum
      assert((r.getLong(0), r.getLong(1)) == (expect, 100L))
      val dpp = joined.queryExecution.executedPlan.toString
      assert(dpp.contains("dynamicpruning"),
        s"expected a DPP subquery against the graft scan:\n$dpp")
    } finally TieredCatalog.unregister("rtsdb", "fact")
  }

  test("q26_runtime_prune plans a DPP subquery against the graft fact " +
       "scan and matches the plain relational answer") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.queries.Lakehouse.q26RuntimePrune(spark, sf)
    val expect = graft.tables.Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .agg(count(lit(1)).cast("long"), sum(col("o_orderkey"))).head()
    val got = df.head()
    assert((got.getLong(0), got.getLong(1)) ==
      (expect.getLong(0), expect.getLong(1)))
    assert(df.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      df.queryExecution.executedPlan.toString.take(4000))
  }

  test("partition path filter: escapes, null partitions, missing segments") {
    import org.apache.spark.sql.GraftPartitionPathFilter.mayMatch
    import org.apache.spark.sql.sources.{EqualTo, In, IsNotNull, IsNull}
    val cols = Seq("day")
    val f = "/w/t/snap-1/day=a%20b/part-0.parquet"
    assert(mayMatch(f, cols, EqualTo("day", "a b")))
    assert(!mayMatch(f, cols, EqualTo("day", "a%20b")))
    assert(mayMatch(f, cols, In("day", Array("x", "a b"))))
    assert(!mayMatch(f, cols, In("day", Array("x", "y"))))
    val nullF = "/w/t/snap-1/day=__HIVE_DEFAULT_PARTITION__/p.parquet"
    assert(!mayMatch(nullF, cols, EqualTo("day", "a")))
    assert(mayMatch(nullF, cols, IsNull("day")))
    assert(!mayMatch(nullF, cols, IsNotNull("day")))
    // no segment for the column → conservative keep
    assert(mayMatch("/w/t/snap-1/p.parquet", cols, EqualTo("day", "zz")))
    // non-partition column → not our business here
    assert(mayMatch(f, cols, EqualTo("other", "zz")))
  }
}
