package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog
import graft.storage.TieredTable

/** STORAGE-PARTITIONED JOINS ([[org.apache.spark.sql.GraftRuntimeScan]]
  * `SupportsReportPartitioning` + [[org.apache.spark.sql.GraftKeyedPartition]]):
  * two graft tables Hive-partitioned on the join key report
  * `KeyGroupedPartitioning`, every file split carries its typed key,
  * and Spark plans the join with NO shuffle on either side — Iceberg's
  * SPJ, the exchange-eliminator for recurring co-partitioned fact⋈fact
  * joins at 100 TB.
  */
class StoragePartitionedJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** SPJ confs on, broadcast off (a broadcastable side would mask the
    * exchange question), restore after.
    */
  private def withSpj[A](body: => A): A = {
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.requireAllClusterKeysForCoPartition",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled"
    ).map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // partition keys are a SUBSET of the join keys (the normal SPJ
      // shape: join on pk + partition col) — the strict co-partition
      // check would demand the full key list
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // plan assertions read executedPlan before execution; AQE wraps
      // it in an adaptive root that hides the join until runtime
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }.size

  private def mkPart(name: String, rows: Seq[(Long, String, Long)],
                     twoRoots: Boolean = false): String = {
    val dir = Files.createTempDirectory(s"graft-spj-$name").toString
    val t = TieredTable(spark, s"$dir/$name", partitionBy = Seq("grp"))
    val df = rows.toDF("id", "grp", "v")
    if (twoRoots) {
      // snapshot root + hot log segment → the one scan over both
      // roots must keep the keys visible across the union
      t.appendLog(df.filter($"id" % 2 === 0))
      t.tier()
      t.appendLog(df.filter($"id" % 2 === 1))
    } else t.appendLog(df)
    TieredCatalog.register("spj", name, s"$dir/$name",
      partitionBy = Seq("grp"))
    s"graft.spj.$name"
  }

  private val rowsA = (1L to 40L).map(i => (i, s"g${i % 4}", i * 10))
  private val rowsB = (1L to 40L).map(i => (i, s"g${i % 4}", i * 100))

  test("join on the partition key plans with zero shuffles and " +
       "matches the plain-DataFrame result") {
    val a = mkPart("a", rowsA)
    val b = mkPart("b", rowsB)
    withSpj {
      val left = spark.table(a).select($"grp", $"id", $"v".as("va"))
      val right = spark.table(b).select($"grp", $"id", $"v".as("vb"))
      val joined = left.join(right, Seq("grp", "id"))
      val agg = joined.groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"va" + $"vb").as("s"))
      val got = agg.orderBy($"grp").as[(String, Long, Long)].collect().toSeq
      val expected = rowsA.map { case (i, g, v) => (g, v + i * 100) }
        .groupBy(_._1).toSeq.map { case (g, vs) =>
          (g, vs.size.toLong, vs.map(_._2).sum) }
        .sortBy(_._1)
      assert(got == expected)
      // the JOIN itself must be exchange-free: the only allowed shuffle
      // is the one the groupBy needs above the join (grp ⊂ join keys →
      // even that one is elided: the join output is already clustered)
      assert(shuffles(joined) == 0,
        joined.queryExecution.executedPlan.toString)
      val smj = joined.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j
        case b: BroadcastHashJoinExec => fail("broadcast masked the test")
      }
      assert(smj.nonEmpty, "expected a sort-merge join over keyed scans")
    }
  }

  test("multi-root (hot∪cold composite) sides stay key-grouped: the " +
       "union join is still shuffle-free") {
    val a = mkPart("ca", rowsA, twoRoots = true)
    val b = mkPart("cb", rowsB, twoRoots = true)
    withSpj {
      val left = spark.table(a).select($"grp", $"id", $"v".as("va"))
      val right = spark.table(b).select($"grp", $"id", $"v".as("vb"))
      val joined = left.join(right, Seq("grp", "id"))
      assert(joined.count() == 40)
      assert(shuffles(joined) == 0,
        joined.queryExecution.executedPlan.toString)
    }
  }

  test("aggregation on the partition key is exchange-free too: the " +
       "keyed scan satisfies the groupBy's clustering") {
    val a = mkPart("agga", rowsA)
    withSpj {
      val agg = spark.table(a).groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      val got = agg.orderBy($"grp").as[(String, Long, Long)].collect().toSeq
      val expected = rowsA.groupBy(_._2).toSeq.map { case (g, vs) =>
        (g, vs.size.toLong, vs.map(_._3).sum) }.sortBy(_._1)
      assert(got == expected)
      assert(shuffles(agg) == 0,
        agg.queryExecution.executedPlan.toString)
    }
  }

  test("conf off → normal exchanges; results identical either way") {
    val a = mkPart("offa", rowsA)
    val b = mkPart("offb", rowsB)
    val q = () => spark.table(a).select($"grp", $"id", $"v".as("va"))
      .join(spark.table(b).select($"grp", $"id", $"v".as("vb")),
        Seq("grp", "id"))
    val withoutSpj = q().collect().map(_.toSeq).toSet
    withSpj {
      assert(q().collect().map(_.toSeq).toSet == withoutSpj)
    }
  }

  test("a side whose files carry no recognizable key declines: the " +
       "join still runs (with exchanges), never wrong") {
    // unpartitioned table: no partition cols → UnknownPartitioning
    val dir = Files.createTempDirectory("graft-spj-flat").toString
    val t = TieredTable(spark, s"$dir/flat")
    t.appendLog(rowsB.toDF("id", "grp", "v"))
    TieredCatalog.register("spj", "flat", s"$dir/flat")
    val a = mkPart("mixa", rowsA)
    withSpj {
      val joined = spark.table(a).select($"grp", $"id", $"v".as("va"))
        .join(spark.table("graft.spj.flat")
          .select($"grp", $"id", $"v".as("vb")), Seq("grp", "id"))
      assert(joined.count() == 40)
    }
  }
}
