package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.plans.TieredCatalog
import graft.sources.FakerSource

/** THE reference demo, end to end, from its own SQL: [[Demo.run]] runs
  * the faker source DDL (the reference's flink/sql/sql-client.sql:1-50)
  * and the README walkthrough statements (README.md:104-316) VERBATIM
  * through `spark.sql` — catalog creation, Flink-dialect CREATE TABLEs
  * (PROCTIME column, PK NOT ENFORCED, datalake properties), the
  * EXECUTE STATEMENT SET loads, the temporal-join enrichment INSERT,
  * the continuously-maintained revenue INSERT, and the batch union
  * queries — and this spec checks the reference's observable claims
  * against an independent recomputation from the deterministic
  * generators, with the warehouse on local disk and in the bucket.
  *
  * The only local collapses, both documented where implemented:
  * `rows-per-second` pacing fast-forwards (bounded data identical) and
  * `SET 'execution.runtime-mode' = 'streaming'` is issued explicitly
  * (the Flink SQL client's implicit default for unbounded INSERTs).
  * The Trino session (README.md:257-293) is played by
  * [[graft.storage.IcebergExport.readTable]] — the independent
  * Iceberg-metadata reader — plus the `$snapshots` query in Spark
  * spelling (backticks for Trino's double quotes).
  */
class ReferenceScriptSpec extends AnyFunSuite with SparkSpec {

  /** The claims every warehouse must show, checked while the run's
    * tables are live.
    */
  private def claims(r: Demo.Result): Unit = {
    // all generated orders enrich (LEFT JOIN keeps unmatched)
    assert(r.enrichedRows == 10000L)
    assert(r.maxIngestTs != null)
    // Flink role (hot ∪ cold) ≥ Trino role (cold only), README.md:316;
    // datalake freshness collapsed to the trigger → fully tiered here
    assert(r.enrichedRows >= r.coldRows)
    assert(r.icebergRows == r.coldRows && r.coldRows == r.enrichedRows)
    assert(r.trinoTop5 == r.flinkTop5)
    assert(r.flinkTop5.size == 5)
    assert(r.revenueSnapshots >= 1)

    // nation_revenue == GROUP BY over the enriched table (nulls
    // dropped by the PK NOT NULL sink policy)
    val gotRevenue = spark.table("nation_revenue")
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val expRevenue = spark.table("enriched_orders")
      .where(col("nation_name").isNotNull)
      .groupBy("nation_name")
      .agg(sum("total_price").cast("decimal(15,2)").as("revenue"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(gotRevenue == expRevenue)
    assert(!gotRevenue.contains(null))
    assert(r.revenueGroups == gotRevenue.size)
  }

  test("the reference demo script runs verbatim, results match recomputation") {
    val wh = Files.createTempDirectory("graft-refscript").toString
    Demo.run(spark, 10000L, wh, r => {
      claims(r)
      assert(spark.sql("SHOW CREATE TABLE source_customer").head()
        .getString(0).contains("'connector' = 'faker'"))

      // independent recomputation from the generators: latest-per-key
      // dims (LWW on generation order) + the same joins
      val seq = FakerSource.SeqCol
      def latest(src: String, key: String): DataFrame =
        Upsert.latestByKey(
          FakerSource.lookup(src).get.boundedWithSeq(spark),
          Seq(key), Seq(col(seq).desc)).drop(seq)
      val orders = FakerSource.lookup("source_order").get.bounded(spark)
      val expectEnriched = orders
        .join(latest("source_customer", "cust_key")
          .select(col("cust_key"), col("name").as("cust_name"),
            col("nation_key")), Seq("cust_key"), "left")
        .join(latest("source_nation", "nation_key")
          .select(col("nation_key"), col("name").as("nation_name")),
          Seq("nation_key"), "left")
      def keyOf(df: DataFrame): Seq[String] =
        df.select("order_key", "cust_key", "total_price", "cust_name",
          "nation_name")
          .collect().map(_.mkString("|")).sorted.toSeq
      assert(keyOf(spark.table("enriched_orders")) == keyOf(expectEnriched))
    })
  }

  test("the same script runs with the warehouse in the BUCKET (MinIO role)") {
    graft.storage.DemoObjectStore.withStore { fsUrl =>
      Demo.run(spark, 10000L, fsUrl, r => {
        claims(r)
        // the Trino role resolved the ENTIRE metadata chain from
        // bucket objects (datalake export wrote into the bucket)
        val path = TieredCatalog.lookup("", "enriched_orders").get.path
        assert(path.startsWith("graftos://"), path)
      })
    }
  }
}
