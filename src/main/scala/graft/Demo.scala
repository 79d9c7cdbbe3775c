package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.plans.{FlinkScript, StreamingInsertSql, TieredCatalog}
import graft.sources.FakerSource
import graft.storage.{IcebergExport, TieredTable}

/** The reference workload end to end, from the reference's own SQL
  * (its README.md:104-318): the faker-source DDL and the
  * README walkthrough run verbatim through [[FlinkScript]] — five Fluss
  * tables, the bounded loads, the temporal-join enrichment into a
  * datalake table and the continuously-maintained revenue — then the
  * batch analytics in both engine roles: Flink (hot ∪ cold, by name)
  * and Trino (the exported Iceberg metadata alone, through
  * [[IcebergExport.readTable]]).
  *
  *   sbt "runMain graft.Demo [orders]"
  *
  * `orders` (default 10000, the reference's own) replaces the script's
  * `'number-of-rows'` for `source_order`; dims keep the reference's
  * sizes (200 customers over 20 keys, 100 nations over 19). Prints one
  * JSON line; the volume numbers land in SCALING.md.
  */
object Demo {

  /** What one run observed, for the printed line and for checks. */
  final case class Result(orders: Long, loadS: Double, drainS: Double,
                          enrichedRows: Long, maxIngestTs: java.sql.Timestamp,
                          coldRows: Long, icebergRows: Long, revenueGroups: Long,
                          flinkTop5: Seq[(String, java.math.BigDecimal)],
                          trinoTop5: Seq[(String, java.math.BigDecimal)],
                          revenueSnapshots: Long) {
    def line: String = Measure.line("metric" -> "demo", "orders" -> orders,
      "load_s" -> loadS, "drain_s" -> drainS,
      "enrich_rows_per_s" -> enrichedRows / drainS,
      "enriched_rows" -> enrichedRows, "cold_rows" -> coldRows,
      "iceberg_rows" -> icebergRows, "revenue_groups" -> revenueGroups,
      "top5" -> scala.collection.immutable.ListMap(
        flinkTop5.map { case (n, v) => n -> v.toPlainString }: _*),
      "trino_top5_equal" -> (trinoTop5 == flinkTop5))
  }

  def main(args: Array[String]): Unit = {
    val orders = args.headOption.map(_.toLong).getOrElse(10000L)
    val spark = GraftSession.local("graft-demo")
    try run(spark, orders,
      Files.createTempDirectory("graft-demo").toString)
    finally spark.stop()
  }

  /** Runs the reference pipeline with `orders` generated orders and its
    * warehouse at `warehouse` (a local directory or an object-store
    * URL), prints the result line, then calls `check` while the
    * pipeline's tables are still registered (the streams stopped, the
    * session in batch mode). Every table, faker source and the current
    * catalog and warehouse are restored afterwards, whatever happened.
    */
  def run(spark: SparkSession, orders: Long, warehouse: String,
          check: Result => Unit = _ => ()): Result = {
    val prevCatalog = spark.sessionState.catalogManager.currentCatalog.name
    val prevWarehouse = TieredCatalog.warehouse
    TieredCatalog.warehouse = warehouse
    try {
      val sources = FlinkScript.referenceSqlClientScript.replace(
        "'number-of-rows' = '10000'", s"'number-of-rows' = '$orders'")
      require(sources.contains(s"'number-of-rows' = '$orders'"),
        "the reference script no longer sizes source_order at 10000")
      val (loaded, load) = Measure(spark) {
        FlinkScript.run(spark, sources)
        FlinkScript.run(spark, FlinkScript.referenceWalkthroughScript)
      }
      loaded.get
      // both continuous INSERTs read bounded upstream data: drain them
      val (drained, drain) = Measure(spark) {
        Seq("enriched_orders", "nation_revenue").foreach(t =>
          StreamingInsertSql.query("", t).get.processAllAvailable())
      }
      drained.get
      stopInserts(spark)

      // Step 5.2, the Flink batch session: the union read, by name
      FlinkScript.run(spark, "SET 'execution.runtime-mode' = 'batch';")
      def top5(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getDecimal(1)).toSeq
      val enriched =
        spark.sql("SELECT COUNT(1) FROM enriched_orders").head().getLong(0)
      val maxIngestTs = spark.sql("SELECT MAX(ingest_ts) FROM enriched_orders")
        .head().getTimestamp(0)
      val flinkTop5 = top5(spark.sql(
        """SELECT nation_name, revenue
          |FROM nation_revenue
          |ORDER BY revenue DESC
          |LIMIT 5""".stripMargin))
      val revenueGroups =
        spark.sql("SELECT COUNT(*) FROM nation_revenue").head().getLong(0)

      // Step 5.1, the Trino role: only the exported Iceberg metadata
      def path(t: String) = TieredCatalog.lookup("", t).get.path
      val cold = TieredTable(spark, path("enriched_orders")).readCold().count()
      val iceberg =
        IcebergExport.readTable(spark, path("enriched_orders")).count()
      val trinoTop5 = top5(IcebergExport.readTable(spark, path("nation_revenue"))
        .orderBy(col("revenue").desc, col("nation_name"))
        .select("nation_name", "revenue").limit(5))
      // `$snapshots`: Trino's double quotes in Spark's backtick spelling
      val snapshots =
        spark.sql("SELECT * FROM `nation_revenue$snapshots`").count()

      val r = Result(orders, load.wallS, drain.wallS, enriched, maxIngestTs,
        cold, iceberg, revenueGroups, flinkTop5, trinoTop5, snapshots)
      println(r.line)
      check(r)
      r
    } finally {
      try stopInserts(spark) catch { case _: Throwable => }
      FlinkScript.run(spark, "SET 'execution.runtime-mode' = 'batch';")
      spark.sessionState.catalogManager.setCurrentCatalog(prevCatalog)
      TieredCatalog.warehouse = prevWarehouse
      Seq("fluss_order", "fluss_customer", "fluss_nation",
        "enriched_orders", "nation_revenue")
        .foreach(TieredCatalog.unregister("", _))
      Seq("source_order", "source_customer", "source_nation").foreach { v =>
        spark.catalog.dropTempView(v)
        FakerSource.unregister(v)
      }
    }
  }

  private def stopInserts(spark: SparkSession): Unit =
    Seq("enriched_orders", "nation_revenue").foreach { t =>
      if (StreamingInsertSql.query("", t).isDefined)
        spark.sql(s"STOP STREAMING INSERT INTO $t")
    }
}
