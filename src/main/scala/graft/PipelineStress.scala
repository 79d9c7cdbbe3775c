package graft

import org.apache.spark.sql.SparkSession

import graft.plans.{StreamingInsertSql, TieredCatalog}

/** Throughput stress for the SQL streaming pipeline — the reference
  * topology (faker load → temporal-join enrichment → continuously
  * maintained revenue) driven ENTIRELY through the Flink-dialect SQL
  * surface at a configurable order volume, with the datalake leg ON
  * (auto-tier per trigger + incremental Iceberg export per commit), so
  * the measured enrichment rate includes the full lakehouse tax the
  * reference pays: enrichment write + tiering rewrite + metadata
  * export.
  *
  *   SPARK_GRAFT_ORDERS=1000000 \
  *     sbt "runMain graft.PipelineStress"
  *
  * Prints one JSON line; the numbers land in SCALING.md.
  */
object PipelineStress {

  case class Result(orders: Long, loadSec: Double, enrichSec: Double,
                    revenueSec: Double, enrichedRows: Long,
                    revenueGroups: Long, coldRows: Long, icebergRows: Long)

  def run(spark: SparkSession, nOrders: Long, db: String = "ps",
          warehouse: Option[String] = None): Result = {
    warehouse.foreach(TieredCatalog.warehouse = _)
    def sql(s: String) = spark.sql(s)
    Seq("orders", "customer", "nation", "enriched", "revenue")
      .foreach(t => sql(s"DROP TABLE IF EXISTS graft.$db.$t"))

    // faker sources: dims sized like real dimensions (20k rows over 2k
    // customer keys → LWW dedup does real work), orders at the stress
    // volume
    sql(s"""CREATE TEMPORARY TABLE ps_source_order (
      |  `order_key` BIGINT, `cust_key` INT,
      |  `total_price` DECIMAL(15, 2), `order_priority` STRING
      |) WITH ('connector' = 'faker', 'number-of-rows' = '$nOrders',
      |  'fields.order_key.expression' = '#{number.numberBetween ''0'',''100000000''}',
      |  'fields.cust_key.expression' = '#{number.numberBetween ''0'',''2000''}',
      |  'fields.total_price.expression' = '#{number.randomDouble ''3'',''1'',''1000''}',
      |  'fields.order_priority.expression' = '#{regexify ''(low|medium|high){1}''}')
      |""".stripMargin)
    sql("""CREATE TEMPORARY TABLE ps_source_customer (
      |  `cust_key` INT, `name` STRING, `nation_key` INT
      |) WITH ('connector' = 'faker', 'number-of-rows' = '20000',
      |  'fields.cust_key.expression' = '#{number.numberBetween ''0'',''2000''}',
      |  'fields.name.expression' = '#{funnyName.name}',
      |  'fields.nation_key.expression' = '#{number.numberBetween ''1'',''20''}')
      |""".stripMargin)
    sql("""CREATE TEMPORARY TABLE ps_source_nation (
      |  `nation_key` INT, `name` STRING
      |) WITH ('connector' = 'faker', 'number-of-rows' = '100',
      |  'fields.nation_key.expression' = '#{number.numberBetween ''1'',''20''}',
      |  'fields.name.expression' = '#{regexify ''(CANADA|CHINA|INDIA|BRAZIL|GERMANY|FRANCE|JAPAN|SPAIN|KOREA|NORWAY){1}''}')
      |""".stripMargin)

    sql(s"""CREATE TABLE graft.$db.orders (
      |  `order_key` BIGINT, `cust_key` INT,
      |  `total_price` DECIMAL(15, 2), `order_priority` STRING)""".stripMargin)
    sql(s"""CREATE TABLE graft.$db.customer (
      |  `cust_key` INT NOT NULL, `name` STRING, `nation_key` INT,
      |  PRIMARY KEY (`cust_key`) NOT ENFORCED)""".stripMargin)
    sql(s"""CREATE TABLE graft.$db.nation (
      |  `nation_key` INT NOT NULL, `name` STRING,
      |  PRIMARY KEY (`nation_key`) NOT ENFORCED)""".stripMargin)
    sql(s"""CREATE TABLE graft.$db.enriched (
      |  `order_key` BIGINT, `cust_key` INT, `total_price` DECIMAL(15, 2),
      |  `cust_name` STRING, `nation_name` STRING
      |) WITH ('table.datalake.enabled' = 'true')""".stripMargin)
    sql(s"""CREATE TABLE graft.$db.revenue (
      |  `nation_name` STRING, `revenue` DECIMAL(25, 2),
      |  PRIMARY KEY (`nation_name`) NOT ENFORCED)""".stripMargin)

    // phase 1: bounded faker loads (generator + append/upsert commits)
    val (load, loadM) = Measure(spark) {
      sql(s"""EXECUTE STATEMENT SET BEGIN
        |  INSERT INTO graft.$db.nation SELECT * FROM ps_source_nation;
        |  INSERT INTO graft.$db.customer SELECT * FROM ps_source_customer;
        |  INSERT INTO graft.$db.orders SELECT * FROM ps_source_order;
        |END""".stripMargin)
    }
    load.get

    // phase 2: temporal-join enrichment INTO the datalake table —
    // the measured time includes the tier rewrite and the incremental
    // Iceberg export the datalake flag turns on
    val (enrich, enrichM) = Measure(spark) {
      sql(s"""EXECUTE STATEMENT SET BEGIN
        |  INSERT INTO graft.$db.enriched
        |    SELECT o.order_key, o.cust_key, o.total_price,
        |           c.name, n.name
        |    FROM graft.$db.orders o
        |    LEFT JOIN graft.$db.customer FOR SYSTEM_TIME AS OF o.proctime AS c
        |      ON o.cust_key = c.cust_key
        |    LEFT JOIN graft.$db.nation FOR SYSTEM_TIME AS OF o.proctime AS n
        |      ON c.nation_key = n.nation_key;
        |END""".stripMargin)
      val q = StreamingInsertSql.query(db, "enriched").get
      q.processAllAvailable()
      sql(s"STOP STREAMING INSERT INTO graft.$db.enriched")
    }
    enrich.get

    // phase 3: continuously-maintained revenue (streaming agg → upsert)
    val (revenue, revenueM) = Measure(spark) {
      sql(s"""EXECUTE STATEMENT SET BEGIN
        |  INSERT INTO graft.$db.revenue
        |    SELECT nation_name, SUM(total_price) AS revenue
        |    FROM graft.$db.enriched GROUP BY nation_name;
        |END""".stripMargin)
      val q = StreamingInsertSql.query(db, "revenue").get
      q.processAllAvailable()
      sql(s"STOP STREAMING INSERT INTO graft.$db.revenue")
    }
    revenue.get

    val enrichedRows =
      sql(s"SELECT COUNT(*) FROM graft.$db.enriched").head().getLong(0)
    val revenueGroups =
      sql(s"SELECT COUNT(*) FROM graft.$db.revenue").head().getLong(0)
    val entry = TieredCatalog.lookup(db, "enriched").get
    val table = graft.storage.TieredTable(spark, entry.path)
    val coldRows = table.readCold().count()
    val icebergRows =
      graft.storage.IcebergExport.readTable(spark, entry.path).count()

    Result(nOrders, loadM.wallS, enrichM.wallS, revenueM.wallS, enrichedRows,
      revenueGroups, coldRows, icebergRows)
  }

  def main(args: Array[String]): Unit = {
    val nOrders = sys.env.getOrElse("SPARK_GRAFT_ORDERS", "1000000").toLong
    val spark = GraftSession.local("graft-pipeline-stress")
    val wh = java.nio.file.Files.createTempDirectory("graft-pswh").toString
    val r = run(spark, nOrders, warehouse = Some(wh))
    println(Measure.line("metric" -> "pipeline_stress", "orders" -> r.orders,
      "load_s" -> r.loadSec, "enrich_s" -> r.enrichSec,
      "enrich_rows_per_s" -> r.enrichedRows / r.enrichSec,
      "revenue_s" -> r.revenueSec, "enriched_rows" -> r.enrichedRows,
      "revenue_groups" -> r.revenueGroups, "cold_rows" -> r.coldRows,
      "iceberg_rows" -> r.icebergRows))
    spark.stop()
  }
}
