package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.{StreamingInsertSql, TieredCatalog}

/** The reference pipeline through the Flink-dialect SQL surface: a log
  * `orders` table enriched by a processing-time temporal join against
  * PK `customer` and `nation` tables into the datalake `enriched` table
  * (tiered and Iceberg-exported per trigger), and a continuously
  * maintained PK `revenue` table. Each cycle INSERTs one order batch
  * with a known key range plus colliding customer upserts, then waits
  * until the key range is readable through the Iceberg export.
  */
final class IngestTier(o: Main.Opts) extends Workload {
  private val db = "ing"
  private val nations = 25
  private val customers = 2000
  private val upsertRows = 50
  private val triggerMs = 100
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val orderSchema = StructType(Seq(
    StructField("order_key", LongType), StructField("cust_key", IntegerType),
    StructField("total_price", DecimalType(15, 2)),
    StructField("order_priority", StringType)))
  private val customerSchema = StructType(Seq(
    StructField("cust_key", IntegerType, nullable = false),
    StructField("name", StringType), StructField("nation_key", IntegerType)))

  // generator state: the next order key, and the customer table as the
  // last write of every key should leave it
  private var rng = new java.util.SplittableRandom(o.seed)
  private var nextKey = 0L
  private var cycleNo = 0
  private val lww = mutable.HashMap.empty[Int, (String, Int)]
  private var genBytes = 0L
  private var genPriceCents = BigInt(0)

  private var session: org.apache.spark.sql.SparkSession = _
  private def sql(s: String): DataFrame = session.sql(s)

  private def enrichedPath: String = TieredCatalog.lookup(db, "enriched").get.path

  /** User bytes of a generated row: 8 per BIGINT or DECIMAL, 4 per INT,
    * the UTF-8 length of every string (datagen.py counts alike).
    */
  private def rawBytes(r: Row): Long = r.toSeq.map {
    case s: String => s.getBytes("UTF-8").length.toLong
    case _: Int => 4L
    case _ => 8L
  }.sum

  private def view(h: Harness, name: String, schema: StructType, rows: Seq[Row]): Unit = {
    genBytes += rows.map(rawBytes).sum
    h.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .createOrReplaceTempView(name)
  }

  def stage(h: Harness): Unit = {
    session = h.spark
    rng = new java.util.SplittableRandom(o.seed)
    nextKey = 0L; cycleNo = 0; lww.clear(); genBytes = 0L; genPriceCents = 0
    Seq("revenue", "enriched", "orders", "customer", "nation")
      .foreach(t => sql(s"DROP TABLE IF EXISTS graft.$db.$t"))
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
      |  `order_priority` STRING, `cust_name` STRING, `nation_name` STRING
      |) WITH ('table.datalake.enabled' = 'true')""".stripMargin)
    sql(s"""CREATE TABLE graft.$db.revenue (
      |  `nation_name` STRING, `revenue` DECIMAL(25, 2),
      |  PRIMARY KEY (`nation_name`) NOT ENFORCED)""".stripMargin)
    view(h, "pb_nation", StructType(Seq(
      StructField("nation_key", IntegerType, nullable = false),
      StructField("name", StringType))),
      (0 until nations).map(n => Row(n, s"NATION_$n")))
    sql(s"INSERT INTO graft.$db.nation SELECT * FROM pb_nation")
    val custs = (0 until customers).map { k =>
      val v = (s"cust-$k-v0", rng.nextInt(nations)); lww(k) = v; Row(k, v._1, v._2)
    }
    view(h, "pb_customer", customerSchema, custs)
    sql(s"INSERT INTO graft.$db.customer SELECT * FROM pb_customer")
    sql(s"""EXECUTE STATEMENT SET
      |WITH('checkpoint'='${h.dir.resolve("ckpt")}', 'interval'='$triggerMs')
      |BEGIN
      |  INSERT INTO graft.$db.enriched
      |    SELECT o.order_key, o.cust_key, o.total_price, o.order_priority,
      |           c.name AS cust_name, n.name AS nation_name
      |    FROM graft.$db.orders o
      |    LEFT JOIN graft.$db.customer FOR SYSTEM_TIME AS OF o.proctime AS c
      |      ON o.cust_key = c.cust_key
      |    LEFT JOIN graft.$db.nation FOR SYSTEM_TIME AS OF o.proctime AS n
      |      ON c.nation_key = n.nation_key;
      |  INSERT INTO graft.$db.revenue
      |    SELECT nation_name, SUM(total_price) AS revenue
      |    FROM graft.$db.enriched GROUP BY nation_name;
      |END""".stripMargin)
  }

  def warmup(h: Harness): Seq[Map[String, Any]] = {
    cycle(h, -1)
    Nil
  }

  /** One cycle: upserts and an order batch INSERTed, then polled until
    * the batch's key range reads back exactly once from the Iceberg
    * export of `enriched`. Timing out after 30 s (the reference's
    * freshness SLA) or reading more rows than were inserted fails it.
    */
  private def cycle(h: Harness, pass: Int): Op = {
    val c = cycleNo; cycleNo += 1
    val name = "cycle"
    val upserts = Iterator.continually(rng.nextInt(customers)).distinct
      .take(upsertRows).toSeq.map { k =>
        val v = (s"cust-$k-c$c", rng.nextInt(nations)); lww(k) = v; Row(k, v._1, v._2)
      }
    val lo = nextKey
    val orders = (0 until o.cycleRows).map { i =>
      val cents = 100L + rng.nextLong(10000000L)
      genPriceCents += cents
      Row(lo + i, rng.nextInt(customers),
        java.math.BigDecimal.valueOf(cents, 2), priorities(rng.nextInt(5)))
    }
    nextKey += o.cycleRows
    view(h, "pb_customer", customerSchema, upserts)
    view(h, "pb_orders", orderSchema, orders)
    val t = h.tracer
    t.span(s"ingest.cycle", "bench") {
      val t0 = System.nanoTime()
      try {
        t.span("plans.sql", "plans") {
          sql(s"INSERT INTO graft.$db.customer SELECT * FROM pb_customer")
          sql(s"INSERT INTO graft.$db.orders SELECT * FROM pb_orders")
        }
        val commit = (System.nanoTime() - t0) / 1e9
        val path = enrichedPath
        val deadline = t0 + 30L * 1000000000L
        var seen = t.span("stream.wait", "wait") { probe(h, path, lo) }
        while (seen < o.cycleRows && System.nanoTime() < deadline) {
          seen = t.span("stream.wait", "wait") {
            Thread.sleep(2)
            probe(h, path, lo)
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val err =
          if (seen == o.cycleRows) None
          else Some(s"batch $c: $seen of ${o.cycleRows} rows visible")
        Op(name, pass, wall, err.isEmpty, seen, err, Some(commit))
      } catch {
        case e: Throwable => Op(name, pass, (System.nanoTime() - t0) / 1e9,
          ok = false, -1L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
  }

  /** Rows of keys [lo, lo + cycleRows) readable through the export. */
  private def probe(h: Harness, path: String, lo: Long): Long =
    h.tracer.span("storage.probe", "storage") {
      val df = graft.storage.IcebergExport.readTable(h.spark, path)
        .filter(col("order_key") >= lo && col("order_key") < lo + o.cycleRows)
        .agg(count(lit(1)))
      val qe = df.queryExecution
      val n = qe.executedPlan.executeCollect().head.getLong(0)
      if (h.tracer.enabled) h.notePlan(qe, qe.executedPlan, 1L)
      n
    }

  def inputDir(h: Harness): String = o.data

  def measure(h: Harness, seconds: Double, limitOps: Option[Int]): Measured =
    Workload.loop(seconds, limitOps, opsPerPass = 1) { (p, n) =>
      (0 until n).map(_ => cycle(h, p))
    }

  /** Quiesces both continuous inserts, then checks the pipeline's
    * invariants over everything generated in this setup.
    */
  override def finish(h: Harness): Seq[Map[String, Any]] = {
    StreamingInsertSql.query(db, "enriched").foreach(_.processAllAvailable())
    StreamingInsertSql.query(db, "revenue").foreach(_.processAllAvailable())
    val s = h.spark
    def keys(df: DataFrame): Row = df.agg(count(lit(1)), countDistinct(col("order_key")),
      min(col("order_key")), max(col("order_key")),
      sum((col("total_price") * 100).cast("long"))).head()
    def exactlyOnce(what: String, df: DataFrame) = {
      val r = keys(df)
      val ok = r.getLong(0) == nextKey && r.getLong(1) == nextKey &&
        r.getLong(2) == 0L && r.getLong(3) == nextKey - 1 &&
        BigInt(r.getLong(4)) == genPriceCents
      inv(what, ok, s"rows/distinct/min/max/cents $r, generated $nextKey keys")
    }
    def inv(name: String, ok: Boolean, detail: => String): Map[String, Any] =
      Map("name" -> name, "ok" -> ok, "error" -> (if (ok) None else Some(detail)))
    def guard(name: String)(f: => Map[String, Any]): Map[String, Any] =
      try f catch { case e: Throwable => inv(name, ok = false, e.toString) }
    Seq(
      guard("enriched_exactly_once") {
        exactlyOnce("enriched_exactly_once", s.table(s"graft.$db.enriched")) },
      guard("iceberg_exactly_once") {
        exactlyOnce("iceberg_exactly_once",
          graft.storage.IcebergExport.readTable(s, enrichedPath)) },
      guard("revenue_is_sum_of_enriched") {
        val want = s.table(s"graft.$db.enriched").groupBy("nation_name")
          .agg(sum("total_price").cast("decimal(25,2)").as("revenue"))
        val got = s.table(s"graft.$db.revenue").select("nation_name", "revenue")
        val diff = want.exceptAll(got).count() + got.exceptAll(want).count()
        inv("revenue_is_sum_of_enriched", diff == 0, s"$diff differing rows")
      },
      guard("customer_last_write_wins") {
        val got = s.table(s"graft.$db.customer")
          .select("cust_key", "name", "nation_key").collect()
          .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
        inv("customer_last_write_wins", got == lww.toMap,
          s"${(got.toSet diff lww.toSet).size} rows differ")
      })
  }

  override def close(h: Harness): Unit =
    if (h.spark != null) Seq("enriched", "revenue").foreach { t =>
      if (StreamingInsertSql.query(db, t).isDefined)
        sql(s"STOP STREAMING INSERT INTO graft.$db.$t")
    }

  def userBytes: Long = genBytes

  def warehouseBytes(h: Harness): Long = Harness.du(Paths.get(h.graftWarehouse))._1

  override def layerExtras(h: Harness, traced: Measured): Map[String, Double] = {
    val path = Paths.get(enrichedPath)
    val commits = traced.ops.flatMap(_.commit).sorted
    Harness.stored(Seq(Paths.get(h.graftWarehouse))) ++ Map(
      "storage.snapshots" ->
        graft.storage.TieredTable(h.spark, path.toString).latestSnapshotId.toDouble,
      "ingest.commit_p50_s" ->
        (if (commits.isEmpty) 0.0 else commits(commits.size / 2)),
      "ingest.rows_per_s" -> traced.ops.count(_.ok) * o.cycleRows / traced.wall)
  }
}
