package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The one local session configuration: the mains, the oracle dump and
  * the test suite all run the engine exactly this way.
  */
object GraftSession {
  /** Local processors: `SPARK_GRAFT_CPUS`, else every available one. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(app: String, cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // events.ts normalization (Tables.load) reinterprets TIMESTAMP_NTZ
      // through the session time zone: pinned so every host computes the
      // instants the oracle holds
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the SQL row-level rules (MERGE lowering, Flink dialect hooks)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.plans.GraftTableCatalog")
      // storage-partitioned joins (k4): co-partitioned DSv2 scans report
      // KeyGroupedPartitioning and join without exchanges
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // catalog tables (k3's bucketed staging) stay out of the working dir
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
