package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.storage.{IcebergExport, TieredTable}

/** A copy-on-write table, exported once, that covers every column
  * domain the Iceberg export counts or bounds: int, long, float,
  * double, date, timestamp, ASCII and non-ASCII strings, DECIMAL(7,2)
  * (parquet INT32), DECIMAL(15,2) (INT64) and an all-null column —
  * two files with rows, and one zero-row file. IcebergExportSpec checks
  * its manifests against the footers; ForeignReaderSpec has the Python
  * reader check them independently.
  */
object AllTypesExport {

  /** The decimal columns' expected bounds in the first file. */
  val P7 = ("-12345.67", "99999.99")
  val P15 = ("-1234567890123.45", "9999999999999.99")

  def apply(spark: SparkSession, dir: String): TieredTable = {
    import spark.implicits._
    val t = TieredTable(spark, s"$dir/t")
    val rows = Seq(
      (1L, -7, 1.5f, -2.25, "2024-01-01", "2024-01-01 10:00:00", "apple",
        "éclair", P7._1, P15._2),
      (2L, 42, -0.1f, 3.75, "2024-06-30", "2024-06-30 23:59:59", "mango",
        "日本", P7._2, P15._1),
      (3L, 0, 7.0f, 0.0, "2023-12-31", "2023-12-31 00:00:00", "zebra",
        "Ωmega", "0.01", "-0.01"))
    def frame(rs: Seq[(Long, Int, Float, Double, String, String, String,
                       String, String, String)]) =
      rs.toDF("id", "i", "f", "d", "day", "ts", "s", "u", "p7", "p15")
        .select(col("id"), col("i"), col("f"), col("d"),
          to_date(col("day")).as("day"), to_timestamp(col("ts")).as("ts"),
          col("s"), col("u"), col("p7").cast("decimal(7,2)").as("p7"),
          col("p15").cast("decimal(15,2)").as("p15"),
          lit(null).cast("long").as("nul"))
        .coalesce(1)
    t.commitAppend(frame(rows.take(2)))
    t.commitAppend(frame(rows.drop(2)))
    t.commitAppend(frame(Nil))
    IcebergExport.export(t)
    t
  }
}
