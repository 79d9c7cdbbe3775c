package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{StreamingInsertSql, TieredCatalog}
import graft.storage.TieredTable

/** An empty batch on a partitioned table: Spark's partitioned writer
  * lands no file for it, and a dir without one has no footer to read a
  * schema from. Every write verb must commit cleanly or commit nothing,
  * so that later reads, tier() and time travel keep working.
  */
class EmptyBatchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def rows(from: Long, n: Long): DataFrame =
    spark.range(from, from + n)
      .select($"id", concat(lit("d"), $"id" % 2).as("day"))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-empty-$name").toString + "/t"

  test("log table: empty commitAppend and appendLog commit cleanly; " +
       "reads, tier and time travel still work") {
    val t = TieredTable(spark, tmp("log"), partitionBy = Seq("day"))
    // a first write of no rows leaves the table empty
    assert(t.commitAppend(rows(0, 0)).id == 0L && t.latestSnapshotId == 0L)
    val seed = t.commitAppend(rows(0, 10))
    val empty = t.commitAppend(rows(0, 0), tag = Some("e1"))
    assert(empty.rowsAdded == 0 && empty.files == seed.files)
    assert(t.commitAppend(rows(0, 0), tag = Some("e1")).id == empty.id,
      "a replayed empty commit returns the one it landed")
    assert(t.appendLog(rows(0, 0)) == -1L)
    t.appendLog(rows(100, 8))
    assert(t.appendLog(rows(0, 0), tag = Some("h1")) == -1L)
    assert(t.logSegments.size == 1, "an empty log append publishes nothing")
    assert(t.readHot().count() == 8)
    assert(t.readUnion().count() == 18)
    assert(t.tier().get.rowsAdded == 8)
    assert(t.readCold().count() == 18)
    assert(t.readColdAsOf(seed.id).count() == 10)
    assert(t.readColdAsOf(empty.id).count() == 10)
  }

  test("PK table: empty merge-on-read and copy-on-write upserts commit " +
       "cleanly") {
    for (mor <- Seq(true, false)) {
      val t = TieredTable(spark, tmp(s"pk-$mor"), pk = Seq("id"),
        mergeOnRead = mor, partitionBy = Seq("day"))
      assert(t.commitUpsert(rows(0, 0)).id == 0L, s"mergeOnRead=$mor")
      val seed = t.commitUpsert(rows(0, 10))
      val empty = t.commitUpsert(rows(0, 0))
      // copy-on-write rewrites the resolved state: its count is the table
      assert(empty.rowsAdded == (if (mor) 0L else 10L), s"mergeOnRead=$mor")
      assert(t.readCold().count() == 10 && t.readUnion().count() == 10)
      assert(t.readColdAsOf(seed.id).count() == 10)
      assert(t.tier().isEmpty)
      t.commitUpsert(rows(5, 10))
      assert(t.readCold().count() == 15, s"mergeOnRead=$mor")
    }
  }

  test("a commit that would empty a partitioned table refuses and " +
       "leaves it readable") {
    val t = TieredTable(spark, tmp("delete"), partitionBy = Seq("day"))
    t.commitAppend(rows(0, 10))
    // overwriting one partition with no rows drops it; the other is kept
    val s = t.commitOverwritePartitions(rows(0, 0), Seq("day" -> "d0"))
    assert(s.rowsAdded == 0 && t.readCold().count() == 5)
    val before = t.latestSnapshotId
    intercept[IllegalStateException](t.deleteWhere(lit(true)))
    assert(t.latestSnapshotId == before && t.readCold().count() == 5)
  }

  test("a streaming INSERT whose batch filters to nothing leaves the " +
       "partitioned sink readable") {
    val dir = Files.createTempDirectory("graft-empty-stream").toString
    val src = TieredTable(spark, s"$dir/src")
    TieredCatalog.register("eb", "src", s"$dir/src")
    src.appendLog(rows(0, 10))
    val sink = TieredTable(spark, s"$dir/sink", partitionBy = Seq("day"))
    graft.storage.TableFs.forPath(s"$dir/sink")
      .writeString(s"$dir/sink/meta/SCHEMA", "id BIGINT, day STRING")
    TieredCatalog.register("eb", "sink", s"$dir/sink",
      partitionBy = Seq("day"))
    spark.sql(
      s"""EXECUTE STATEMENT SET WITH('checkpoint'='$dir/ckpt') BEGIN
         |  INSERT INTO graft.eb.sink
         |    SELECT id, day FROM graft.eb.src WHERE id < 0;
         |END""".stripMargin)
    try StreamingInsertSql.query("eb", "sink").get.processAllAvailable()
    finally spark.sql("STOP STREAMING INSERT graft.eb.sink")
    assert(sink.logSegments.isEmpty)
    assert(spark.table("graft.eb.sink").count() == 0)
    sink.appendLog(rows(0, 8))
    assert(sink.readUnion().count() == 8)
    assert(sink.tier().get.rowsAdded == 8)
    assert(spark.table("graft.eb.sink").count() == 8)
  }
}
