package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{StreamingInsertSql, TieredCatalog}
import graft.storage.TieredTable

/** Write-side clustering: every write of a partitioned table shuffles
  * ONCE by its partition columns before the layout write (TieredTable's
  * one write seam, Iceberg's hash distribution-mode), so each
  * `col=value` dir is written by the one task that owns its value — ONE
  * file per dir instead of one per (task × dir). Pinned by file counts
  * on every write path: SQL `INSERT`, API append, merge-on-read and
  * copy-on-write upserts, PK sinks, and a streaming `INSERT`.
  */
class WriteClusteringSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def filesPerDir(root: String): Map[String, Int] = {
    val fs = graft.storage.TableFs.forPath(root)
    fs.listNames(root).filter(_.startsWith("day=")).map { d =>
      d -> fs.listNames(s"$root/$d").count(_.endsWith(".parquet"))
    }.toMap
  }

  private def assertOneFilePerDir(root: String, days: Int = 4): Unit = {
    val files = filesPerDir(root)
    assert(files.size == days && files.values.forall(_ == 1),
      s"a clustered write lands one file per partition dir: $files")
  }

  /** 200 rows over 4 `day` values in 4 input tasks: unclustered, every
    * task opens a file in every dir.
    */
  private def spread(from: Long = 0L) =
    spark.range(from, from + 200)
      .select($"id", concat(lit("d"), $"id" % 4).as("day"))
      .repartition(4)

  private def mkSink(name: String, pk: Seq[String] = Nil,
                     ddl: String = "id BIGINT, day STRING")
      : (TieredTable, String) = {
    val dir = Files.createTempDirectory(s"graft-wc-$name").toString
    val t = TieredTable(spark, s"$dir/$name", pk = pk,
      partitionBy = Seq("day"))
    graft.storage.TableFs.forPath(s"$dir/$name")
      .writeString(s"$dir/$name/meta/SCHEMA", ddl)
    TieredCatalog.register("wc", name, s"$dir/$name", pk = pk,
      partitionBy = Seq("day"))
    (t, s"graft.wc.$name")
  }

  test("INSERT INTO a partitioned sink clusters by partition column: " +
       "one file per col=value dir regardless of source parallelism") {
    val (t, name) = mkSink("clustered")
    spark.range(200)
      .select($"id", concat(lit("d"), $"id" % 2).as("day"))
      .repartition(4) // without clustering: every task hits every dir
      .createOrReplaceTempView("wc_src")
    spark.sql(s"INSERT INTO $name SELECT id, day FROM wc_src")
    assert(spark.table(name).count() == 200)
    assertOneFilePerDir(t.segmentDirPath(t.logSegments.head), days = 2)
  }

  test("API commitAppend clusters like the SQL insert") {
    val dir = Files.createTempDirectory("graft-wc-api").toString
    val t = TieredTable(spark, s"$dir/t", partitionBy = Seq("day"))
    val s = t.commitAppend(spread())
    assert(s.rowsAdded == 200 && t.readCold().count() == 200)
    assertOneFilePerDir(s.files.last)
  }

  test("merge-on-read and copy-on-write partitioned upserts cluster") {
    val dir = Files.createTempDirectory("graft-wc-upsert").toString
    for (mor <- Seq(true, false)) {
      val t = TieredTable(spark, s"$dir/mor-$mor", pk = Seq("id"),
        mergeOnRead = mor, partitionBy = Seq("day"))
      // first: a seed with no previous state; second: half new keys,
      // half updates — the copy-on-write merge rewrites everything
      val seed = t.commitUpsert(spread())
      val next = t.commitUpsert(spread(100))
      assert(seed.rowsAdded == 200, s"mergeOnRead=$mor")
      assert(next.rowsAdded == (if (mor) 200 else 300), s"mergeOnRead=$mor")
      assert(t.readCold().count() == 300, s"mergeOnRead=$mor")
      Seq(seed, next).foreach(s => assertOneFilePerDir(s.files.last))
    }
  }

  test("partitioned PK sinks cluster, and a duplicate key keeps its last row") {
    val (t, name) = mkSink("pk", pk = Seq("id"),
      ddl = "id BIGINT, v STRING, day STRING")
    // pin the dedup shuffle's width: AQE would coalesce this toy batch
    // into one task, which would hide the fan-out
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try spark.sql(s"INSERT INTO $name SELECT id, CAST(id AS STRING) AS v, " +
      "concat('d', id % 4) AS day FROM range(200)")
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assertOneFilePerDir(t.currentSnapshot.get.files.last)
    spark.sql(s"INSERT INTO $name VALUES " +
      "(1000, 'a', 'd0'), (1001, 'b', 'd1'), (1000, 'c', 'd0')")
    val rows = spark.table(name).where($"id" >= 1000)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(rows == Map(1000L -> "c", 1001L -> "b"))
  }

  test("a streaming INSERT from 4 input tasks lands one file per dir") {
    val dir = Files.createTempDirectory("graft-wc-stream").toString
    val src = TieredTable(spark, s"$dir/src")
    TieredCatalog.register("wc", "stream_src", s"$dir/src")
    // four source segments, each holding every day: the first
    // micro-batch reads them as four input tasks
    (0 until 4).foreach(i => src.appendLog(spread(i * 200L).coalesce(1)))
    val (sink, name) = mkSink("stream_sink")
    spark.sql(
      s"""EXECUTE STATEMENT SET WITH('checkpoint'='$dir/ckpt') BEGIN
         |  INSERT INTO $name SELECT id, day FROM graft.wc.stream_src;
         |END""".stripMargin)
    try StreamingInsertSql.query("wc", "stream_sink").get.processAllAvailable()
    finally spark.sql(s"STOP STREAMING INSERT $name")
    assert(spark.table(name).count() == 800)
    assert(sink.logSegments.nonEmpty)
    sink.logSegments.foreach(s => assertOneFilePerDir(sink.segmentDirPath(s)))
  }

  test("distributionMode=none opts out: the unclustered write fans " +
       "out to one file per (task, dir)") {
    val (t, name) = mkSink("fanout")
    spark.range(200)
      .select($"id", concat(lit("d"), $"id" % 2).as("day"))
      .repartition(4)
      .createOrReplaceTempView("wc_src_none")
    spark.conf.set("spark.graft.write.distributionMode", "none")
    try spark.sql(s"INSERT INTO $name SELECT id, day FROM wc_src_none")
    finally spark.conf.unset("spark.graft.write.distributionMode")
    assert(spark.table(name).count() == 200)
    val files = filesPerDir(t.segmentDirPath(t.logSegments.head))
    assert(files.values.sum > 2,
      s"the opt-out should show the fan-out the clustering removes: $files")
  }
}
