package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.TieredTable

/** RENAME/DROP column evolution — metadata-only at the storage layer
  * (a persisted column mapping, the name-based analog of Iceberg's
  * field-ids), rewrite-once-at-DDL at the SQL layer. The load-bearing
  * checks: a PRE-evolution snapshot reads through the NEW schema with
  * its data intact (time travel), mixed-vintage reads coalesce, and
  * the resurrection trap (reusing a retired name) is refused.
  */
class SchemaEvolutionSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(Files.deleteIfExists(_))
      finally s.close()
    }

  test("rename: historical files and snapshots read through the new name") {
    val dir = Files.createTempDirectory("graft-evo").toString
    val t = TieredTable(spark, s"$dir/t")
    t.commitAppend(Seq((1L, "x"), (2L, "y")).toDF("id", "label"))  // snap 1
    t.commitAppend(Seq((3L, "z")).toDF("id", "label"))             // snap 2
    t.renameColumn("label", "name")
    // current read: new name, old data
    assert(t.readCold().columns.toSeq == Seq("id", "name"))
    assert(t.readCold().select("id", "name").as[(Long, String)]
      .collect().toSet == Set((1L, "x"), (2L, "y"), (3L, "z")))
    // THE Iceberg-trap check: a pre-evolution snapshot through the new
    // schema — time travel must apply the mapping too
    val asOf1 = t.readColdAsOf(1L)
    assert(asOf1.columns.toSeq == Seq("id", "name"))
    assert(asOf1.select("name").as[String].collect().toSet == Set("x", "y"))
    // file-skipping reads apply the mapping too: the old files' data
    // surfaces under the new name, and predicates on it match
    assert(t.readCold().filter(col("id") === 1L).select("id", "name")
      .as[(Long, String)].collect().toSeq == Seq((1L, "x")))
    assert(t.readCold().filter(col("name") === "x").select("id").as[Long]
      .collect().toSeq == Seq(1L))
    // mixed vintages: files written AFTER the rename carry the new name
    // natively; one read coalesces both generations
    t.commitAppend(Seq((4L, "w")).toDF("id", "name"))
    assert(t.readCold().select("id", "name").as[(Long, String)]
      .collect().toSet ==
      Set((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w")))
    // file skipping on the renamed column stays CORRECT (conservative:
    // old sidecars carry the old name, so old files are kept, never
    // wrongly pruned)
    assert(t.readCold().filter(col("name") === "w").select("id").as[Long]
      .collect().toSeq == Seq(4L))
  }

  test("drop: the column leaves every read, history included; name is retired") {
    val dir = Files.createTempDirectory("graft-evo-drop").toString
    val t = TieredTable(spark, s"$dir/t")
    t.commitAppend(Seq((1L, "x", 0.5), (2L, "y", 0.7)).toDF("id", "label", "score"))
    t.dropColumn("score")
    assert(t.readCold().columns.toSeq == Seq("id", "label"))
    assert(t.readColdAsOf(1L).columns.toSeq == Seq("id", "label"),
      "time travel must not resurrect the dropped column")
    // resurrection refusal: the retired name cannot come back via rename
    t.commitAppend(Seq((3L, "z")).toDF("id", "label"))
    val e = intercept[IllegalArgumentException](t.renameColumn("label", "score"))
    assert(e.getMessage.contains("previous column"))
  }

  test("key/layout columns are rename/drop-refused") {
    val dir = Files.createTempDirectory("graft-evo-pk").toString
    val t = TieredTable(spark, s"$dir/t", pk = Seq("id"))
    t.commitUpsert(Seq((1L, "a")).toDF("id", "v"))
    assertThrows[IllegalArgumentException](t.renameColumn("id", "key"))
    assertThrows[IllegalArgumentException](t.dropColumn("id"))
  }

  test("SQL DDL: RENAME/DROP COLUMN through the catalog, scans stay correct") {
    spark.sql("DROP TABLE IF EXISTS graft.wf.evo2")
    // a previous JVM's managed table leaves its location on disk with no
    // in-memory registration for DROP to find — purge it so the CREATE
    // safety check (refuse non-empty unregistered locations) can pass
    deleteTree(java.nio.file.Paths.get(
      graft.plans.TieredCatalog.warehouse, "wf", "evo2"))
    spark.sql("CREATE TABLE graft.wf.evo2 (id BIGINT, label STRING, score DOUBLE)")
    spark.sql("INSERT INTO graft.wf.evo2 VALUES (1, 'a', 0.5), (2, 'b', 0.7)")
    spark.sql("ALTER TABLE graft.wf.evo2 RENAME COLUMN label TO name")
    assert(spark.table("graft.wf.evo2").columns.toSeq ==
      Seq("id", "name", "score"))
    assert(spark.sql("SELECT name FROM graft.wf.evo2 WHERE id = 1")
      .head().getString(0) == "a", "renamed column keeps pre-DDL data")
    spark.sql("ALTER TABLE graft.wf.evo2 DROP COLUMN score")
    assert(spark.table("graft.wf.evo2").columns.toSeq == Seq("id", "name"))
    // post-evolution writes land in the new shape; totals stay exact
    spark.sql("INSERT INTO graft.wf.evo2 VALUES (3, 'c')")
    assert(spark.sql("SELECT COUNT(*), SUM(id) FROM graft.wf.evo2")
      .as[(Long, Long)].head() == ((3L, 6L)))
  }

  test("type widening: int→long via the API keeps historical values " +
       "exact; unsafe changes refuse") {
    val dir = Files.createTempDirectory("graft-widen").toString
    val t = TieredTable(spark, s"$dir/t")
    t.commitAppend(Seq((1, "a"), (2147483647, "b")).toDF("n", "v"))
    t.widenColumn("n", org.apache.spark.sql.types.LongType)
    assert(t.readCold().schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    // values exact through the cast, including the old type's max
    assert(t.readCold().select("n").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2147483647L))
    // post-widen appends carry the wide type natively; compact merges
    t.commitAppend(Seq((4000000000L, "c")).toDF("n", "v"))
    t.compact()
    assert(t.readCold().select("n").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2147483647L, 4000000000L))
    // time travel: the pre-widen snapshot reads through the mapping
    assert(t.readColdAsOf(1L).select("n").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2147483647L))

    val narrow = intercept[IllegalArgumentException](
      t.widenColumn("n", org.apache.spark.sql.types.IntegerType))
    assert(narrow.getMessage.contains("value-preserving"))
    val cross = intercept[IllegalArgumentException](
      t.widenColumn("v", org.apache.spark.sql.types.LongType))
    assert(cross.getMessage.contains("value-preserving"))
  }

  test("SQL DDL: ALTER COLUMN TYPE widens through the catalog; the " +
       "scan converges and sums stay exact") {
    spark.sql("DROP TABLE IF EXISTS graft.wf.evo3")
    deleteTree(java.nio.file.Paths.get(
      graft.plans.TieredCatalog.warehouse, "wf", "evo3"))
    spark.sql("CREATE TABLE graft.wf.evo3 (id BIGINT, n INT)")
    spark.sql("INSERT INTO graft.wf.evo3 VALUES (1, 100), (2, 2147483647)")
    spark.sql("ALTER TABLE graft.wf.evo3 ALTER COLUMN n TYPE BIGINT")
    assert(spark.table("graft.wf.evo3").schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    // a value only the wide type can hold now inserts
    spark.sql("INSERT INTO graft.wf.evo3 VALUES (3, 4000000000)")
    assert(spark.sql("SELECT SUM(n) FROM graft.wf.evo3").head().getLong(0) ==
      100L + 2147483647L + 4000000000L)
    // narrowing refuses — Spark's own analyzer gate fires first
    // (NOT_SUPPORTED_CHANGE_COLUMN); widenColumn's check backs it up
    val bad = intercept[Exception](spark.sql(
      "ALTER TABLE graft.wf.evo3 ALTER COLUMN n TYPE INT"))
    assert(bad.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      bad.getMessage.contains("value-preserving"), bad.getMessage)
    spark.sql("DROP TABLE graft.wf.evo3")
  }
}
