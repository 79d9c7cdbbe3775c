package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog
import graft.storage.{IcebergExport, TieredTable}

/** Partition-spec evolution — Iceberg's `ADD PARTITION FIELD`
  * semantics via `CALL graft.system.add_partition_field`: the new
  * spec applies to FUTURE writes; dirs committed earlier keep their
  * physical layout (the evolved column sits in their data pages, so
  * every vintage serves it). Reads union both; pruning is exact on
  * new dirs (hive segment names) and conservative-then-stats on old
  * ones; Iceberg export refuses a mixed snapshot with a working
  * remedy (compact + vacuum), because a single exported spec cannot
  * describe two layouts.
  */
class PartitionEvolutionSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def mk(name: String): (TieredTable, String, String) = {
    val dir = Files.createTempDirectory(s"graft-pevo-$name").toString
    val path = s"$dir/$name"
    TieredCatalog.register("pevo", name, path)
    (TieredTable(spark, path), s"graft.pevo.$name", path)
  }

  test("evolve mid-life: both vintages read as one table; future " +
       "writes land hive-partitioned; old dirs keep their layout") {
    val (t, name, path) = mk("ev1")
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))                       // old layout
    spark.sql(s"CALL graft.system.add_partition_field('pevo.ev1', 'region')")

    // the evolved entry drives future writes through SQL
    spark.sql(s"INSERT INTO $name VALUES (3, 'eu', 30), (4, 'ap', 40)")
    val t2 = TieredTable(spark, path,
      partitionBy = TieredCatalog.lookup("pevo", "ev1").get.partitionBy)
    t2.tier()

    // disk: the old dir has NO region= subdirs; the new one does
    val dirs = t2.currentSnapshot.get.files
    val layouts = dirs.map(d => new java.io.File(d).listFiles().toSeq
      .exists(f => f.isDirectory && f.getName.startsWith("region=")))
    assert(layouts.contains(true) && layouts.contains(false),
      s"expected one dir per vintage, got $layouts for $dirs")

    // one relation, all four rows, region served by both vintages:
    // one scan per Hive layout, concatenated by the composite
    val read = spark.table(name)
    assert(read.queryExecution.executedPlan.toString
      .contains("GraftCompositeScan(2 layouts)"), read.queryExecution.executedPlan)
    val got = read
      .select("id", "region", "amt").as[(Long, String, Long)]
      .collect().toSet
    assert(got == Set((1L, "eu", 10L), (2L, "us", 20L),
      (3L, "eu", 30L), (4L, "ap", 40L)))

    // filtered read stays exact across the mix
    val eu = spark.table(name).filter(col("region") === "eu")
      .select("id").as[Long].collect().toSet
    assert(eu == Set(1L, 3L))

    // the marker records the boundary
    assert(t2.partitionEvolutions ==
      Seq((1L, Nil, Seq("region"))))
  }

  test("pruning on both vintages: new dirs prune by segment name; " +
       "old dirs are conservatively kept (stats prune them instead)") {
    val (t, name, path) = mk("ev2")
    t.commitAppend((1L to 50L).map(i =>
      (i, if (i % 2 == 0) "eu" else "us", i)).toDF("id", "region", "amt"))
    spark.sql(s"CALL graft.system.add_partition_field('pevo.ev2', 'region')")
    val entry = TieredCatalog.lookup("pevo", "ev2").get
    val t2 = TieredTable(spark, path, partitionBy = entry.partitionBy)
    t2.commitAppend((51L to 100L).map(i =>
      (i, if (i % 2 == 0) "eu" else "ap", i)).toDF("id", "region", "amt"))

    // 'ap' lives only in the NEW vintage: the old dir must still be
    // scanned (conservative — no region= segment to prune on), the
    // new dir's region=eu leg must be prunable. Assert ANSWERS, the
    // pruning contract that cannot lie.
    val ap = spark.table(name).filter(col("region") === "ap")
      .agg(count(lit(1)), sum(col("amt"))).head()
    assert(ap.getLong(0) == 25 && ap.getLong(1) == (51L to 100L)
      .filter(_ % 2 == 1).sum)
    // the partition-path filter keeps old-vintage paths (no segment)
    // and prunes mismatched new-vintage paths
    import org.apache.spark.sql.sources.EqualTo
    val newDir = t2.currentSnapshot.get.files
      .find(d => new java.io.File(d).listFiles().toSeq
        .exists(f => f.isDirectory && f.getName.startsWith("region=")))
      .get
    assert(org.apache.spark.sql.GraftPartitionPathFilter.mayMatch(
      s"$newDir/region=ap/part-0.parquet", Seq("region"),
      EqualTo("region", "ap")))
    assert(!org.apache.spark.sql.GraftPartitionPathFilter.mayMatch(
      s"$newDir/region=eu/part-0.parquet", Seq("region"),
      EqualTo("region", "ap")))
    assert(org.apache.spark.sql.GraftPartitionPathFilter.mayMatch(
      s"$newDir/part-0.parquet", Seq("region"),
      EqualTo("region", "ap")), "pathless vintage must be KEPT")
  }

  test("iceberg export of the MIXED table: multiple partition specs, " +
       "per-manifest spec ids, both vintages round-trip") {
    val (t, name, path) = mk("ev3")
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))
    spark.sql(s"CALL graft.system.add_partition_field('pevo.ev3', 'region')")
    val entry = TieredCatalog.lookup("pevo", "ev3").get
    val t2 = TieredTable(spark, path, partitionBy = entry.partitionBy)
    t2.commitAppend(Seq((3L, "eu", 30L), (4L, "ap", 40L))
      .toDF("id", "region", "amt"))

    // a stale handle (opened without the evolved layout) refuses —
    // it would mis-parse the newest vintage's dirs
    val stale = TieredTable(spark, path)
    val e = intercept[IllegalArgumentException](IcebergExport.export(stale))
    assert(e.getMessage.contains("evolved its partition spec"), e.getMessage)

    // the evolved handle exports BOTH vintages under their own specs
    val mpath = IcebergExport.export(t2)
    val md = Files.readString(java.nio.file.Paths.get(mpath))
    assert(md.contains(""""default-spec-id":1"""), md.take(400))
    assert(md.contains(""""spec-id":0""") && md.contains(""""spec-id":1"""))
    assert(md.contains(""""name":"region""""), "identity spec on region")

    val got = IcebergExport.readTable(spark, path)
      .select("id", "region", "amt").as[(Long, String, Long)]
      .collect().toSet
    assert(got == Set((1L, "eu", 10L), (2L, "us", 20L),
      (3L, "eu", 30L), (4L, "ap", 40L)),
      "both vintages must round-trip through the exported chain")
    // unused: name (the SQL face was exercised in the tests above)
    assert(name.nonEmpty)
  }

  test("evolved export survives retention: time travel to the " +
       "pre-evolution snapshot, then vacuum + re-export GCs the old " +
       "vintage's artifacts and the head still round-trips") {
    val (t, name, path) = mk("ev8")
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))                       // snap 1, spec 0
    spark.sql(s"CALL graft.system.add_partition_field('pevo.ev8', 'region')")
    val t2 = TieredTable(spark, path, partitionBy = Seq("region"))
    t2.commitAppend(Seq((3L, "ap", 30L)).toDF("id", "region", "amt")) // snap 2
    IcebergExport.export(t2)

    // time travel: the pre-evolution snapshot reads under spec 0 alone
    val asOf1 = IcebergExport.readTable(spark, path, asOfSnapshotId = Some(1L))
      .select("id", "region", "amt").as[(Long, String, Long)]
      .collect().toSet
    assert(asOf1 == Set((1L, "eu", 10L), (2L, "us", 20L)))

    // retention: compact + vacuum retires the mixed history; the
    // re-export serves the converged head and still round-trips
    t2.compact()
    t2.vacuum(keepLast = 1)
    IcebergExport.export(t2)
    val got = IcebergExport.readTable(spark, path)
      .select("id", "region", "amt").as[(Long, String, Long)]
      .collect().toSet
    assert(got == Set((1L, "eu", 10L), (2L, "us", 20L), (3L, "ap", 30L)))
    assert(name.nonEmpty)
  }

  test("the Iceberg DDL spelling works: ALTER TABLE … ADD PARTITION " +
       "FIELD col — same verb as the procedure") {
    val (t, name, path) = mk("ev5")
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))
    spark.sql(s"ALTER TABLE $name ADD PARTITION FIELD region")
    assert(TieredCatalog.lookup("pevo", "ev5").get.partitionBy ==
      Seq("region"))
    val t2 = TieredTable(spark, path, partitionBy = Seq("region"))
    t2.commitAppend(Seq((3L, "ap", 30L)).toDF("id", "region", "amt"))
    assert(spark.table(name).count() == 3)
    assert(t2.partitionEvolutions == Seq((1L, Nil, Seq("region"))))
    // Spark's own ADD PARTITION (the Hive partition-VALUE verb) still
    // routes to the catalog's refusal, not this intercept
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $name ADD PARTITION (region='x')"))
    assert(e.getMessage.contains("not supported"), e.getMessage)
    // DROP PARTITION FIELD is the symmetric DDL verb (behavioral
    // coverage in the dedicated drop tests below): it narrows the
    // registered spec and records the boundary
    spark.sql(s"ALTER TABLE $name DROP PARTITION FIELD region")
    assert(TieredCatalog.lookup("pevo", "ev5").get.partitionBy.isEmpty)
    assert(TieredTable(spark, path).partitionEvolutions ==
      Seq((1L, Nil, Seq("region")), (2L, Seq("region"), Nil)))
  }

  test("INSERT OVERWRITE PARTITION refuses while pre-evolution dirs " +
       "are live (the keep/replace split cannot see inside them); " +
       "compact converges and the overwrite works") {
    val (t, name, path) = mk("ev6")
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))                     // old layout
    spark.sql(s"CALL graft.system.add_partition_field('pevo.ev6', 'region')")
    val t2 = TieredTable(spark, path, partitionBy = Seq("region"))
    t2.commitAppend(Seq((3L, "eu", 30L)).toDF("id", "region", "amt"))

    // pre-fix behavior: the old dir has no region= children, so the
    // split returned EMPTY and the ENTIRE pre-evolution vintage —
    // including the untouched us row — silently vanished
    val e = intercept[Exception](spark.sql(
      s"INSERT OVERWRITE $name PARTITION (region='eu') VALUES (9, 90)"))
    assert(e.getMessage.contains("pre-evolution"), e.getMessage)
    assert(spark.table(name).count() == 3, "refusal must not commit")

    t2.compact()
    spark.sql(
      s"INSERT OVERWRITE $name PARTITION (region='eu') VALUES (9, 90)")
    val got = spark.table(name)
      .select("id", "region", "amt").as[(Long, String, Long)]
      .collect().toSet
    assert(got == Set((9L, "eu", 90L), (2L, "us", 20L)),
      s"eu replaced, us kept: $got")
  }

  test("overwrite guard is vintage-exact: a table partitioned by a " +
       "PREFIX of the evolved spec still refuses (old dirs have the " +
       "first level but not the second)") {
    val dir = Files.createTempDirectory("graft-pevo-prefix").toString
    val path = s"$dir/ev7"
    TieredCatalog.register("pevo", "ev7", path, partitionBy = Seq("a"))
    val t = TieredTable(spark, path, partitionBy = Seq("a"))
    t.commitAppend(Seq((1L, "x", "p"), (2L, "x", "q"), (3L, "y", "p"))
      .toDF("id", "a", "b"))                          // layout: a= only
    spark.sql("CALL graft.system.add_partition_field('pevo.ev7', 'b')")
    val t2 = TieredTable(spark, path, partitionBy = Seq("a", "b"))
    t2.commitAppend(Seq((4L, "x", "p")).toDF("id", "a", "b"))

    // pre-fix: the old dir HAS a= children, so a first-level listing
    // heuristic passed — and the split then found no b= level inside
    // a=x and silently dropped rows (2,x,q). The boundary check must
    // refuse regardless of how much of the spec the old layout shares.
    val e = intercept[Exception](
      t2.commitOverwritePartitions(
        Seq((9L, "x", "p")).toDF("id", "a", "b"),
        Seq("a" -> "x", "b" -> "p")))
    assert(e.getMessage.contains("pre-evolution"), e.getMessage)
    assert(t2.readCold().count() == 4, "refusal must not commit")

    t2.compact()
    t2.commitOverwritePartitions(
      Seq((9L, "x", "p")).toDF("id", "a", "b"),
      Seq("a" -> "x", "b" -> "p"))
    val got = t2.readCold().select("id", "a", "b")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((9L, "x", "p"), (2L, "x", "q"), (3L, "y", "p")),
      s"(x,p) replaced, (x,q) and (y,p) kept: $got")
  }

  test("the overwrite guard survives VACUUM: expiring the " +
       "pre-evolution manifest must not inflate the live dir's " +
       "vintage past the boundary") {
    val (t, _, path) = mk("ev9")
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))                       // snap 1, old
    spark.sql(s"CALL graft.system.add_partition_field('pevo.ev9', 'region')")
    val t2 = TieredTable(spark, path, partitionBy = Seq("region"))
    t2.commitAppend(Seq((3L, "eu", 30L)).toDF("id", "region", "amt")) // snap 2
    t2.vacuum(keepLast = 1) // snap 1's MANIFEST expires; its DIR stays
    assert(t2.snapshot(1L).isEmpty && t2.readCold().count() == 3)

    // pre-fix (retained-manifest vintage scan): the dir's vintage
    // inflated to snap 2 > boundary 1 and the guard passed — the
    // silent-loss hole reopened. The name-derived vintage
    // (snap-000001 => 1) is vacuum-proof.
    val e = intercept[Exception](
      t2.commitOverwritePartitions(
        Seq((9L, "eu", 90L)).toDF("id", "region", "amt"),
        Seq("region" -> "eu")))
    assert(e.getMessage.contains("pre-evolution"), e.getMessage)
    assert(t2.readCold().count() == 3, "refusal must not commit")
  }

  test("DROP PARTITION FIELD: future writes stop hive-partitioning; " +
       "old dirs serve the column from their names; reads union " +
       "exactly and filters stay correct across the mix") {
    val dir = Files.createTempDirectory("graft-pevo-drop").toString
    val path = s"$dir/ev10"
    TieredCatalog.register("pevo", "ev10", path,
      partitionBy = Seq("region"))
    val t = TieredTable(spark, path, partitionBy = Seq("region"))
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))                   // hive layout
    spark.sql("CALL graft.system.drop_partition_field('pevo.ev10', 'region')")
    assert(TieredCatalog.lookup("pevo", "ev10").get.partitionBy.isEmpty)

    // the declared order of a hive-first table lists partition cols
    // LAST (Spark's own presentation): (id, amt, region)
    spark.sql("INSERT INTO graft.pevo.ev10 VALUES (3, 30, 'eu'), (4, 40, 'ap')")
    val t2 = TieredTable(spark, path) // current spec: unpartitioned
    t2.tier()

    // disk: the OLD dir has region= subdirs; the new one does not
    val dirs = t2.currentSnapshot.get.files
    val layouts = dirs.map(d => new java.io.File(d).listFiles().toSeq
      .exists(f => f.isDirectory && f.getName.startsWith("region=")))
    assert(layouts.contains(true) && layouts.contains(false),
      s"expected one dir per vintage, got $layouts for $dirs")

    val got = spark.table("graft.pevo.ev10")
      .select("id", "region", "amt").as[(Long, String, Long)]
      .collect().toSet
    assert(got == Set((1L, "eu", 10L), (2L, "us", 20L),
      (3L, "eu", 30L), (4L, "ap", 40L)))
    // filtered read: region from dir names (old) AND pages (new)
    val eu = spark.table("graft.pevo.ev10")
      .filter(col("region") === "eu").select("id").as[Long].collect().toSet
    assert(eu == Set(1L, 3L))
    assert(t2.partitionEvolutions == Seq((1L, Seq("region"), Nil)))
    // the engine-facing reads agree
    assert(t2.readCold().count() == 4)
    assert(t2.readCold().filter(col("region") === "eu")
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("DROP then EXPORT: three vintages under three spec ids, the " +
       "dropped field's partition field-id stays consumed, and the " +
       "whole chain round-trips through readTable") {
    val dir = Files.createTempDirectory("graft-pevo-dropx").toString
    val path = s"$dir/ev11"
    TieredCatalog.register("pevo", "ev11", path)
    val t = TieredTable(spark, path)
    t.commitAppend(Seq((1L, "eu", 10L), (2L, "us", 20L))
      .toDF("id", "region", "amt"))                 // snap 1, spec 0 (none)
    spark.sql("CALL graft.system.add_partition_field('pevo.ev11', 'region')")
    val t2 = TieredTable(spark, path, partitionBy = Seq("region"))
    t2.commitAppend(Seq((3L, "eu", 30L), (4L, "ap", 40L))
      .toDF("id", "region", "amt"))                 // snap 2, spec 1 (region)
    spark.sql("CALL graft.system.drop_partition_field('pevo.ev11', 'region')")
    val t3 = TieredTable(spark, path)
    t3.commitAppend(Seq((5L, "us", 50L)).toDF("id", "region", "amt"))
                                                    // snap 3, spec 2 (none)
    val mpath = IcebergExport.export(t3)
    val md = Files.readString(java.nio.file.Paths.get(mpath))
    assert(md.contains(""""default-spec-id":2"""), md.take(400))
    assert(md.contains(""""spec-id":0""") && md.contains(""""spec-id":1""")
      && md.contains(""""spec-id":2"""))
    // region consumed field-id 1000 in spec 1; the id stays consumed
    // after the drop (never reused) — last-partition-id says so
    assert(md.contains(""""last-partition-id":1000"""), md.take(600))

    val got = IcebergExport.readTable(spark, path)
      .select("id", "region", "amt").as[(Long, String, Long)]
      .collect().toSet
    assert(got == Set((1L, "eu", 10L), (2L, "us", 20L), (3L, "eu", 30L),
      (4L, "ap", 40L), (5L, "us", 50L)),
      "all three vintages must round-trip: pages (old), manifest " +
        "constants (hive), pages again (post-drop)")
  }

  test("REPLACE PARTITION FIELD: one-step swap — ONE new spec id, the " +
       "old column reads from dir names, the new one hive-partitions " +
       "future writes; export round-trips all vintages") {
    val dir = Files.createTempDirectory("graft-pevo-replace").toString
    val path = s"$dir/ev13"
    TieredCatalog.register("pevo", "ev13", path,
      partitionBy = Seq("region"))
    val t = TieredTable(spark, path, partitionBy = Seq("region"))
    t.commitAppend(Seq((1L, "eu", "t1", 10L), (2L, "us", "t2", 20L))
      .toDF("id", "region", "tier", "amt"))         // spec 0: region dirs
    spark.sql(
      "ALTER TABLE graft.pevo.ev13 REPLACE PARTITION FIELD region WITH tier")
    val entry = TieredCatalog.lookup("pevo", "ev13").get
    assert(entry.partitionBy == Seq("tier"))
    val t2 = TieredTable(spark, path, partitionBy = Seq("tier"))
    t2.commitAppend(Seq((3L, "ap", "t1", 30L)).toDF("id", "region", "tier", "amt"))
                                                    // spec 1: tier dirs
    // ONE evolution line — one new spec, not drop+add vintages
    assert(t2.partitionEvolutions ==
      Seq((1L, Seq("region"), Seq("tier"))))

    val got = spark.table("graft.pevo.ev13")
      .select("id", "region", "tier", "amt")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == Set((1L, "eu", "t1", 10L), (2L, "us", "t2", 20L),
      (3L, "ap", "t1", 30L)))
    // filters exact on BOTH the swapped-out and swapped-in columns
    assert(spark.table("graft.pevo.ev13").filter(col("region") === "eu")
      .select("id").as[Long].collect().toSet == Set(1L))
    assert(spark.table("graft.pevo.ev13").filter(col("tier") === "t1")
      .select("id").as[Long].collect().toSet == Set(1L, 3L))

    val mpath = IcebergExport.export(t2)
    val md = Files.readString(java.nio.file.Paths.get(mpath))
    assert(md.contains(""""default-spec-id":1"""), md.take(400))
    // region consumed 1000, tier gets 1001 — ids never reused
    assert(md.contains(""""last-partition-id":1001"""), md.take(600))
    val back = IcebergExport.readTable(spark, path)
      .select("id", "region", "tier", "amt")
      .as[(Long, String, String, Long)].collect().toSet
    assert(back == got, "exported chain must serve both vintages")
  }

  test("DROP refusals: not partitioned by the column; PK tables stay " +
       "frozen for the DROP verb too") {
    val dir = Files.createTempDirectory("graft-pevo-droprefuse").toString
    TieredCatalog.register("pevo", "ev12", s"$dir/ev12")
    val t = TieredTable(spark, s"$dir/ev12")
    t.commitAppend(Seq((1L, "eu")).toDF("id", "region"))
    val e1 = intercept[Exception](spark.sql(
      "CALL graft.system.drop_partition_field('pevo.ev12', 'region')"))
    assert(e1.getMessage.contains("not partitioned by"), e1.getMessage)

    TieredCatalog.register("pevo", "pkt2", s"$dir/pkt2", pk = Seq("id"),
      mergeOnRead = true)
    val pkT = TieredTable(spark, s"$dir/pkt2", pk = Seq("id"),
      mergeOnRead = true)
    pkT.commitUpsert(Seq((1L, "a")).toDF("id", "v"))
    val e2 = intercept[Exception](spark.sql(
      "CALL graft.system.drop_partition_field('pevo.pkt2', 'v')"))
    assert(e2.getMessage.contains("frozen"), e2.getMessage)
  }

  test("refusals: PK tables (frozen spec), duplicate field, reserved " +
       "names, unknown column") {
    val dir = Files.createTempDirectory("graft-pevo-refuse").toString
    TieredCatalog.register("pevo", "pkt", s"$dir/pkt", pk = Seq("id"),
      mergeOnRead = true)
    val pkT = TieredTable(spark, s"$dir/pkt", pk = Seq("id"),
      mergeOnRead = true)
    pkT.commitUpsert(Seq((1L, "a")).toDF("id", "v"))
    val e1 = intercept[Exception](spark.sql(
      "CALL graft.system.add_partition_field('pevo.pkt', 'v')"))
    assert(e1.getMessage.contains("frozen"), e1.getMessage)

    val (t, _, _) = mk("ev4")
    t.commitAppend(Seq((1L, "eu")).toDF("id", "region"))
    spark.sql("CALL graft.system.add_partition_field('pevo.ev4', 'region')")
    val e2 = intercept[Exception](spark.sql(
      "CALL graft.system.add_partition_field('pevo.ev4', 'region')"))
    assert(e2.getMessage.contains("already partitioned"), e2.getMessage)
    // case-insensitive: a case-variant spelling of an existing field
    // refuses too (and a fresh evolution stores the SCHEMA's spelling,
    // so the export's case-sensitive schema lookup always resolves)
    val e2b = intercept[Exception](spark.sql(
      "CALL graft.system.add_partition_field('pevo.ev4', 'REGION')"))
    assert(e2b.getMessage.contains("already partitioned"), e2b.getMessage)
    val e3 = intercept[Exception](spark.sql(
      "CALL graft.system.add_partition_field('pevo.ev4', '__seq')"))
    assert(e3.getMessage.contains("reserved"), e3.getMessage)
    val e4 = intercept[Exception](spark.sql(
      "CALL graft.system.add_partition_field('pevo.ev4', 'nope')"))
    assert(e4.getMessage.contains("not in"), e4.getMessage)
  }
}
