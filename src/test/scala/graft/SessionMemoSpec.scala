package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Pipeline
import graft.storage.{IcebergExport, SessionMemo, TieredTable}
import graft.tables.Tables

/** The session memo's contract: a repeat read of unchanged inputs reuses
  * the resolved relation without re-running the schema job; a rebuilt
  * input reads back its new rows; entries stay bounded; clearing one
  * namespace leaves the others; stopped sessions' entries go.
  */
class SessionMemoSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val (out, m) = Measure(spark)(body)
    (out.get, m.jobs.toInt)
  }

  /** `read` twice: the second is a hit that runs no job and returns the
    * same relation. Returns the first read's job count.
    */
  private def assertHit(what: String)(read: => DataFrame): Int = {
    val (first, firstJobs) = jobsDuring(read)
    val hits = SessionMemo.hits
    val (second, secondJobs) = jobsDuring(read)
    assert(secondJobs == 0, s"$what: a repeat read ran $secondJobs job(s)")
    assert(SessionMemo.hits == hits + 1, s"$what: a repeat read must be a hit")
    assert(second eq first)
    firstJobs
  }

  private def ids(df: DataFrame): Set[Long] = df.select("id").as[Long].collect().toSet

  private def twoCommitTable(path: String, from: Long): TieredTable = {
    val t = TieredTable(spark, path)
    t.commitAppend((from until from + 3).toDF("id"))
    t.commitAppend((from + 3 until from + 5).toDF("id"))
    t
  }

  test("repeat reads of unchanged inputs are hits and run no schema job") {
    val dir = Files.createTempDirectory("graft-memo").toString
    (1L to 5L).toDF("id").write.parquet(Tables.path(dir, "orders"))
    // the first reads run the footer schema job the hits skip
    assert(assertHit("Tables.load")(Tables.load(spark, dir, "orders")) > 0)
    val t = twoCommitTable(s"$dir/t", 0L)
    assert(assertHit("readCold")(t.readCold()) > 0)
    IcebergExport.export(t)
    assertHit("readTable")(IcebergExport.readTable(spark, t.tablePath))
  }

  test("a table deleted and rebuilt at the same path reads back its new rows") {
    val dir = Files.createTempDirectory("graft-memo-rebuild").toString
    val fixture = Paths.get(Tables.path(dir, "orders"))
    (1L to 5L).toDF("id").coalesce(1).write.parquet(fixture.toString)
    assert(ids(Tables.load(spark, dir, "orders")) == (1L to 5L).toSet)
    val t0 = twoCommitTable(s"$dir/t", 0L)
    assert(ids(t0.readCold()) == (0L until 5L).toSet)
    IcebergExport.export(t0)
    assert(ids(IcebergExport.readTable(spark, t0.tablePath)) == (0L until 5L).toSet)
    // move the old copies aside rather than deleting them, so the new
    // files cannot reuse their inodes, and give every rebuilt snapshot
    // dir its predecessor's mtime: a rebuild within the same clock tick
    val oldMtimes = t0.currentSnapshot.get.files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)))
    Files.move(fixture, Paths.get(s"$dir/orders.old"))
    Files.move(Paths.get(t0.tablePath), Paths.get(s"$dir/t.old"))

    (10L to 15L).toDF("id").coalesce(1).write.parquet(fixture.toString)
    assert(ids(Tables.load(spark, dir, "orders")) == (10L to 15L).toSet)
    val t1 = twoCommitTable(s"$dir/t", 100L)
    assert(t1.currentSnapshot.get.files == oldMtimes.map(_._1))
    oldMtimes.foreach { case (f, m) => Files.setLastModifiedTime(Paths.get(f), m) }
    assert(ids(t1.readCold()) == (100L until 105L).toSet)
    IcebergExport.export(t1)
    assert(ids(IcebergExport.readTable(spark, t1.tablePath)) == (100L until 105L).toSet)
  }

  test("50 commits, each followed by a current read, stay within the bound") {
    val dir = Files.createTempDirectory("graft-memo-bound").toString
    val t = TieredTable(spark, s"$dir/t")
    for (i <- 0L until 50L) {
      t.commitAppend(Seq(i).toDF("id"))
      assert(t.readCold().count() == i + 1)
      assert(SessionMemo.size <= SessionMemo.Capacity)
    }
  }

  test("Pipeline.clearMemo unpersists d3's frame and leaves fixture loads hot") {
    val dir = Files.createTempDirectory("graft-memo-docs").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog again"),
        (3L, "an unrelated line of text"))
      .toDF("doc_id", "text").write.parquet(Tables.path(dir, "documents"))
    val d3 = Pipeline.d3NgramPairs(spark, dir)
    assert(d3.storageLevel != StorageLevel.NONE)
    Pipeline.clearMemo(spark)
    assert(d3.storageLevel == StorageLevel.NONE)
    val hits = SessionMemo.hits
    Tables.load(spark, dir, "documents")
    assert(SessionMemo.hits == hits + 1)
    // the next d3 call rebuilds, and the rows are the same
    assert(Pipeline.d3NgramPairs(spark, dir).count() == d3.count())
  }

  test("a stopped session's entries are dropped on the next access") {
    // stopping the shared session would end the suite: run in a child JVM
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).toSeq
      .filter(a => a.startsWith("--add-opens") || a.contains("=ALL-UNNAMED") ||
        a.startsWith("-Dspark"))
    val cmd = Seq(javaBin, "-Xmx1g") ++ jvmArgs ++ Seq("-cp",
      System.getProperty("java.class.path"), SessionMemoStopCheck.getClass.getName.stripSuffix("$"))
    val out = Files.createTempFile("graft-memo-stop", ".log").toFile
    val code = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out).start().waitFor()
    val log = new String(Files.readAllBytes(out.toPath))
    assert(code == 0 && log.contains(SessionMemoStopCheck.Ok), log.takeRight(4000))
  }
}

/** Child-JVM half of the stopped-session check: entries of a stopped
  * session must be gone after the next access from a new session.
  */
object SessionMemoStopCheck {
  val Ok = "stopped-session entries dropped"

  private def session(): SparkSession = GraftSession.local("graft-memo-stop", cpus = 1)

  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("graft-memo-stop").toString
    val first = session()
    Seq("region", "nation").foreach(n =>
      first.range(3).write.parquet(Tables.path(dir, n)))
    Tables.load(first, dir, "region")
    Tables.load(first, dir, "nation")
    require(SessionMemo.size == 2, s"entries before stop: ${SessionMemo.size}")
    first.stop()
    val second = session()
    require(second ne first)
    Tables.load(second, dir, "region")
    require(SessionMemo.size == 1, s"entries after stop: ${SessionMemo.size}")
    second.stop()
    println(Ok)
  }
}
