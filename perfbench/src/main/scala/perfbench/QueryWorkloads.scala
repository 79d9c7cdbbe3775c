package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** A fixed mix of named `SparkEntry.queries`, run once each per pass. */
abstract class QueryMix(o: Main.Opts) extends Workload {
  def names: Seq[String]
  /** The directory the queries read their input tables from. */
  def inputDir(h: Harness): String
  /** Called at the start of every pass. */
  def beforePass(h: Harness): Unit = ()
  /** Untimed passes after the check pass, so that the timed passes run
    * JIT-compiled code.
    */
  def warmPasses: Int = 0

  private var expected = Map.empty[String, Long]

  /** Written by datagen.py next to the generated tables. */
  def userBytes: Long = Files.readString(Paths.get(o.data, "user_bytes")).trim.toLong

  def build(h: Harness, name: String): DataFrame =
    SparkEntry.queries(name)(h.spark, inputDir(h))

  /** The warm-up pass is the output check: every query's result is
    * written for the oracle comparison, and its row count becomes the
    * sentinel the timed passes compare against.
    */
  def warmup(h: Harness): Seq[Map[String, Any]] = {
    beforePass(h)
    val out = Paths.get(o.out).resolveSibling("check")
    val rs = names.map(n => h.checkQuery(n, out)(build(h, n)) +
      ("oracle" -> SparkEntry.oracleSql.get(n)))
    expected = rs.collect {
      case r if r("ok") == true => r("name").toString -> r("rows").asInstanceOf[Long]
    }.toMap
    (0 until warmPasses).foreach { _ =>
      beforePass(h)
      names.foreach(n => h.runQuery(n, -1, None)(build(h, n)))
    }
    rs
  }

  def measure(h: Harness, seconds: Double, limitOps: Option[Int]): Measured =
    Workload.loop(seconds, limitOps, names.size) {
      (p, n) =>
        beforePass(h)
        names.take(n).map { q =>
          h.runQuery(q, p, Some(expected.getOrElse(q, -2L)))(build(h, q))
        }
    }
}

/** Pure-read lakehouse queries over fixtures staged from `orders`. */
final class LakeRead(o: Main.Opts) extends QueryMix(o) {
  /** Query → the fixture tables it reads (directories under the
    * engine's `graft-tiered` root); every fixture is built by the
    * queries' own builders on first call, and none of these builders
    * commits again once its fixture exists.
    */
  val fixtures: Seq[(String, Seq[String])] = Seq(
    "q7_union_read" -> Seq("orders"),
    "q7b_cold_only" -> Seq("orders"),
    "q10_incremental" -> Seq("orders"),
    "q11_time_travel" -> Seq("orders"),
    "q27_tag_travel" -> Seq("orders"),
    "q19_iceberg_read" -> Seq("orders"),
    "q12_partition_pruned" -> Seq("orders_part"),
    "q22_iceberg_part" -> Seq("orders_part"),
    "q26_runtime_prune" -> Seq("orders_part"),
    "q23_iceberg_mor" -> Seq("orders_mor"),
    "q30_mor_sql" -> Seq("orders_mor"),
    "q31_mor_asof" -> Seq("orders_mor"))

  val names: Seq[String] = fixtures.map(_._1)

  def inputDir(h: Harness): String = o.data

  private def tieredRoot(h: Harness): Path = Paths.get(h.tmp, "graft-tiered")

  def stage(h: Harness): Unit = names.foreach { n =>
    val t0 = System.nanoTime()
    build(h, n).queryExecution.analyzed
    Main.log(f"staged $n in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def warehouseBytes(h: Harness): Long =
    Harness.du(tieredRoot(h))._1 + Harness.du(Paths.get(h.graftWarehouse))._1

  /** The staged fixture tables: data and metadata written, snapshots. */
  override def layerExtras(h: Harness, traced: Measured): Map[String, Double] = {
    val tables = fixtureDir(h)
    val snapshots = fixtures.flatMap(_._2).distinct.map { t =>
      graft.storage.TieredTable(h.spark, tables.resolve(t).toString).latestSnapshotId
    }.sum
    Harness.stored(Seq(tieredRoot(h), Paths.get(h.graftWarehouse))) +
      ("storage.snapshots" -> snapshots.toDouble)
  }

  /** `graft-tiered/v<format>/<input dir>/`, where the fixtures live. */
  private def fixtureDir(h: Harness): Path = {
    def only(p: Path): Path = {
      val s = Files.list(p)
      try s.findFirst().get() finally s.close()
    }
    only(only(tieredRoot(h)))
  }

  override def filesTotal(h: Harness): Map[String, Long] = {
    val dirs = fixtureDir(h)
    val perTable = fixtures.flatMap(_._2).distinct.map { t =>
      t -> Harness.du(dirs.resolve(t), QueryMix.isDataFile)._2
    }.toMap
    fixtures.map { case (q, ts) => q -> ts.map(perTable).sum }.toMap
  }
}

/** LLM-data operators over a seeded corpus replicated while staging. */
final class CorpusOps(o: Main.Opts) extends QueryMix(o) {
  val names: Seq[String] = Seq("d3_ngram_pairs", "s2_lsh_ann", "t6_repetition")

  def inputDir(h: Harness): String = h.dir.resolve("corpus").toString

  override def beforePass(h: Harness): Unit =
    graft.queries.Pipeline.clearMemo(h.spark)

  // the JIT is still compiling the operators' code through the first
  // passes after the check pass
  override def warmPasses: Int = 1

  /** Replicates the generated corpus `Copies` times: every copy of a
    * document gains a per-copy suffix token, so each document has
    * near-duplicates in the other copies (the Stress harness's
    * construction); embeddings are replicated with a per-copy
    * perturbation.
    */
  def stage(h: Harness): Unit = {
    val s = h.spark
    val out = inputDir(h)
    val docs = s.read.parquet(s"${o.data}/documents.parquet")
    (0 until CorpusOps.Copies).map { k =>
      docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        (if (k == 0) col("text") else concat(col("text"), lit(s" shard$k"))).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + (if (k == 0) lit(0) else lit(s" shard$k".length))).as("n_chars"))
    }.reduce(_ union _).coalesce(o.cpus)
      .write.parquet(s"$out/documents.parquet")
    val emb = s.read.parquet(s"${o.data}/embeddings.parquet")
    (0 until CorpusOps.Copies).map { k =>
      emb.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + ((i + k) % 7 - 3).cast("float") * lit(0.002f * k)).cast("float"))
          .as("embedding"),
        col("label"))
    }.reduce(_ union _).coalesce(o.cpus)
      .write.parquet(s"$out/embeddings.parquet")
  }

  def warehouseBytes(h: Harness): Long = Harness.du(Paths.get(inputDir(h)))._1

  /** The staged corpus: plain parquet, no table metadata or snapshots. */
  override def layerExtras(h: Harness, traced: Measured): Map[String, Double] =
    Harness.stored(Seq(Paths.get(inputDir(h)))) + ("storage.snapshots" -> 0.0)

  override def filesTotal(h: Harness): Map[String, Long] = {
    def files(t: String) =
      Harness.du(Paths.get(inputDir(h), s"$t.parquet"), QueryMix.isDataFile)._2
    val (d, e) = (files("documents"), files("embeddings"))
    names.map(n => n -> (if (n.startsWith("s")) e else d)).toMap
  }
}

object CorpusOps {
  val Copies = 2
}

object QueryMix {
  def isDataFile(p: Path): Boolean = {
    val s = p.toString
    s.endsWith(".parquet") && !s.contains("/metadata/") &&
      !p.getFileName.toString.startsWith(".") &&
      !p.getFileName.toString.startsWith("_")
  }
}
