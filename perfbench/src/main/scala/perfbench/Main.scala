package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Benchmark harness: one JVM, Spark `local[N]`, one client thread.
  *
  * Runs one workload (see README.md) in four steps and writes one JSON
  * record for `run.py`, which checks outputs and derives the metrics:
  *
  *  1. set up `--setups` times, each in a fresh directory (session and
  *     staging), keeping the last session;
  *  2. one untimed check pass, which records every output for the
  *     check, then the workload's untimed warm passes;
  *  3. the measured phase: closed-loop operations for `--seconds`, in
  *     whole passes;
  *  4. with `--trace 1`, the same operations again with spans and
  *     listeners on, for the per-layer numbers.
  */
object Main {

  final case class Opts(
      workload: String = "",
      data: String = "",
      root: String = "",
      out: String = "",
      seconds: Double = 10.0,
      trace: Boolean = false,
      cpus: Int = 4,
      setups: Int = 3,
      seed: Long = 1L,
      cycleRows: Int = 1000,
      injectThrow: Set[String] = Set.empty,
      injectCorrupt: Set[String] = Set.empty)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--root" :: v :: t => parse(t, o.copy(root = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cpus" :: v :: t => parse(t, o.copy(cpus = v.toInt))
    case "--setups" :: v :: t => parse(t, o.copy(setups = v.toInt))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--cycle-rows" :: v :: t => parse(t, o.copy(cycleRows = v.toInt))
    case "--inject-throw" :: v :: t =>
      parse(t, o.copy(injectThrow = o.injectThrow + v))
    case "--inject-corrupt" :: v :: t =>
      parse(t, o.copy(injectCorrupt = o.injectCorrupt + v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Writes the run record and the span log (Scala maps, sequences and
    * options) as JSON.
    */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val w: Workload = o.workload match {
      case "lake_read" => new LakeRead(o)
      case "corpus_ops" => new CorpusOps(o)
      case "ingest_tier" => new IngestTier(o)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val h = new Harness(o)
    val rec = mutable.LinkedHashMap[String, Any]("workload" -> o.workload)
    try {
      val setups = (0 until o.setups).map { i =>
        val dir = Paths.get(o.root, s"setup-$i")
        val host0 = Harness.hostJiffies()
        val t0 = System.nanoTime()
        h.open(dir)
        val t1 = System.nanoTime()
        w.stage(h)
        val t2 = System.nanoTime()
        val steal = Harness.stealShare(host0, Harness.hostJiffies())
        if (i < o.setups - 1) {
          w.close(h)
          h.close()
          Harness.deleteTree(dir)
        }
        val times = Map("session_s" -> (t1 - t0) / 1e9, "stage_s" -> (t2 - t1) / 1e9,
          "steal_share" -> steal)
        log(s"setup $i: $times")
        times
      }
      rec("setups") = setups
      val t0 = System.nanoTime()
      rec("checks") = w.warmup(h)
      rec("warmup_s") = (System.nanoTime() - t0) / 1e9
      rec("input_dir") = w.inputDir(h)
      val cpu0 = h.cpuSeconds()
      val untraced = w.measure(h, o.seconds, limitOps = None)
      rec("cpu_s") = h.cpuSeconds() - cpu0
      log(s"measured ${untraced.ops.size} ops in ${untraced.wall} s")
      rec("ops") = untraced.ops.map(_.record)
      rec("passes") = untraced.passes
      rec("steal_share") = untraced.steal
      rec("wall_s") = untraced.wall
      if (o.trace) {
        // the same operations again, traced; run.py reports the wall
        // difference as the tracing overhead
        h.startTracing()
        val traced = w.measure(h, 0.0, limitOps = Some(untraced.ops.size))
        rec("traced_wall_s") = traced.wall
        rec("traced_ops") = traced.ops.size
        rec("trace") = h.report(traced, w)
        Files.writeString(Paths.get(o.out).resolveSibling("trace.json"),
          json.writeValueAsString(h.spanRecords))
      }
      rec("final_checks") = w.finish(h)
      rec("user_bytes") = w.userBytes
      rec("warehouse_bytes") = w.warehouseBytes(h)
      rec("peak_live_mb") = Harness.peakLiveMb
    } catch {
      case e: Throwable =>
        rec("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      try w.close(h) catch { case _: Throwable => () }
      h.close()
    }
    Files.writeString(Paths.get(o.out), json.writeValueAsString(rec))
    if (rec.contains("fatal")) sys.exit(3)
  }
}

/** Outcome of one timed operation. A failed one carries no latency. */
final case class Op(name: String, pass: Int, wall: Double, ok: Boolean,
                    rows: Long, error: Option[String] = None,
                    commit: Option[Double] = None) {
  def record: Map[String, Any] = Map("name" -> name, "pass" -> pass,
    "wall_s" -> wall, "ok" -> ok, "rows" -> rows, "error" -> error,
    "commit_s" -> commit)
}

/** Timed operations, the walls of the complete passes, the time inside
  * passes, and for every pass the share of the processors' busy time
  * the host took away (steal).
  */
final case class Measured(ops: Seq[Op], passes: Seq[Double], wall: Double,
                          steal: Seq[Double])

trait Workload {
  /** Where the checked outputs' input tables are (for the oracle). */
  def inputDir(h: Harness): String
  /** Builds the staged inputs in the current setup directory. */
  def stage(h: Harness): Unit
  /** Untimed operations that compile and JIT the timed code paths, and
    * check the outputs; one record per checked output.
    */
  def warmup(h: Harness): Seq[Map[String, Any]]
  /** Closed-loop timed operations, in whole passes. */
  def measure(h: Harness, seconds: Double, limitOps: Option[Int]): Measured
  /** Checks that need the workload quiesced; after the measured phase. */
  def finish(h: Harness): Seq[Map[String, Any]] = Nil
  /** Stops whatever the workload started in the current session. */
  def close(h: Harness): Unit = ()
  /** User bytes of the generated rows (datagen.py's rule). */
  def userBytes: Long
  /** Bytes on disk of what the program stored for the workload. */
  def warehouseBytes(h: Harness): Long
  /** Traced scan accounting: data files on disk under each table a
    * timed operation reads, by operation name.
    */
  def filesTotal(h: Harness): Map[String, Long] = Map.empty
  /** Counters only the workload knows (storage growth, snapshots). */
  def layerExtras(h: Harness, traced: Measured): Map[String, Double] = Map.empty
}

object Workload {
  val MinPasses = 3

  /** Runs whole passes until `seconds` of timed passes have run and at
    * least `MinPasses` passes ran (each query's median latency is over
    * that many runs of it), or exactly `limitOps` operations when given
    * (the traced replay). Before every pass, untimed, a full collection starts the
    * pass on a clean heap and samples the live memory the previous pass
    * left (`Harness.sampleLive`). A pass is only timed as a pass when it
    * completes; `wall` is the time inside passes. Each pass also records
    * its steal share (`Harness.stealShare`).
    */
  def loop(seconds: Double, limitOps: Option[Int], opsPerPass: Int)(
           pass: (Int, Int) => Seq[Op]): Measured = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Double]
    val steal = mutable.ArrayBuffer.empty[Double]
    var wall = 0.0
    var p = 0
    def more = limitOps match {
      case Some(n) => ops.size < n
      case None => wall < seconds || passes.size < MinPasses
    }
    while (more) {
      val n = limitOps.map(l => math.min(opsPerPass, l - ops.size))
        .getOrElse(opsPerPass)
      Harness.sampleLive()
      val host0 = Harness.hostJiffies()
      val p0 = System.nanoTime()
      ops ++= pass(p, n)
      val t = (System.nanoTime() - p0) / 1e9
      steal += Harness.stealShare(host0, Harness.hostJiffies())
      if (n == opsPerPass) passes += t
      wall += t
      p += 1
    }
    Harness.sampleLive()
    Measured(ops.toSeq, passes.toSeq, wall, steal.toSeq)
  }
}
