package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The Spark session of a run, and the calls the benchmark makes into
  * it. All temporary state of a setup (java.io.tmpdir, the Spark and
  * graft warehouses, Spark's local dir) lives under that setup's own
  * directory.
  */
final class Harness(val o: Main.Opts) {
  var spark: SparkSession = _
  var dir: Path = _
  private var listener: Option[GroupListener] = None
  private var streamListener: Option[StreamListener] = None
  var tracer: Tracer = new Tracer(false, () => spark.sparkContext, None)
  private var cpu: CpuListener = _

  def tmp: String = dir.resolve("tmp").toString
  def graftWarehouse: String = dir.resolve("warehouse").toString

  def open(setupDir: Path): Unit = {
    dir = setupDir
    Files.createDirectories(setupDir.resolve("tmp"))
    // the engine's fixture, checkpoint and warehouse defaults all derive
    // from java.io.tmpdir, read at call time
    System.setProperty("java.io.tmpdir", tmp)
    graft.plans.TieredCatalog.warehouse = graftWarehouse
    spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.plans.GraftTableCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cpu = new CpuListener
    spark.sparkContext.addSparkListener(cpu)
  }

  /** CPU seconds spent so far by the client thread and by executor
    * tasks: the work of the operations, without the time the host took
    * the processors away (steal) or the JIT and GC threads.
    */
  def cpuSeconds(): Double = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    (java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime +
      cpu.executorCpuNs.get) / 1e9
  }

  def close(): Unit = if (spark != null) {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def startTracing(): Unit = {
    val l = new GroupListener
    val s = new StreamListener
    spark.sparkContext.addSparkListener(l)
    spark.streams.addListener(s)
    listener = Some(l)
    streamListener = Some(s)
    tracer = new Tracer(true, () => spark.sparkContext, listener)
  }

  /** One query operation: build the DataFrame, plan it, and run it to
    * completion with every output column computed (a traversal of
    * `queryExecution.toRdd`, never `count()`, which lets Catalyst prune
    * computed columns). A thrown exception or a row count other than
    * the check pass's makes the operation failed.
    */
  def runQuery(name: String, pass: Int, expectRows: Option[Long])(
      build: => DataFrame): Op = {
    val t0 = System.nanoTime()
    tracer.span(s"op:$name", "bench") {
      try {
        if (pass >= 0 && o.injectThrow.contains(name))
          throw new IllegalStateException(s"injected failure in $name")
        val df = tracer.span("queries.build", "queries")(build)
        val qe = df.queryExecution
        val plan = tracer.span("plans.plan", "plans")(qe.executedPlan)
        val rows = tracer.span("exec.run", "exec") {
          qe.toRdd.mapPartitions(it => Iterator(it.size.toLong))
            .fold(0L)(_ + _)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        if (tracer.enabled) notePlan(qe, plan, rows)
        expectRows match {
          case Some(n) if n != rows => Op(name, pass, wall, ok = false, rows,
            Some(s"row count $rows differs from the checked $n"))
          case _ => Op(name, pass, wall, ok = true, rows)
        }
      } catch {
        case e: Throwable =>
          Op(name, pass, (System.nanoTime() - t0) / 1e9, ok = false, -1L,
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
  }

  /** Untimed check of one query: its result written as one parquet
    * file for run.py's oracle comparison, and its row count.
    */
  def checkQuery(name: String, out: Path)(build: => DataFrame): Map[String, Any] =
    try {
      val df0 = build
      val df = if (o.injectCorrupt.contains(name)) df0.union(df0.limit(1)) else df0
      val p = out.resolve(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(p)
      val rows = spark.read.parquet(p).count()
      Map("name" -> name, "rows" -> rows, "path" -> p, "ok" -> true)
    } catch {
      case e: Throwable => Map("name" -> name, "ok" -> false,
        "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Catalyst phase times and scan accounting of an executed query,
    * attached to the enclosing operation span.
    */
  def notePlan(qe: org.apache.spark.sql.execution.QueryExecution,
               plan: SparkPlan, rowsOut: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("parsing" -> "parse_s", "analysis" -> "analysis_s",
      "optimization" -> "optimization_s", "planning" -> "planning_s")
      .foreach { case (k, a) =>
        tracer.note(a, phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0))
      }
    val nodes = Harness.allNodes(plan)
    val files = nodes.map {
      case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case b: BatchScanExec =>
        b.inputPartitions.map(Harness.filesIn).sum.toLong
      case _ => 0L
    }.sum
    tracer.note("files_read", files.toDouble)
    tracer.note("rows_out", rowsOut.toDouble)
  }

  def spanRecords: Seq[Map[String, Any]] = tracer.spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
      "attrs" -> s.attrs.toMap,
      "jobs" -> s.exec.map(_.jobsStarted).getOrElse(0L),
      "task_ms" -> s.exec.map(_.taskMs).getOrElse(0L))
  }

  /** Per-layer numbers of the traced replay. */
  def report(traced: Measured, w: Workload): Map[String, Any] = {
    val sc = spark.sparkContext
    org.apache.spark.BenchBus.drain(sc)
    val spans = tracer.spans.toSeq
    def sum(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def attr(k: String) = spans.flatMap(_.attrs.get(k)).sum
    val groups = listener.get.groups
    val all = new ExecCounters
    groups.values.foreach(all.add)
    val build = spans.filter(_.name == "queries.build")
    val buildJobs = build.flatMap(_.exec).map(_.jobsStarted).sum
    val sl = streamListener.get
    val self = tracer.selfSeconds
    // analysis runs eagerly while a builder constructs its DataFrame: it
    // is inside the build span but belongs to the plans layer
    val analysisInBuild = spans.filter(_.name.startsWith("op:"))
      .flatMap(_.attrs.get("analysis_s")).sum
    val selfAdj = self ++ Map(
      "queries" -> (self.getOrElse("queries", 0.0) - analysisInBuild),
      "plans" -> (self.getOrElse("plans", 0.0) + analysisInBuild))
    val filesTotal = w.filesTotal(this)
    val filesTotalSum = traced.ops.map(op => filesTotal.getOrElse(op.name, 0L)).sum
    val filesRead = attr("files_read")
    val rowsOut = attr("rows_out")
    val wall = traced.wall
    Map(
      "queries.build_s" -> sum("queries.build"),
      "queries.build_jobs" -> buildJobs.toDouble,
      "plans.analysis_s" -> attr("analysis_s"),
      "plans.optimization_s" -> attr("optimization_s"),
      "plans.planning_s" -> attr("planning_s"),
      "plans.sql_s" -> sum("plans.sql"),
      "plans.stream.batches" -> sl.batches.get.toDouble,
      "plans.stream.query_planning_s" -> sl.seconds("queryPlanning"),
      "plans.stream.add_batch_s" -> sl.seconds("addBatch"),
      "plans.stream.wal_commit_s" -> sl.seconds("walCommit"),
      "plans.stream.trigger_s" -> sl.seconds("triggerExecution"),
      "storage.files_total" -> filesTotalSum.toDouble,
      "storage.files_read" -> filesRead,
      "storage.file_read_frac" ->
        (if (filesTotalSum > 0) filesRead / filesTotalSum else 0.0),
      "storage.bytes_read" -> all.bytesRead.toDouble,
      "storage.rows_scanned" -> all.rowsRead.toDouble,
      "storage.rows_scanned_per_row_out" ->
        (if (rowsOut > 0) all.rowsRead / rowsOut else 0.0),
      "storage.probe_read_s" -> sum("storage.probe"),
      "exec.run_s" -> sum("exec.run"),
      "exec.jobs" -> all.jobsStarted.toDouble,
      "exec.stages" -> all.stages.toDouble,
      "exec.tasks" -> all.tasks.toDouble,
      "exec.busy_frac" -> all.taskMs / 1e3 / (o.cpus * wall),
      "exec.task_s" -> all.taskMs / 1e3,
      "exec.cpu_s" -> all.cpuNs / 1e9,
      "exec.gc_s" -> all.gcMs / 1e3,
      "exec.shuffle_read_bytes" -> all.shuffleRead.toDouble,
      "exec.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
      "exec.spill_bytes" -> all.spill.toDouble,
      "operators.rows_out" -> rowsOut,
      "self" -> selfAdj,
      "per_op" -> perOp(spans)
    ) ++ w.layerExtras(this, traced)
  }

  /** Per-operation breakdown for the trace artifact. */
  private def perOp(spans: Seq[Span]): Map[String, Map[String, Double]] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(s => s.parent == -1).groupBy(_.name).map { case (n, ss) =>
      val children = ss.flatMap(s => kids.getOrElse(s.id, Nil))
      n -> (Map("wall_s" -> ss.map(_.seconds).sum, "count" -> ss.size.toDouble) ++
        children.groupMapReduce(_.name + "_s")(_.seconds)(_ + _) ++
        ss.flatMap(_.attrs).groupMapReduce(_._1)(_._2)(_ + _) ++
        Map("jobs" -> (ss ++ children).flatMap(_.exec).map(_.jobsStarted)
          .sum.toDouble,
          "task_s" -> (ss ++ children).flatMap(_.exec).map(_.taskMs).sum / 1e3))
    }
  }
}

object Harness {
  /** Every node of an executed plan: children, adaptive and query-stage
    * inner plans, and subqueries.
    */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.innerChildren.collect { case s: SparkPlan => s }
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(allNodes)
  }

  /** Data files inside an input partition, including partitions that
    * wrap other partitions (the engine's composite scans).
    */
  def filesIn(p: Any): Int = filesIn(p, 0)

  private def filesIn(p: Any, depth: Int): Int = p match {
    case f: FilePartition => f.files.length
    case _ if depth > 3 || p == null => 0
    case s: Iterable[_] => s.map(filesIn(_, depth + 1)).sum
    case a: Array[_] => a.map(filesIn(_, depth + 1)).sum
    case ip: org.apache.spark.sql.connector.read.InputPartition =>
      ip.getClass.getDeclaredFields.toSeq.map { f =>
        f.setAccessible(true)
        filesIn(f.get(ip), depth + 1)
      }.sum
    case _ => 0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Bytes and file count of the regular files under `p`. */
  def du(p: Path, accept: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && accept(f))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  /** What the program stored under `dirs`: data bytes, data files, and
    * the bytes of everything else (table metadata, logs, markers).
    */
  def stored(dirs: Seq[Path]): Map[String, Double] = {
    val all = dirs.map(du(_)._1).sum
    val data = dirs.map(du(_, QueryMix.isDataFile))
    val dataBytes = data.map(_._1).sum
    Map("storage.bytes_written" -> dataBytes.toDouble,
      "storage.files_written" -> data.map(_._2).sum.toDouble,
      "storage.meta_bytes" -> (all - dataBytes).toDouble)
  }

  /** Busy and stolen time of all the host's processors so far, in
    * clock ticks, from the first line of /proc/stat (user, nice, system,
    * irq and softirq count as busy); zeros where it is unavailable.
    */
  def hostJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Throwable => (0L, 0L) }

  /** The share of the time the processors wanted to run between two
    * `hostJiffies` readings that the host gave to others: a virtual
    * machine's steal.
    */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val stolen = to._2 - from._2
    if (busy + stolen > 0) stolen.toDouble / (busy + stolen) else 0.0
  }

  /** Peak live memory seen by `sampleLive`, in MB. */
  @volatile var peakLiveMb: Double = 0.0

  /** Runs a full collection and records the memory still in use after
    * it: the live heap (what the workload and the engine retain) plus
    * non-heap memory (class metadata, JIT code). The heap has a fixed
    * size, so the resident set would show the heap's size, not the
    * program's use.
    */
  def sampleLive(): Unit = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    val used = mx.getHeapMemoryUsage.getUsed + mx.getNonHeapMemoryUsage.getUsed
    peakLiveMb = math.max(peakLiveMb, used / 1048576.0)
  }
}
