package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Executor-side work of a set of Spark jobs, summed from task-end events. */
final class ExecCounters {
  var jobsStarted = 0L
  var jobsEnded = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesRead = 0L
  var rowsRead = 0L
  var bytesWritten = 0L

  def add(o: ExecCounters): Unit = {
    jobsStarted += o.jobsStarted; jobsEnded += o.jobsEnded
    stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    bytesRead += o.bytesRead; rowsRead += o.rowsRead
    bytesWritten += o.bytesWritten
  }
}

/** Executor CPU time of every finished task. Passive: it adds no job
  * groups and no waits, so it stays on in untraced runs.
  */
final class CpuListener extends SparkListener {
  val executorCpuNs = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) executorCpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** Attributes every job to the job group it was started under: the
  * benchmark gives each traced span its own group, and a streaming
  * query runs its jobs under its run id.
  */
final class GroupListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, ExecCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()

  private def counters(g: String): ExecCounters =
    byGroup.computeIfAbsent(g, _ => new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val c = counters(g)
    c.synchronized { c.jobsStarted += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { g =>
      val c = counters(g)
      c.synchronized { c.jobsEnded += 1 }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = counters(g)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val m = e.taskMetrics
    val c = counters(g)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesRead += m.inputMetrics.bytesRead
        c.rowsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Waits until the bus is empty and every job started under `group`
    * has ended, so no trailing event is missed or counted later.
    */
  def settle(sc: SparkContext, group: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    org.apache.spark.BenchBus.drain(sc)
    def open = Option(byGroup.get(group))
      .exists(c => c.synchronized(c.jobsStarted != c.jobsEnded))
    while (open && System.nanoTime() < deadline) {
      Thread.sleep(5)
      org.apache.spark.BenchBus.drain(sc)
    }
  }

  def groups: Map[String, ExecCounters] = byGroup.asScala.toMap
}

/** Trigger-phase durations of the streaming queries, from their progress
  * events (Spark's `durationMs` keys).
  */
final class StreamListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.atomic.AtomicLong
  private val ms = new ConcurrentHashMap[String, java.lang.Long]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) batches.incrementAndGet()
    p.durationMs.asScala.foreach { case (k, v) =>
      ms.merge(k, v, (a, b) => java.lang.Long.valueOf(a + b))
    }
  }
  def seconds(key: String): Double =
    Option(ms.get(key)).map(_.longValue / 1e3).getOrElse(0.0)
}

/** One timed interval at a layer boundary. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      start: Long, var end: Long = 0L,
                      var exec: Option[ExecCounters] = None,
                      attrs: mutable.LinkedHashMap[String, Double] =
                        mutable.LinkedHashMap.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the body; enabled,
  * each span gets its own job group, so the listener's counters attach
  * to the span that started the jobs.
  */
final class Tracer(val enabled: Boolean, sc: () => SparkContext,
                   listener: Option[GroupListener]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, layer, stack.headOption.fold(-1)(_.id),
        System.nanoTime())
      spans += s
      val ctx = sc()
      val group = s"pb-${s.id}"
      ctx.setJobGroup(group, name)
      stack = s :: stack
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => ctx.setJobGroup(s"pb-${p.id}", p.name)
          case None => ctx.clearJobGroup()
        }
        listener.foreach { l =>
          l.settle(ctx, group)
          s.exec = l.groups.get(group)
        }
      }
    }

  def current: Option[Span] = stack.headOption

  /** Adds `v` to attribute `k` of the innermost open span. */
  def note(k: String, v: Double): Unit =
    if (enabled) current.foreach(s => s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v)

  /** Self time per layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val child = kids.getOrElse(s.id, Nil).map(_.seconds).sum
      s.layer -> (s.seconds - child)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
