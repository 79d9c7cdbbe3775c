package graft

import java.util.Locale
import java.util.concurrent.atomic.AtomicLongArray

import scala.util.Try

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement core of the mains: a call's wall time with the
  * executor work it caused, and the one JSON renderer for what they print.
  */
object Measure {
  /** What one call cost. Task seconds are executor run time summed over
    * tasks: far below wall × cores means the wall went to driver work and
    * scheduling, not compute.
    */
  final case class Sample(wallS: Double, jobs: Long, tasks: Long, taskS: Double,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    def fields: Seq[(String, Any)] = Seq("wall_s" -> wallS, "jobs" -> jobs,
      "tasks" -> tasks, "task_s" -> taskS, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes)
  }

  /** Jobs, tasks, task milliseconds, shuffle bytes read and written. */
  private final class Counters extends SparkListener {
    private val n = new AtomicLongArray(5)
    override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        n.incrementAndGet(1)
        n.addAndGet(2, m.executorRunTime)
        n.addAndGet(3, m.shuffleReadMetrics.totalBytesRead)
        n.addAndGet(4, m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def read(): Array[Long] = Array.tabulate(5)(n.get)
  }

  private var installed: Option[(SparkContext, Counters)] = None

  /** The context's one listener, added on first use. */
  private def counters(sc: SparkContext): Counters = synchronized {
    installed.collect { case (`sc`, c) => c }.getOrElse {
      val c = new Counters
      sc.addSparkListener(c)
      installed = Some(sc -> c)
      c
    }
  }

  /** Runs `body` once: its value or its error, and what it cost. The bus
    * is drained on both sides, so the counters hold this call's events
    * and no earlier call's.
    */
  def apply[A](spark: SparkSession)(body: => A): (Try[A], Sample) = {
    val sc = spark.sparkContext
    val c = counters(sc)
    ListenerDrain(sc)
    val before = c.read()
    val t0 = System.nanoTime()
    val out = Try(body)
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerDrain(sc)
    val d = c.read().zip(before).map { case (a, b) => a - b }
    (out, Sample(wall, d(0), d(1), d(2) / 1e3, d(3), d(4)))
  }

  /** Row count of `df` with every output column computed: a traversal of
    * the executed plan. `count()` would let Catalyst prune the computed
    * columns away.
    */
  def rows(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions(it => Iterator(it.size.toLong))
      .fold(0L)(_ + _)

  /** One strict-JSON object on one line under any default locale. Strings
    * escape quote, backslash and every control character; doubles render
    * as `%.3f`, non-finite ones as null; maps nest as objects; anything
    * else (integers, booleans) by `toString`.
    */
  def line(fields: (String, Any)*): String = obj(fields)

  private def obj(fields: Iterable[(Any, Any)]): String =
    fields.map { case (k, v) => str(k.toString) + ":" + value(v) }
      .mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else String.format(Locale.ROOT, "%.3f", Double.box(d))
    case m: collection.Map[_, _] => obj(m)
    case s: Sample => obj(s.fields)
    case x => x.toString
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
}
