package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQuery

/** Flink's `EXECUTE STATEMENT SET` shape (/root/reference/README.md:
  * 211-216): N INSERTs launched as one multi-sink job. Spark maps each
  * INSERT to its own [[StreamingQuery]]; this thin runner starts them
  * together, all or none.
  */
class StatementSet {
  private val thunks = ArrayBuffer[() => StreamingQuery]()

  /** Queue a statement (lazily — nothing starts until [[run]]). */
  def add(start: => StreamingQuery): this.type = {
    thunks += (() => start); this
  }

  /** Start every queued statement concurrently. If one fails to start,
    * the already-started queries are stopped before rethrowing —
    * otherwise they would keep running with no handle to stop them.
    */
  def run(): Seq[StreamingQuery] = {
    val acc = ArrayBuffer[StreamingQuery]()
    try thunks.foreach(t => acc += t())
    catch {
      case e: Throwable =>
        acc.foreach(q => try q.stop() catch { case _: Throwable => })
        throw e
    }
    acc.toSeq
  }
}

object StatementSet {
  def apply(): StatementSet = new StatementSet

  /** Stop a query after letting any in-flight trigger finish (bounded
    * wait): interrupting a mid-batch foreachBatch write leaves its AQE
    * materialization future racing SparkContext shutdown — the batch
    * aborts with stack noise on an otherwise clean exit.
    */
  def stopGracefully(q: org.apache.spark.sql.streaming.StreamingQuery,
                     quiesceMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + quiesceMs
    while (q.status.isTriggerActive && System.currentTimeMillis() < deadline)
      Thread.sleep(25)
    q.stop()
  }
}
