package graft.storage

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one session-scoped memo of resolved relations, one namespace
  * each: fixture loads (`tables`, [[graft.tables.Tables]]), lake scans
  * (`lake`, [[TieredTable]]'s reads of snapshot and segment dirs),
  * Iceberg reads (`iceberg`, [[IcebergExport.readTable]]), the
  * materialized pair frames (`pipeline`, [[graft.queries.Pipeline]]),
  * and the file schemas every catalog scan reads with (`schema`,
  * [[graft.plans.TieredSqlTable.fileSchema]]; the lake scans and the
  * Iceberg export's schema probe take theirs from it too).
  * Re-resolving a relation re-pays the driver-side listing, the footer
  * schema read (a distributed job under `mergeSchema`) and the
  * analysis; a session that reads the same tables hundreds of times
  * pays it once per input state instead. Relation values are logical
  * plans except where the caller itself cached them, so every action
  * still scans the files.
  *
  * One freshness rule: an entry is valid while every input it was
  * derived from stats the same — path, size, nanosecond mtime and file
  * key (inode), one `readAttributes` per path. A lookup whose stamp
  * differs rebuilds in place, replacing the superseded entry. A value
  * derived from any non-local or missing input is built fresh and never
  * stored (object-store tables read fresh every time). There is no
  * bypass switch.
  */
object SessionMemo {

  /** Entries across all sessions. Peak live entries measured with no
    * bound, file schemas included: 1,326 over the full test suite (516
    * tests, one session) and 26 over a `lake_read` benchmark run. 2048
    * holds either run whole, so neither evicts; a longer session is
    * bounded here instead of growing with every commit.
    */
  val Capacity = 2048

  private case class Key(spark: SparkSession, namespace: String, parts: Seq[String])
  private case class Entry(stamp: Seq[Any], value: AnyRef)

  // access order: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean = {
      val full = this.size > Capacity
      if (full) release(e.getValue)
      full
    }
  }

  private val hitCount = new AtomicLong
  private val missCount = new AtomicLong

  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def size: Int = entries.synchronized(entries.size)

  /** The value for (`namespace`, `keyParts`) in `spark`, built by `build`
    * unless an entry stamped with the current state of `inputs` exists.
    */
  def apply[V <: AnyRef](spark: SparkSession, namespace: String, keyParts: Seq[String],
                         inputs: Seq[String])(build: => V): V =
    stampOf(inputs) match {
      case None => build
      case Some(stamp) =>
        val key = Key(spark, namespace, keyParts)
        val cached = entries.synchronized {
          dropStopped()
          Option(entries.get(key)).filter(_.stamp == stamp)
        }
        cached match {
          case Some(e) =>
            hitCount.incrementAndGet()
            e.value.asInstanceOf[V]
          case None =>
            missCount.incrementAndGet()
            val v = build
            entries.synchronized(Option(entries.put(key, Entry(stamp, v))))
              .foreach(release)
            v
        }
    }

  /** Evict `spark`'s entries in `namespace`, unpersisting cached ones. */
  def clear(spark: SparkSession, namespace: String): Unit = entries.synchronized {
    entries.entrySet.removeIf { e =>
      val evict = (e.getKey.spark eq spark) && e.getKey.namespace == namespace
      if (evict) release(e.getValue)
      evict
    }
  }

  /** Entries of stopped sessions can never be read again. */
  private def dropStopped(): Unit =
    entries.keySet.removeIf(_.spark.sparkContext.isStopped)

  private def release(e: Entry): Unit = e.value match {
    case ds: Dataset[_] if ds.storageLevel != StorageLevel.NONE => ds.unpersist()
    case _ =>
  }

  /** Per input: (path, size, mtime ns, file key); None when any input is
    * non-local or absent.
    */
  private def stampOf(inputs: Seq[String]): Option[Seq[Any]] = Some(inputs.map { raw =>
    val p = if (raw.startsWith("file:")) TieredTable.normalizePath(raw) else raw
    if (p.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) return None
    val a =
      try Files.readAttributes(Paths.get(p), classOf[BasicFileAttributes])
      catch { case _: java.io.IOException => return None }
    (p, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS), a.fileKey)
  })
}
