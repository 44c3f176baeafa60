package graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/**
 * The driver-side metadata cache of every session: parquet relations
 * ([[graft.sources.Tables.parquetCached]] and the point stores of
 * [[graft.sources.PointSource.read]]), index `_format` markers
 * ([[graft.model.IndexFormat.check]]) and exact corpus counts
 * (`Ann.corpusCount`). It holds what a call derived from files —
 * never row data — so repeated calls skip the footer reads, marker
 * reads and full scans that derive it again.
 *
 * One rule set for every kind:
 *  - an entry is served only while the files it was read from are
 *    unchanged: one recursive `listStatus` walk of `files` gives (leaf
 *    file count, total bytes, newest mtime), taken before `load` and
 *    compared on every get. A directory swap, an added or removed
 *    part file and a file rewritten in place under the same name all
 *    change it;
 *  - files that cannot be listed (missing, or none given) are loaded
 *    and not cached;
 *  - `load` runs outside the map lock, so a slow load (a corpus count
 *    is a full scan) never blocks a get of another key;
 *  - at most [[Bound]] entries over all sessions and kinds; past it
 *    the least recently used one is dropped;
 *  - a session's entries are dropped when its SparkContext stops (a
 *    listener registered with the first entry per context), so a JVM
 *    that runs session after session keeps none of a stopped one's.
 */
object SessionCache {
  val Relation = "parquet relations"
  val Marker = "index-format markers"
  val Count = "corpus counts"
  val Kinds: Seq[String] = Seq(Relation, Marker, Count)

  /** Far above a session's working set: the TPC-H and corpus tables,
    * the indexes it probes and the corpora it sizes. */
  val Bound = 256

  private final case class Key(spark: SparkSession, kind: String, key: String)
  private[graft] type Fingerprint = (Int, Long, Long)

  // access order: removeEldestEntry drops the least recently used
  private val entries = new java.util.LinkedHashMap[Key, (Fingerprint, Any)](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, (Fingerprint, Any)]): Boolean =
      size > Bound
  }
  private val watched = scala.collection.mutable.Set.empty[SparkContext]
  private val hits, misses = Kinds.map(_ -> new AtomicLong).toMap

  /** The value `load` gives for (`spark`, `kind`, `key`), cached while
    * the fingerprint of `files` is unchanged. */
  def get[T](spark: SparkSession, kind: String, key: String, files: Seq[String])
            (load: => T): T = fingerprint(spark, files) match {
    case None => misses(kind).incrementAndGet(); load
    case Some(fp) =>
      val k = Key(spark, kind, key)
      entries.synchronized(Option(entries.get(k))) match {
        case Some((`fp`, v)) => hits(kind).incrementAndGet(); v.asInstanceOf[T]
        case _ =>
          misses(kind).incrementAndGet()
          val v = load
          entries.synchronized { evictOnStop(spark.sparkContext); entries.put(k, (fp, v)) }
          v
      }
  }

  /** (kind, entries, hits, misses) per kind, in [[Kinds]] order. */
  def stats: Seq[(String, Int, Long, Long)] = {
    val live = entries.synchronized(entries.keySet.asScala.toList).groupBy(_.kind)
    Kinds.map(k => (k, live.get(k).fold(0)(_.size), hits(k).get, misses(k).get))
  }

  /** Called holding the `entries` lock. */
  private def evictOnStop(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        entries.synchronized {
          entries.keySet.removeIf(_.spark.sparkContext eq sc)
          watched.remove(sc)
        }
    })

  /** (leaf file count, total bytes, newest mtime) under `files`, or
    * None when there are none or one cannot be listed. A recursive
    * `listStatus` walk, not `listFiles`: the `LocatedFileStatus` that
    * `listFiles` builds copies each file's permissions, and where the
    * native Hadoop library does not load, the local file system forks
    * a shell per file to read them (a 21-file store on a 4-core host:
    * 140 ms per listing, against under 1 ms for this walk, which gives
    * the same tuple). The walk reads only the directory flag, length
    * and mtime, as Spark's `HadoopFSUtils` listing does; both skip
    * checksum (`.crc`) files. */
  private[graft] def fingerprint(spark: SparkSession, files: Seq[String]): Option[Fingerprint] =
    if (files.isEmpty) None
    else try {
      var (n, bytes, newest) = (0, 0L, 0L)
      def walk(fs: FileSystem, st: FileStatus): Unit =
        if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk(fs, _))
        else { n += 1; bytes += st.getLen; newest = math.max(newest, st.getModificationTime) }
      for (f <- files) {
        val p = new Path(f)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        walk(fs, fs.getFileStatus(p))
      }
      Some((n, bytes, newest))
    } catch { case NonFatal(_) => None }
}
