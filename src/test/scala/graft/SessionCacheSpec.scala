package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.model.IndexFormat
import graft.similarity.Ann

/** The [[SessionCache]] contract: bounded, an entry per key replaced
  * when its files change, and index markers re-read exactly when the
  * `_format` file changed. */
class SessionCacheSpec extends SparkSpec {

  private def stat(kind: String): (Int, Long, Long) =
    SessionCache.stats.collectFirst { case (`kind`, n, h, m) => (n, h, m) }.get

  private def refused(body: => Any): String =
    intercept[IllegalStateException](body).getMessage

  test("bound + 1 distinct keys leave at most bound entries, the least recent dropped") {
    val dir = Files.createTempDirectory("graft_cache_bound").toString
    spark.range(1).write.parquet(s"$dir/t.parquet")
    val files = Seq(s"$dir/t.parquet")
    def get(i: Int) = SessionCache.get(spark, SessionCache.Marker, s"bound-$i", files)(i)
    (0 to SessionCache.Bound).foreach(get)
    assert(SessionCache.stats.map(_._2).sum <= SessionCache.Bound)
    val (_, hits, misses) = stat(SessionCache.Marker)
    assert(get(SessionCache.Bound) == SessionCache.Bound)
    assert(stat(SessionCache.Marker)._2 == hits + 1, "the newest key must still hit")
    assert(get(0) == 0)
    assert(stat(SessionCache.Marker)._3 == misses + 1, "the oldest key must be gone")
  }

  test("a corpus append replaces its count entry; another path is another entry") {
    val dir = Files.createTempDirectory("graft_cache_count").toString
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    spark.range(10).coalesce(1).write.parquet(a)
    spark.range(3).coalesce(1).write.parquet(b)
    assert(Ann.corpusCount(spark.read.parquet(a)) == 10)
    val (entries, hits, _) = stat(SessionCache.Count)
    assert(Ann.corpusCount(spark.read.parquet(a)) == 10)
    assert(stat(SessionCache.Count)._2 == hits + 1, "a re-read of the same files must hit")
    spark.range(10, 15).coalesce(1).write.mode("append").parquet(a)
    assert(Ann.corpusCount(spark.read.parquet(a)) == 15)
    assert(stat(SessionCache.Count)._1 == entries, "the append must replace the entry")
    // same schema and plan, other files: a key of its own
    assert(Ann.corpusCount(spark.read.parquet(b)) == 3)
    assert(stat(SessionCache.Count)._1 == entries + 1)
  }

  test("the fingerprint walk: nested directories as a recursive listFiles sees them, .crc skipped") {
    val dir = Files.createTempDirectory("graft_cache_walk").toString
    val store = s"$dir/store"
    // nested date= directories plus a streaming sink's log
    graft.sources.PointSource.write(
      series(Seq(1000L -> 1.0, 90000000L -> 2.0, 180000000L -> 3.0)), store)
    Files.createDirectories(java.nio.file.Paths.get(store, "_spark_metadata"))
    Files.write(java.nio.file.Paths.get(store, "_spark_metadata", "0"), "v1\n".getBytes("UTF-8"))
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var (n, bytes, newest) = (0, 0L, 0L)
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      n += 1; bytes += st.getLen; newest = math.max(newest, st.getModificationTime)
    }
    assert(SessionCache.fingerprint(spark, Seq(store)).contains((n, bytes, newest)))
    // the local file system keeps a .crc beside each file it wrote; neither listing counts them
    val all = Files.walk(java.nio.file.Paths.get(store)).iterator.asScala
      .filter(f => Files.isRegularFile(f)).toList
    val crc = all.count(_.toString.endsWith(".crc"))
    assert(crc > 0 && n == all.length - crc, s"$n of ${all.length} files, $crc checksums")
    assert(n > 3, "three date directories, _SUCCESS and the sink log entry")
  }

  test("a single file counts as one; a missing path is loaded and not cached") {
    val path = Files.createTempDirectory("graft_cache_single").toString
    IndexFormat.write(spark, path, "fam v1 a=1")
    val marker = s"$path/${IndexFormat.MarkerFile}"
    val len = Files.size(java.nio.file.Paths.get(marker))
    assert(SessionCache.fingerprint(spark, Seq(marker)).map(f => (f._1, f._2)).contains((1, len)))

    val missing = s"$path/not-there"
    assert(SessionCache.fingerprint(spark, Seq(missing)).isEmpty)
    val loads = new java.util.concurrent.atomic.AtomicInteger
    val (entries, hits, misses) = stat(SessionCache.Marker)
    for (_ <- 1 to 2)
      assert(SessionCache.get(spark, SessionCache.Marker, missing, Seq(missing))(loads.incrementAndGet()) > 0)
    assert(loads.get == 2, "each get of a missing path must load")
    assert(stat(SessionCache.Marker) == ((entries, hits, misses + 2)))
  }

  test("an unchanged _format is a hit; an out-of-band rewrite or delete is refused on the next check") {
    val path = Files.createTempDirectory("graft_cache_marker").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$path/${IndexFormat.MarkerFile}")
    IndexFormat.write(spark, path, "fam v1 a=1")
    IndexFormat.check(spark, path, "fam v1 a=1", "rebuild")
    val (_, hits, misses) = stat(SessionCache.Marker)
    IndexFormat.check(spark, path, "fam v1 a=1", "rebuild")
    assert(stat(SessionCache.Marker)._2 == hits + 1)
    assert(stat(SessionCache.Marker)._3 == misses)

    // another writer restamps the index (a longer marker, so the file
    // changes even within one mtime tick)
    val out = fs.create(marker, true)
    out.write("fam v1 a=22\n".getBytes("UTF-8")); out.close()
    assert(refused(IndexFormat.check(spark, path, "fam v1 a=1", "rebuild"))
      .contains("'fam v1 a=22'"))
    IndexFormat.check(spark, path, "fam v1 a=22", "rebuild")

    fs.delete(marker, false)
    assert(refused(IndexFormat.check(spark, path, "fam v1 a=22", "rebuild"))
      .contains("pre-marker"))
  }
}
