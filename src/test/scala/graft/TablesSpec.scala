package graft

import java.nio.file.{Files, Path}

import graft.sources.Tables

/** [[Tables.parquetCached]] serves a cached relation only while the
  * files under its path are unchanged; a stopped session leaves no
  * [[SessionCache]] entry of any kind; [[Tables.fanOut]] widens narrow
  * inputs. */
class TablesSpec extends SparkSpec {

  private def onlyFile(dir: Path, p: String => Boolean): Path = {
    val fs = dir.toFile.listFiles().filter(f => p(f.getName))
    assert(fs.length == 1, fs.toSeq)
    fs.head.toPath
  }
  private def part(dir: Path) =
    onlyFile(dir, n => n.startsWith("part-") && n.endsWith(".parquet"))
  private def crc(dir: Path) =
    onlyFile(dir, n => n.startsWith(".part-") && n.endsWith(".parquet.crc"))

  test("parquetCached: a part file rewritten in place under the same name " +
       "gives a fresh relation with the new rows") {
    val root = Files.createTempDirectory("graft-tables")
    val dir = root.resolve("t.parquet")
    spark.range(10).coalesce(1).write.parquet(dir.toString)
    val first = Tables.parquetCached(spark, dir.toString)
    assert(first.count() == 10)
    assert(Tables.parquetCached(spark, dir.toString) eq first, "unchanged path must hit")

    // rewrite the part file (and its checksum) in place with other rows;
    // keep every mtime, so only the length tells the files apart
    val other = root.resolve("other.parquet")
    spark.range(100, 125).coalesce(1).write.parquet(other.toString)
    val (p, c) = (part(dir), crc(dir))
    assert(Files.size(p) != Files.size(part(other)))
    val mtimes = Seq(dir, p, c).map(f => f -> Files.getLastModifiedTime(f))
    Files.write(p, Files.readAllBytes(part(other)))
    Files.write(c, Files.readAllBytes(crc(other)))
    mtimes.foreach { case (f, t) => Files.setLastModifiedTime(f, t) }

    val second = Tables.parquetCached(spark, dir.toString)
    assert(!(second eq first), "a changed part file must not hit the cache")
    assert(second.collect().map(_.getLong(0)).sorted.toSeq == (100L until 125L))
  }

  test("fanOut widens a narrow shuffle repartition and keeps a wide one as is") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores >= 2, s"needs a multi-core session, got $cores")
    val narrow = spark.range(100).toDF().repartition(1)
    val fanned = Tables.fanOut(narrow)
    assert(!(fanned eq narrow), "repartition(1) must be fanned out")
    assert(fanned.rdd.getNumPartitions == cores)
    assert(fanned.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
    val wide = spark.range(100).toDF().repartition(cores)
    assert(Tables.fanOut(wide) eq wide, "repartition(cores) is returned as is")
  }

  test("parquetCached drops a session's relations when the session stops") {
    // Stopping a session stops its SparkContext, which every spec in
    // this JVM shares, so the sessions to stop run in a child JVM.
    val dir = Files.createTempDirectory("graft-tables-stop").toString
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx512m", "-cp", System.getProperty("java.class.path"),
        "graft.TablesSessionStop", dir)
    val logFile = new java.io.File(s"$dir/child.log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(logFile).start()
    val exited = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly()
    val log = new String(Files.readAllBytes(logFile.toPath))
    assert(exited && proc.exitValue() == 0, log)
    val empty = SessionCache.Kinds.map(k => s"$k=0").mkString(", ")
    for (s <- Seq("first", "second"))
      assert(log.contains(s"$s stopped: $empty"), log)
  }
}

/** Fills every [[SessionCache]] kind — a relation, a marker check and
  * a corpus count — in a first and then a second session, stopping
  * each, and prints the entries each kind holds after each stop. Run
  * by [[TablesSpec]] in a JVM of its own. */
object TablesSessionStop {
  def main(args: Array[String]): Unit =
    try { run(args(0)); sys.exit(0) }
    catch { case t: Throwable => t.printStackTrace(); sys.exit(1) }

  private def run(dir: String): Unit = {
    import org.apache.spark.sql.SparkSession
    val path = s"$dir/t.parquet"
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1").getOrCreate()
    def entries = SessionCache.stats.map { case (k, n, _, _) => s"$k=$n" }.mkString(", ")
    var prev: SparkSession = null
    for (name <- Seq("first", "second")) {
      val s = session()
      assert(!(s eq prev))
      if (prev == null) {
        s.range(3).write.parquet(path)
        graft.model.IndexFormat.write(s, dir, "fam v1")
      }
      assert(Tables.parquetCached(s, path).count() == 3)
      graft.model.IndexFormat.check(s, dir, "fam v1", "rebuild")
      assert(graft.similarity.Ann.corpusCount(s.read.parquet(path)) == 3)
      assert(SessionCache.stats.forall(_._2 == 1), entries)
      s.stop()
      println(s"$name stopped: $entries")
      prev = s
    }
  }
}
