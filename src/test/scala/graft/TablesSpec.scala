package graft

import java.nio.file.{Files, Path}

import graft.sources.Tables

/** [[Tables.parquetCached]] serves a cached relation only while the
  * files under its path are unchanged. */
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
    assert(log.contains("entries after stop: first=0 second=0"), log)
  }
}

/** Caches a relation in a first and then a second session, stopping
  * each, and prints how many cached paths each still holds. Run by
  * [[TablesSpec]] in a JVM of its own. */
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
    val first = session()
    first.range(3).write.parquet(path)
    assert(Tables.parquetCached(first, path).count() == 3)
    assert(Tables.cachedPaths(first).size == 1)
    first.stop()
    val second = session()
    assert(!(second eq first))
    assert(Tables.parquetCached(second, path).count() == 3)
    assert(Tables.cachedPaths(second).size == 1)
    second.stop()
    println(s"entries after stop: first=${Tables.cachedPaths(first).size} " +
      s"second=${Tables.cachedPaths(second).size}")
  }
}
