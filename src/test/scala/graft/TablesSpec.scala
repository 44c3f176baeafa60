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
}
