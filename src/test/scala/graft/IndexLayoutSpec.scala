package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.model.IndexFormat

/** Pins the at-rest layout of the one index family, the minhash index
  * `Curate` writes: its sub-directories, its `_format` marker and every
  * sub-directory's columns as parquet reads them back. The
  * build/append/probe mechanics may be reshaped; these may not change
  * without a format migration. */
class IndexLayoutSpec extends SparkSpec {
  import IndexLayoutFixture._

  private def fs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Names of the directories directly under `path`. */
  private def subdirs(path: String): Set[String] =
    fs(path).listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory).map(_.getPath.getName).toSet

  private def columns(path: String): Seq[(String, String)] =
    spark.read.parquet(path).schema.fields.toSeq
      .map(f => f.name -> f.dataType.simpleString)

  test("every index family keeps its sub-directories, marker and columns") {
    val base = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val f = new IndexLayoutFixture(spark)
    f.buildAll(base)
    f.appendAll(base) // an append leaves the same layout (no staging left)
    // family -> (sub-directories, marker, columns per read path)
    val expected = Seq(
      "minhash" -> ((Set("sets", "bands"), Dedup.minhashFormat(3, 16, 4), Seq(
        "sets" -> Seq("id" -> "bigint", "sh" -> "array<bigint>"),
        "bands" -> Seq("id" -> "bigint", "band" -> "string")))))
    assert(expected.map(_._1).toSet == Families.toSet)
    val mismatches = expected.flatMap { case (fam, (dirs, marker, cols)) =>
      val path = s"$base/$fam"
      val gotDirs = subdirs(path)
      val gotMarker = IndexFormat.read(spark, path)
      Seq(
        Option.when(gotDirs != dirs)(s"$fam dirs: $gotDirs"),
        Option.when(!gotMarker.contains(marker))(s"$fam marker: $gotMarker")) ++
        cols.map { case (sub, want) =>
          val got = columns(s"$path/$sub")
          Option.when(got != want)(s"$fam/$sub columns: $got")
        }
    }.flatten
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("the pinned minhash schemas are what the builds and appends write") {
    val base = java.nio.file.Files.createTempDirectory("graft_layout_schema").toString
    val f = new IndexLayoutFixture(spark)
    // each parquet file directly under `dir`, by path
    def files(dir: String): Set[String] =
      fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSet
    val pins = Seq("minhash/sets" -> Dedup.MinhashSetsSchema,
      "minhash/bands" -> Dedup.MinhashBandsSchema)
    Dedup.minhashIndex(f.corpus, s"$base/minhash")
    val built = pins.map { case (sub, _) => sub -> files(s"$base/$sub") }.toMap
    Dedup.minhashAppend(f.probes, s"$base/minhash")
    // every file either writer left, read back alone with its schema inferred
    val mismatches = pins.flatMap { case (sub, pinned) =>
      val appended = files(s"$base/$sub") -- built(sub)
      assert(built(sub).nonEmpty && appended.nonEmpty, s"$sub: no files written")
      (built(sub) ++ appended).toSeq.sorted.flatMap { file =>
        val got = spark.read.parquet(file).schema
        Option.when(got != pinned)(s"$file: $got, pinned $pinned")
      }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("a minhash append of precomputed sets lands identically to a full rebuild") {
    val base = java.nio.file.Files.createTempDirectory("graft_layout_sets").toString
    val f = new IndexLayoutFixture(spark)
    Dedup.minhashIndex(f.corpus, s"$base/inc")
    Dedup.minhashAppendSets(Dedup.minhashSets(f.probes), s"$base/inc")
    Dedup.minhashIndex(f.corpus.unionByName(f.probes), s"$base/full")
    def rows(path: String) = spark.read.parquet(path).collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case x => x
      }).toSet
    for (half <- Seq("sets", "bands"))
      assert(rows(s"$base/inc/$half") == rows(s"$base/full/$half"), half)
    def lookup(path: String) = Dedup.minhashLookupSets(spark, path,
        Dedup.minhashSets(f.corpus.withColumn("doc_id",
          org.apache.spark.sql.functions.col("doc_id") + 100)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lookup(s"$base/inc").nonEmpty)
    assert(lookup(s"$base/inc") == lookup(s"$base/full"))
  }
}

/** The tiny corpus the layout pins use, and one build of every index
  * family under `base/<family>`. */
object IndexLayoutFixture {
  val Families = Seq("minhash")
}

class IndexLayoutFixture(spark: SparkSession) {
  import spark.implicits._

  val corpus: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "completely different words here entirely my friend of old times"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank again"))
    .toDF("doc_id", "text")
  val probes: DataFrame = Seq(
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (4L, "completely different words here entirely my friend of old times"))
    .toDF("doc_id", "text")

  def buildAll(base: String): Unit =
    Dedup.minhashIndex(corpus, s"$base/minhash")

  /** The appendable families, each extended by one batch. */
  def appendAll(base: String): Unit =
    Dedup.minhashAppend(probes, s"$base/minhash")
}
