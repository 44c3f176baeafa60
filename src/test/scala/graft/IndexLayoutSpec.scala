package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.model.IndexFormat
import graft.similarity.Ann

/** Pins the at-rest layout of the eight index families: each index's
  * sub-directories, its `_format` marker and every sub-directory's
  * columns as parquet reads them back. The build/append/probe
  * mechanics may be reshaped; these may not change without a format
  * migration. */
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
    val lists = (0 until Nlist).map(i => s"list_id=$i").toSet
    // family -> (sub-directories, marker, columns per read path)
    val expected = Seq(
      "minhash" -> ((Set("sets", "bands"), Dedup.minhashFormat(3, 16, 4), Seq(
        "sets" -> Seq("id" -> "bigint", "sh" -> "array<bigint>"),
        "bands" -> Seq("id" -> "bigint", "band" -> "string")))),
      "simhash" -> ((Set("sigs", "bands"), Dedup.SimhashBandFormat, Seq(
        "sigs" -> Seq("id" -> "bigint", "sig" -> "bigint"),
        "bands" -> Seq("id" -> "bigint", "sig" -> "bigint", "band" -> "string")))),
      "cdc" -> ((Set("chunks"), Dedup.cdcFormat(4, 32), Seq(
        "chunks" -> Seq("id" -> "bigint", "c" -> "string", "df" -> "bigint")))),
      "winnow" -> ((Set("fps"), Dedup.winnowFormat(3, 4), Seq(
        "fps" -> Seq("id" -> "bigint", "c" -> "bigint", "df" -> "bigint")))),
      "ivf" -> ((lists, Ann.ivfFormat(f.cents), Seq(
        "" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
          "list_id" -> "int")))),
      "ivfpq" -> ((lists, Ann.ivfPqFormat(f.cents, f.books), Seq(
        "" -> Seq("nid" -> "bigint", "code" -> "array<int>", "list_id" -> "int")))),
      "sq8" -> ((lists, Ann.ivfSq8Format(f.cents), Seq(
        "" -> Seq("nid" -> "bigint", "codes" -> "array<tinyint>",
          "list_id" -> "int")))),
      "pq" -> ((Set.empty[String], Ann.pqFormat(f.books), Seq(
        "" -> Seq("nid" -> "bigint", "code" -> "array<int>")))))
    assert(expected.map(_._1).toSet == Families.toSet)
    val mismatches = expected.flatMap { case (fam, (dirs, marker, cols)) =>
      val path = s"$base/$fam"
      val gotDirs = subdirs(path)
      val gotMarker = IndexFormat.read(spark, path)
      Seq(
        Option.when(gotDirs != dirs)(s"$fam dirs: $gotDirs"),
        Option.when(!gotMarker.contains(marker))(s"$fam marker: $gotMarker")) ++
        cols.map { case (sub, want) =>
          val got = columns(if (sub.isEmpty) path else s"$path/$sub")
          Option.when(got != want)(s"$fam/$sub columns: $got")
        }
    }.flatten
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    // the simhash marker moved to _format; nothing writes the old file
    assert(!fs(base).exists(new org.apache.hadoop.fs.Path(s"$base/simhash/_band_format")))
  }

  test("the pinned minhash and simhash schemas are what the builds and appends write") {
    val base = java.nio.file.Files.createTempDirectory("graft_layout_schema").toString
    val f = new IndexLayoutFixture(spark)
    // each parquet file directly under `dir`, by path
    def files(dir: String): Set[String] =
      fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSet
    val pins = Seq("minhash/sets" -> Dedup.MinhashSetsSchema,
      "minhash/bands" -> Dedup.MinhashBandsSchema,
      "simhash/sigs" -> Dedup.SimhashSigsSchema)
    Dedup.minhashIndex(f.corpus, s"$base/minhash")
    Dedup.simhashIndex(f.corpus, s"$base/simhash")
    val built = pins.map { case (sub, _) => sub -> files(s"$base/$sub") }.toMap
    Dedup.minhashAppend(f.probes, s"$base/minhash")
    Dedup.simhashAppend(f.probes, s"$base/simhash")
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

  test("a simhash index marked only by _band_format is refused, and " +
       "simhashRebuildBands migrates it to fresh-build lookups") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_layout_sh").toString
    val f = new IndexLayoutFixture(spark)
    val (old, fresh) = (s"$base/old", s"$base/fresh")
    Dedup.simhashIndex(f.corpus, old)
    Dedup.simhashIndex(f.corpus, fresh)
    // the layout an index written before the move to _format carries
    val fsys = fs(old)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$old/${IndexFormat.MarkerFile}"), false)
    val legacy = fsys.create(new org.apache.hadoop.fs.Path(s"$old/_band_format"), true)
    legacy.write((Dedup.SimhashBandFormat + "\n").getBytes("UTF-8")); legacy.close()
    def refused(body: => Any): String =
      intercept[IllegalStateException](body).getMessage
    for (msg <- Seq(
        refused(Dedup.simhashLookup(spark, old, f.probes)),
        refused(Dedup.simhashLookupStream(spark, old,
          f.probes.withColumn("ts", org.apache.spark.sql.functions.lit(1000L)))),
        refused(Dedup.simhashAppend(Seq((9L, "more words here entirely"))
          .toDF("doc_id", "text"), old)))) {
      assert(msg.contains("pre-marker") && msg.contains("simhashRebuildBands"), msg)
    }
    Dedup.simhashRebuildBands(spark, old)
    def pairs(path: String) = Dedup.simhashLookup(spark, path, f.probes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = pairs(fresh)
    assert(want.nonEmpty, "fixture must produce simhash matches")
    assert(pairs(old) == want)
    assert(IndexFormat.read(spark, old).contains(Dedup.SimhashBandFormat))
  }
}

/** The tiny corpus, vectors and quantizers the layout pins use, and
  * one build of every index family under `base/<family>`. */
object IndexLayoutFixture {
  val Families = Seq("minhash", "simhash", "cdc", "winnow", "ivf", "ivfpq", "sq8", "pq")
  val Nlist = 4
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
  val emb: DataFrame = {
    val rnd = new scala.util.Random(31)
    (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }
  val queries: DataFrame = emb.filter($"vec_id" < 3)
  lazy val cents: Array[Array[Double]] =
    Ann.pinnedCentroids(emb, nlist = IndexLayoutFixture.Nlist)
  lazy val books: Array[Array[Array[Double]]] =
    Ann.pinnedCodebooks(emb, m = 4, ksub = 8, dim = 8)

  def buildAll(base: String): Unit = {
    Dedup.minhashIndex(corpus, s"$base/minhash")
    Dedup.simhashIndex(corpus, s"$base/simhash")
    Dedup.cdcIndex(corpus, s"$base/cdc")
    Dedup.winnowIndex(corpus, s"$base/winnow")
    Ann.ivfMaterialize(cents, emb, s"$base/ivf")
    Ann.ivfPqMaterialize(cents, books, emb, s"$base/ivfpq")
    Ann.ivfSq8Materialize(cents, emb, s"$base/sq8")
    Ann.pqMaterialize(books, emb, s"$base/pq")
  }

  /** The appendable families, each extended by one batch. */
  def appendAll(base: String): Unit = {
    Dedup.minhashAppend(probes, s"$base/minhash")
    Dedup.simhashAppend(probes, s"$base/simhash")
    Ann.ivfAppend(cents, queries, s"$base/ivf")
  }
}
