package graft.perfbench

import graft.model.{Point, Variable}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every value is a closed form of (seed,
  * series, step), so responses can be checked without a second engine. */
object Gen {

  /** SplitMix64: a stable 64-bit mixer, independent of any library RNG. */
  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def digest(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Zipf(s) sampler over `n` ranks (rank 0 hottest). */
  final class Zipf(n: Int, s: Double, rng: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}

/** A collector-shaped point store: the series the reference collector
  * pushes per host, sampled every 60 s. */
object Collector {
  val StepMs = 60000L
  val DayMs = 86400000L
  val Days = 3
  /** End of the seeded history, 2024-01-04T00:00:00Z; the history fills
    * exactly `Days` UTC date partitions before it. */
  val TEnd = 1704326400000L
  val T0: Long = TEnd - Days * DayMs
  val Steps: Int = (Days * DayMs / StepMs).toInt

  def ts(k: Long): Long = T0 + k * StepMs
  def step(ts: Long): Long = (ts - T0) / StepMs

  sealed trait Kind
  case object Cpu extends Kind
  case object Load extends Kind
  case object ReadBytes extends Kind
  case object WriteBytes extends Kind
  case object FsUsed extends Kind
  case object OsName extends Kind

  val OsNames = Vector("Linux", "FreeBSD", "Darwin")

  final case class Series(kind: Kind, host: String, name: String,
                          labels: Map[String, String], mix: Long) {
    def variable: Variable = Variable(name, labels)
    def valueType: String = kind match {
      case ReadBytes | WriteBytes => Variable.Rate
      case OsName => Variable.Unknown
      case _ => Variable.Gauge
    }
    /** Counter rate in bytes per second. */
    def rate: Long = 1000L + mix % 9000L
    def dval(k: Long): Option[Double] = kind match {
      case Cpu => Some(((k * 7 + mix) % 101).toDouble)
      case Load => Some(((k * 3 + mix) % 17) / 4.0)
      case ReadBytes | WriteBytes => Some((mix % 1000L) * 1e6 + rate * 60.0 * k)
      case FsUsed => Some((mix % 500L) * 1e9 + (100L + mix % 900L) * k.toDouble)
      case OsName => None
    }
    def sval(k: Long): Option[String] = kind match {
      case OsName => Some(OsNames((mix % OsNames.size).toInt))
      case _ => None
    }
    def point(k: Long): Point =
      Point(name, labels, valueType, ts(k), dval(k), sval(k), None)
  }

  def hosts(racks: Int, nodes: Int): Vector[String] =
    (for (r <- 0 until racks; n <- 0 until nodes) yield s"r${r}n$n").toVector

  /** Every series of `hosts`, in a fixed order; `hostname` is the
    * collector's own label, so /add pushes continue these series. */
  def series(seed: Long, hosts: Seq[String]): Vector[Series] = {
    val base = hosts.toVector.flatMap { h =>
      val l = Map("host" -> h, "hostname" -> "collector")
      (0 until 4).map(c => (Cpu, h, "/system/cpu/usage", l + ("cpu" -> c.toString))) ++
        Seq((Load, h, "/system/load", l)) ++
        Seq("eth0", "eth1").flatMap(i => Seq(
          (ReadBytes, h, "/network/interface/stats/read_bytes", l + ("interface" -> i)),
          (WriteBytes, h, "/network/interface/stats/write_bytes", l + ("interface" -> i)))) ++
        Seq("sda1", "sdb1").map(d => (FsUsed, h, "/system/filesystem/used", l + ("device" -> d))) ++
        Seq((OsName, h, "/openinstrument/process/os-name", l))
    }
    base.zipWithIndex.map { case ((k, h, n, l), i) =>
      Series(k, h, n, l, Gen.mix64(seed * 1000003L + i) & 0x7fffffffL)
    }
  }

  /** Points of `series` for steps [kFrom, kUntil), step by step, as a
    * DataFrame built on the executors from the same closed form the
    * checks use. When `partitions` divides the step count, partition i
    * holds exactly the i-th run of consecutive steps. */
  def frame(spark: SparkSession, series: Vector[Series], kFrom: Long,
            kUntil: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    val n = series.size
    spark.range(0L, n * (kUntil - kFrom), 1L, partitions)
      .map(i => series((i % n).toInt).point(kFrom + i / n))
      .toDF()
  }

  /** Byte-stable fingerprint of the points `frame` would produce. */
  def digest(series: Vector[Series], kFrom: Long, kUntil: Long): String =
    Gen.digest(series.iterator.flatMap(s =>
      (kFrom until kUntil).iterator.map(k => s.point(k).toString)))
}

/** A seeded document corpus for incremental curation. */
object Corpus {
  final case class Doc(doc_id: Long, text: String, source: String)

  private val Stop = Vector("the", "a", "of", "and", "to", "in", "is")
  private val Syllables = Vector("ka", "lo", "mi", "ne", "ru", "ta", "sen",
    "vor", "dal", "pi", "qua", "ber", "zon", "tel", "mar", "gu", "fi", "hex")
  /** ~2,000 content words, built rather than stored. */
  private val Words: Vector[String] =
    (for (a <- Syllables; b <- Syllables; c <- Syllables.take(6)) yield a + b + c)
      .distinct

  private def words(rng: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)(if (rng.nextDouble() < 0.4) Stop(rng.nextInt(Stop.size))
                   else Words(rng.nextInt(Words.size)))

  /** Shared boilerplate lines (navigation, footers) many documents carry. */
  private def boilerplate(rng: scala.util.Random): Vector[String] =
    Vector.fill(4)(words(rng, 10).mkString(" "))

  /**
   * Increments of about `sizes(i)` documents each, as many as are taken;
   * increment i is the same however many follow it. Increment i holds
   * fresh texts; exact copies of some of them; token-edited copies of
   * fresh texts from earlier increments (near-duplicates the at-rest
   * index must catch); benchmark rows (`source = src1`) whose spans leak
   * into some training texts; and boilerplate lines shared across many
   * documents. Ids are unique and non-negative across increments.
   */
  def increments(seed: Long, sizes: Int => Int): Iterator[Vector[Doc]] = {
    val rng = new scala.util.Random(seed)
    val boiler = boilerplate(rng)
    var nextId = 0L
    def id(): Long = { nextId += 1; nextId }
    val earlier = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    Iterator.from(0).map { i =>
      val perInc = sizes(i)
      val bench = Vector.fill(3)(words(rng, 40))
      val nFresh = perInc * 7 / 10
      val fresh = Vector.fill(nFresh) {
        val body = words(rng, 120 + rng.nextInt(60))
        val leaked =
          if (rng.nextDouble() < 0.1) {
            val b = bench(rng.nextInt(bench.size)); val at = rng.nextInt(b.size - 12)
            val cut = rng.nextInt(body.size)
            body.take(cut) ++ b.slice(at, at + 12) ++ body.drop(cut)
          } else body
        if (rng.nextDouble() < 0.3) leaked :+ boiler(rng.nextInt(boiler.size)) else leaked
      }
      val copies = Vector.fill(perInc / 10)(fresh(rng.nextInt(fresh.size)))
      val nearDups =
        if (earlier.isEmpty) Vector.empty
        else Vector.fill(perInc - nFresh - copies.size - bench.size) {
          val src = earlier(rng.nextInt(earlier.size))
          src.map(w => if (rng.nextDouble() < 0.03) Words(rng.nextInt(Words.size)) else w)
        }
      earlier ++= fresh
      val train = rng.shuffle(fresh ++ copies ++ nearDups)
        .map(ws => Doc(id(), ws.mkString(" "), "web"))
      train ++ bench.map(ws => Doc(id(), ws.mkString(" "), "src1"))
    }
  }

  def digest(incs: Seq[Vector[Doc]]): String =
    Gen.digest(incs.iterator.flatten.map(_.toString))
}
