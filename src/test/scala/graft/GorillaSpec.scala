package graft

import graft.codec.Gorilla
import graft.model.Point

class GorillaSpec extends SparkSpec {

  private def roundtrip(ts: Array[Long], vs: Array[Double]): Unit = {
    val blob = Gorilla.encodeBlock(ts, vs, ts.length)
    val (t2, v2) = Gorilla.decodeBlock(blob, ts.length)
    assert(t2.toSeq === ts.toSeq)
    // compare raw bits: NaN payloads and -0.0 must survive
    assert(v2.map(java.lang.Double.doubleToRawLongBits).toSeq ===
      vs.map(java.lang.Double.doubleToRawLongBits).toSeq)
  }

  test("block codec: dod bucket boundaries and repeated timestamps roundtrip") {
    // deltas hit every dod bucket: 0, ±small (7-bit), 9-bit, 12-bit,
    // 64-bit overflow (> 2048 ms jump), plus a duplicate timestamp
    val ts = Array[Long](1000, 2000, 3000, 3064, 3064, 3320, 5368,
      5368 + 3600000, 5368 + 7200000)
    val vs = Array[Double](1.5, 1.5, 2.5, -3.25, 0.0, -0.0, 1e300,
      Double.NaN, 42.0)
    roundtrip(ts, vs)
  }

  test("block codec: window narrow/widen sequences and long constant runs") {
    val n = 500
    val ts = Array.tabulate(n)(i => 1000L + i * 60000L) // constant delta
    val vs = Array.tabulate(n) { i =>
      if (i < 100) 7.0 // constant run: single '0' bit per point
      else if (i < 300) 7.0 + (i % 13) * 0.015625 // stable xor window
      else math.sin(i / 10.0) * 1e6 // window churn
    }
    roundtrip(ts, vs)
    // the constant-delta constant-value prefix must compress hard:
    // whole block well under 2 bytes/point vs 16 raw
    val blob = Gorilla.encodeBlock(ts, vs, n)
    assert(blob.length < n * 8,
      s"expected real compression, got ${blob.length} bytes for $n points")
  }

  test("block codec: 200 random blocks roundtrip (specials, jitter, bursts)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(300)
      var t = rnd.nextLong() % (1L << 41) // epoch-ms magnitudes, ± allowed
      val ts = new Array[Long](n)
      val vs = new Array[Double](n)
      (0 until n).foreach { i =>
        // mixed cadence: dense bursts, regular, and huge gaps
        t += (rnd.nextInt(4) match {
          case 0 => rnd.nextInt(5).toLong           // dup/near-dup ts
          case 1 => 60000L                          // regular minute
          case 2 => rnd.nextInt(2049).toLong        // in-bucket jitter
          case _ => rnd.nextLong() % (1L << 35) max 1L // day+-scale jump
        })
        ts(i) = t
        vs(i) = rnd.nextInt(6) match {
          case 0 => 0.0
          case 1 => -0.0
          case 2 => Double.NaN
          case 3 => if (rnd.nextBoolean()) Double.PositiveInfinity
                    else Double.NegativeInfinity
          case 4 => rnd.nextInt(100).toDouble        // repeats / small ints
          case _ => java.lang.Double.longBitsToDouble(rnd.nextLong())
        }
      }
      val blob = Gorilla.encodeBlock(ts, vs, n)
      val (t2, v2) = Gorilla.decodeBlock(blob, n)
      assert(t2.toSeq == ts.toSeq)
      assert(v2.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        vs.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
  }

  test("encode/decode DataFrames: per-series blocks, lossless, block split by time") {
    val pts = series(Seq(0L -> 1.0, 60000L -> 2.0, 120000L -> 2.0,
      86400000L -> 5.0, 86460000L -> 6.0))
    val keyed = Point.withSeriesKey(pts)
    val blocks = Gorilla.encode(keyed, blockMs = 86400000L)
    val byBlock = blocks.collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(byBlock === Map(0L -> 3, 86400000L -> 2))
    val back = collectTsVal(Gorilla.decode(blocks))
    assert(back === Seq(0L -> 1.0, 60000L -> 2.0, 120000L -> 2.0,
      86400000L -> 5.0, 86460000L -> 6.0))
  }

  test("a cold tier gives back names holding , and { and label keys holding = exactly") {
    import org.apache.spark.sql.functions.col
    val ids = Seq(
      ("/a,b", Map("host" -> "h")),
      ("/a{c}", Map("k=1" -> "v")),
      ("/a\\d", Map("v" -> "p,q=r", "x{y}" -> "z")))
    val pts = ids.map { case (n, l) => series(Seq(0L -> 1.0, 60000L -> 2.0), name = n, labels = l) }
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("graft_gor_escapes").toString + "/g"
    graft.sources.PointSource.writeGorilla(
      Point.withSeriesKey(pts).select(col("skey"), col("ts"), col("dval")), dir)
    val back = graft.sources.PointSource.readGorillaPoints(spark, dir)
      .select("name", "labels", "ts", "dval").collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap, r.getLong(2), r.getDouble(3)))
    assert(back.toSet == ids.flatMap { case (n, l) => Seq((n, l, 0L, 1.0), (n, l, 60000L, 2.0)) }.toSet)
  }
}
