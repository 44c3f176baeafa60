package graft

import graft.operators.Aggregations

/**
 * The greedy ±interval bucketing (lib/protobuf.cc:49-85) is implemented
 * as a single-pass anchor cascade (Aggregations.GreedyMerge); this spec
 * checks it against a direct transcription of the reference's pass-based
 * loop on randomized multi-stream inputs.
 */
class AggregationsSpec extends SparkSpec {

  /** Direct transcription of ValueStreamCalculation's pass loop
    * (lib/protobuf.cc:49-85): k buffered iterators, anchor from the
    * first alive stream, head-only consumption, trailing bucket dropped. */
  private def passBased(streams: Seq[Seq[(Long, Double)]], intervalMs: Long,
                        calc: Seq[Double] => Double): Seq[(Long, Double)] = {
    val iters = streams.map(_.iterator.buffered)
    val out = List.newBuilder[(Long, Double)]
    val bucket = scala.collection.mutable.ArrayBuffer.empty[Double]
    val NoAnchor = Long.MinValue
    var ts = NoAnchor
    var go = true
    while (go) {
      var found = false
      var foundBracket = false
      iters.foreach { i =>
        if (i.hasNext) {
          found = true
          if (ts == NoAnchor) ts = i.head._1
          if (i.head._1 >= ts - intervalMs && i.head._1 <= ts + intervalMs) {
            foundBracket = true
            bucket += i.next()._2
          }
        }
      }
      if (!found) go = false
      else if (!foundBracket && bucket.nonEmpty) {
        out += ((ts, calc(bucket.toSeq)))
        bucket.clear(); ts = NoAnchor
      }
    }
    out.result()
  }

  private val calcs: Map[String, Seq[Double] => Double] = Map(
    "avg" -> (b => b.sum / b.size),
    "sum" -> (_.sum),
    "min" -> (_.min),
    "max" -> (_.max),
    "median" -> (b => b.sorted.apply(b.size / 2)))

  test("byLabel keeps a label single-valued among the streams that carry it, null included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pts = Seq(
        ("a", "r1", "e0", "x", null, null),
        ("a", "r1", "e1", null, null, "n"),
        ("b", "r1", "e0", "x", "1", null),
        ("b", "r2", "e0", "y", "1", null))
      .toDF("host", "rack", "iface", "opt", "nul", "solo")
      .select(lit("/m").as("name"),
        map_filter(map(lit("host"), col("host"), lit("rack"), col("rack"),
            lit("iface"), col("iface"), lit("opt"), col("opt"), lit("nul"), col("nul"),
            lit("solo"), col("solo")),
          (k, v) => v.isNotNull || k === "nul").as("labels"),
        lit(0L).as("ts"), lit(1.0).as("dval"))
    val got = Aggregations.byLabel(pts, "host", Aggregations.Sum, 1000L)
      .select("labels").collect().map(_.getMap[String, String](0).toMap)
      .sortBy(_("host")).toSeq
    // a: rack constant, iface varies, opt only on one stream (kept),
    // nul null on both (kept as null), solo only on one (kept);
    // b: rack varies, opt varies, nul constant "1"
    assert(got == Seq(
      Map("host" -> "a", "rack" -> "r1", "opt" -> "x", "nul" -> null, "solo" -> "n"),
      Map("host" -> "b", "iface" -> "e0", "nul" -> "1")))
  }

  test("median emits a null row for all-null buckets, like other aggregators") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("/m/x", 1000L, Some(2.0)), ("/m/x", 2000L, Some(4.0)),
      ("/m/x", 11000L, None), ("/m/x", 12000L, None), // all-null bucket
      // mixed bucket: ONE non-null + a null — the null group row must
      // not double-emit alongside the pos=1 median
      ("/m/x", 21000L, Some(7.0)), ("/m/x", 22000L, None))
      .toDF("name", "ts", "dvalOpt")
      .select(col("name"), col("ts"), col("dvalOpt").as("dval"))
    val rows = Aggregations.byName(df, Aggregations.Median, 10000L).collect()
    assert(rows.length == 3, s"expected one row per bucket, got ${rows.toSeq}")
    val out = rows.map(r => (r.getLong(1), Option(r.get(2)))).toMap
    assert(out == Map(0L -> Some(4.0), 10000L -> None, 20000L -> Some(7.0)))
  }

  test("greedyExact cascade matches the pass-based reference loop") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 6; agg <- calcs.keys) {
      val nStreams = 1 + rnd.nextInt(5)
      val streams = (0 until nStreams).map { _ =>
        val n = 1 + rnd.nextInt(40)
        var t = rnd.nextInt(500).toLong
        (0 until n).map { _ =>
          t += rnd.nextInt(200)
          (t, rnd.nextGaussian() * 10)
        }
      }
      val expect = passBased(streams, 100L, calcs(agg))
      val rows = streams.zipWithIndex.flatMap { case (vs, s) =>
        vs.map { case (t, v) => ("/g", f"s$s%03d", t, v) }
      }
      val got = Aggregations
        .greedyExact(rows.toDF("name", "skey", "ts", "dval"), 100L, agg)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      val g = got.sortBy(p => (p._1, p._2))
      val e = expect.sortBy(p => (p._1, p._2))
      assert(g.size == e.size, s"trial $trial agg $agg: ${g.size} vs ${e.size}")
      g.zip(e).foreach { case ((gt, gv), (et, ev)) =>
        assert(gt == et && math.abs(gv - ev) < 1e-9,
          s"trial $trial agg $agg: ($gt,$gv) vs ($et,$ev)")
      }
    }
  }

  test("greedyExact: stuck values surface only after earlier streams exhaust") {
    import spark.implicits._
    // s1=[100,200], s2=[10,210], I=30: 10 is stuck behind both s1 anchors,
    // surfaces as its own anchor, and blocks 210 from joining bucket(200).
    val rows = Seq(
      ("/g", "s1", 100L, 1.0), ("/g", "s1", 200L, 2.0),
      ("/g", "s2", 10L, 3.0), ("/g", "s2", 210L, 4.0))
    val got = Aggregations
      .greedyExact(rows.toDF("name", "skey", "ts", "dval"), 30L, "avg")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    // trailing bucket (210) dropped, as the reference does
    assert(got == Seq((10L, 3.0), (100L, 1.0), (200L, 2.0)))
  }

  test("decimal-exact Average/Sum propagate non-finite values IEEE-style on both paths") {
    import spark.implicits._
    // cast(double AS decimal) nulls out NaN/±Inf, so an unguarded
    // decimal sum would silently DROP them (r12 behavior); the greedy
    // path's BigDecimal ctor would instead CRASH. Both must now follow
    // the IEEE cascade: NaN (or +Inf with −Inf) ⇒ NaN, +Inf ⇒ +Inf,
    // −Inf ⇒ −Inf, else the exact decimal result.
    val I = Aggregations.DefaultIntervalMs
    val rows = Seq(
      ("/m", 0L, 1.0), ("/m", 1L, 2.0),
      ("/m", I, Double.NaN), ("/m", I + 1, 5.0),
      ("/m", 2 * I, Double.PositiveInfinity), ("/m", 2 * I + 1, 1.0),
      ("/m", 3 * I, Double.NegativeInfinity),
      ("/m", 4 * I, Double.PositiveInfinity),
      ("/m", 4 * I + 1, Double.NegativeInfinity))
    for (agg <- Seq[Aggregations.AggType](Aggregations.Average, Aggregations.Sum)) {
      val got = Aggregations.byName(rows.toDF("name", "ts", "dval"), agg)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
      assert(got(0L) == (if (agg == Aggregations.Average) 1.5 else 3.0))
      assert(got(I).isNaN, s"$agg NaN bucket: ${got(I)}")
      assert(got(2 * I).isPosInfinity, s"$agg +Inf bucket: ${got(2 * I)}")
      assert(got(3 * I).isNegInfinity, s"$agg -Inf bucket: ${got(3 * I)}")
      assert(got(4 * I).isNaN, s"$agg +Inf&-Inf bucket: ${got(4 * I)}")
    }
    // single-pass greedy path: the same cascade, same inputs no crash
    val grows = Seq(
      ("/g", "s1", 0L, Double.NaN), ("/g", "s1", 10L, 3.0),
      ("/g", "s1", 1000L, Double.PositiveInfinity),
      ("/g", "s1", 2000L, 1.0), ("/g", "s1", 2010L, 2.0),
      ("/g", "s1", 9000L, 0.0)) // trailing bucket dropped
    val got = Aggregations
      .greedyExact(grows.toDF("name", "skey", "ts", "dval"), 100L, "avg")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1000L, 2000L))
    assert(got(0)._2.isNaN && got(1)._2.isPosInfinity && got(2)._2 == 1.5,
      s"greedy non-finite cascade: ${got.toSeq}")
  }

  test("finite |v| >= 1e26 is refused loudly on both exact-sum paths, not dropped") {
    import spark.implicits._
    // cast(1e26 AS decimal(38,12)) is NULL in non-ANSI mode; sum() skips
    // NULLs, so alongside other finite values the row would vanish from
    // the SQL-path sum while the greedy BigDecimal path kept it — a
    // silent per-value drop AND a cross-path disagreement. Both paths
    // must refuse with the same message instead.
    val bad = Seq(("/m", 0L, 1.0), ("/m", 1L, 1e26))
      .toDF("name", "ts", "dval")
    for (agg <- Seq[Aggregations.AggType](Aggregations.Average, Aggregations.Sum)) {
      val e = intercept[Exception] {
        Aggregations.byName(bad, agg).collect()
      }
      assert(e.getMessage.contains("1e26"), s"$agg: ${e.getMessage}")
    }
    val gbad = Seq(("/g", "s1", 0L, 1.0), ("/g", "s1", 10L, -1e26),
      ("/g", "s1", 9000L, 0.0)).toDF("name", "skey", "ts", "dval")
    val ge = intercept[Exception] {
      Aggregations.greedyExact(gbad, 100L, "sum").collect()
    }
    assert(ge.getMessage.contains("1e26") ||
      Option(ge.getCause).exists(_.getMessage.contains("1e26")), ge.toString)
    // just under the bound: both paths accept and agree exactly
    val ok = Seq(("/m", 0L, 9e25), ("/m", 1L, 1.0)).toDF("name", "ts", "dval")
    val sq = Aggregations.byName(ok, Aggregations.Sum)
      .collect().head.getDouble(2)
    val gok = Seq(("/g", "s1", 0L, 9e25), ("/g", "s1", 10L, 1.0),
      ("/g", "s1", 9000L, 0.0)).toDF("name", "skey", "ts", "dval")
    val gr = Aggregations.greedyExact(gok, 100L, "sum")
      .collect().head.getDouble(2)
    assert(sq == gr && sq == 9e25 + 1.0, s"$sq vs $gr")
  }

  test("greedyExact by label keys on the label value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      ("/g", "s1", 0L, 1.0, Map("host" -> "a")),
      ("/g", "s2", 10L, 3.0, Map("host" -> "a")),
      ("/g", "s3", 0L, 10.0, Map("host" -> "b")),
      ("/g", "s4", 5000L, 0.0, Map("host" -> "a")),
      ("/g", "s5", 5000L, 0.0, Map("host" -> "b")))
    val got = Aggregations
      .greedyExact(rows.toDF("name", "skey", "ts", "dval", "labels"),
        100L, "avg", label = Some("host"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("/g a", 0L, 2.0), ("/g b", 0L, 10.0)))
  }
}
