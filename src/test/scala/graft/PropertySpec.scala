package graft

import graft.functions.GraftFunctions
import graft.operators.{Aggregations, Mutations, Rle}
import org.apache.spark.sql.functions._

/**
 * Property tests (SURVEY.md §5 strategy): invariants the reference
 * guarantees structurally that our distributed implementation must
 * preserve under partitioning and input order.
 */
class PropertySpec extends SparkSpec {

  private val rnd = new scala.util.Random(4242)

  private def randomPoints(nSeries: Int, nPoints: Int) = {
    import spark.implicits._
    val rows = for {
      s <- 0 until nSeries
      t <- 0 until nPoints
    } yield (s"/prop/v$s", Map("host" -> s"h${s % 3}"),
      1000L + t * 250L + rnd.nextInt(100), rnd.nextDouble() * 100)
    rows.toDF("name", "labels", "ts", "dval")
      .select(col("name"), col("labels").cast("map<string,string>"),
        lit("GAUGE").as("value_type"), col("ts"), col("dval"),
        lit(null).cast("string").as("sval"), lit(null).cast("long").as("end_ts"))
  }

  test("mutations are invariant to input partitioning (same series split across 'blocks')") {
    val pts = graft.model.Point.withSeriesKey(randomPoints(5, 40))
    // simulate the reference's multi-block layout: same logical series
    // arriving as several partitions, shuffled order
    val shuffled = pts.repartition(13).sortWithinPartitions("dval")
    def run(df: org.apache.spark.sql.DataFrame) =
      Mutations.meanGrid(Mutations.rate(df), 1000L)
        .select("skey", "ts", "dval").collect()
        .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .toSet
    assert(run(pts) == run(shuffled))
  }

  test("exact per-series ops tolerate arbitrary partitioning") {
    val pts = graft.model.Point.withSeriesKey(randomPoints(4, 30))
    val shuffled = pts.repartition(17)
    def run(df: org.apache.spark.sql.DataFrame) =
      Mutations.resampleUniform(df, 1000L)
        .collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    assert(run(pts) == run(shuffled))
  }

  test("aggregation is invariant to stream partitioning") {
    val pts = graft.model.Point.withSeriesKey(randomPoints(6, 25))
    def run(df: org.apache.spark.sql.DataFrame) =
      Aggregations.byName(df, Aggregations.Median, 2000L)
        .collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    assert(run(pts) == run(pts.repartition(11)))
  }

  test("ewma is shift-equivariant and scale-equivariant; anomaly z is invariant") {
    // ewma(a·x + c) = a·ewma(x) + c (the recurrence is affine in x);
    // the control-chart z-score is invariant under the same map —
    // the detector fires identically on °C and °F versions of a metric.
    val pts = graft.model.Point.withSeriesKey(randomPoints(3, 40))
    val mapped = pts.withColumn("dval", col("dval") * 2.5 + 7.0)
    def runE(df: org.apache.spark.sql.DataFrame) =
      Mutations.ewma(df, 1500.0).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
    val (base, shifted) = (runE(pts), runE(mapped))
    assert(base.length == shifted.length && base.nonEmpty)
    base.zip(shifted).foreach { case ((k1, t1, v1), (k2, t2, v2)) =>
      assert(k1 == k2 && t1 == t2 && math.abs(v2 - (v1 * 2.5 + 7.0)) < 1e-9)
    }
    def runZ(df: org.apache.spark.sql.DataFrame) =
      Mutations.ewmZscore(df, 1500.0).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
    val (bz, sz) = (runZ(pts), runZ(mapped))
    assert(bz.length == sz.length && bz.nonEmpty)
    bz.zip(sz).foreach { case ((k1, t1, z1), (k2, t2, z2)) =>
      assert(k1 == k2 && t1 == t2 && math.abs(z2 - z1) < 1e-6,
        s"z not invariant: $z1 vs $z2")
    }
  }

  test("rle: expand(encode(x)) recovers x exactly on step-free series") {
    import spark.implicits._
    // runs of equal values at a fixed 1s cadence
    val vals = Seq.fill(60)(rnd.nextInt(3).toDouble)
    val pts = graft.model.Point.withSeriesKey(
      series(vals.zipWithIndex.map { case (v, i) => (1000L + i * 1000L, v) }))
    val encoded = Rle.encode(pts)
    val expanded = Rle.expand(encoded, 1000L)
      .select("ts", "dval").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val original = pts.select("ts", "dval").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(expanded == original)
    // and the encoding actually compresses runs
    assert(encoded.count() < 60)
  }

  test("perSeries declared layout is true: every op's output is (skey, ts)-sorted per partition") {
    // perSeries/perSeriesRuns declare hash(skey) partitioning +
    // (skey, ts) intra-partition order on their output (GraftBridge
    // .internalCreateDataFrameClustered) so downstream windows skip
    // the exchange+sort. A false claim silently corrupts downstream
    // results, so verify it EMPIRICALLY for every shipped StreamOp,
    // on shuffled input: collect (partition, position, skey, ts) and
    // assert non-decreasing (skey, ts) within each partition — and
    // that each skey lives in exactly one partition.
    import org.apache.spark.sql.functions.spark_partition_id
    val pts = graft.model.Point.withSeriesKey(randomPoints(5, 40))
      .repartition(17) // adversarial input layout
    val ops: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "interpolate" -> Mutations.interpolate(pts, 1000L),
      "interpolate_gap" -> Mutations.interpolate(pts, 1000L, maxGapMs = 3000L),
      "resampleUniform" -> Mutations.resampleUniform(pts, 1000L),
      "meanExact" -> Mutations.meanExact(pts, 1000L),
      "minExact" -> Mutations.minExact(pts, 1000L),
      "maxExact" -> Mutations.maxExact(pts, 1000L),
      "ewma" -> Mutations.ewma(pts, 1500.0),
      "holt" -> Mutations.holt(pts, 1500.0, 4500.0),
      "ewmZscore" -> Mutations.ewmZscore(pts, 1500.0),
      "lttb" -> Mutations.lttb(pts, 2000L),
      "interpolateRle" -> Mutations.interpolateRle(pts, 1000L),
      "uniformRle" -> Mutations.resampleUniformRle(pts, 1000L))
    for ((name, df) <- ops) {
      val rows = df.select(spark_partition_id(), col("skey"), col("ts"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      assert(rows.nonEmpty, s"$name emitted nothing")
      rows.groupBy(_._1).foreach { case (pid, part) =>
        part.sliding(2).foreach {
          case Array((_, k1, t1), (_, k2, t2)) =>
            assert(k1 < k2 || (k1 == k2 && t1 <= t2),
              s"$name partition $pid order violated: ($k1,$t1) then ($k2,$t2)")
          case _ =>
        }
      }
      val keyParts = rows.groupBy(_._2).view.mapValues(_.map(_._1).distinct)
      keyParts.foreach { case (k, ps) =>
        assert(ps.size == 1, s"$name skey $k spans partitions $ps")
      }
    }
  }

  test("MinSqDist expression is bit-identical to the HOF aggregate/least form") {
    // kmeansParallelCentroids' pick rule compares u < l·d²/φ, so a
    // single-ulp drift in d² trains different centroids; the codegen'd
    // MinSqDist replacement must reproduce the original HOF floats
    // exactly (same per-dim accumulation order, same strict-< min
    // scan). Random vectors AND adversarial cases: ties between
    // centroids, a centroid equal to the vector, denormal-scale
    // coordinates.
    import spark.implicits._
    import graft.similarity.Ann
    val rnd2 = new scala.util.Random(97)
    val cents: Seq[Array[Double]] =
      Seq.fill(17)(Array.fill(8)(rnd2.nextGaussian() * (1 + rnd2.nextInt(3)))) ++
        Seq(Array.fill(8)(0.25), Array.fill(8)(0.25)) // exact tie pair
    val vecs = Seq.fill(200)(Array.fill(8)(rnd2.nextGaussian())) ++
      Seq(cents(3).clone(), Array.fill(8)(1e-160), Array.fill(8)(0.25))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val both = df.select(col("id"),
        graft.functions.VectorOps.minSqDist(col("v"), cents.toArray).as("expr"),
        Ann.minSqDistToCentroidsHof(cents, col("v")).as("hof"))
      .collect()
    both.foreach { r =>
      val (e, h) = (r.getDouble(1), r.getDouble(2))
      assert(java.lang.Double.doubleToLongBits(e) ==
        java.lang.Double.doubleToLongBits(h),
        s"id=${r.getLong(0)}: expr=$e hof=$h differ in bits")
    }
  }

  test("emission-order guard trips on a contract-breaking StreamOp") {
    // The declared perSeries layout is load-bearing: Catalyst trusts it
    // without verification, so a StreamOp that emits out of ts order
    // must FAIL THE TASK, not silently corrupt downstream windows.
    // Two deliberate violations — a feed that emits descending
    // timestamps, and a flush that emits BEFORE the last fed ts — must
    // both surface the guard's IllegalStateException.
    val pts = graft.model.Point.withSeriesKey(randomPoints(2, 10))
    final class DescendingFeedOp extends Mutations.StreamOp {
      def feed(ts: Long, v: Double): Seq[(Long, Double)] =
        Seq((ts, v), (ts - 1, v)) // second row goes backwards
      def flush(): Seq[(Long, Double)] = Nil
    }
    final class BackdatedFlushOp extends Mutations.StreamOp {
      private var firstTs = 0L; private var n = 0
      def feed(ts: Long, v: Double): Seq[(Long, Double)] = {
        if (n == 0) firstTs = ts
        n += 1
        Seq((ts, v))
      }
      def flush(): Seq[(Long, Double)] =
        if (n > 1) Seq((firstTs, 0.0)) else Nil // before the last feed row
    }
    for (mk <- Seq(() => new DescendingFeedOp: Mutations.StreamOp,
                   () => new BackdatedFlushOp: Mutations.StreamOp)) {
      val ex = intercept[Exception] { Mutations.perSeries(pts)(mk).collect() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("emission-order contract violated")),
        s"expected the guard's IllegalStateException, got: $ex")
      val ex2 = intercept[Exception] {
        Mutations.perSeriesRuns(pts, 1000L)(mk).collect()
      }
      assert(chain(ex2).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("emission-order contract violated")),
        s"expected the runs guard's IllegalStateException, got: $ex2")
    }
  }

  test("RLE output contract: expand(rleVariant) equals the dense emitter, runs compress") {
    // Dense-grid emitters' 100 TB bottleneck is output volume; the RLE
    // variants must be a pure re-encoding: Rle.expand of their output
    // row-equals the dense output — including across max_gap holes,
    // where encode-after-the-fact would merge across the hole and
    // expand would then invent rows inside it.
    import spark.implicits._
    val G = 1000L
    def denseSet(df: org.apache.spark.sql.DataFrame) =
      df.select("skey", "ts", "dval").collect()
        .map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    def runSet(df: org.apache.spark.sql.DataFrame) =
      denseSet(Rle.expand(df, G))
    // stepwise values (flat stretches) + one wide gap per series
    val rows = for {
      s <- 0 until 4
      t <- 0 until 50
    } yield (s"/rle/v$s", Map("host" -> "h"),
      1000L + t * 250L + (if (t > 30) 20000L else 0L) + rnd.nextInt(50),
      (rnd.nextInt(3) / 2).toDouble) // mostly-flat: 2/3 zeros
    val pts = graft.model.Point.withSeriesKey(
      rows.toDF("name", "labels", "ts", "dval")
        .select(col("name"), col("labels").cast("map<string,string>"),
          lit("GAUGE").as("value_type"), col("ts"), col("dval"),
          lit(null).cast("string").as("sval"),
          lit(null).cast("long").as("end_ts")))
    // interpolate, gapless and with max_gap re-anchoring (grid holes)
    for (gap <- Seq(0L, 5000L)) {
      val dense = Mutations.interpolate(pts, G, gap)
      val rle = Mutations.interpolateRle(pts, G, gap)
      assert(runSet(rle) == denseSet(dense), s"interpolate gap=$gap")
      assert(rle.count() < dense.count(), s"no compression at gap=$gap")
    }
    // resampleUniform
    assert(runSet(Mutations.resampleUniformRle(pts, G)) ==
      denseSet(Mutations.resampleUniform(pts, G)))
    // LOCF: dense render (the m_locf_grid shape) vs the run emitter;
    // equal-valued observed buckets must merge even across filled gaps
    val b = pts.groupBy(col("skey"),
        (col("ts") - pmod(col("ts"), lit(G))).as("bts"))
      .agg(max_by(col("dval"), col("ts")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("skey").orderBy("bts")
    val denseLocf = b.withColumn("next_bts", lead("bts", 1).over(w))
      .select(col("skey"),
        explode(sequence(col("bts"),
          coalesce(col("next_bts") - G, col("bts")), lit(G))).as("ts"),
        col("v").as("dval"))
    val locfRuns = Mutations.locfGridRle(pts, G)
    assert(runSet(locfRuns) == denseSet(denseLocf), "locf expand-equality")
    assert(locfRuns.count() < b.count(),
      "locf runs must merge equal-valued observed buckets")
  }

  test("sessionize matches a sequential per-key scan on random data") {
    import spark.implicits._
    val rows = (0 until 400).map { i =>
      (s"k${rnd.nextInt(8)}", rnd.nextInt(100000).toLong, rnd.nextDouble()) }
      .distinctBy(r => (r._1, r._2)) // unique ts per key (documented contract)
    val gap = 5000L
    val got = graft.operators.Sessions.sessionize(
        rows.toDF("key", "ts", "value"), col("key"), col("ts"), gap)
      .select("key", "ts", "session").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // reference: sequential scan per key
    rows.groupBy(_._1).foreach { case (k, rs) =>
      var sess = 0L; var lastTs = Long.MinValue
      rs.sortBy(_._2).foreach { case (_, ts, _) =>
        if (lastTs == Long.MinValue || ts - lastTs > gap) sess += 1
        assert(got((k, ts)) == sess, s"key=$k ts=$ts")
        lastTs = ts
      }
    }
  }

  test("p_shuffle's two-phase index is a bijection matching the global sort") {
    import spark.implicits._
    // arbitrary ids with gaps, shuffled input order, awkward partitioning
    val ids = rnd.shuffle((0L until 400L).map(_ * 7 + 3).toVector)
    val docs = ids.map(i => (i, s"src${i % 5}", s"text $i"))
      .toDF("doc_id", "source", "text").repartition(7)
    val dir = java.nio.file.Files.createTempDirectory("pshuf").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineEntry.queries("p_shuffle")(spark, dir).collect()
    // bijection: indices are exactly 0..n-1
    assert(out.map(_.getLong(2)).sorted.toSeq == (0L until 400L).toSeq)
    // and equal to the serializing single-window definition
    val expect = out.map(r => r.getLong(0) ->
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"e1#${r.getLong(0)}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString).toSeq
      .sortBy { case (id, h) => (h, id) }.map(_._1).zipWithIndex.toMap
    out.foreach(r => assert(r.getLong(2) == expect(r.getLong(0)).toLong))
  }

  test("duplicateSpans matches a brute-force window scan on random near-dup docs") {
    import spark.implicits._
    val l = 4
    // small vocab + shared phrase injections => plenty of genuine
    // cross-doc window collisions
    val phrases = Seq("p q r s t", "u v w x y z")
    def doc(): String = (0 until 30).map { _ =>
      if (rnd.nextInt(4) == 0) phrases(rnd.nextInt(phrases.size))
      else s"w${rnd.nextInt(12)}"
    }.mkString(" ")
    val rows = (1L to 12L).map(i => (i, doc()))
    val got = graft.dedup.Dedup.duplicateSpans(rows.toDF("doc_id", "text"), l = l)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // reference: brute-force window hashes + interval merge
    val toks = rows.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }.toMap
    val wins = toks.toSeq.flatMap { case (id, ts) =>
      ts.sliding(l).zipWithIndex.filter(_._1.length == l)
        .map { case (w, i) => (id, i + 1L, w.mkString(" ")) } }
    val dupHashes = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val expected = wins.filter(w => dupHashes(w._3)).groupBy(_._1).toSeq.flatMap {
      case (id, ws) =>
        val sorted = ws.map(_._2).sorted
        val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
        sorted.foreach { p =>
          if (spans.nonEmpty && p <= spans.last._2) {
            val (s0, e0) = spans.remove(spans.length - 1)
            spans += ((s0, math.max(e0, p + l)))
          } else spans += ((p, p + l))
        }
        spans.map { case (s0, e0) => (id, s0, e0) }
    }
    assert(got.toSet == expected.toSet,
      s"spark=${got.toSet -- expected.toSet} ref=${expected.toSet -- got.toSet}")
    // invariants: spans never overlap within a doc and are all >= l tokens
    got.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, e1), (_, s2, _)) => assert(e1 < s2, "overlapping spans")
        case _ =>
      }
      sorted.foreach { case (_, s0, e0) => assert(e0 - s0 >= l) }
    }
  }

  test("asOfJoin matches the brute-force quadratic definition on random data") {
    import spark.implicits._
    val left = (0 until 200).map(i =>
      (i.toLong, s"k${rnd.nextInt(6)}", rnd.nextInt(10000).toLong))
    val right = (0 until 150).map { i =>
      (s"k${rnd.nextInt(8)}", rnd.nextInt(10000).toLong, rnd.nextDouble()) }
      .distinctBy(r => (r._1, r._2)) // one right row per (key, ts)
    val got = graft.operators.AsOf.asofJoin(
        left.toDF("event_id", "key", "ts"),
        right.toDF("key", "ts", "v"), Seq("key"))
      .select(col("event_id"), col("ref_ts"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    left.foreach { case (id, k, ts) =>
      val expected = right.filter(r => r._1 == k && r._2 <= ts)
        .map(_._2).maxOption
      assert(got(id) == expected, s"event $id key=$k ts=$ts")
    }
  }

  test("compressed-audio walks never accept random bytes; constructed streams always parse") {
    import graft.multimodal.Multimodal.CompressedAudio
    // soundness: random byte blobs (no valid frame chain / page chain)
    // must not parse — the guards exist precisely so mislabeled blobs
    // in a corpus scan fall to the stub instead of reporting garbage
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val blob = Array.fill(rnd.nextInt(2000) + 1)(rnd.nextInt(256).toByte)
      // exclude the astronomically-unlikely-but-possible valid prefix
      // cases by construction: random first byte is 0xFF with p=1/256
      // AND the remaining header fields must ALL validate AND the
      // frame hops must land exactly at EOF — if this ever fires the
      // walk found a genuinely well-formed stream, which is fine; we
      // assert only that a parse implies structural validity below
      CompressedAudio.mp3Samples(blob).foreach { s =>
        assert(s > 0 && s % 576 == 0, "accepted stream must be whole frames")
      }
      assert(CompressedAudio.oggSamples(blob).isEmpty ||
        (blob.length >= 4 && blob.take(4).sameElements("OggS".getBytes)),
        "an OGG parse requires the capture pattern")
    }
    // completeness: every constructed frame count round-trips
    (2 to 12).foreach { n =>
      val bos = new java.io.ByteArrayOutputStream()
      (0 until n).foreach { _ =>
        bos.write(Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0))
        bos.write(new Array[Byte](413))
      }
      assert(CompressedAudio.mp3Samples(bos.toByteArray) == Some(n * 1152L))
    }
  }

  test("video container walks never throw on arbitrary bytes, including magic-prefixed garbage") {
    import graft.multimodal.Multimodal.{AviDecoder, Mp4Meta, VideoDecoder, WebmMeta}
    // a corpus scan feeds these parsers millions of arbitrary blobs;
    // soundness = total functions: None or a sane parse, never an
    // exception or a non-terminating walk. Adversarial shapes: pure
    // random bytes, and random bytes behind each container's OWN magic
    // (the branch where the walk actually runs on garbage structure).
    val rnd = new scala.util.Random(11)
    def garbage(n: Int) = Array.fill(n)(rnd.nextInt(256).toByte)
    (0 until 200).foreach { _ =>
      val blob = garbage(rnd.nextInt(3000) + 1)
      val prefixed = Seq(
        blob,
        "RIFF".getBytes("ISO-8859-1") ++ blob,
        ("RIFF".getBytes("ISO-8859-1") :+ 0xFF.toByte) ++
          "AVI ".getBytes("ISO-8859-1") ++ blob,
        Array[Byte](0, 0, 0, 20) ++ "ftyp".getBytes("ISO-8859-1") ++ blob,
        Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte) ++ blob)
      prefixed.foreach { b =>
        Mp4Meta.parse(b).foreach { case (w, h, n) =>
          assert(w > 0 && h > 0 && n > 0) }
        WebmMeta.parse(b).foreach { case (w, h, n) =>
          assert(w > 0 && h > 0 && n > 0) }
        AviDecoder.decode(b).foreach { case (_, _, n, feat) =>
          assert(n > 0 && feat.length == 8) }
        VideoDecoder.decode(b) // full dispatch: must simply not throw
      }
    }
    // truncation sweep over VALID containers: every prefix of a
    // well-formed file must also parse-or-None without throwing
    def minimalishMp4: Array[Byte] = { // reuse PipelineSpec's builder shape
      def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
        (v >> 8).toByte, v.toByte)
      def box(t: String, p: Array[Byte]) =
        be32(p.length + 8) ++ t.getBytes("ISO-8859-1") ++ p
      val tkhd = new Array[Byte](84)
      System.arraycopy(be32(64 << 16), 0, tkhd, 76, 4)
      System.arraycopy(be32(48 << 16), 0, tkhd, 80, 4)
      val hdlr = new Array[Byte](24)
      System.arraycopy("vide".getBytes("ISO-8859-1"), 0, hdlr, 8, 4)
      val stts = be32(0) ++ be32(1) ++ be32(9) ++ be32(1)
      box("ftyp", "isom".getBytes("ISO-8859-1") ++ be32(0)) ++
        box("moov", box("trak", box("tkhd", tkhd) ++ box("mdia",
          box("hdlr", hdlr) ++ box("minf", box("stbl", box("stts", stts))))))
    }
    val full = minimalishMp4
    assert(Mp4Meta.parse(full).contains((64, 48, 9)))
    (1 until full.length).foreach { cut =>
      Mp4Meta.parse(full.take(cut)) // None or partial — never a throw
    }
  }

  test("TextProto escape translation round-trips through a rendered config") {
    // any string built from the escapable set survives quote → parse
    val payloads = Seq("a\nb", "tab\there", "q\"uote", "back\\slash",
      "\n\t\"\\", "plain", "mix \"x\"\n\tdone")
    payloads.foreach { p =>
      val rendered = "c: \"" + p.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t") + "\""
      val got = graft.config.TextProto.parse(rendered).str("c")
      assert(got.contains(p), s"round-trip failed for ${p.replace("\n", "<n>")}")
    }
  }

  test("SQL function registration: dot_product and simhash60 usable from spark.sql") {
    GraftFunctions.register(spark)
    val dp = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
      .head().getDouble(0)
    assert(dp == 32.0)
    val sig = spark.sql("SELECT simhash60(array(7L, 7L, 8L))").head().getLong(0)
    assert(sig == 7L) // majority of {0b111,0b111,0b1000} per bit = 0b111
    val sh = spark.sql("SELECT shingle_hash60(array('a','b','c','b','c'), 2)")
      .head().getSeq[Long](0)
    assert(sh.length == 3) // 'a b','b c','c b' distinct ('b c' repeats)
    val mh = spark.sql("SELECT minhash_signature(array(1L, 2L, 3L), 4)")
      .head().getSeq[Long](0)
    assert(mh.length == 4 && mh.forall(_ >= 0))
    // cdc_chunks from SQL must equal the Column-API chunker exactly
    val sql = spark.sql("SELECT cdc_chunks('hello world of rolling hashes', 4, 32)")
      .head().getSeq[String](0)
    val api = spark.range(1)
      .select(graft.dedup.Dedup.cdcChunks(
        org.apache.spark.sql.functions.lit("hello world of rolling hashes"), 4, 32))
      .head().getSeq[String](0)
    assert(sql == api && sql.mkString == "hello world of rolling hashes")
    // parse_variable inverts seriesKey, escapes included
    val v = spark.sql(
      """SELECT parse_variable('/sys/cpu{a=1\\,b\\=2,host=h1}')""").head().getStruct(0)
    assert(v.getString(0) == "/sys/cpu")
    assert(v.getMap[String, String](1) == Map("a" -> "1,b=2", "host" -> "h1"))
    val k = spark.sql("SELECT series_key('/sys/cpu', map('host', 'h1', 'a', '1,b=2'))")
      .head().getString(0)
    assert(k == "/sys/cpu{a=1\\,b\\=2,host=h1}")
  }

  test("parse_variable is the exact inverse of Point.seriesKey") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, map, lit}
    val rows = Seq(
      ("/plain", Map.empty[String, String]),
      ("/sys/cpu", Map("host" -> "h1", "job" -> "j")),
      ("/tricky", Map("k" -> "a,b=c{d}e\\f", "z," -> "v")),
      ("/n\\a,m=e{x}", Map("k=1" -> "v", "{k}" -> "a=b", "e" -> "")),
      ("/a,b", Map.empty[String, String]),
      ("/a{c}", Map("host" -> "h")))
    rows.foreach { case (name, labels) =>
      val labelExpr =
        if (labels.isEmpty) map().cast("map<string,string>")
        else map(labels.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      val back = spark.range(1)
        .select(graft.functions.ParseVariable.parseVariable(
          graft.model.Point.seriesKey(lit(name), labelExpr)).as("v"))
        .select(col("v.name"), col("v.labels")).head()
      assert(back.getString(0) == name, s"name roundtrip for $name")
      assert(back.getMap[String, String](1) == labels, s"labels roundtrip for $labels")
    }
  }
}
