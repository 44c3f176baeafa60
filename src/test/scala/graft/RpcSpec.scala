package graft

import graft.api.Requests
import graft.operators.Aggregations
import graft.wire.{Rpc, WireReader}
import org.scalatest.funsuite.AnyFunSuite

/** Pure codec tests: no SparkSession. */
class RpcSpec extends AnyFunSuite {

  test("GetRequest round-trips repeated aggregations in order") {
    val req = Requests.GetRequest(
      variable = "/sys/cpu",
      aggregations = Seq(
        Requests.AggregationSpec(Aggregations.Sum, Nil, 60000L),
        Requests.AggregationSpec(Aggregations.Average, Seq("host"), 30000L),
        Requests.AggregationSpec(Aggregations.Median, Seq("dc"), 10000L)))
    val back = Rpc.decodeGetRequest(Rpc.encodeGetRequest(req))
    assert(back.aggregations == req.aggregations)
  }

  test("pattern label values holding , = { } \" \\ survive the wire; * and the empty value keep their meaning") {
    import graft.model.Variable
    val v = Variable("/sys/*", Map("a" -> "p,q=r", "b" -> "x{y}", "c" -> "q\"t\\",
      "d" -> "*", "e" -> "", "f" -> "/r1,r2/", "g" -> "/rn.*/", "h" -> "plain"))
    val pattern = Rpc.patternString(v)
    assert(Variable.parse(pattern) == v, pattern)
    // unquoted where no quoting is needed: matcher syntax stays as is
    assert(pattern.contains("d=*") && pattern.contains("e=,") &&
      pattern.contains("g=/rn.*/") && pattern.contains("h=plain"), pattern)
    val get = Rpc.decodeGetRequest(Rpc.encodeGetRequest(Requests.GetRequest(pattern)))
    assert(Variable.parse(get.variable) == v, get.variable)
    val list = Rpc.decodeListRequest(Rpc.encodeListRequest(Requests.ListRequest(pattern)))
    assert(Variable.parse(list.prefix) == v, list.prefix)
  }

  test("engine-extension mutations fail encode loudly, not as MatchError") {
    val req = Requests.GetRequest(
      variable = "/sys/cpu",
      mutations = Seq(Requests.Ewma(60000L)))
    val e = intercept[IllegalArgumentException](Rpc.encodeGetRequest(req))
    assert(e.getMessage.contains("no reference wire encoding"))
    // later extensions (Holt/Sliding/Lttb) must hit the same loud path,
    // not a MatchError from an exhausted pattern
    Seq(Requests.Holt(60000L, 120000L), Requests.Lttb(86400000L),
      Requests.Sliding(3600000L, 600000L)).foreach { m =>
      val ex = intercept[IllegalArgumentException](Rpc.encodeGetRequest(
        Requests.GetRequest(variable = "/sys/cpu", mutations = Seq(m))))
      assert(ex.getMessage.contains("no reference wire encoding"), m.toString)
    }
  }

  test("WireReader rejects corrupt declared lengths loudly") {
    // field 1, wire type 2 (len-delimited), declared length 200 but only
    // 3 payload bytes present — decoding must fail, never read past end
    // or silently accept a partial value (a truncated /add body must not
    // persist partial points as success).
    val w = new graft.wire.WireWriter
    w.tag(1, 2).varint(200L)
    val corrupt = w.result() ++ Array[Byte]('a', 'b', 'c')
    val r = new WireReader(corrupt, 0, corrupt.length)
    intercept[IllegalArgumentException] {
      r.fields {
        case (1, 2) => r.string()
        case (_, wt) => r.skip(wt)
      }
    }
  }

  test("randomized GetRequest/stream round-trips are lossless") {
    val rnd = new scala.util.Random(11)
    def randLabels() = (0 until rnd.nextInt(4))
      .map(i => s"k$i" -> s"v${rnd.nextInt(100)}").toMap
    (0 until 200).foreach { _ =>
      val req = Requests.GetRequest(
        variable = s"/r/${rnd.nextInt(10)}",
        minTimestamp = if (rnd.nextBoolean()) Some(rnd.nextLong(1L << 40)) else None,
        maxTimestamp = if (rnd.nextBoolean()) Some(rnd.nextLong(1L << 40)) else None,
        mutations = (0 until rnd.nextInt(3)).map(_ => rnd.nextInt(5) match {
          case 0 => Requests.Rate()
          case 1 => Requests.Delta
          case 2 => Requests.Mean(1000L * (1 + rnd.nextInt(100)))
          case 3 => Requests.Latest(1000L * (1 + rnd.nextInt(100)))
          case _ => Requests.Interpolate(60000L, 120000L * (1 + rnd.nextInt(5)))
        }),
        aggregations = (0 until rnd.nextInt(3)).map(_ =>
          Requests.AggregationSpec(
            Seq(Aggregations.Average, Aggregations.Sum, Aggregations.Min,
              Aggregations.Max, Aggregations.Median)(rnd.nextInt(5)),
            if (rnd.nextBoolean()) Seq(s"l${rnd.nextInt(3)}") else Nil,
            1000L * (1 + rnd.nextInt(600)))),
        maxVariables = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(1000)) else None,
        maxValues = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(1000)) else None)
      val back = Rpc.decodeGetRequest(Rpc.encodeGetRequest(req))
      assert(back.minTimestamp == req.minTimestamp)
      assert(back.maxTimestamp == req.maxTimestamp)
      assert(back.mutations == req.mutations)
      assert(back.aggregations == req.aggregations)
      assert(back.maxVariables == req.maxVariables)
      assert(back.maxValues == req.maxValues)

      val streams = (0 until rnd.nextInt(3)).map { i =>
        Rpc.Stream(
          graft.model.Variable(s"/s/$i", randLabels(),
            Seq(graft.model.Variable.Unknown, graft.model.Variable.Gauge,
              graft.model.Variable.Rate)(rnd.nextInt(3))),
          (0 until rnd.nextInt(5)).map { _ =>
            (rnd.nextLong(1L << 40),
              if (rnd.nextBoolean()) Some(rnd.nextDouble() * 1e6 - 5e5) else None,
              if (rnd.nextBoolean()) Some(s"sv${rnd.nextInt(100)}") else None,
              if (rnd.nextBoolean()) Some(rnd.nextLong(1L << 40)) else None)
          })
      }
      val (ok, err, sBack) = Rpc.decodeGetResponse(Rpc.encodeGetResponse(streams))
      assert(ok && err.isEmpty)
      assert(sBack == streams)
    }
  }

  test("decoders never hang or read out of bounds on arbitrary bytes") {
    // Deterministic fuzz: every decode either succeeds or throws — no
    // infinite loop, no ArrayIndexOutOfBounds (the reader must fail on
    // its own clamp checks, proving declared lengths never escape the
    // buffer).
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { i =>
      val bytes = Array.fill(rnd.nextInt(64))(rnd.nextInt().toByte)
      def check(f: => Any): Unit =
        try { f; () } catch {
          case _: IllegalArgumentException => ()
          case e: ArrayIndexOutOfBoundsException =>
            fail(s"OOB read on fuzz input $i: $e")
        }
      check(Rpc.decodeGetRequest(bytes))
      check(Rpc.decodeGetResponse(bytes))
      check(Rpc.decodeAddRequest(bytes))
      check(Rpc.decodeAddResponse(bytes))
      check(Rpc.decodeListRequest(bytes))
      check(Rpc.decodeListResponse(bytes))
      check(Rpc.decodeStoreConfig(bytes))
      check(Rpc.decodeTimers(bytes, 4))
    }
  }

  test("WireReader rejects a buffer ending mid-varint") {
    // tag byte for (field 1, varint) followed by a payload byte with the
    // continuation bit still set at buffer end — a partial value must
    // throw, not silently decode as the low 7 bits.
    val b = Array[Byte](0x08, 0xFF.toByte)
    val r = new WireReader(b, 0, b.length)
    intercept[IllegalArgumentException] {
      r.fields { case (_, 0) => r.varint(); case (_, wt) => r.skip(wt) }
    }
  }

  test("WireReader rejects varints longer than 10 bytes") {
    // 11 continuation bytes + terminator: shift would pass 63 and wrap
    // via the JVM's shift-mod-64; must throw instead.
    val b = Array[Byte](0x08) ++ Array.fill(11)(0x80.toByte) ++ Array[Byte](0x01)
    val r = new WireReader(b, 0, b.length)
    intercept[IllegalArgumentException] {
      r.fields { case (_, 0) => r.varint(); case (_, wt) => r.skip(wt) }
    }
  }

  test("Interpolate gap caps below one sample round-trip to a cap, not unlimited") {
    // 0 < maxGapMs < freq: integer division would send 0 samples, which
    // decodes as *unlimited* fill — the inversion ADVICE flagged. Ceiling
    // division must send at least 1 sample.
    val req = Requests.GetRequest(
      variable = "/sys/cpu",
      mutations = Seq(Requests.Interpolate(60000L, 30000L)))
    val back = Rpc.decodeGetRequest(Rpc.encodeGetRequest(req))
    assert(back.mutations == Seq(Requests.Interpolate(60000L, 60000L)),
      "tight gap cap must round up to 1 sample, never down to no-cap")
    // and a multiple-of-freq cap is exact
    val req2 = Requests.GetRequest(
      variable = "/sys/cpu",
      mutations = Seq(Requests.Interpolate(60000L, 180000L)))
    assert(Rpc.decodeGetRequest(Rpc.encodeGetRequest(req2)).mutations ==
      Seq(Requests.Interpolate(60000L, 180000L)))
  }

  test("WireReader rejects truncated fixed64") {
    val w = new graft.wire.WireWriter
    w.tag(2, 1) // fixed64 tag with no payload
    val b = w.result()
    val r = new WireReader(b, 0, b.length)
    intercept[IllegalArgumentException] {
      r.fields {
        case (2, 1) => r.fixed64()
        case (_, wt) => r.skip(wt)
      }
    }
  }
}
