package graft.wire

import graft.api.Requests
import graft.model.Variable
import graft.operators.Aggregations

/**
 * Codec for the reference's RPC protos (lib/openinstrument.proto):
 * GetRequest(91-111) / GetResponse(113-121) / AddRequest(123-129) /
 * AddResponse(131-135) / ListRequest(137-146) / ListResponse(147-157),
 * with payloads carried as base64(serialized proto) exactly like the
 * reference servers (codec go/src/store.go:33-65, lib/protobuf.cc:35-47).
 */
object Rpc {

  // ------------------------------------------------------ StreamVariable

  def decodeStreamVariable(buf: Array[Byte], off: Int, len: Int): Variable = {
    var name = ""
    var labels = Map.empty[String, String]
    var vtype = Variable.Unknown
    val r = new WireReader(buf, off, off + len)
    r.fields {
      case (1, 2) => name = r.string()
      case (2, 2) =>
        val (lo, ln) = r.lenDelim()
        val lr = new WireReader(buf, lo, lo + ln)
        var k = ""; var v = ""
        lr.fields {
          case (1, 2) => k = lr.string()
          case (2, 2) => v = lr.string()
          case (_, w) => lr.skip(w)
        }
        if (k.nonEmpty) labels += k -> v
      case (3, 0) => vtype = r.varint() match {
        case 1 => Variable.Gauge; case 2 => Variable.Rate; case _ => Variable.Unknown
      }
      case (_, w) => r.skip(w)
    }
    Variable(name, labels, vtype)
  }

  def encodeStreamVariable(w: WireWriter, v: Variable): Unit = {
    w.stringField(1, v.name)
    v.labels.toSeq.sortBy(_._1).foreach { case (k, value) =>
      w.msgField(2) { lw => lw.stringField(1, k); lw.stringField(2, value) }
    }
    w.intField(3, v.valueType match {
      case Variable.Gauge => 1L; case Variable.Rate => 2L; case _ => 0L })
  }

  // --------------------------------------------------------- GetRequest

  /** StreamMutation.sample_type → MutationSpec
    * (enum at lib/openinstrument.proto:26-42). `maxGap` is
    * max_gap_interpolate in SAMPLES (proto:45-51): gaps wider than
    * maxGap·freq ms are left open. DELIBERATE DIVERGENCE from the
    * proto's `[default = 1]`: an absent field means unlimited fill
    * here, matching the authoritative Go server, which ignores the
    * field entirely (mutations.go:87-137 fills every gap). */
  private def mutationSpec(sampleType: Long, freq: Long,
                           maxGap: Long): Option[Requests.MutationSpec] =
    sampleType match {
      case 0 =>
        if (freq > 0) Some(Requests.Interpolate(freq,
          if (maxGap > 0) maxGap * freq else 0L))
        else None
      case 1 => Some(Requests.Mean(freq))
      case 2 => Some(Requests.MaxM(freq))
      case 3 => Some(Requests.MinM(freq))
      case 4 => Some(Requests.Rate())
      case 5 => Some(Requests.RateSigned())
      case 6 => Some(Requests.Delta)
      case 7 => Some(Requests.Latest(freq))
      case _ => None
    }

  /** StreamMutation{1: sample_type, 2: sample_frequency,
    * 3: max_gap_interpolate} at `field`.
    *
    * KNOWN-LOSSY within the reference enum (proto:26-42 has no codes
    * for the engine extensions): Uniform encodes as NONE+freq (both are
    * interpolating resamplers), StdDev as AVERAGE, and Rate's
    * `perSecond` display convention has no wire field — a decode of
    * this encode yields the closest reference-expressible operator, by
    * design (wire compatibility over extension fidelity). Also lossy by
    * rounding: max_gap_interpolate is a sample COUNT on the wire
    * (proto:45-51) while the engine spec carries milliseconds, so a gap
    * cap that isn't a multiple of the frequency rounds UP to the next
    * whole sample (never down to 0 — 0<gap<freq must stay a cap, since
    * an absent field decodes as unlimited fill). */
  private def encodeMutation(w: WireWriter, field: Int,
                             m: Requests.MutationSpec): Unit = {
    val (st, freq, maxGapSamples) = m match {
      case Requests.Interpolate(f, g) =>
        (0L, f, if (g > 0 && f > 0) (g + f - 1) / f else 0L)
      case Requests.Mean(f) => (1L, f, 0L)
      case Requests.MaxM(f) => (2L, f, 0L)
      case Requests.MinM(f) => (3L, f, 0L)
      case Requests.Rate(_) => (4L, 0L, 0L)
      case Requests.RateSigned(_) => (5L, 0L, 0L)
      case Requests.Delta => (6L, 0L, 0L)
      case Requests.Latest(f) => (7L, f, 0L)
      case Requests.StdDev(f) => (1L, f, 0L) // no reference enum; closest
      case Requests.Uniform(f) => (0L, f, 0L)
      // Engine extensions with NO reference-expressible approximation:
      // EWMA/anomaly/Holt/sliding/LTTB are stateful transforms or
      // selectors, not resamplers — mapping them to AVERAGE would
      // silently change semantics on the far side. The catch-all keeps
      // this a loud failure (not a MatchError) for every future
      // extension too.
      case other =>
        throw new IllegalArgumentException(
          s"$other has no reference wire encoding (proto:26-42); " +
            "strip engine-extension mutations before RPC")
    }
    w.msgField(field) { mw =>
      mw.intField(1, st)
      if (freq > 0) mw.intField(2, freq)
      if (maxGapSamples > 0) mw.intField(3, maxGapSamples)
    }
  }

  /** Parse one StreamMutation submessage at (off, len) → MutationSpec. */
  private def decodeMutation(buf: Array[Byte], off: Int,
                             len: Int): Option[Requests.MutationSpec] = {
    val mr = new WireReader(buf, off, off + len)
    var st = 0L; var freq = 0L; var maxGap = 0L
    mr.fields {
      case (1, 0) => st = mr.varint()
      case (2, 0) => freq = mr.varint()
      case (3, 0) => maxGap = mr.varint()
      case (_, w) => mr.skip(w)
    }
    mutationSpec(st, freq, maxGap)
  }

  private def aggType(t: Long): Aggregations.AggType = t match {
    case 1 => Aggregations.Max; case 2 => Aggregations.Min
    case 3 => Aggregations.Median; case 4 => Aggregations.Sum
    case _ => Aggregations.Average
  }

  /** A uint64 ms timestamp (lib/openinstrument.proto) past
    * Long.MaxValue reads back negative; it saturates, so uint64-max
    * stays "after every point", as in the reference's unsigned
    * compare (go/src/store.go:137-148). */
  private def uint64Ms(t: Long): Long = if (t < 0) Long.MaxValue else t

  def decodeGetRequest(bytes: Array[Byte]): Requests.GetRequest = {
    var variable: Option[Variable] = None
    var minTs: Option[Long] = None
    var maxTs: Option[Long] = None
    var muts = Vector.empty[Requests.MutationSpec]
    var aggs = Vector.empty[Requests.AggregationSpec]
    var maxVars: Option[Int] = None
    var maxVals: Option[Int] = None
    val r = new WireReader(bytes, 0, bytes.length)
    r.fields {
      case (9, 2) =>
        val (o, n) = r.lenDelim()
        variable = Some(decodeStreamVariable(bytes, o, n))
      case (2, 0) => minTs = Some(uint64Ms(r.varint()))
      case (3, 0) => maxTs = Some(uint64Ms(r.varint()))
      case (6, 2) =>
        val (o, n) = r.lenDelim()
        muts ++= decodeMutation(bytes, o, n)
      case (7, 2) =>
        val (o, n) = r.lenDelim()
        val ar = new WireReader(bytes, o, o + n)
        var t = 0L; var labels = Vector.empty[String]
        var interval = Aggregations.DefaultIntervalMs
        ar.fields {
          case (1, 0) => t = ar.varint()
          case (2, 2) => labels :+= ar.string()
          case (3, 0) => interval = ar.varint()
          case (_, w) => ar.skip(w)
        }
        aggs :+= Requests.AggregationSpec(aggType(t), labels, interval)
      case (8, 0) => maxVars = Some(r.varint().toInt)
      case (11, 0) => maxVals = Some(r.varint().toInt)
      case (_, w) => r.skip(w)
    }
    val v = variable.getOrElse(Variable(""))
    Requests.GetRequest(patternString(v), minTs, maxTs, muts, aggs, maxVars, maxVals)
  }

  /** Pattern string for VariableMatcher.compile — keeps empty-valued
    * labels (k= means must-not-exist), unlike Variable.canonical. A
    * value outside the plain value charset is quoted the way
    * Variable.parse reads it back, so `,` `=` `{` `}` inside a value
    * stay in the value; `*`, the empty value and a plain `/re/` need
    * no quotes and keep their matcher meaning. */
  def patternString(v: Variable): String =
    if (v.labels.isEmpty) v.name
    else v.labels.toSeq.sortBy(_._1)
      .map { case (k, value) =>
        if (Variable.needsQuoting(value)) s"""$k="${Variable.quote(value)}""""
        else s"$k=$value"
      }
      .mkString(v.name + "{", ",", "}")

  def encodeGetRequest(req: Requests.GetRequest): Array[Byte] = {
    val w = new WireWriter
    w.msgField(9)(vw => encodeStreamVariable(vw, Variable.parse(req.variable)))
    req.minTimestamp.foreach(w.intField(2, _))
    req.maxTimestamp.foreach(w.intField(3, _))
    req.mutations.foreach(m => encodeMutation(w, 6, m))
    req.aggregations.foreach { a =>
      w.msgField(7) { aw =>
        aw.intField(1, a.agg match {
          case Aggregations.Max => 1L; case Aggregations.Min => 2L
          case Aggregations.Median => 3L; case Aggregations.Sum => 4L
          case _ => 0L })
        a.labels.foreach(aw.stringField(2, _))
        aw.intField(3, a.sampleIntervalMs)
      }
    }
    req.maxVariables.foreach(n => w.intField(8, n))
    req.maxValues.foreach(n => w.intField(11, n))
    w.result()
  }

  // ------------------------------------------------ responses / streams

  final case class Stream(
      variable: Variable,
      values: Seq[(Long, Option[Double], Option[String], Option[Long])])

  /** A per-phase timer: (phase name, duration ms). Encoded as
    * LogMessage{1: timestamp=duration ms, 2: message=phase}, the shape
    * the Go server's Timer.Stop() writes (openinstrument.go:28-45). */
  type Timer = (String, Long)

  private def encodeTimers(w: WireWriter, field: Int, timers: Seq[Timer]): Unit =
    timers.foreach { case (phase, ms) =>
      w.msgField(field) { tw => tw.intField(1, ms); tw.stringField(2, phase) }
    }

  /** Decode `repeated LogMessage timer = <field>` from any response. */
  def decodeTimers(bytes: Array[Byte], field: Int): Seq[Timer] = {
    var out = Vector.empty[Timer]
    val r = new WireReader(bytes, 0, bytes.length)
    r.fields {
      case (`field`, 2) =>
        val (o, n) = r.lenDelim()
        val tr = new WireReader(bytes, o, o + n)
        var ms = 0L; var phase = ""
        tr.fields {
          case (1, 0) => ms = tr.varint()
          case (2, 2) => phase = tr.string()
          case (_, wt) => tr.skip(wt)
        }
        out :+= ((phase, ms))
      case (_, wt) => r.skip(wt)
    }
    out
  }

  private def encodeStream(w: WireWriter, s: Stream): Unit = {
    w.msgField(2)(vw => encodeStreamVariable(vw, s.variable))
    s.values.foreach { case (ts, dv, sv, ets) =>
      w.msgField(4) { pw =>
        pw.intField(1, ts)
        dv.foreach(pw.doubleField(2, _))
        sv.foreach(pw.stringField(3, _))
        ets.foreach(pw.intField(4, _))
      }
    }
  }

  /** GetResponse{1: success, 2: errormessage, 3: repeated stream,
    * 4: repeated timer}. */
  def encodeGetResponse(streams: Seq[Stream], error: Option[String] = None,
                        timers: Seq[Timer] = Nil): Array[Byte] = {
    val w = new WireWriter
    w.boolField(1, error.isEmpty)
    error.foreach(w.stringField(2, _))
    streams.foreach(s => w.msgField(3)(sw => encodeStream(sw, s)))
    encodeTimers(w, 4, timers)
    w.result()
  }

  def decodeGetResponse(bytes: Array[Byte]): (Boolean, Option[String], Seq[Stream]) = {
    var success = false
    var err: Option[String] = None
    var streams = Vector.empty[Stream]
    val r = new WireReader(bytes, 0, bytes.length)
    r.fields {
      case (1, 0) => success = r.varint() == 1
      case (2, 2) => err = Some(r.string())
      case (3, 2) =>
        val (o, n) = r.lenDelim()
        streams :+= decodeStream(bytes, o, n)
      case (_, w) => r.skip(w)
    }
    (success, err, streams)
  }

  def decodeStream(buf: Array[Byte], off: Int, len: Int): Stream = {
    var variable = Variable("")
    var values = Vector.empty[(Long, Option[Double], Option[String], Option[Long])]
    val r = new WireReader(buf, off, off + len)
    r.fields {
      case (2, 2) =>
        val (o, n) = r.lenDelim()
        variable = decodeStreamVariable(buf, o, n)
      case (4, 2) =>
        val (o, n) = r.lenDelim()
        val vr = new WireReader(buf, o, o + n)
        var ts = 0L; var dv: Option[Double] = None
        var sv: Option[String] = None; var ets: Option[Long] = None
        vr.fields {
          case (1, 0) => ts = vr.varint()
          case (2, 1) => dv = Some(java.lang.Double.longBitsToDouble(vr.fixed64()))
          case (3, 2) => sv = Some(vr.string())
          case (4, 0) => ets = Some(vr.varint())
          case (_, w) => vr.skip(w)
        }
        values :+= ((ts, dv, sv, ets))
      case (_, w) => r.skip(w)
    }
    Stream(variable, values)
  }

  /** AddRequest{1: repeated stream}. */
  def decodeAddRequest(bytes: Array[Byte]): Seq[Stream] = {
    var streams = Vector.empty[Stream]
    val r = new WireReader(bytes, 0, bytes.length)
    r.fields {
      case (1, 2) =>
        val (o, n) = r.lenDelim()
        streams :+= decodeStream(bytes, o, n)
      case (_, w) => r.skip(w)
    }
    streams
  }

  def encodeAddRequest(streams: Seq[Stream]): Array[Byte] = {
    val w = new WireWriter
    streams.foreach(s => w.msgField(1)(sw => encodeStream(sw, s)))
    w.result()
  }

  /** AddResponse{1: success, 2: errormessage, 3: repeated timer}. */
  def encodeAddResponse(success: Boolean, error: Option[String] = None,
                        timers: Seq[Timer] = Nil): Array[Byte] = {
    val w = new WireWriter
    w.boolField(1, success)
    error.foreach(w.stringField(2, _))
    encodeTimers(w, 3, timers)
    w.result()
  }

  /** AddResponse{1: success, 2: errormessage} — field 3 is timers
    * (see [[decodeTimers]]); it must NOT be decoded as GetResponse,
    * whose field 3 is a stream. */
  def decodeAddResponse(bytes: Array[Byte]): (Boolean, Option[String]) = {
    var success = false
    var err: Option[String] = None
    val r = new WireReader(bytes, 0, bytes.length)
    r.fields {
      case (1, 0) => success = r.varint() == 1
      case (2, 2) => err = Some(r.string())
      case (_, wt) => r.skip(wt)
    }
    (success, err)
  }

  /** ListRequest{3: prefix StreamVariable, 2: max_variables, 4: max_age}. */
  def decodeListRequest(bytes: Array[Byte]): Requests.ListRequest = {
    var prefix = Variable("")
    var maxVars: Option[Int] = None
    var maxAge = 86400000L
    val r = new WireReader(bytes, 0, bytes.length)
    r.fields {
      case (3, 2) =>
        val (o, n) = r.lenDelim()
        prefix = decodeStreamVariable(bytes, o, n)
      case (2, 0) => maxVars = Some(r.varint().toInt)
      case (4, 0) => maxAge = r.varint()
      case (_, w) => r.skip(w)
    }
    Requests.ListRequest(patternString(prefix), maxVars, maxAge)
  }

  def encodeListRequest(req: Requests.ListRequest): Array[Byte] = {
    val w = new WireWriter
    w.msgField(3)(vw => encodeStreamVariable(vw, Variable.parse(req.prefix)))
    req.maxVariables.foreach(n => w.intField(2, n))
    w.intField(4, req.maxAgeMs)
    w.result()
  }

  /** ListResponse{1: success, 4: repeated variable, 5: repeated timer}. */
  def encodeListResponse(vars: Seq[Variable], error: Option[String] = None,
                         timers: Seq[Timer] = Nil): Array[Byte] = {
    val w = new WireWriter
    w.boolField(1, error.isEmpty)
    error.foreach(w.stringField(2, _))
    vars.foreach(v => w.msgField(4)(vw => encodeStreamVariable(vw, v)))
    encodeTimers(w, 5, timers)
    w.result()
  }

  // -------------------------------------------------------- StoreConfig

  /** StoreServer{1: address, 2: state, 3: last_updated, 5: name}
    * (lib/openinstrument.proto:216-236); state enum: UNKNOWN=0 LOAD=1
    * RUN=2 DRAIN=3 READONLY=4 SHUTDOWN=5. */
  final case class StoreServerInfo(address: String, state: Int = 2,
                                   lastUpdated: Long = 0L, name: String = "")

  /**
   * StoreConfig{1: repeated server, 2: retention_policy}
   * (lib/openinstrument.proto:238-241), with
   * RetentionPolicy{1: repeated policy item, 2: interval} and
   * RetentionPolicyItem{1: repeated variable, 2: repeated comment,
   * 3: policy (KEEP=1/DROP=2), 4: repeated mutation, 5: min_age,
   * 6: max_age} (proto:195-212) — the full config a reference client
   * round-trips through /get_config.
   */
  def encodeStoreConfig(servers: Seq[StoreServerInfo],
                        retention: graft.retention.Retention.Policy,
                        intervalSec: Long = 600L): Array[Byte] = {
    import graft.retention.Retention
    val w = new WireWriter
    servers.foreach { s =>
      w.msgField(1) { sw =>
        sw.stringField(1, s.address)
        sw.intField(2, s.state.toLong)
        if (s.lastUpdated > 0) sw.intField(3, s.lastUpdated)
        if (s.name.nonEmpty) sw.stringField(5, s.name)
      }
    }
    w.msgField(2) { rw =>
      retention.items.foreach { item =>
        rw.msgField(1) { iw =>
          item.patterns.foreach(p =>
            iw.msgField(1)(vw => encodeStreamVariable(vw, Variable.parse(p))))
          if (item.comment.nonEmpty) iw.stringField(2, item.comment)
          iw.intField(3, item.policy match {
            case Retention.Keep => 1L; case Retention.Drop => 2L })
          item.mutations.foreach(m => encodeMutation(iw, 4, m))
          if (item.minAgeMs > 0) iw.intField(5, item.minAgeMs)
          if (item.maxAgeMs > 0) iw.intField(6, item.maxAgeMs)
        }
      }
      rw.intField(2, intervalSec)
    }
    w.result()
  }

  def decodeStoreConfig(bytes: Array[Byte])
      : (Seq[StoreServerInfo], graft.retention.Retention.Policy, Long) = {
    import graft.retention.Retention
    var servers = Vector.empty[StoreServerInfo]
    var items = Vector.empty[Retention.PolicyItem]
    var intervalSec = 600L
    val r = new WireReader(bytes, 0, bytes.length)
    r.fields {
      case (1, 2) =>
        val (o, n) = r.lenDelim()
        val sr = new WireReader(bytes, o, o + n)
        var addr = ""; var state = 0; var lu = 0L; var name = ""
        sr.fields {
          case (1, 2) => addr = sr.string()
          case (2, 0) => state = sr.varint().toInt
          case (3, 0) => lu = sr.varint()
          case (5, 2) => name = sr.string()
          case (_, wt) => sr.skip(wt)
        }
        servers :+= StoreServerInfo(addr, state, lu, name)
      case (2, 2) =>
        val (ro, rn) = r.lenDelim()
        val rr = new WireReader(bytes, ro, ro + rn)
        rr.fields {
          case (1, 2) =>
            val (io, in) = rr.lenDelim()
            val ir = new WireReader(bytes, io, io + in)
            var pats = Vector.empty[String]
            var comment = ""
            var policy: Retention.PolicyType = Retention.Drop
            var muts = Vector.empty[Requests.MutationSpec]
            var minAge = 0L; var maxAge = 0L
            ir.fields {
              case (1, 2) =>
                val (vo, vn) = ir.lenDelim()
                pats :+= patternString(decodeStreamVariable(bytes, vo, vn))
              case (2, 2) => comment = ir.string()
              case (3, 0) =>
                policy = if (ir.varint() == 1L) Retention.Keep else Retention.Drop
              case (4, 2) =>
                val (mo, mn) = ir.lenDelim()
                muts ++= decodeMutation(bytes, mo, mn)
              case (5, 0) => minAge = ir.varint()
              case (6, 0) => maxAge = ir.varint()
              case (_, wt) => ir.skip(wt)
            }
            items :+= Retention.PolicyItem(pats, policy, minAge, maxAge,
              muts, comment)
          case (2, 0) => intervalSec = rr.varint()
          case (_, wt) => rr.skip(wt)
        }
      case (_, wt) => r.skip(wt)
    }
    (servers, Retention.Policy(items), intervalSec)
  }

  def decodeListResponse(bytes: Array[Byte]): (Boolean, Seq[Variable]) = {
    var success = false
    var vars = Vector.empty[Variable]
    val r = new WireReader(bytes, 0, bytes.length)
    r.fields {
      case (1, 0) => success = r.varint() == 1
      case (4, 2) =>
        val (o, n) = r.lenDelim()
        vars :+= decodeStreamVariable(bytes, o, n)
      case (_, w) => r.skip(w)
    }
    (success, vars)
  }
}
