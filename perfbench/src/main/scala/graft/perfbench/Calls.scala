package graft.perfbench

import graft.api.Requests.{AggregationSpec, GetRequest, ListRequest, Mean, Interpolate, Rate}
import graft.operators.Aggregations
import graft.wire.Rpc
import Collector.{Series, StepMs}

/** One wire request with the closed-form check of its response. */
final case class Call(kind: String, path: String, encode: () => Array[Byte],
                      check: Array[Byte] => Option[String]) {
  /** Field number of the response's repeated timer. */
  def timerField: Int = if (path == "/get") 4 else 5

  /** Decodes a response body of this call's path (what a client does). */
  def decode(bytes: Array[Byte]): Unit =
    if (path == "/get") Rpc.decodeGetResponse(bytes) else Rpc.decodeListResponse(bytes)
}

/** The request shapes of `serve_read` and their expected
  * responses. `kUntil` bounds the steps present in the store. */
object Calls {
  val HourMs = 3600000L
  val RateMeanMs = 300000L

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def steps(lo: Long, hi: Long, kUntil: Long): Seq[Long] = {
    val first = math.max(0L, Math.floorDiv(lo - Collector.T0 + StepMs - 1, StepMs))
    val last = math.min(kUntil - 1, Math.floorDiv(hi - Collector.T0, StepMs))
    first to last
  }

  private def getStreams(bytes: Array[Byte]): Either[String, Seq[Rpc.Stream]] = {
    val (ok, err, streams) = Rpc.decodeGetResponse(bytes)
    if (!ok) Left(s"error response: ${err.getOrElse("")}") else Right(streams)
  }

  /** Raw points of `series` (all matched by `pattern`) over [lo, hi]:
    * one stream per series carrying every stored value. */
  def getRaw(kind: String, pattern: String, series: Seq[Series], lo: Long, hi: Long,
             kUntil: Long): Call = {
    val req = GetRequest(pattern, Some(lo), Some(hi))
    val ks = steps(lo, hi, kUntil)
    val byLabels = series.map(s => (s.name, s.labels) -> s).toMap
    Call(kind, "/get", () => Rpc.encodeGetRequest(req), bytes =>
      getStreams(bytes).fold(Some(_), streams =>
        if (streams.size != series.size) Some(s"${streams.size} streams, expected ${series.size}")
        else streams.iterator.map { st =>
          byLabels.get((st.variable.name, st.variable.labels)) match {
            case None => Some(s"unexpected stream ${st.variable}")
            case Some(s) =>
              if (st.values.size != ks.size) Some(s"${st.values.size} values, expected ${ks.size}")
              else st.values.zip(ks).collectFirst {
                case ((ts, dv, sv, _), k) if ts != Collector.ts(k) ||
                    dv.isDefined != s.dval(k).isDefined ||
                    dv.exists(v => !close(v, s.dval(k).get)) || sv != s.sval(k) =>
                  s"value at $ts: $dv/$sv, expected ${s.dval(k)}/${s.sval(k)}"
              }
          }
        }.collectFirst { case Some(e) => e }))
  }

  /** One series, raw, over [lo, hi]. */
  def getSeries(s: Series, lo: Long, hi: Long, kUntil: Long): Call =
    getRaw("get_series", Rpc.patternString(s.variable), Seq(s), lo, hi, kUntil)

  /** `rate mean=5m aggregate=host` over the counters of `hosts`: one
    * stream per host whose value is the mean of its interfaces' rates. */
  def getRateAgg(pattern: String, counters: Seq[Series], lo: Long, hi: Long,
                 kUntil: Long): Call = {
    val req = GetRequest(pattern, Some(lo), Some(hi),
      mutations = Seq(Rate(), Mean(RateMeanMs)),
      aggregations = Seq(AggregationSpec(Aggregations.Average, Seq("host"))))
    // a rate exists for every stored point but the first in range; the
    // mean grid stamps each 5 min bucket with its last point's time
    val buckets = steps(lo, hi, kUntil).drop(1).map(Collector.ts)
      .groupBy(t => t - Math.floorMod(t, RateMeanMs)).values.map(_.max).toSeq.sorted
    val expect = counters.groupBy(_.host).map { case (h, ss) =>
      h -> ss.map(_.rate.toDouble).sum / ss.size }
    Call("get_rate_agg", "/get", () => Rpc.encodeGetRequest(req), bytes =>
      getStreams(bytes).fold(Some(_), streams =>
        if (streams.size != expect.size) Some(s"${streams.size} streams, expected ${expect.size}")
        else streams.iterator.map { st =>
          st.variable.labels.get("host").flatMap(expect.get) match {
            case None => Some(s"unexpected stream ${st.variable}")
            case Some(v) =>
              if (st.values.map(_._1) != buckets)
                Some(s"${st.values.size} buckets, expected ${buckets.size}")
              else st.values.collectFirst {
                case (ts, dv, _, _) if !dv.exists(close(_, v)) => s"rate at $ts: $dv, expected $v"
              }
          }
        }.collectFirst { case Some(e) => e }))
  }

  /** `interpolate=1h` over `series`: the stored value at every whole
    * hour between each series' first and last point in range. */
  def getInterp(pattern: String, series: Seq[Series], lo: Long, hi: Long,
                kUntil: Long): Call = {
    val req = GetRequest(pattern, Some(lo), Some(hi), mutations = Seq(Interpolate(HourMs)))
    val ks = steps(lo, hi, kUntil)
    val grid = ks.filter(k => Math.floorMod(Collector.ts(k), HourMs) == 0)
    val byLabels = series.map(s => s.labels -> s).toMap
    Call("get_interp", "/get", () => Rpc.encodeGetRequest(req), bytes =>
      getStreams(bytes).fold(Some(_), streams =>
        if (streams.size != series.size) Some(s"${streams.size} streams, expected ${series.size}")
        else streams.iterator.map { st =>
          byLabels.get(st.variable.labels) match {
            case None => Some(s"unexpected stream ${st.variable}")
            case Some(s) =>
              if (st.values.map(_._1) != grid.map(Collector.ts))
                Some(s"${st.values.size} grid points, expected ${grid.size}")
              else st.values.zip(grid).collectFirst {
                case ((ts, dv, _, _), k) if !dv.exists(close(_, s.dval(k).get)) =>
                  s"interpolated $ts: $dv, expected ${s.dval(k)}"
              }
          }
        }.collectFirst { case Some(e) => e }))
  }

  /** `/list` of a prefix: exactly the variables of `series`. */
  def list(prefix: String, series: Seq[Series]): Call = {
    val want = series.map(s => (s.name, s.labels)).toSet
    Call("list", "/list", () => Rpc.encodeListRequest(ListRequest(prefix)), bytes => {
      val (ok, vars) = Rpc.decodeListResponse(bytes)
      val got = vars.map(v => (v.name, v.labels)).toSet
      if (!ok) Some("error response")
      else if (got != want || vars.size != want.size)
        Some(s"${vars.size} variables, expected ${want.size}")
      else None
    })
  }
}
