package graft.operators

/**
 * Online anomaly scoring: exponentially-weighted mean + variance with
 * the time-constant decay `α = 1 − exp(−Δt/τ)` (same form as
 * [[Mutations.EwmaOp]]), emitting the z-score of each point against
 * the state *before* the point updates it — the EWMA control chart.
 *
 * The single [[step]] function runs inside one state machine,
 * [[Mutations.EwmZscoreOp]], which both the batch path
 * ([[Mutations.ewmZscore]]) and the streaming path
 * ([[graft.streaming.StreamIngest.anomalyStream]], resuming the op from
 * its [[S]] record) feed, so the two are bit-identical by construction
 * (locked in by StreamingSpec).
 *
 * Beyond-reference op: the reference stores and resamples metrics but
 * leaves alerting to clients; at 100 TB the scoring must ride the
 * same one-shuffle-per-series plan as the mutations.
 */
object Anomaly {

  /** O(1) per-series state: EWM mean, EWM variance, last ts, count. */
  final case class S(m: Double, s2: Double, prevTs: Long, n: Long)

  val init: S = S(0.0, 0.0, 0L, 0L)

  /**
   * Feed one point; returns the next state and the point's z-score
   * under the PRIOR state (defined once prior variance is positive —
   * the first two points, and any constant prefix, emit nothing).
   */
  def step(s: S, ts: Long, x: Double, tauMs: Double): (S, Option[Double]) = {
    if (s.n == 0L) (S(x, 0.0, ts, 1L), None)
    else {
      val z = if (s.s2 > 0.0) Some((x - s.m) / math.sqrt(s.s2)) else None
      val a = 1.0 - math.exp(-(ts - s.prevTs) / tauMs)
      val d = x - s.m
      (S(s.m + a * d, (1.0 - a) * (s.s2 + a * d * d), ts, s.n + 1L), z)
    }
  }
}
