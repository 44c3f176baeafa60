package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /**
   * Contamination verdict for a timed window — pure, unit-tested on
   * synthetic and recorded load vectors (BenchSpec), no timed run
   * needed. Three rules, each catching what the others can't:
   *
   *  - entry rule: load above `nprocs/4` BEFORE the window (after the
   *    bounded drain wait) is someone else's by construction;
   *  - hard physical trip: an in-window 1-min load above
   *    `nprocs + nprocs/4` exceeds what this process can generate
   *    alone (a 32-thread bench can't push load much past 32 — r11's
   *    real poisoning read ~50+);
   *  - relative rule (r13 gap): the hard trip is blind to a moderate
   *    neighbor at small SFs where the bench self-loads to only ~4-10
   *    — so any per-query sample exceeding the RUN'S OWN MEDIAN by
   *    more than `nprocs/2` names that query as contaminated. The
   *    margin is nprocs/2, NOT the nprocs/4 entry cap: the bench's own
   *    1-min load ramps over a run (queries sort alphabetically, so
   *    late families sample the built-up steady state), and on the
   *    committed clean r13 sf1 ladder the `ts_asof*` samples sit 9.8
   *    above the run median — a cap-width margin would have flagged a
   *    clean run. At nprocs/2 all three committed r13 artifacts
   *    (sf0.1 / sf1 / sf10, 372 samples) read clean, while an
   *    r11-style poisoning (≥16 external cores) still stands out from
   *    the median at every scale factor; neighbors smaller than that
   *    are left to the per-query [min,max] pass-spread evidence.
   *
   * A FOURTH rule lives in [[cpuTheft]]: all three rules above read
   * 1-minute loadavg, which the r15 driver window proved blind to its
   * own pollution class — a co-scheduled page-cache/IO tail that
   * inflated the window 2.37× (individual gates 15–107×) while every
   * loadavg sample sat under the margins. Loadavg cannot see IO wait,
   * cache eviction, or a neighbor that fits under the caps; the
   * process's OWN CPU time can, because external theft inflates wall
   * without inflating own-CPU.
   *
   * Returns (contaminated, names of queries tripping the relative rule).
   */
  def contamination(preLoad: Double, qLoads: Seq[(String, Double)],
                    postLoad: Double, nprocs: Int): (Boolean, Seq[String]) = {
    val sorted = qLoads.map(_._2).sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
    val spiky = qLoads.filter(_._2 > median + nprocs / 2.0).map(_._1)
    (loadTripped(preLoad, qLoads.map(_._2) :+ postLoad, nprocs) || spiky.nonEmpty, spiky)
  }

  /** [[contamination]]'s entry cap (`preLoad` above `nprocs/4`) and
    * hard physical trip (any in-window load above `nprocs + nprocs/4`),
    * the two rules every timed harness applies (StreamBench too). */
  private[graft] def loadTripped(preLoad: Double, windowLoads: Seq[Double],
                                 nprocs: Int): Boolean = {
    val loadCap = nprocs / 4.0
    preLoad > loadCap || windowLoads.exists(_ > nprocs + loadCap)
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** The host's 1-minute load average. */
  private[graft] def loadAvg(): Double = osBean.getSystemLoadAverage

  /** This JVM's cumulative CPU seconds (all threads): the r15 blind
    * spot's antidote — external slowdown inflates a pass's WALL but
    * not this process's OWN cpu ([[cpuTheft]]); -1 when the platform
    * bean doesn't expose it (rule 4 then degrades to wall-only
    * outlier evidence rather than mis-firing). */
  private[graft] def procCpuSec(): Double = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  /** 3 decimals (ms precision) keeps the 100+-entry line compact; more
    * digits are noise at these magnitudes anyway. */
  private[graft] def r3(v: Double): Double = math.rint(v * 1000) / 1000

  /** Writes the one-line artifact `line` to `path`; a failure is
    * reported on stderr under `tag` and does not end the run. */
  private[graft] def writeArtifact(path: String, line: String, tag: String): Unit =
    try {
      val w = new java.io.PrintWriter(path, "UTF-8")
      try w.println(line) finally w.close()
    } catch {
      case t: Throwable => System.err.println(s"[$tag] artifact write failed: $t")
    }

  /** The gates of [[SparkEntry.queries]] named in `only` (all of them
    * when `None`), sorted by name: the one gate selector of Bench,
    * Verify and Explain. A name that is no gate is refused, so a typo
    * fails loudly instead of running nothing. */
  def gates(only: Option[Set[String]]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val unknown = only.getOrElse(Set.empty).filterNot(all.contains).toSeq.sorted
    require(unknown.isEmpty, "unknown gate name(s): " +
      unknown.map("'" + _ + "'").mkString(", "))
    all.toSeq.filter { case (n, _) => only.forall(_.contains(n)) }.sortBy(_._1)
  }

  /** The gate names of the comma-separated `SPARK_GRAFT_ONLY`; `None`
    * (every gate) when it is unset. */
  private[graft] def onlyFromEnv: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** A gate is a canonical-wall outlier when its measured min-pass
    * wall exceeds [[WallOutlierFactor]]× its committed canonical wall
    * AND an absolute floor (sub-half-second gates jitter legitimately).
    * Outliers get an automatic deferred third pass at window end
    * (pollution that hit the main window has often drained by then —
    * the r15 driver window read `rle_encode` at 35.9 s where an idle
    * re-run of the same binary read 0.89 s). */
  private[graft] val WallOutlierFactor = 3.0
  private[graft] val WallOutlierFloor = 0.5
  private[graft] def isWallOutlier(wall: Double, canonWall: Double): Boolean =
    wall > WallOutlierFloor && wall > WallOutlierFactor * canonWall

  /**
   * Rule 4 (r16) — wall-vs-own-CPU, the loadavg-blind class: for each
   * gate whose FINAL min wall is a canonical outlier, compare how much
   * the gate's own process-CPU grew against how much its wall grew.
   * A genuine code regression does more work: CPU inflates with wall.
   * External theft (CPU starvation, page-cache eviction, IO
   * contention) inflates wall while own-CPU stays near canonical. A
   * gate is flagged when its CPU ratio explains less than HALF its
   * wall ratio — at the r15 magnitudes (wall 15–107×, CPU ~flat) this
   * is decided by an order of magnitude, while a true 4× regression
   * (CPU ≈ 4×, wall ≈ 4×) passes untouched.
   *
   * Pure; unit-tested on synthetic vectors AND the recorded r15
   * driver-window numbers (BenchSpec). Gates without canonical wall
   * AND cpu entries are skipped (no baseline to compare against), as
   * are gates whose cpu sample is unavailable (< 0).
   */
  private[graft] def cpuTheft(gates: Seq[(String, Double, Double)],
                              canonWall: Map[String, Double],
                              canonCpu: Map[String, Double]): Seq[String] =
    gates.collect {
      case (n, wall, cpu)
        if cpu >= 0 &&
          canonWall.get(n).exists(cw => cw > 0 && isWallOutlier(wall, cw)) &&
          canonCpu.get(n).exists(cc =>
            cc > 0 && (cpu / cc) < (wall / canonWall(n)) / 2.0) => n
    }

  /**
   * Self-adjudication (r17): the median of per-gate wall/canonical
   * ratios. Box-epoch drift — the class the r16 verdict had to
   * adjudicate by hand — moves EVERY gate by a flat factor (r16
   * evening window: median ×1.23, per-gate ratios flat), while a real
   * regression moves few gates a lot and leaves the median near 1.
   * Emitting the median (and `total / median` as a drift-normalized
   * total) into the artifact makes a drifted window self-describing:
   * round-over-round comparison reads the normalized total, and a
   * median far from 1 with flat per-gate spread IS the drift verdict.
   * -1 when no canonical overlap exists (bootstrap, or an sf mismatch
   * disarmed the canonical). Pure; unit-tested in BenchSpec.
   */
  private[graft] def medianVsCanonical(walls: Seq[(String, Double)],
                                       canonWall: Map[String, Double]): Double = {
    val rs = walls.collect {
      case (k, w) if w > 0 && canonWall.get(k).exists(_ > 0) => w / canonWall(k)
    }.sorted
    if (rs.isEmpty) -1.0 else rs(rs.size / 2)
  }

  /** One timed pass of a gate: wall and own-CPU seconds (-1 when the
    * platform bean is absent), the generated classes it compiled, and
    * two parts of the wall: `build`, the gate function's call (with any
    * driver-side actions an iterative gate runs inside it), and `plan`,
    * analysis, optimization and physical planning of the frame it
    * returns (-1 when not split). */
  private[graft] final case class Pass(wall: Double, cpu: Double, compiles: Long,
                                       build: Double = -1.0, plan: Double = -1.0)

  /** The pass a gate reports: its fastest. */
  private[graft] def winner(passes: Seq[Pass]): Option[Pass] =
    if (passes.isEmpty) None else Some(passes.minBy(_.wall))

  /** A flat JSON object of already-rendered values, in the given order. */
  private[graft] def jsonObj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Value of a top-level `"key":"..."` string field (no escapes —
    * exactly what this file writes for `sf`). */
  private[graft] def parseStringField(json: String, key: String): Option[String] = {
    val at = json.indexOf("\"" + key + "\":\"")
    if (at < 0) None
    else {
      val open = json.indexOf('"', at + key.length + 3)
      val close = json.indexOf('"', open + 1)
      if (close < 0) None else Some(json.substring(open + 1, close))
    }
  }

  /** Value of the first top-level flat `"key":{"a":1.2,...}` object in
    * a bench-detail JSON line (numbers only — exactly what this file
    * writes for `queries`/`cpus`). Hand-rolled like the writer: the
    * object is flat, so it ends at the first `}`. */
  private[graft] def parseFlatDoubleMap(json: String, key: String): Map[String, Double] = {
    val at = json.indexOf("\"" + key + "\":{")
    if (at < 0) return Map.empty
    val open = json.indexOf('{', at)
    val close = json.indexOf('}', open)
    if (close < 0) return Map.empty
    val body = json.substring(open + 1, close).trim
    if (body.isEmpty) Map.empty
    else body.split(",").iterator.flatMap { kv =>
      val i = kv.lastIndexOf(':')
      if (i < 0) None
      else {
        val k = kv.take(i).trim.stripPrefix("\"").stripSuffix("\"")
        scala.util.Try(kv.drop(i + 1).trim.toDouble).toOption.map(k -> _)
      }
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Ladder legs at sf >= 30 can need more shuffle partitions than
    // threads: with partitions pinned to the thread count, PER-TASK
    // volume grows linearly with SF inside one fixed-heap JVM (the
    // decorr-sf30 ngram-pair legs OOM'd 8g at 32 partitions; a real
    // cluster scales partitions with input). Opt-in env knob; the
    // driver contract (partitions = threads at sf0.1) is unchanged.
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // local-iteration filter (unset on the driver → all queries),
    // checked before the session starts
    val only = onlyFromEnv
    val gateList = gates(only)
    // shared engine settings live in SparkInit.common (ONE copy — the
    // config Verify verifies is the config Bench times)
    val spark = SparkInit.session(s"local[$cpus]", shufflePartitions.toInt)
    // warm up session/JIT/codegen + parquet footers so the first timed
    // query isn't charged for one-time init. In full-suite mode, also
    // run one CHEAP representative per gate family (r17): a 196-gate
    // window amortizes whole-stage-codegen/JIT across 60+ prior gates
    // by the time a family's heavies run, but the family that sorts
    // first pays it cold — one sub-0.2s gate per family evens that out
    // for ~1s total. (ONLY-mode runs get a per-gate warm pass instead,
    // below, so the family sweep is skipped there — it would re-run
    // gates the filter excluded.)
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val warmGates =
        if (only.isEmpty)
          Seq("list_vars", "agg_max_byname", "d_dedup_exact",
              "e_cluster_sample", "t_fingerprint", "mm_resize",
              "m_alert", "p_split")
        else Seq("list_vars")
      warmGates.foreach(g => SparkEntry.queries.get(g)
        .foreach(fn => fn(spark, sfDir).queryExecution.toRdd.count()))
    } catch { case _: Throwable => }
    // Bench self-defense: a measurement taken while the box is busy is an
    // artifact poisoner (r11: two stray sf1 oracle processes burned 28/32
    // cores during the driver's window and inflated the total 204.7s vs
    // 143.5s clean). Read the 1-min load BEFORE the first timed pass; if
    // it exceeds nproc/4, wait (bounded) for the box to drain, and carry a
    // machine-visible "contaminated" verdict in the emitted JSON either way.
    val nprocs = Runtime.getRuntime.availableProcessors
    val loadCap = nprocs / 4.0
    var preLoad = loadAvg()
    val waitDeadline = System.nanoTime() + 300L * 1000000000L // ≤5 min
    while (preLoad > loadCap && System.nanoTime() < waitDeadline) {
      System.err.println(f"[bench] load $preLoad%.1f > cap $loadCap%.1f — waiting for the box to drain")
      Thread.sleep(15000)
      preLoad = loadAvg()
    }
    // committed canonical per-gate walls+cpus (blessed clean run): the
    // baseline for the deferred-rerun outlier pass and rule 4. Absent
    // file (bootstrap) → both degrade gracefully to the three load
    // rules.
    val canonicalPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_CANONICAL",
      "bench_canonical.json")
    val (canonWall, canonCpu) = try {
      val src = scala.io.Source.fromFile(canonicalPath, "UTF-8")
      val txt = try src.mkString finally src.close()
      // canonical walls only compare at the canonical's OWN scale
      // factor: a ladder leg at sf30 reads 3-40x the sf0.1 canonical
      // BY DESIGN, and arming the outlier rule there buys a useless
      // deferred third pass per heavy gate (measured on the r16 text
      // ladder before this guard). The gate REQUIRES a recorded,
      // matching sf (a canonical without one could be from any scale —
      // arming on it reintroduces the failure); trailing slashes are
      // normalized so a path spelling can't silently disarm rule 4.
      def normSf(s: String) = s.stripSuffix("/")
      if (!parseStringField(txt, "sf").exists(s => normSf(s) == normSf(sfDir)))
        (Map.empty[String, Double], Map.empty[String, Double])
      else
        (parseFlatDoubleMap(txt, "queries"), parseFlatDoubleMap(txt, "cpus"))
    } catch { case _: Throwable => (Map.empty[String, Double], Map.empty[String, Double]) }
    // one timed pass or an error; the plan is forced before execution
    // only to time it apart (toRdd would plan it first anyway)
    def timedPass(fn: (SparkSession, String) => DataFrame): Either[String, Pass] = {
      val c0 = procCpuSec()
      val g0 = SparkInit.codegenStats._1
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val c1 = procCpuSec()
        Right(Pass(wall, if (c0 >= 0 && c1 >= 0) math.max(0.0, c1 - c0) else -1.0,
          SparkInit.codegenStats._1 - g0, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
      } catch {
        case t: Throwable =>
          // record the failure explicitly — an elapsed-to-crash time
          // must never masquerade as a valid measurement
          Left(t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("").take(200))
      }
    }
    // gates run in name order: stable attribution of warm-cache effects
    // across rounds
    val windowResults = gateList.map { case (name, fn) =>
      // Two timed passes, report the min: a single pass is hostage to
      // whatever else shares the box (GC, page cache churn, concurrent
      // jobs); the min of two is robust against one-off interference
      // while still charging real per-query work (no caching between
      // passes beyond the JVM/page-cache warmth both passes share).
      // toRdd.count() materializes every output row (a plain .count()
      // lets the optimizer prune all projection work for select-only
      // queries, which would under-measure them)
      var err: Option[String] = None
      // ONLY-mode cold-JIT guard (r17): the first timed gate in a
      // filtered rerun pays whole-stage-codegen/JIT the full suite
      // amortizes — the r16 adjudication read e_knn_lsh passes
      // [4.29, 1.55] solo against a 0.444 canonical and printed a
      // phantom REGRESSION. One UNTIMED pass per gate before its timed
      // passes makes solo numbers comparable to in-suite ones.
      if (only.isDefined) timedPass(fn)
      // ambient 1-min load sampled as this query's passes START: during
      // a run the average carries the bench's own steady-state (~its
      // parallelism), so the signal is RELATIVE — a spike far above the
      // neighbors' samples attributes partial contamination to exactly
      // the queries it touched (persisted per-query in bench_detail)
      val qLoad = loadAvg()
      val passes = (1 to 2).flatMap { _ =>
        timedPass(fn) match {
          case Right(p) => Some(p)
          case Left(e) => err = Some(e); None
        }
      }
      (name, err, passes, qLoad)
    }
    // Deferred third pass (r16): any gate whose window min-wall reads
    // >3× its committed canonical gets ONE more pass after the whole
    // window — by then a transient co-tenant (the r15 class: the
    // driver's oracle-compare tail overlapping the bench start) has
    // usually drained, so the re-read either rescues the number
    // (recorded in `deferred` as direct evidence of in-window
    // pollution) or confirms a real regression at the same magnitude.
    val windowMin = windowResults.map { case (n, _, ps, _) =>
      n -> winner(ps).fold(-1.0)(_.wall)
    }.toMap
    val outliers = windowResults.collect {
      case (n, None, ps, _) if ps.nonEmpty &&
        canonWall.get(n).exists(cw => cw > 0 && isWallOutlier(windowMin(n), cw)) => n
    }
    val fnByName = gateList.toMap
    val deferredRuns: Map[String, Pass] =
      if (outliers.isEmpty) Map.empty
      else {
        System.err.println(s"[bench] ${outliers.size} gate(s) read >" +
          s"${WallOutlierFactor}x canonical in-window — deferred third pass: " +
          outliers.mkString(", "))
        outliers.flatMap { n =>
          timedPass(fnByName(n)).toOption.map(n -> _)
        }.toMap
      }
    // final per-gate numbers: min over all passes (window + deferred),
    // with the CPU and codegen samples of whichever pass won
    final case class Gate(name: String, best: Pass, err: Option[String],
                          passes: Seq[Pass], load: Double)
    val results = windowResults.map { case (name, err, ps, qLoad) =>
      Gate(name, winner(ps ++ deferredRuns.get(name)).getOrElse(Pass(-1.0, -1.0, -1L)),
        err, ps, qLoad)
    }
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\n\\r\\t]", " ") + "\""
    def perGate(v: Gate => Any): String = jsonObj(results.map(g => g.name -> v(g)))
    val qs = perGate(g => r3(g.best.wall))
    val errs = jsonObj(results.collect { case Gate(k, _, Some(e), _, _) => k -> jstr(e) })
    // BOTH window passes per query: regression vs noise is decidable
    // from the artifact alone — a real regression moves the min, a
    // noisy neighbor widens the [min,max] spread of one pass
    val passes = perGate(_.passes.map(p => r3(p.wall)).mkString("[", ",", "]"))
    val clean = results.filter(_.err.isEmpty)
    val total = r3(clean.map(_.best.wall).sum)
    val nErrors = results.size - clean.size
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    val postLoad = r3(loadAvg())
    // four-rule verdict: entry cap, hard physical trip, relative median
    // spike (rationale + unit coverage at [[contamination]]) + the r16
    // wall-vs-own-CPU rule ([[cpuTheft]]) on the FINAL per-gate numbers
    // — a gate the deferred pass rescued no longer fires rule 4 (its
    // final number is clean; the `deferred` map still records that the
    // window itself was polluted)
    val (loadContaminated, contamQueries) = contamination(preLoad,
      results.map(g => (g.name, g.load)), postLoad, nprocs)
    val cpuFlagged = cpuTheft(
      clean.map(g => (g.name, g.best.wall, g.best.cpu)), canonWall, canonCpu)
    val contaminated = loadContaminated || cpuFlagged.nonEmpty
    // The harness stdout capture keeps only the output TAIL, which eats
    // the leading ~75 per-query entries of the 180+-query line — so
    // regressions in the families that sort first (agg_*/api_*/d_*/e_*)
    // were invisible round-over-round. Persist the complete map (same
    // JSON line, stable alphabetical key order) to a standalone file
    // that gets committed and diffed per round — EXTENDED with the
    // contamination evidence (run-level load_pre/load_post/contaminated
    // plus the per-query ambient-load samples, own-CPU seconds of each
    // gate's winning pass, and any deferred reruns), so a
    // partially-poisoned window is attributable to the specific queries
    // it touched — and with the generated classes each gate's winning
    // pass compiled (the codegen layer; -1 for a gate with no pass) and
    // that pass's build and plan seconds (the driver layers).
    val loads = perGate(g => r3(g.load))
    val cpusJson = perGate(g => r3(g.best.cpu))
    val compilesJson = perGate(_.best.compiles)
    val buildJson = perGate(g => r3(g.best.build))
    val planJson = perGate(g => r3(g.best.plan))
    val deferredJson = jsonObj(deferredRuns.toSeq.sortBy(_._1).map { case (k, p) =>
      k -> s"[${r3(windowMin(k))},${r3(p.wall)}]"
    })
    val contamQ = contamQueries.map(jstr).mkString("[", ",", "]")
    val contamCpuQ = cpuFlagged.map(jstr).mkString("[", ",", "]")
    // drift self-adjudication: median per-gate ratio vs the committed
    // canonical + the total normalized by it (see [[medianVsCanonical]])
    val medVsCanon = medianVsCanonical(clean.map(g => (g.name, g.best.wall)), canonWall)
    val totalNorm = if (medVsCanon > 0) r3(total / medVsCanon) else -1.0
    val detailLine = line.dropRight(1) +
      s""","loads":$loads,"cpus":$cpusJson,"compiles":$compilesJson,"build":$buildJson,"plan":$planJson,"deferred":$deferredJson,"load_pre":${r3(preLoad)},"load_post":$postLoad,"nproc":$nprocs,"contaminated":$contaminated,"contam_queries":$contamQ,"contam_cpu":$contamCpuQ,"median_vs_canonical":${r3(medVsCanon)},"total_drift_normalized":$totalNorm}"""
    writeArtifact(sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json"),
      detailLine, "bench")
    // The harness capturing stdout keeps only the tail of the output; the
    // full line above is ~3 KB and can lose its leading fields to
    // truncation. Repeat the headline numbers on a second, short line so
    // the total is always parseable from the tail. The 1-minute load
    // average + core count make driver-contended runs self-diagnosing:
    // timings taken while the box was busy (load ≫ cores in use) should
    // be discounted rather than read as regressions.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":$nErrors,"n_deferred":${deferredRuns.size},"load_pre":${r3(preLoad)},"load":$postLoad,"nproc":$nprocs,"contaminated":$contaminated,"sf":"$sfDir"}""")
    spark.stop()
  }
}
