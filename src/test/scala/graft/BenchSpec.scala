package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Unit coverage for the bench's contamination predicate — pure function,
 * no timed run needed. The synthetic vectors model the three recorded
 * regimes (r13 sf0.1 / sf1 / sf10 load shapes, BASELINE.md bench canon)
 * plus the failure modes each rule exists for: r11's 28-core poisoning
 * (hard physical trip), a dirty entry (entry cap), and the r13 gap — a
 * moderate external burn starting mid-window at a small SF, invisible
 * to the physical bound but far above the run's own median.
 */
class BenchSpec extends AnyFunSuite {

  private val N = 32 // the bench box's core count in all recorded canon

  private def loads(vs: Double*): Seq[(String, Double)] =
    vs.zipWithIndex.map { case (v, i) => (f"q$i%03d", v) }

  test("clean small-sf run (r13 sf0.1 shape): low flat samples, clean exit") {
    val (c, spiky) = Bench.contamination(
      preLoad = 3.0, loads(2.5, 2.9, 3.1, 2.7, 4.0, 6.3, 3.0), 4.4, N)
    assert(!c && spiky.isEmpty)
  }

  test("clean sf1 ladder shape: ramp puts late samples ~10 above the median") {
    // the recorded r13 sf1 ladder: median 5.6, ts_asof* samples 14-15.4
    // — a cap-width (nprocs/4) relative margin would false-positive
    // exactly here; the nprocs/2 margin must not
    val (c, spiky) = Bench.contamination(
      preLoad = 1.1,
      loads(1.5, 2.0, 3.0, 4.5, 5.6, 6.0, 8.2, 11.0, 14.0, 14.9, 15.4),
      13.2, N)
    assert(!c && spiky.isEmpty, s"clean ramp flagged: $spiky")
  }

  test("clean sf10 run: self-load near nprocs is not contamination") {
    // r12-era `post > nproc/2` false-positived here; neither the hard
    // trip (max 30.4 < 40) nor the relative rule (median ≈ 23.6) may fire
    val (c, spiky) = Bench.contamination(
      preLoad = 3.2, loads(8.0, 15.0, 22.0, 23.5, 23.6, 24.0, 26.0, 30.4),
      27.8, N)
    assert(!c && spiky.isEmpty)
  }

  test("dirty entry trips regardless of in-window samples") {
    val (c, spiky) = Bench.contamination(
      preLoad = 12.0, loads(3.0, 3.0, 3.0), 3.0, N)
    assert(c && spiky.isEmpty)
  }

  test("hard physical trip: r11-style full poisoning (load ≫ nprocs)") {
    val (c, _) = Bench.contamination(
      preLoad = 2.0, loads(10.0, 30.0, 52.0, 48.0), 45.0, N)
    assert(c)
  }

  test("relative rule: mid-window 20-core neighbor at small sf is named") {
    // the r13 gap: bench self-loads ~3, neighbor pushes samples to ~24
    // — under the old physical-only bound (40) this read as clean
    val qs = loads(2.5, 3.0, 2.8, 24.0, 23.5, 3.1, 2.9)
    val (c, spiky) = Bench.contamination(preLoad = 2.0, qs, 3.5, N)
    assert(c, "moderate mid-window neighbor must contaminate")
    assert(spiky == Seq("q003", "q004"), s"wrong attribution: $spiky")
  }

  test("sub-threshold neighbor stays clean (left to pass-spread evidence)") {
    // +14 over median is under the nprocs/2 margin by design
    val (c, spiky) = Bench.contamination(
      preLoad = 2.0, loads(2.5, 3.0, 2.8, 17.0, 3.1), 3.5, N)
    assert(!c && spiky.isEmpty)
  }

  test("empty run degenerates safely") {
    val (c, _) = Bench.contamination(0.5, Nil, 0.5, N)
    assert(!c)
  }

  // ---- rule 4 (r16): wall-vs-own-CPU, the loadavg-blind class ----

  test("wall-outlier predicate: 3x factor over canonical plus 0.5s floor") {
    assert(Bench.isWallOutlier(2.2, 0.7))    // 3.1x, above floor
    assert(!Bench.isWallOutlier(2.0, 0.7))   // 2.9x — not an outlier
    assert(!Bench.isWallOutlier(0.45, 0.1))  // 4.5x but under the floor
    assert(Bench.isWallOutlier(35.885, 0.694)) // the r15 rle_encode read
  }

  test("cpuTheft: wall blown with flat own-CPU flags; proportional CPU " +
       "(a genuine regression) passes") {
    val canonWall = Map("g_theft" -> 0.7, "g_regressed" -> 0.7)
    val canonCpu = Map("g_theft" -> 20.0, "g_regressed" -> 20.0)
    // theft: wall 51x canonical, own CPU ~flat (1.1x) — page-cache /
    // IO / starvation signature; loadavg may read anything
    // regression: wall 4x AND cpu 4x — the code really does more work
    val flagged = Bench.cpuTheft(
      Seq(("g_theft", 35.9, 22.0), ("g_regressed", 2.8, 80.0)),
      canonWall, canonCpu)
    assert(flagged == Seq("g_theft"), s"wrong rule-4 verdict: $flagged")
  }

  test("cpuTheft degrades safely: no canonical entry, no CPU sample, " +
       "zero canonicals") {
    val flagged = Bench.cpuTheft(
      Seq(("g_new", 35.9, 22.0),        // no canonical → skip
          ("g_nocpu", 35.9, -1.0),      // platform bean absent → skip
          ("g_zero", 35.9, 22.0)),      // degenerate canonical → skip
      Map("g_nocpu" -> 0.7, "g_zero" -> 0.0),
      Map("g_nocpu" -> 20.0, "g_zero" -> 0.0))
    assert(flagged.isEmpty)
  }

  test("retroactive: the recorded r15 driver window trips rule 4 on " +
       "every inflated gate; a clean gate of the same window passes") {
    // walls: the driver's BENCH_r15 window (shipped contaminated:false
    // under the three loadavg rules) vs the committed ca3fa2a clean
    // canonical. The window recorded no CPU samples — own-CPU here is
    // modeled at canonical scale, which is exactly what the idle
    // re-runs of the same binary measured (0.86-1.9s walls bound
    // own-CPU near canonical; external theft adds wall, not own-CPU).
    val canonWall = Map(
      "rle_encode" -> 0.694, "t_bpe_merges" -> 0.64, "mm_frames" -> 0.196,
      "rle_roundtrip" -> 0.965, "ts_asof" -> 0.955, "p_curate_emb" -> 1.236,
      "ret_policy" -> 1.131, "e_knn_ivf_kmpar" -> 2.93)
    val canonCpu = canonWall.map { case (k, w) => k -> w * 20.0 } // ~20 eff. cores
    val window = Seq(
      ("rle_encode", 35.885, 0.694 * 22), ("t_bpe_merges", 33.643, 0.64 * 22),
      ("mm_frames", 17.94, 0.196 * 22), ("rle_roundtrip", 24.548, 0.965 * 22),
      ("ts_asof", 14.572, 0.955 * 22), ("p_curate_emb", 18.528, 1.236 * 22),
      ("ret_policy", 5.375, 1.131 * 22),
      ("e_knn_ivf_kmpar", 4.348, 2.93 * 22)) // 1.48x canonical: clean
    val flagged = Bench.cpuTheft(window, canonWall, canonCpu).toSet
    assert(flagged == Set("rle_encode", "t_bpe_merges", "mm_frames",
      "rle_roundtrip", "ts_asof", "p_curate_emb", "ret_policy"),
      s"retroactive r15 verdict wrong: $flagged")
  }

  test("medianVsCanonical: flat box-epoch drift reads as the drift factor; " +
       "a single-gate regression leaves the median near 1") {
    val canon = Map("a" -> 1.0, "b" -> 2.0, "c" -> 0.5, "d" -> 4.0, "e" -> 1.5)
    // r16-evening-class drift: every gate ~1.25x -> median IS the drift
    val drifted = Seq("a" -> 1.25, "b" -> 2.5, "c" -> 0.625, "d" -> 5.0,
      "e" -> 1.875)
    assert(math.abs(Bench.medianVsCanonical(drifted, canon) - 1.25) < 1e-9)
    // one real 6x regression on an otherwise-clean box: median stays ~1,
    // so the normalized total still carries the regression
    val regressed = Seq("a" -> 1.0, "b" -> 2.0, "c" -> 0.5, "d" -> 24.0,
      "e" -> 1.5)
    assert(math.abs(Bench.medianVsCanonical(regressed, canon) - 1.0) < 1e-9)
    // degrade: no canonical overlap (bootstrap / sf-mismatch disarm) -> -1
    assert(Bench.medianVsCanonical(Seq("x" -> 1.0), canon) == -1.0)
    assert(Bench.medianVsCanonical(Seq.empty, canon) == -1.0)
    // errored/unmeasured gates (wall <= 0) and zero canonicals are skipped
    assert(math.abs(Bench.medianVsCanonical(
      Seq("a" -> -1.0, "b" -> 2.0), canon + ("b" -> 2.0)) - 1.0) < 1e-9)
  }

  test("parseStringField reads sf; canonical is SF-gated via it") {
    val line = """{"metric":"total","value":1.0,"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parseStringField(line, "sf").contains("/root/testdata/sf0.1"))
    assert(Bench.parseStringField(line, "nope").isEmpty)
  }

  test("parseFlatDoubleMap reads the writer's own format") {
    val line = """{"metric":"total","value":135.58,"unit":"sec","queries":{"agg_avg":0.421,"rle_encode":0.694},"passes":{"agg_avg":[0.5,0.421]},"cpus":{"agg_avg":8.2,"rle_encode":14.0},"sf":"x"}"""
    assert(Bench.parseFlatDoubleMap(line, "queries") ==
      Map("agg_avg" -> 0.421, "rle_encode" -> 0.694))
    assert(Bench.parseFlatDoubleMap(line, "cpus") ==
      Map("agg_avg" -> 8.2, "rle_encode" -> 14.0))
    assert(Bench.parseFlatDoubleMap(line, "missing").isEmpty)
    assert(Bench.parseFlatDoubleMap("""{"queries":{}}""", "queries").isEmpty)
  }

  test("compiles: each gate reports its winning pass's codegen compilations") {
    // the cold pass compiles, the warm one hits the generated-class
    // cache and wins; the winner carries its own CPU and compile samples
    val passes = Seq(Bench.Pass(1.2, 8.0, 31L), Bench.Pass(0.9, 7.5, 0L))
    assert(Bench.winner(passes).contains(Bench.Pass(0.9, 7.5, 0L)))
    assert(Bench.winner(Nil).isEmpty)
    val line = "{\"cpus\":" + Bench.jsonObj(Seq("g1" -> 7.5, "g2" -> 3.0)) +
      ",\"compiles\":" + Bench.jsonObj(Seq("g1" -> 0L, "g2" -> 31L, "g_err" -> -1L)) + "}"
    assert(line == """{"cpus":{"g1":7.5,"g2":3.0},"compiles":{"g1":0,"g2":31,"g_err":-1}}""")
    assert(Bench.parseFlatDoubleMap(line, "compiles") ==
      Map("g1" -> 0.0, "g2" -> 31.0, "g_err" -> -1.0))
  }

  test("build and plan: per-gate maps read back beside queries and cpus") {
    val p = Bench.Pass(0.9, 7.5, 0L, build = 0.125, plan = 0.25)
    val line = Bench.jsonObj(Seq(
      "metric" -> "\"total\"",
      "queries" -> Bench.jsonObj(Seq("g1" -> 0.9, "g2" -> 2.5)),
      "cpus" -> Bench.jsonObj(Seq("g1" -> 7.5, "g2" -> 3.0)),
      "compiles" -> Bench.jsonObj(Seq("g1" -> 0L, "g2" -> 31L)),
      "build" -> Bench.jsonObj(Seq("g1" -> p.build, "g2" -> 1.0)),
      "plan" -> Bench.jsonObj(Seq("g1" -> p.plan, "g2" -> -1.0))))
    assert(Bench.parseFlatDoubleMap(line, "build") == Map("g1" -> 0.125, "g2" -> 1.0))
    assert(Bench.parseFlatDoubleMap(line, "plan") == Map("g1" -> 0.25, "g2" -> -1.0))
    assert(Bench.parseFlatDoubleMap(line, "queries") == Map("g1" -> 0.9, "g2" -> 2.5))
    assert(Bench.parseFlatDoubleMap(line, "cpus") == Map("g1" -> 7.5, "g2" -> 3.0))
  }

  test("the gate selector sorts by name and refuses a name that is no gate") {
    val all = Bench.gates(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    val real = all.head
    assert(Bench.gates(Some(Set(real))).map(_._1) == Seq(real))
    val err = intercept[IllegalArgumentException](
      Bench.gates(Some(Set(real, "no_such_gate")))).getMessage
    assert(err.contains("'no_such_gate'") && !err.contains(s"'$real'"), err)
  }

  test("sessions are built only in SparkInit, and only the eight mains remain") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, main.getAbsolutePath)
    def scala(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val sources = scala(main).map { f =>
      main.toPath.relativize(f.toPath).toString ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
    val builders = sources.collect {
      case (f, text) if text.contains("SparkSession.builder()") => f }
    assert(builders == Seq("graft/SparkInit.scala"), builders.mkString("\n"))
    val mains = sources.flatMap { case (f, text) =>
      Seq.fill("def main\\(".r.findAllIn(text).size)(f) }.sorted
    assert(mains == Seq("graft/Bench.scala", "graft/Explain.scala",
      "graft/Smoke.scala", "graft/StreamBench.scala", "graft/Verify.scala",
      "graft/cli/Cli.scala", "graft/cli/Curate.scala",
      "graft/http/StoreHttpServer.scala"), mains.mkString("\n"))
  }

  test("every public def that only specs reach is on the keep-list, with its reason") {
    val found = SpecOnlyApi.scan(new java.io.File("src/main/scala"),
      new java.io.File("perfbench/src"))
    val kept = SpecOnlyApi.Kept.map { case (f, n, _) => (f, n) }.toSet
    assert(kept.size == SpecOnlyApi.Kept.size, "keep-list lists an entry twice")
    val unlisted = (found -- kept).toSeq.sorted
    val stale = (kept -- found).toSeq.sorted
    assert(unlisted.isEmpty && stale.isEmpty,
      s"public defs that no src/main or perfbench code names must be on " +
        s"SpecOnlyApi.Kept with a reason, or be deleted with their spec:\n" +
        unlisted.map { case (f, n) => s"  unlisted: $f $n" }.mkString("\n") + "\n" +
        stale.map { case (f, n) => s"  stale (now reached, or gone): $f $n" }
          .mkString("\n"))
  }
}

/**
 * The public library is what a surface reaches (ROADMAP item 5). A
 * public `def` in `src/main` that no `src/main` or `perfbench/src` code
 * names is reached only from specs; each one stays only for a reason
 * listed here, and new spec-only API adds its line.
 */
object SpecOnlyApi {
  private val Item3 = "ROADMAP item 3: stream twin, to fold into Engine.get"
  private val Item7 = "ROADMAP item 7: Instrument self-observation"
  private val Collectors = "SURVEY §2.4 collectors row"
  private val Recovery = "minhash index recovery path"
  private val Open = "ROADMAP item 5, open: engine extension with no gate yet"

  /** (file under src/main/scala, def name, reason). */
  val Kept: Seq[(String, String, String)] = Seq(
    ("graft/client/Instrument.scala", "addExportCallback", Item7),
    ("graft/client/Instrument.scala", "clearExportLabel", Item7),
    ("graft/client/Instrument.scala", "exportToString", Item7),
    ("graft/client/Instrument.scala", "failure", Item7),
    ("graft/client/Instrument.scala", "overallSum", Item7),
    ("graft/client/Instrument.scala", "setExportLabel", Item7),
    ("graft/client/Instrument.scala", "startExportThread", Item7),
    ("graft/client/Instrument.scala", "stopExportThread", Item7),
    ("graft/client/Instrument.scala", "totalCount", Item7),
    ("graft/client/Instrument.scala", "unregister", Item7),
    ("graft/client/ServiceStats.scala", "apacheStats", Collectors),
    ("graft/client/ServiceStats.scala", "apcStats", Collectors),
    ("graft/client/ServiceStats.scala", "mysqlStats", Collectors),
    ("graft/client/ServiceStats.scala", "varnishStats", Collectors),
    ("graft/client/SystemStats.scala", "dfInodeStats", Collectors),
    ("graft/client/SystemStats.scala", "dfStats", Collectors),
    ("graft/client/SystemStats.scala", "ntpStats", Collectors),
    ("graft/dedup/Dedup.scala", "cutSpans", Open),
    ("graft/model/IndexFormat.scala", "adopt", Recovery),
    ("graft/model/Variable.scala", "isValidName",
      "SURVEY §2.3 ingest validation row"),
    ("graft/multimodal/Multimodal.scala", "frameDims", Open),
    ("graft/multimodal/Multimodal.scala", "imageNearDupPairs", Open),
    ("graft/similarity/Ann.scala", "cosine", Open),
    ("graft/similarity/Ann.scala", "kmeansObjective", Open),
    ("graft/similarity/Ann.scala", "lshPairs", Open),
    ("graft/similarity/Ann.scala", "lshTopK", Open),
    ("graft/similarity/Ann.scala", "powerIteration", Open),
    ("graft/sketch/CountMin.scala", "cells", Open),
    ("graft/sources/PointSource.scala", "ageIntoGorilla",
      "SURVEY §2.4 indexed store file row: writes the tier --tier reads"),
    ("graft/sources/PointSource.scala", "compact", "SURVEY §2.3 compaction row"),
    ("graft/sources/PointSource.scala", "writeGorilla",
      "SURVEY §2.4 indexed store file row: writes the tier --tier reads"),
    ("graft/streaming/StreamIngest.scala", "alertStream", Item3),
    ("graft/streaming/StreamIngest.scala", "anomalyStream", Item3),
    ("graft/streaming/StreamIngest.scala", "dedupStream", Item3),
    ("graft/streaming/StreamIngest.scala", "lttbStream", Item3),
    ("graft/streaming/StreamIngest.scala", "rateStream", Item3),
    ("graft/streaming/StreamIngest.scala", "uniformResampleStream", Item3),
    ("graft/streaming/StreamIngest.scala", "windowedAggByLabel", Item3),
    ("graft/streaming/StreamIngest.scala", "windowedMeanByName", Item3),
    ("graft/streaming/StreamIngest.scala", "windowedMedianByName", Item3),
    ("graft/streaming/StreamIngest.scala", "windowedSlidingMeanByName", Item3),
    ("graft/text/TextOps.scala", "winnow", Open),
    ("graft/wire/Rpc.scala", "decodeStoreConfig",
      "SURVEY §2.4 HTTP RPC row: the client half of /get_config"))

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private val Def = """(?m)^[ \t]*((?:final|implicit|inline|override|private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*def\s+([A-Za-z_]\w*)""".r
  private val Hidden = """\b(private|protected|override)\b""".r
  private val Ident = """[A-Za-z_]\w*""".r

  /** (file relative to `main`, name) of each public, non-override def
    * in `main` whose name appears nowhere in the code of `main` and
    * `others` besides its own definitions. Names are matched as words
    * across all files, so a name two objects share counts as reached
    * once either is called. */
  def scan(main: java.io.File, others: java.io.File*): Set[(String, String)] = {
    def code(f: java.io.File) =
      codeOnly(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    val mainCode = scalaFiles(main).map(f => main.toPath.relativize(f.toPath).toString -> code(f))
    val all = mainCode.map(_._2) ++ others.flatMap(scalaFiles).map(code)
    val uses = all.flatMap(Ident.findAllIn).groupBy(identity).view.mapValues(_.size).toMap
    val defs = mainCode.flatMap { case (f, text) =>
      Def.findAllMatchIn(text).map(m => (f, m.group(2), Hidden.findFirstIn(m.matched).isDefined)) }
    val defined = defs.groupBy(_._2).view.mapValues(_.size).toMap
    defs.collect { case (f, n, false)
        if n != "main" && uses.getOrElse(n, 0) <= defined(n) => (f, n) }.toSet
  }

  /** `src` without comments and with every string literal emptied; the
    * code of an interpolated string's `${...}` and `$name` parts stays. */
  def codeOnly(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    // Emits code from `start`; with `nested`, stops after the `}` that
    // closes an interpolation and returns the index past it.
    def code(start: Int, nested: Boolean): Int = {
      var i = start
      var depth = 0
      while (i < n) {
        val c = src(i)
        if (src.startsWith("//", i)) {
          val j = src.indexOf('\n', i)
          i = if (j < 0) n else j
        } else if (src.startsWith("/*", i)) {
          var d = 0
          var open = true
          while (open && i < n) {
            if (src.startsWith("/*", i)) { d += 1; i += 2 }
            else if (src.startsWith("*/", i)) { d -= 1; i += 2; open = d > 0 }
            else i += 1
          }
          out += ' '
        } else if (c == '"') {
          i = string(i, i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_'))
        } else if (c == '\'' && i + 2 < n && src(i + 1) != '\\' && src(i + 2) == '\'') {
          out ++= "' '"; i += 3
        } else if (c == '\'' && i + 3 < n && src(i + 1) == '\\') {
          out ++= "' '"; i = src.indexOf('\'', i + 3) + 1
        } else {
          if (c == '{') depth += 1
          if (c == '}') {
            if (nested && depth == 0) return i + 1
            depth -= 1
          }
          out += c; i += 1
        }
      }
      i
    }
    def string(start: Int, interpolated: Boolean): Int = {
      val triple = src.startsWith("\"\"\"", start)
      var i = start + (if (triple) 3 else 1)
      out += '"'
      var open = true
      while (open) {
        if (triple && src.startsWith("\"\"\"", i)) {
          i += 3
          while (i < n && src(i) == '"') i += 1
          open = false
        } else if (!triple && src(i) == '"') { i += 1; open = false }
        else if (!triple && src(i) == '\\') i += 2
        else if (interpolated && src.startsWith("$$", i)) i += 2
        else if (interpolated && src.startsWith("${", i)) {
          out += ' '; i = code(i + 2, nested = true); out += ' '
        } else if (interpolated && src(i) == '$') {
          val name = Ident.findPrefixOf(src.substring(i + 1, math.min(n, i + 200)))
          name.foreach(s => out ++= s" $s ")
          i += 1 + name.fold(0)(_.length)
        } else i += 1
      }
      out += '"'
      i
    }
    code(0, nested = false)
    out.result()
  }
}
