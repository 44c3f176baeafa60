package graft.perfbench

/** Checks of the benchmark's own logic; exits non-zero on a failure.
  * Run with `python3 perfbench/run.py --selfcheck`. */
object SelfCheck {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // percentiles and the tail rule
    expect("median of 1..5 is 3", Stats.median(Seq(5.0, 1, 4, 2, 3)) == 3.0)
    expect("quantile interpolates", Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
    expect("p95 needs 200 samples", Stats.highestTail(200).contains(95) &&
      Stats.highestTail(199).contains(90))
    expect("p90 needs 100 samples", Stats.highestTail(100).contains(90) &&
      Stats.highestTail(99).contains(80))
    expect("no tail below 40 samples", Stats.highestTail(39).isEmpty &&
      Stats.highestTail(40).contains(75))

    // closed-loop timing: a request is due when it is sent
    val ms = 1000000L
    val done = Rec("get_series", 5 * ms, 15 * ms, 200, None, 0L, 0, 0, 0L, 0L)
    expect("closed loop: latency is send to reply", done.latencyMs == 10.0)
    expect("a failed op misses every latency limit",
      done.copy(error = Some("x")).latencyMs.isPosInfinity)

    // the serve_read mix
    val block = Serve.MixBlock
    expect("the mix block holds the mix", Serve.ReadMix.forall { case (k, w) => block.count(_ == k) == w })
    expect("every prefix of the mix block is within one request of the mix",
      (1 to block.size).forall { n =>
        Serve.ReadMix.forall { case (k, w) =>
          math.abs(block.take(n).count(_ == k) - n * w.toDouble / block.size) < 1.0 }
      })

    // span self time
    val tr = new Tracer(true)
    tr.span("outer", 1) { Thread.sleep(30); tr.span("inner", 1)(Thread.sleep(20)) }
    val outer = tr.all.find(_.name == "outer").get
    val inner = tr.all.find(_.name == "inner").get
    expect("self time excludes children",
      math.abs(tr.selfMs(outer.id) - (outer.ms - inner.ms)) < 1e-6 && tr.selfMs(inner.id) == inner.ms)

    // generator determinism
    val hosts = Collector.hosts(Serve.Racks, Serve.Nodes)
    def store(seed: Long) = Collector.digest(Collector.series(seed, hosts), 0, 500)
    def corpus(seed: Long) = Corpus.digest(Corpus.increments(seed, _ => 50).take(3).toVector)
    def reads(seed: Long) = Gen.digest(Serve.readMix(seed, 0, Collector.series(seed, hosts))
      .take(40).map(c => c.encode().map("%02x".format(_)).mkString))
    expect("same seed, same store", store(1) == store(1))
    expect("other seed, other store", store(1) != store(2))
    expect("same seed, same corpus", corpus(1) == corpus(1))
    expect("other seed, other corpus", corpus(1) != corpus(2))
    expect("same seed, same requests", reads(1) == reads(1))
    expect("other seed, other requests", reads(1) != reads(2))
    val inc = Corpus.increments(5, _ => 50).take(3).toVector
    expect("later increments carry near-duplicates of earlier ones",
      inc(1).exists(d => inc(0).exists(e => e.text != d.text &&
        e.text.split(" ").zip(d.text.split(" ")).count(p => p._1 == p._2) > 100)))
    expect("doc ids unique and non-negative", {
      val ids = inc.flatten.map(_.doc_id); ids.distinct.size == ids.size && ids.forall(_ >= 0)
    })

    println(if (failures == 0) "selfcheck passed" else s"selfcheck: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
