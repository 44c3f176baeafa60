package graft

/** Dumps `explain("formatted")` for every query (or the ones named in
  * args) — the plan-review loop for the 100 TB posture.
  *
  * Env knobs: `SPARK_GRAFT_AQE=false` disables adaptive execution so
  * the static planner's ReusedExchange verdicts are visible;
  * `SPARK_GRAFT_EXECUTE=true` runs each query first and prints the
  * post-execution plan (with AQE on, that is the FINAL adaptive plan —
  * runtime stage reuse, empty-relation elimination, chosen join
  * strategies — which the pre-execution print cannot show). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val gateList = Bench.gates(Option.when(args.nonEmpty)(args.toSet))
    // shared engine settings live in SparkInit.common; the AQE toggle
    // is this main's own knob (plan dumps with/without adaptive), a
    // runtime SQL conf read at planning time
    val spark = SparkInit.session("local[4]", 4)
    spark.conf.set("spark.sql.adaptive.enabled",
      sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    spark.sparkContext.setLogLevel("ERROR")
    val execute = sys.env.get("SPARK_GRAFT_EXECUTE").contains("true")
    gateList.foreach { case (name, fn) =>
      println(s"\n===================== $name =====================")
      try {
        val df = fn(spark, sfDir)
        if (execute) {
          df.collect()
          println(df.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      } catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
