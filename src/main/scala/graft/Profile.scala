package graft

import org.apache.spark.sql.SparkSession

/**
 * Optimization-round measurement harness (optimization guide §1):
 * per-gate breakdown of where a bench pass's wall goes —
 *
 *   build  = DataFrame construction (query-lambda evaluation; any
 *            driver-side actions inside the gate land here for
 *            iterative trainers),
 *   plan   = analysis + optimization + physical planning of the final
 *            frame (Bench's timedPass re-plans every pass, so this is
 *            charged to every measurement),
 *   run1-3 = three full executions, each from a FRESH fn() call
 *            exactly like Bench.timedPass (run1 additionally carries
 *            first-execution codegen/JIT for this gate's plan shape).
 *
 * Diagnostic only — not a driver surface, no JSON contract.
 */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkInit.common(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try spark.range(1000000L).selectExpr("sum(id)").collect()
    catch { case _: Throwable => }
    val wanted = if (args.isEmpty) SparkEntry.queries.keySet else args.toSet
    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => wanted(q._1))
      .foreach { case (name, fn) =>
        try {
          val (tb, df) = t(fn(spark, sfDir))
          val (tp, _) = t(df.queryExecution.executedPlan)
          val (t1, _) = t(df.queryExecution.toRdd.count())
          val (t2, _) = t(fn(spark, sfDir).queryExecution.toRdd.count())
          val (t3, _) = t(fn(spark, sfDir).queryExecution.toRdd.count())
          println(f"[profile] $name%-24s build=$tb%7.3f plan=$tp%6.3f " +
            f"run1=$t1%7.3f run2=$t2%7.3f run3=$t3%7.3f")
        } catch {
          case e: Throwable => println(s"[profile] $name FAILED: $e")
        }
      }
    spark.stop()
  }
}
