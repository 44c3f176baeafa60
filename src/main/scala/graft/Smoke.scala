package graft

/** Smoke-runs [[SparkEntry.entry]] the way the driver does (rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    // shared engine settings live in SparkInit.common (ONE copy — the
    // config Verify verifies is the config Bench times)
    val spark = SparkInit.session("local[4]", 4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
