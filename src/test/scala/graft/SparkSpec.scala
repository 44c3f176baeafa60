package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // the engine settings every shipped main uses (SparkInit.common),
    // so the specs exercise the plans and caches that ship
    val s = SparkInit.common(SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Builds a one-series canonical point DataFrame from (ts, dval) pairs. */
  def series(points: Seq[(Long, Double)],
             name: String = "/test/series",
             labels: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val labelExpr =
      if (labels.isEmpty) map().cast("map<string,string>")
      else map(labels.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    points.toDF("ts", "dval")
      .select(
        lit(name).as("name"),
        labelExpr.as("labels"),
        lit("GAUGE").as("value_type"),
        col("ts"), col("dval"),
        lit(null).cast("string").as("sval"),
        lit(null).cast("long").as("end_ts"))
  }

  def collectTsVal(df: DataFrame): Seq[(Long, Double)] =
    df.select("ts", "dval").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
}
