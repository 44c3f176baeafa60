package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter (unset on the driver → all queries)
    val gateList = Bench.gates(Bench.onlyFromEnv)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared engine settings live in SparkInit.common (ONE copy — the
    // config Verify verifies is the config Bench times)
    val spark = SparkInit.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    gateList.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Round-1 postmortem: the driver keyed its correctness report by output
    // filename (`<name>.parquet`) and found no oracle for any query — our
    // map was keyed by bare `name` only. Emit BOTH key forms, and write the
    // file to every plausible lookup location (out dir, CWD = repo root).
    val pairs = SparkEntry.oracleSql.toSeq
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
    require(pairs.map(_._1).distinct.size == 2 * SparkEntry.oracleSql.size,
      "oracle_sql key collision: a query name ends in .parquet or duplicates another")
    val json = pairs
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val targets = Seq(
      Paths.get(s"$outDir/oracle_sql.json").toAbsolutePath.normalize,
      Paths.get("oracle_sql.json").toAbsolutePath.normalize,
    ).distinct
    targets.foreach(p => Files.writeString(p, json))
    // Self-check: a malformed artifact would silently zero the round's
    // correctness, so surface it on stderr here (the parquet dumps above
    // are already on disk, so this never aborts the run). python3 is
    // present on the driver host; if it isn't, skip with a warning.
    targets.foreach { p =>
      scala.util.Try {
        new ProcessBuilder("python3", "-c",
          "import json,sys; json.load(open(sys.argv[1]))", p.toString)
          .inheritIO().start().waitFor()
      } match {
        case scala.util.Success(0) => println(s"[verify] oracle_sql.json OK at $p")
        case scala.util.Success(rc) =>
          System.err.println(s"[verify] SELF-CHECK FAILED: $p is not valid JSON (rc=$rc)")
        case scala.util.Failure(e) =>
          System.err.println(s"[verify] self-check skipped (python3 unavailable): ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
