package graft

import graft.operators.{Anomaly, Mutations}
import graft.operators.Mutations.ResumableOp
import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

/**
 * The per-series state machines that the streams resume
 * (`StreamIngest.resumeStep`): cutting a feed at any point, through
 * `snapshot` → fresh op → `restore`, must not change what the op emits,
 * and each state record keeps the schema that existing checkpoints hold.
 */
class ResumableOpSpec extends AnyFunSuite {

  /** One op under test; `run` feeds `pts` to a fresh op, resuming a
    * new op from the snapshot at every cut, and returns the feed
    * emissions and the final flush. */
  private final class Op[S](val name: String, val mk: () => ResumableOp[S]) {
    def run(pts: Seq[(Long, Double)],
            cuts: Set[Int]): (Seq[(Long, Double)], Seq[(Long, Double)]) = {
      var op = mk()
      val fed = pts.zipWithIndex.flatMap { case ((t, v), i) =>
        if (cuts(i)) op = mk().restore(op.snapshot)
        op.feed(t, v)
      }
      if (cuts(pts.length)) op = mk().restore(op.snapshot)
      (fed, op.flush())
    }
    def lastFedAfter(pts: Seq[(Long, Double)]): Long = {
      val op = mk()
      pts.foreach { case (t, v) => op.feed(t, v) }
      mk().restore(op.snapshot).lastFed
    }
  }

  private val ops = Seq(
    new Op("uniform", () => new Mutations.UniformOp(60000L)),
    new Op("rate", () => new Mutations.RateOp(perSecond = true, signed = false)),
    new Op("rate signed", () => new Mutations.RateOp(perSecond = false, signed = true)),
    new Op("ewm z-score", () => new Mutations.EwmZscoreOp(60000.0)),
    new Op("lttb", () => new Mutations.LttbOp(45000L)))

  test("resuming from a snapshot at random cuts gives the unbroken feed's output") {
    val rnd = new scala.util.Random(808)
    for (trial <- 0 until 40) {
      val n = 1 + rnd.nextInt(120)
      // sorted, with duplicate timestamps and counter-style resets
      var t = rnd.nextInt(100000).toLong - 50000L
      var v = 0.0
      val pts = (0 until n).map { _ =>
        t += (if (rnd.nextInt(8) == 0) 0L else 1L + rnd.nextInt(40000))
        v = if (rnd.nextInt(10) == 0) 0.0 else v + rnd.nextGaussian() * 10 + 5
        (t, v)
      }
      val cuts = Set.fill(1 + rnd.nextInt(6))(rnd.nextInt(n + 1))
      ops.foreach { op =>
        assert(op.run(pts, cuts) == op.run(pts, Set.empty),
          s"${op.name}, trial $trial, cuts $cuts")
        // a resumed op reports the last timestamp it was fed
        assert(op.lastFedAfter(pts) == pts.last._1, op.name)
        assert(op.mk().lastFed == Long.MinValue, op.name)
      }
    }
  }

  test("each stream state record keeps its checkpoint schema") {
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq
    assert(fields(Encoders.product[Mutations.UniformState].schema) == Seq(
      "base:bigint", "pointsOut:bigint", "lastTs:bigint", "lastVal:double", "n:bigint"))
    assert(fields(Encoders.product[Mutations.RateState].schema) == Seq(
      "ts:bigint", "dval:double"))
    assert(fields(Encoders.product[Anomaly.S].schema) == Seq(
      "m:double", "s2:double", "prevTs:bigint", "n:bigint"))
    assert(fields(Encoders.product[Mutations.LttbSnap].schema) == Seq(
      "first:boolean", "px:double", "py:double",
      "curB:bigint", "curTs:array<bigint>", "curVs:array<double>",
      "nxtB:bigint", "nxtTs:array<bigint>", "nxtVs:array<double>"))
  }

  test("flatMapGroupsWithState is called only by the one per-series stream and the sessionizer") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, main.getAbsolutePath)
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val Def = """\s*(?:private\s+)?def\s+(\w+).*""".r
    val callers = sources(main).flatMap { f =>
      var enclosing = "<none>"
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      text.split("\n").toSeq.flatMap { line =>
        line match {
          case Def(name) => enclosing = name
          case _ =>
        }
        val code = line.trim
        val comment = Seq("//", "/*", "*").exists(code.startsWith)
        if (!comment && code.contains("flatMapGroupsWithState"))
          Some(s"${f.getName}:$enclosing") else None
      }
    }
    assert(callers.sorted == Seq(
      "StreamIngest.scala:resumeStream", "StreamIngest.scala:sessionizeStream"),
      callers.mkString("\n"))
  }
}
