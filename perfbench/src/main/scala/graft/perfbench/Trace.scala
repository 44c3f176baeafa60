package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. `parent` is the id
  * of the enclosing span (0 at the top); spans of one op share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. When disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def newOp(): Long = ids.incrementAndGet()

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), op, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Median duration (ms) of the spans called `name`; 0 when there are none. */
  def medianMs(name: String): Double = {
    val xs = all.filter(_.name == name).map(_.ms)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Self time of each span: its duration minus the part of it that
    * its child spans cover. */
  def selfMs: Map[Long, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  def dump(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> self(s.id))))
      w.write('\n')
    } finally w.close()
  }
}

/** Spark-side counters for one op or one window, summed over its jobs. */
final case class SparkCost(jobs: Int, stages: Int, tasks: Int, execMs: Double,
                           planMs: Double, taskRunMs: Double, taskCpuMs: Double,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           inputRows: Long, inputBytes: Long, failedTasks: Int,
                           schedDelaysMs: Seq[Double], skew: Double)

/**
 * A SparkListener (plus a QueryExecutionListener) registered by the
 * benchmark. Jobs are attributed to an op either by the job group the
 * benchmark set on the calling thread, or, for work Spark runs on its
 * own threads (the HTTP handler pool, a streaming query), by the
 * wall-clock interval of the op. Query planning carries no job group,
 * so it is always attributed by interval; ops are timed one at a time
 * wherever per-op figures are taken.
 */
final class SparkProbe extends SparkListener {
  import SparkProbe._
  private val jobs = collection.concurrent.TrieMap.empty[Int, Job]
  private val stages = collection.concurrent.TrieMap.empty[Int, Stage]
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, Job(e.jobId, g, e.time, e.stageIds)); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.get(e.jobId).foreach(_.end = e.time); touch()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stages.put(i.stageId, Stage(i.stageId, i.submissionTime.getOrElse(System.currentTimeMillis())))
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    tasks.add(
      if (m == null) Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
        0, 0, 0, 0, 0, 0, 0, failed)
      else Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead, failed))
    touch()
  }
  /** Planning time of every executed query (analysis + optimization +
    * planning), stamped with the wall-clock start of its first phase. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (ph.nonEmpty) plans.add(Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum.toDouble))
      touch()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Waits until the asynchronous listener bus has gone quiet. */
  def quiesce(quietMs: Long = 300L, maxMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }

  private def cost(js: Seq[Job], fromMs: Long, toMs: Long): SparkCost = {
    val stageIds = js.flatMap(_.stageIds).toSet.filter(stages.contains)
    val ts = tasks.asScala.toSeq.filter(t => stageIds.contains(t.stage))
    val byStage = ts.groupBy(_.stage)
    val skew = byStage.values.filter(_.size >= 2).map { g =>
      val med = Stats.median(g.map(_.durMs.toDouble))
      if (med > 0) g.map(_.durMs).max / med else 1.0
    }.foldLeft(1.0)(math.max)
    SparkCost(js.size, stageIds.size, ts.size,
      js.filter(_.end >= 0).map(j => (j.end - j.start).toDouble).sum,
      plans.asScala.toSeq.filter(p => p.startMs >= fromMs && p.startMs <= toMs).map(_.ms).sum, ts.map(_.runMs.toDouble).sum, ts.map(_.cpuNs / 1e6).sum,
      ts.map(_.shW).sum, ts.map(_.shR).sum, ts.map(_.spill).sum,
      ts.map(_.inRows).sum, ts.map(_.inBytes).sum, ts.count(_.failed),
      ts.map(t => (t.launch - stages(t.stage).submitted).toDouble), skew)
  }

  /** Cost of the jobs run under job group `group`; planning is that of
    * the queries that started within the op's [fromMs, toMs]. */
  def forGroup(group: String, fromMs: Long, toMs: Long): SparkCost =
    cost(jobs.values.filter(_.group.contains(group)).toSeq, fromMs, toMs)

  /** Cost of the jobs and queries started within [fromMs, toMs]. */
  def forInterval(fromMs: Long, toMs: Long): SparkCost =
    cost(jobs.values.filter(j => j.start >= fromMs && j.start <= toMs).toSeq, fromMs, toMs)
}

object SparkProbe {
  final case class Job(id: Int, group: Option[String], start: Long,
                       stageIds: Seq[Int], var end: Long = -1L)
  final case class Stage(id: Int, submitted: Long)
  final case class Task(stage: Int, launch: Long, durMs: Long, runMs: Long,
                        cpuNs: Long, shW: Long, shR: Long, spill: Long,
                        inRows: Long, inBytes: Long, failed: Boolean)
  final case class Plan(startMs: Long, ms: Double)
}

/** Process-wide counters sampled at the start and end of a window. */
final case class JvmSample(gcMs: Long, compiles: Long, compileMsSum: Double, wallNs: Long)

object JvmSample {
  import org.apache.spark.metrics.source.CodegenMetrics
  def now(): JvmSample = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    // The histogram's reservoir keeps every sample until it holds
    // 1028, so its sum is exact below that; past it, count x mean.
    val snap = h.getSnapshot
    val sum = if (h.getCount <= 1028) snap.getValues.map(_.toDouble).sum
              else h.getCount * snap.getMean
    JvmSample(gc, h.getCount, sum, System.nanoTime())
  }

  /** Peak resident memory of this JVM in MB (`VmHWM`). */
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("VmHWM not in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** Peak resident memory of the run in MB, with the heap counted at its
    * peak use rather than its size: the JVM's peak resident set (VmHWM)
    * minus the committed heap, plus the sum of each heap pool's peak
    * use. The heap is fixed and pre-touched, so its resident size is a
    * constant; its pools' peak use is what the program's allocations
    * move. */
  def rssPeakMb(): Double = {
    val committed = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    vmHwmMb() + (heapPools.map(_.getPeakUsage.getUsed).sum - committed) / 1048576.0
  }

  /** The parts of [[rssPeakMb]], in MB. */
  def memoryParts(): Map[String, Double] =
    Map("vm_hwm" -> vmHwmMb(),
      "heap_committed" -> java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getCommitted / 1048576.0) ++
    heapPools.map(p => s"peak ${p.getName}" -> p.getPeakUsage.getUsed / 1048576.0)
}
