package perfbench

import java.io.PrintWriter
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (the clock Spark's
  * listener events carry), so benchmark spans and listener spans share
  * one time line.
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Long,
    endMs: Long, op: String)

/** In-memory span recorder; written once at exit. */
final class Trace {
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]

  def add(parent: Long, name: String, startMs: Long, endMs: Long,
      op: String): Long = synchronized {
    val id = ids.incrementAndGet()
    spans += Span(id, parent, name, startMs, endMs, op)
    id
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Per span name: total duration minus the time covered by its direct
    * children (each clipped to the parent), in seconds.
    */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Probe.unionMs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        (s.endMs - s.startMs - covered) / 1000.0
      }.sum
    }
  }

  def write(path: String): Unit = {
    val w = new PrintWriter(path)
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"op":"${s.op}"}""")
    } finally w.close()
  }
}

/** Spark execution observed through the public listener interfaces:
  * jobs, stages and task metrics from [[SparkListener]], Catalyst phase
  * times and exchange counts from [[QueryExecutionListener]], cached
  * block bytes from block updates. Recording is switched by `on`; the
  * raw records are attributed to benchmark operations afterwards by time
  * window, which is exact for a closed loop that runs one operation at a
  * time.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._
  @volatile var on = false

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stagesDone = ArrayBuffer.empty[Int]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val plans = ArrayBuffer.empty[PlanRec]
  private val cached = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  @volatile var cachedPeak = 0L
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    if (on) {
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      touch()
      if (on) stagesDone += e.stageInfo.stageId
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val m = e.taskMetrics
    if (on && m != null) tasks += TaskRec(e.stageId, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        cachedNow -= cached.getOrElse(id, 0L)
        if (info.storageLevel.isValid) {
          val sz = info.memSize + info.diskSize
          cached(id) = sz; cachedNow += sz
        } else cached.remove(id)
        if (cachedNow > cachedPeak) cachedPeak = cachedNow
      }
    }

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    plan(qe, failed = false)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    plan(qe, failed = true)

  private def plan(qe: QueryExecution, failed: Boolean): Unit = if (on) {
    touch()
    val ph = qe.tracker.phases
    def dur(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    val ex = try PlanWalk.exchanges(qe.executedPlan) catch { case _: Throwable => 0 }
    synchronized {
      plans += PlanRec(start, ph.get("planning").map(_.endTimeMs).getOrElse(start),
        dur("analysis"), dur("optimization"), dur("planning"), ex)
    }
  }

  /** Blocks until every recorded job has ended and the listener bus has
    * been quiet for a short while (events are delivered asynchronously).
    */
  def drain(maxMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def busy = synchronized(jobs.valuesIterator.exists(_.endMs < 0))
    while (System.currentTimeMillis() < deadline &&
      (busy || System.currentTimeMillis() - lastEventMs < 30)) Thread.sleep(5)
  }

  /** Spark-side layer totals for the operations whose windows are given
    * (epoch ms, inclusive start, exclusive end), plus their job spans.
    */
  def window(ws: Seq[(Long, Long)]): Window = synchronized {
    def in(t: Long) = ws.exists { case (a, b) => t >= a && t < b }
    val js = jobs.valuesIterator.filter(j => in(j.startMs)).toSeq
    val jobIds = js.map(_.id).toSet
    val ts = tasks.filter(t => stageJob.get(t.stage).exists(jobIds))
    Window(
      jobs = js.length,
      stages = stagesDone.count(s => stageJob.get(s).exists(jobIds)),
      tasks = ts.length,
      taskS = ts.map(_.runMs).sum / 1000.0,
      taskCpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1000.0,
      scanMb = ts.map(_.inBytes).sum / MiB,
      scanRows = ts.map(_.inRecs).sum.toDouble,
      shuffleWriteMb = ts.map(_.shWrite).sum / MiB,
      shuffleReadMb = ts.map(_.shRead).sum / MiB,
      spillMb = ts.map(_.spill).sum / MiB,
      jobIntervals = js.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs)),
      plans = plans.filter(p => in(p.startMs)).toSeq)
  }
}

object Probe {
  val MiB: Double = 1024.0 * 1024.0

  final case class JobRec(id: Int, startMs: Long, endMs: Long)
  final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, inRecs: Long, shWrite: Long, shRead: Long, spill: Long)
  final case class PlanRec(startMs: Long, endMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, exchanges: Int)
  final case class Window(jobs: Int, stages: Int, tasks: Int, taskS: Double,
      taskCpuS: Double, gcS: Double, scanMb: Double, scanRows: Double,
      shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
      jobIntervals: Seq[(Long, Long)], plans: Seq[PlanRec])

  /** Total length of the union of intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Job-covered ms of [a, b). */
  def coveredMs(jobs: Seq[(Long, Long)], a: Long, b: Long): Long =
    unionMs(jobs.map { case (s, e) => (math.max(s, a), math.min(e, b)) })

  def attach(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** JVM-wide codegen counters: (compilations, compile nanoseconds). */
  def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.length
}

/** Per-layer metrics every workload derives from the same listener
  * records: scan input, Catalyst phases, Spark execution and cached
  * blocks. `passes` divides the totals so batch workloads report them
  * per pass.
  */
object Layers {
  def spark(p: Probe, w: Probe.Window, passes: Double, jobSpanS: Double,
      wallS: Double, codegenCount: Long, codegenNs: Long): Seq[Metric] = {
    def per(x: Double) = x / passes
    Seq(
      Metric("sources.scan_mb", per(w.scanMb), "MB"),
      Metric("sources.scan_rows", per(w.scanRows), "count"),
      Metric("plans.actions", per(w.plans.length), "count"),
      Metric("plans.analysis_s", per(w.plans.map(_.analysisMs).sum / 1000.0), "s"),
      Metric("plans.optimization_s", per(w.plans.map(_.optimizationMs).sum / 1000.0), "s"),
      Metric("plans.planning_s", per(w.plans.map(_.planningMs).sum / 1000.0), "s"),
      Metric("plans.exchanges", per(w.plans.map(_.exchanges).sum), "count"),
      Metric("plans.codegen_compiles", per(codegenCount.toDouble), "count"),
      Metric("plans.codegen_s", per(codegenNs / 1e9), "s"),
      Metric("spark.jobs", per(w.jobs), "count"),
      Metric("spark.stages", per(w.stages), "count"),
      Metric("spark.tasks", per(w.tasks), "count"),
      Metric("spark.task_s", per(w.taskS), "s"),
      Metric("spark.task_cpu_s", per(w.taskCpuS), "s"),
      Metric("spark.gc_s", per(w.gcS), "s"),
      Metric("spark.job_span_s", per(jobSpanS), "s"),
      Metric("spark.driver_gap_s", per(wallS - jobSpanS), "s"),
      Metric("spark.shuffle_write_mb", per(w.shuffleWriteMb), "MB"),
      Metric("spark.shuffle_read_mb", per(w.shuffleReadMb), "MB"),
      Metric("spark.spill_mb", per(w.spillMb), "MB"),
      Metric("spark.cached_mb_peak", p.cachedPeak / Probe.MiB, "MB"))
  }
}
