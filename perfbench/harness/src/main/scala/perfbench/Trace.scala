package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval on the harness thread around one call into the
  * program, `startMs`/`endMs` in epoch milliseconds.
  */
final case class Span(name: String, startMs: Long, endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1000.0
  def covers(t: Long): Boolean = t >= startMs && t < endMs
}

/** Spark listener counters attributed to the enclosing [[Span]].
  *
  * Events arrive on Spark's listener bus after the fact; every event is
  * kept with its own timestamp and attributed to a span only at the end
  * (after `SparkSession.stop()` has drained the bus), so attribution does
  * not depend on delivery lag. A job belongs to the span its start time
  * falls in; a task to its stage's job; a query execution to the span its
  * optimisation phase started in.
  *
  * `scanPath` names a directory whose parquet scans are counted per span
  * (the monthly export, to compare against the reference's 4 scans).
  */
final class Trace(scanPath: Option[String])
    extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  import Trace._

  private val jobs = mutable.Map.empty[Int, Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val seenCaches = mutable.Set.empty[AnyRef]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, Long.MaxValue, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.stageAttemptId,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    val planS = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0
    val at = phases.get("optimization").orElse(phases.get("analysis"))
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    queries += Query(at, planS, scanPath.map(p => scans(qe.executedPlan, p))
      .getOrElse(0))
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()

  /** Parquet scans of `path` this plan executes: direct file scans, plus
    * the scans inside a cached relation the first time any plan reads it
    * (that is when the cache is built).
    */
  private def scans(plan: SparkPlan, path: String): Int = {
    def reads(p: SparkPlan): Int = collect(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(path)) => 1
      case m: InMemoryTableScanExec if seenCaches.add(m.relation.cacheBuilder) =>
        reads(m.relation.cacheBuilder.cachedPlan)
    }.sum
    reads(plan)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Per-span counters, keyed `<span>.<counter>`. Call after the session
    * has stopped (so every event has been delivered).
    */
  def metrics(spans: Seq[Span]): Map[String, Double] = synchronized {
    val stageJob = jobs.toSeq.flatMap { case (id, j) => j.stages.map(_ -> id) }.toMap
    spans.flatMap { span =>
      val js = jobs.filter { case (_, j) => span.covers(j.start) }
      val ts = tasks.filter(t => stageJob.get(t.stage).exists(js.contains))
      val qs = queries.filter(q => span.covers(q.at))
      // driver time: span wall minus the union of its jobs' intervals
      val intervals = js.values.toSeq
        .map(j => (j.start, math.min(j.end, span.endMs))).sortBy(_._1)
      var busy = 0L; var reach = Long.MinValue
      intervals.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) busy += e - from
        reach = math.max(reach, e)
      }
      // skew of the largest shuffle-reading stage: max / median task time
      val byStage = ts.groupBy(t => (t.stage, t.attempt))
      val skew = if (byStage.isEmpty) 0.0 else {
        val (_, big) = byStage.maxBy(_._2.map(_.shuffleRead).sum)
        if (big.map(_.shuffleRead).sum == 0) 0.0 else {
          val times = big.map(_.runMs.toDouble).sorted
          val med = times(times.size / 2)
          if (med <= 0) times.last else times.last / med
        }
      }
      val mb = 1024.0 * 1024.0
      Seq(
        "wall_s" -> span.wallS,
        "driver_s" -> math.max(0.0, span.wallS - busy / 1000.0),
        "jobs" -> js.size.toDouble,
        "tasks" -> ts.size.toDouble,
        "exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "gc_s" -> ts.map(_.gcMs).sum / 1000.0,
        "input_mb" -> ts.map(_.inBytes).sum / mb,
        "output_mb" -> ts.map(_.outBytes).sum / mb,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
        "spill_mb" -> ts.map(_.spill).sum / mb,
        "plan_s" -> qs.map(_.planS).sum,
        "task_skew" -> skew,
        "scans" -> qs.map(_.scans).sum.toDouble,
      ).map { case (k, v) => s"${span.name}.$k" -> v }
    }.toMap
  }
}

object Trace {
  private final case class Job(start: Long, end: Long, stages: Seq[Int])
  private final case class Task(stage: Int, attempt: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, inBytes: Long, outBytes: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  private final case class Query(at: Long, planS: Double, scans: Int)
}
