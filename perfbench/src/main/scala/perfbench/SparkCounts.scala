package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counts, read through a listener the benchmark registers on
  * the session's context. Every job, completed stage and finished task is
  * kept with its wall-clock time; a window of the benchmark's own
  * timeline (one operator, one call) claims the jobs submitted inside it,
  * and with them their stages and tasks. The benchmark runs one timed
  * operation at a time, so windows never overlap and the claim is exact.
  */
final class SparkCounts extends SparkListener {
  import SparkCounts.{Job, Task}

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  /** SQL executions: id → (start ms, end ms, call site). */
  private val sqls = new ConcurrentHashMap[Long, (Long, Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    else tasks.add(Task(e.stageId, 0L, 0L, 0L, 0L, 0L, 0L))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqls.put(s.executionId, (s.time, -1L, s.description + "\n" + s.details))
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      Option(sqls.get(s.executionId)).foreach(v => sqls.put(s.executionId, (v._1, s.time, v._3)))
    case _ =>
  }

  /** (start ms, end ms) of the SQL executions started inside `windows`
    * whose call site mentions `site`. */
  def sqlIntervals(sc: SparkContext, windows: Seq[(Long, Long)], site: String): Seq[(Long, Long)] = {
    org.apache.spark.BenchBus.drain(sc)
    sqls.values.asScala.toSeq.collect {
      case (s, e, d) if e >= s && d.contains(site) &&
          windows.exists { case (a, b) => s >= a && s <= b } => (s, e)
    }
  }

  /** (start ms, end ms) of the jobs submitted inside `windows`. */
  def jobIntervals(windows: Seq[(Long, Long)]): Seq[(Long, Long)] =
    jobs.values.asScala.toSeq
      .filter(j => windows.exists { case (a, b) => j.startMs >= a && j.startMs <= b })
      .map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))

  /** Totals over the jobs submitted inside any of `windows`
    * (wall-clock epoch milliseconds, inclusive). */
  def summarize(sc: SparkContext, windows: Seq[(Long, Long)]): SparkCounts.Summary = {
    org.apache.spark.BenchBus.drain(sc)
    def inWindow(t: Long) = windows.exists { case (a, b) => t >= a && t <= b }
    val ids = jobs.values.asScala.filter(j => inWindow(j.startMs)).map(_.id).toSet
    def ofJobs(stage: Int) = Option(stageJob.get(stage)).exists(ids)
    val ts = tasks.asScala.toSeq.filter(t => ofJobs(t.stageId))
    val intervals = jobIntervals(windows)
    // Idle: window time not covered by any claimed job.
    val idleMs = windows.map { case (a, b) =>
      val inside = intervals.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      inside.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered += curE - curS
      (b - a) - covered
    }.sum
    // Highest number of claimed jobs running at one instant.
    val edges = intervals.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    var running = 0
    var maxRunning = 0
    edges.foreach { case (_, d) => running += d; maxRunning = math.max(maxRunning, running) }
    SparkCounts.Summary(
      jobs = ids.size,
      stages = stagesDone.asScala.count(ofJobs),
      tasks = ts.size,
      taskMs = ts.map(_.runMs).sum.toDouble,
      idleMs = idleMs.toDouble,
      jobP50Ms = if (intervals.isEmpty) 0.0
        else Stats.median(intervals.map { case (s, e) => (e - s).toDouble }),
      maxConcurrentJobs = maxRunning,
      shuffleReadBytes = ts.map(_.shuffleRead).sum,
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
      spillBytes = ts.map(_.spill).sum,
      outputBytes = ts.map(_.outBytes).sum,
      outputRecords = ts.map(_.outRecords).sum)
  }
}

object SparkCounts {
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final case class Task(stageId: Int, runMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, outBytes: Long, outRecords: Long)

  final case class Summary(jobs: Int, stages: Int, tasks: Int, taskMs: Double,
      idleMs: Double, jobP50Ms: Double, maxConcurrentJobs: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      outputBytes: Long, outputRecords: Long) {

    /** Per-layer metrics `<prefix>.*`, each divided by `ops` where it
      * is a total. */
    def metrics(prefix: String, ops: Int): Seq[Metric] = {
      val n = math.max(1, ops).toDouble
      Seq(
        Metric(s"$prefix.jobs_per_op", jobs / n, "count"),
        Metric(s"$prefix.stages_per_op", stages / n, "count"),
        Metric(s"$prefix.tasks_per_op", tasks / n, "count"),
        Metric(s"$prefix.task_ms_per_op", taskMs / n, "ms"),
        Metric(s"$prefix.idle_ms_per_op", idleMs / n, "ms"),
        Metric(s"$prefix.job_p50_ms", jobP50Ms, "ms"),
        Metric(s"$prefix.max_concurrent_jobs", maxConcurrentJobs.toDouble, "count"),
        Metric(s"$prefix.shuffle_read_bytes_per_op", shuffleReadBytes / n, "bytes"),
        Metric(s"$prefix.shuffle_write_bytes_per_op", shuffleWriteBytes / n, "bytes"),
        Metric(s"$prefix.spill_bytes_per_op", spillBytes / n, "bytes"),
        Metric(s"$prefix.output_bytes_per_op", outputBytes / n, "bytes"),
        Metric(s"$prefix.output_records_per_op", outputRecords / n, "count"))
    }
  }
}
