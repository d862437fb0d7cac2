package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** The benchmark's own Spark listener: it keeps every job submission and
  * every finished task of a traced window in memory, so the engine
  * counters can be summed for the whole window and attributed afterwards
  * to the span that was open when each job was submitted. */
final class EngineListener extends SparkListener {
  import EngineListener.{Job, Task}

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.time, e.stageIds))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val ok = e.reason == Success
    if (m == null)
      tasks.add(Task(e.stageId, i.launchTime, i.finishTime, ok,
        0, 0, 0, 0, 0, 0, 0, 0, 0))
    else
      tasks.add(Task(e.stageId, i.launchTime, i.finishTime, ok,
        m.executorCpuTime, m.executorRunTime,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.inputMetrics.bytesRead, m.peakExecutionMemory))
  }

  def jobList: Seq[Job] = jobs.asScala.toSeq
  def taskList: Seq[Task] = tasks.asScala.toSeq

  /** Task CPU seconds per span index (-1: no span open), attributing each
    * job to the innermost span open at its submission time. */
  def cpuBySpan(spans: Seq[Span]): Map[Int, Double] =
    bySpan(spans)(_.cpuNs / 1e9)

  /** Shuffle MB (written + read) per span index. */
  def shuffleMbBySpan(spans: Seq[Span]): Map[Int, Double] =
    bySpan(spans)(t => (t.shufWrite + t.shufRead) / 1e6)

  private def bySpan(spans: Seq[Span])(v: Task => Double): Map[Int, Double] = {
    val stageSpan = jobList.flatMap { j =>
      val s = Spans.innermostAt(spans, j.timeMs.toDouble)
      j.stageIds.map(_ -> s)
    }.toMap
    taskList.groupBy(t => stageSpan.getOrElse(t.stageId, -1))
      .map { case (s, ts) => s -> ts.map(v).sum }
  }
}

object EngineListener {
  final case class Job(timeMs: Long, stageIds: Seq[Int])
  final case class Task(
      stageId: Int, launchMs: Long, finishMs: Long, ok: Boolean,
      cpuNs: Long, runMs: Long, memSpill: Long, diskSpill: Long,
      fetchWaitMs: Long, shufWrite: Long, shufRead: Long, input: Long,
      peakExecMem: Long)

  /** Whole-window engine counters, named as the per-layer `engine.*`
    * metrics. `startMs`..`endMs` is the traced call's interval and `gcS` the
    * collector time the driver JVM spent in it (all tasks run in that
    * JVM in local mode, so summing per-task GC time would count one pause
    * once per running task). */
  def summary(l: EngineListener, startMs: Double, endMs: Double, cores: Int,
              gcS: Double): Seq[(String, Double, String)] = {
    val ts = l.taskList
    val windowS = (endMs - startMs) / 1e3
    val busyS = Spans.unionLength(ts.map(t =>
      (math.max(t.launchMs.toDouble, startMs), math.min(t.finishMs.toDouble, endMs)))) / 1e3
    val taskRunS = ts.map(t => (t.finishMs - t.launchMs) / 1e3).sum
    Seq(
      ("engine.task_cpu_s", ts.map(_.cpuNs).sum / 1e9, "s"),
      ("engine.task_run_s", ts.map(_.runMs).sum / 1e3, "s"),
      ("engine.slot_busy_frac", taskRunS / (windowS * cores), "fraction"),
      ("engine.idle_slot_s", windowS - busyS, "s"),
      ("engine.jobs", l.jobList.size.toDouble, "count"),
      ("engine.tasks", ts.size.toDouble, "count"),
      ("engine.shuffle_write_mb", ts.map(_.shufWrite).sum / 1e6, "MB"),
      ("engine.shuffle_read_mb", ts.map(_.shufRead).sum / 1e6, "MB"),
      ("engine.fetch_wait_s", ts.map(_.fetchWaitMs).sum / 1e3, "s"),
      ("engine.spill_mem_mb", ts.map(_.memSpill).sum / 1e6, "MB"),
      ("engine.spill_disk_mb", ts.map(_.diskSpill).sum / 1e6, "MB"),
      ("engine.gc_s", gcS, "s"),
      ("engine.scan_mb", ts.map(_.input).sum / 1e6, "MB"),
      ("engine.peak_exec_mem_mb",
        if (ts.isEmpty) 0.0 else ts.map(_.peakExecMem).max / 1e6, "MB"),
      ("engine.tasks_failed", ts.count(!_.ok).toDouble, "count"))
  }

  /** Collector time of this JVM so far, in seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
}
