package graft.progress

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** JobExecution-style progress reporting (SURVEY §1.4).
  *
  * The reference tracks per-phase `{completed+failed}/total` counters and
  * exposes them via `job_info` polling
  * (`lib/mini_hadoop/models/job_execution.ex:10-23`,
  * `lib/mini_hadoop/models/types.ex:14-17`). Spark's equivalent signal is
  * the listener bus; this listener condenses it to the same shape:
  * per-stage (≈ phase) task counters plus job status, pollable from the
  * driver with `snapshot()`.
  *
  * The same per-stage record also sums the task metrics (wall, task time,
  * CPU, GC, shuffle, spill, input, peak execution memory), so `report()`
  * answers "is this query CPU-, spill- or IO-bound?", which wall-clock
  * alone can't. `drain()` before a `reset()`/`report()` boundary keeps a
  * prior body's late events out of the next one.
  */
final class ProgressListener extends SparkListener {

  final case class PhaseProgress(completed: Long, failed: Long, total: Long) {
    override def toString = s"${completed + failed}/$total" +
      (if (failed > 0) s" ($failed failed)" else "")
  }

  /** One stage: phase counters (`total` is 0 until the stage-submitted
    * event arrives) plus task-metric sums over its finished tasks. */
  final case class StageRecord(var name: String = "", var total: Int = 0,
    var done: Long = 0, var failed: Long = 0, var wallMs: Long = 0,
    var taskMs: Long = 0, var maxTaskMs: Long = 0, var cpuMs: Long = 0,
    var gcMs: Long = 0, var shuffleReadB: Long = 0,
    var shuffleWriteB: Long = 0, var memSpillB: Long = 0,
    var diskSpillB: Long = 0, var inputB: Long = 0,
    // max over tasks of TaskMetrics.peakExecutionMemory — the largest
    // single-task unsafe-memory footprint (hash maps, sort buffers);
    // the number that decides whether a build-side map fits an executor
    var peakExecMemB: Long = 0)

  private val stages = mutable.Map.empty[Int, StageRecord]
  @volatile private var activeJobs = 0
  @volatile private var completedJobs = 0L
  @volatile private var failedJobs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { activeJobs += 1 }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs -= 1
    e.jobResult match {
      case JobSucceeded => completedJobs += 1
      case _ => failedJobs += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, StageRecord()).total =
        e.stageInfo.numTasks
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val r = stages.getOrElseUpdate(info.stageId, StageRecord())
      r.name = info.name.takeWhile(_ != '\n').take(60)
      r.wallMs = (for {c <- info.completionTime; b <- info.submissionTime}
        yield c - b).getOrElse(0L)
    }

  private val bytesRead = new AtomicLong()
  private val recordsRead = new AtomicLong()
  private val bytesWritten = new AtomicLong()
  private val recordsWritten = new AtomicLong()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    synchronized {
      val r = stages.getOrElseUpdate(e.stageId, StageRecord())
      if (e.reason == org.apache.spark.Success) r.done += 1 else r.failed += 1
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.maxTaskMs = math.max(r.maxTaskMs, m.executorRunTime)
        r.cpuMs += m.executorCpuTime / 1000000L
        r.gcMs += m.jvmGCTime
        r.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        r.memSpillB += m.memoryBytesSpilled
        r.diskSpillB += m.diskBytesSpilled
        r.inputB += m.inputMetrics.bytesRead
        r.peakExecMemB = math.max(r.peakExecMemB, m.peakExecutionMemory)
      }
    }
    // ingest/egest byte counters (reference S4: FileTask percent for
    // store/retrieve — file_operation.ex:48-50, models/file_task.ex:43-58).
    // Task metrics are the per-split analog of the reference's per-chunk
    // counter; summing them as tasks finish gives the same monotonic
    // percent signal, polled while a read or write job runs.
    Option(m).foreach { m =>
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  final case class IngestProgress(bytesRead: Long, recordsRead: Long,
      bytesWritten: Long, recordsWritten: Long) {
    /** FileTask-style percent of an expected byte total (store = expected
      * output size, retrieve = source file size). */
    def percentOf(expectedBytes: Long, written: Boolean = true): Double =
      if (expectedBytes <= 0) 100.0
      else math.min(100.0,
        (if (written) bytesWritten else bytesRead) * 100.0 / expectedBytes)
  }

  /** Cumulative IO counters across finished tasks. */
  def ingest(): IngestProgress =
    IngestProgress(bytesRead.get(), recordsRead.get(),
      bytesWritten.get(), recordsWritten.get())

  /** Per-stage progress in the reference's `%{map: {done,total}}` spirit. */
  def snapshot(): Map[Int, PhaseProgress] = synchronized {
    stages.collect { case (id, r) if r.total > 0 =>
      id -> PhaseProgress(r.done, r.failed, r.total.toLong)
    }.toMap
  }

  /** A copy of every stage record seen since the last `reset()`. */
  def stageRecords(): Map[Int, StageRecord] = synchronized {
    stages.map { case (id, r) => id -> r.copy() }.toMap
  }

  def jobCounts: (Int, Long, Long) = (activeJobs, completedJobs, failedJobs)

  private def gb(b: Long) = f"${b / 1e9}%.1f"

  /** Print the top-N stages by summed task time, then totals. */
  def report(top: Int = 12): Unit = {
    val rows = stageRecords()
    println("[stagestats] stage tasks wall_s task_s maxtask_s cpu_s gc_s " +
      "shufR_GB shufW_GB spillMem_GB spillDisk_GB input_GB peakMem_MB name")
    rows.toSeq.sortBy(-_._2.taskMs).take(top).foreach { case (id, a) =>
      println(f"[stagestats] $id%5d ${a.done + a.failed}%5d ${a.wallMs / 1e3}%6.1f " +
        f"${a.taskMs / 1e3}%7.1f ${a.maxTaskMs / 1e3}%9.1f " +
        f"${a.cpuMs / 1e3}%7.1f ${a.gcMs / 1e3}%5.1f " +
        f"${gb(a.shuffleReadB)}%8s ${gb(a.shuffleWriteB)}%8s " +
        f"${gb(a.memSpillB)}%11s ${gb(a.diskSpillB)}%12s " +
        f"${gb(a.inputB)}%8s ${a.peakExecMemB / 1048576}%10d ${a.name}")
    }
    val t = rows.values
    println(f"[stagestats] TOTAL stages=${rows.size} " +
      f"task_s=${t.map(_.taskMs).sum / 1e3}%.1f cpu_s=${t.map(_.cpuMs).sum / 1e3}%.1f " +
      f"gc_s=${t.map(_.gcMs).sum / 1e3}%.1f " +
      f"shufR_GB=${gb(t.map(_.shuffleReadB).sum)} " +
      f"shufW_GB=${gb(t.map(_.shuffleWriteB).sum)} " +
      f"spillDisk_GB=${gb(t.map(_.diskSpillB).sum)} " +
      f"peakMem_MB=${(if (t.isEmpty) 0L else t.map(_.peakExecMemB).max) / 1048576}")
  }

  /** Forget every stage record; job and ingest counters keep counting. */
  def reset(): Unit = synchronized { stages.clear() }

  /** Block until every event posted so far has reached the listeners, so
    * a following `reset()` cannot be overtaken by a late delivery and a
    * following `report()` sees every finished task. */
  def drain(spark: SparkSession): Unit =
    Bridge.drainListenerBus(spark.sparkContext)
}

object ProgressListener {
  /** Attach a fresh listener to the session's bus and return it. */
  def attach(spark: SparkSession): ProgressListener = {
    val l = new ProgressListener
    spark.sparkContext.addSparkListener(l)
    l
  }
}
