package graftbench

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The traced run's per-layer recorder: one SparkListener (jobs, stages,
  * tasks), one QueryExecutionListener (Catalyst phases) and one
  * StreamingQueryListener (micro-batch phases and state). Nothing here is
  * registered on untraced runs.
  *
  * Jobs are attributed to operations by the Spark job tags the client
  * thread sets (`SparkContext.addJobTag`, which reaches every job the
  * thread starts, SQL or not) or, for MiniJob runs, by the MiniHadoopApi
  * job-group id. Every read drains the listener bus first, so no event of
  * a finished operation is still in flight.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Job

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  /** Completed stages and their tasks' executor run times (ms). */
  private val stages = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var peakTaskMem = 0L
  private val phases = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var executions = 0
  val batches = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags")))
        .map(_.split(",").toSet).getOrElse(Set.empty)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      val mat = e.stageInfos.exists(_.name.contains("Materialize.scala"))
      jobs(e.jobId) = Job(e.time, -1L, tags, group, mat)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stages.getOrElseUpdate(e.stageInfo.stageId, mutable.ArrayBuffer.empty)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        stages.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        acc("tasks") += 1
        acc("cpu_s") += m.executorCpuTime / 1e9
        acc("run_s") += m.executorRunTime / 1e3
        acc("gc_s") += m.jvmGCTime / 1e3
        acc("input_mb") += m.inputMetrics.bytesRead / 1e6
        acc("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        acc("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        acc("spill_mb") += m.diskBytesSpilled / 1e6
        peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      executions += 1
      qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs / 1e3 }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { batches += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = BenchBridge.drain(spark.sparkContext)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Forget everything seen so far (after a drain, so nothing is late). */
  def reset(): Unit = { drain(); synchronized {
    jobs.clear(); stages.clear(); acc.clear(); phases.clear(); batches.clear()
    peakTaskMem = 0L; executions = 0
  } }

  /** Jobs carrying the given job tag. */
  def jobsTagged(tag: String): Seq[Job] = { drain(); synchronized {
    jobs.values.filter(_.tags.exists(_.endsWith(tag))).toSeq
  } }

  /** Jobs run under the given job group. */
  def jobsInGroup(group: String): Seq[Job] = { drain(); synchronized {
    jobs.values.filter(_.group == group).toSeq
  } }

  /** The section totals since the last reset, for a section of `wallS`. */
  def summary(wallS: Double, cores: Int): Map[String, Double] = { drain(); synchronized {
    val done = jobs.values.filter(_.end >= 0).toSeq.sortBy(_.start)
    var busyMs = 0L
    var curS = -1L
    var curE = -1L
    done.foreach { j =>
      if (j.start > curE) { busyMs += curE - curS; curS = j.start; curE = j.end }
      else curE = math.max(curE, j.end)
    }
    busyMs += curE - curS
    val busy = busyMs / 1e3
    val skew = stages.values.filter(_.size >= 4).map { s =>
      val r = s.sorted
      r.last.toDouble / math.max(1L, r(r.size / 2))
    }.maxOption.getOrElse(0.0)
    val mat = done.filter(_.mat)
    Map(
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> acc("tasks"),
      "sched.job_busy_s" -> busy,
      "sched.driver_gap_s" -> math.max(0.0, wallS - busy),
      "exec.task_cpu_s" -> acc("cpu_s"),
      "exec.task_run_s" -> acc("run_s"),
      "exec.gc_s" -> acc("gc_s"),
      "exec.core_util" -> acc("run_s") / (wallS * cores),
      "exec.input_mb" -> acc("input_mb"),
      "exec.shuffle_read_mb" -> acc("shuffle_read_mb"),
      "exec.shuffle_write_mb" -> acc("shuffle_write_mb"),
      "exec.spill_mb" -> acc("spill_mb"),
      "exec.peak_task_mem_mb" -> peakTaskMem / 1e6,
      "exec.skew_max" -> skew,
      "mat.jobs" -> mat.size.toDouble,
      "mat.s" -> mat.map(j => j.end - j.start).sum / 1e3,
      "plan.analysis_s" -> phases("analysis"),
      "plan.optimization_s" -> phases("optimization"),
      "plan.planning_s" -> phases("planning"),
      "plan.executions" -> executions.toDouble)
  } }
}

object Tracer {
  /** A job's start and end (-1 while running), tags, group, and whether
    * one of its stages was called from `Materialize.scala`. */
  final case class Job(start: Long, var end: Long, tags: Set[String],
      group: String, mat: Boolean)
}
