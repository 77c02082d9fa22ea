package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-phase task progress: `{completed}/{total}`, the reference's
  * `progress()` tuple shape (`lib/mini_hadoop/models/types.ex:14-17`). */
final case class PhaseCount(completed: Long, total: Long) {
  override def toString = s"$completed/$total"
}

/** The `job_info` polling payload — field-for-field the reference's
  * `JobExecution` runtime state (`lib/mini_hadoop/models/job_execution.ex:10-38`):
  * status / created / started / completed timestamps, elapsed, per-phase
  * progress, final results, error. `result` carries the two sink paths
  * (the reference returns its JSON + TSV output locations the same way). */
final case class JobInfo(
    jobId: String,
    name: String,
    status: String, // pending | running | completed | failed
    createdAt: Long,
    startedAt: Option[Long],
    completedAt: Option[Long],
    elapsedMs: Option[Long],
    progress: Map[String, PhaseCount], // "map" / "reduce"
    result: Option[JobResult],
    error: Option[String])

/** `get_system_status` parity (`compute_operation.ex:162-173`): queue
  * depths, concurrency cap, worker count, lifetime metrics. */
final case class SystemStatus(
    runningJobs: Int,
    pendingJobs: Int,
    maxConcurrentJobs: Int,
    activeWorkers: Int,
    totalJobsSubmitted: Long,
    totalJobsCompleted: Long,
    totalJobsFailed: Long,
    // first VirtualMachineError that escaped a job thunk, if any: the
    // pool keeps draining (a dead runner strands the queue), but the
    // heap may be corrupted — callers deciding whether to trust further
    // results read this instead of a healthy-looking counter row
    poisoned: Option[String] = None)

/** User-facing job lifecycle facade — the reference's service entry point
  * (`lib/mini_hadoop.ex:18-20,81-83`, `master/compute_operation.ex:69-96`)
  * re-expressed over the MiniJob dataflow: `submitJob` enqueues and
  * returns a job id immediately, `jobInfo(id)` polls runtime state, and a
  * bounded runner pool drains the queue at `maxConcurrentJobs` (the
  * reference ships with 1, `compute_operation.ex:9`) rejecting with
  * `queue_full` past `maxQueueSize` (`:10`, `:113-115`).
  *
  * What maps where:
  *   - the GenServer state (`job_specs` / `job_executions` / queues) →
  *     one job table (`infos`, whose statuses every list and count reads)
  *     plus a JDK `ThreadPoolExecutor` with `maxConcurrentJobs` threads
  *     over a bounded queue; Scala's types replace the reference's
  *     `is_struct(job, JobSpec)` runtime check at compile time;
  *   - per-phase progress casts (`{:job_progress, id, phase, done, total}`)
  *     → a SparkListener scoped by job group: each runner tags its Spark
  *     jobs with the graft job id (`setJobGroup`), and stages classify to
  *     the reference's two phases structurally — a stage with no parents
  *     reads input (map), a stage below a shuffle is reduce. Sort/collect
  *     stages count as reduce-side work, which is faithful: the
  *     reference's sort also happens after the reduce on the result path.
  *     Stages whose shuffle output is reused (skipped stages) keep their
  *     task totals but never run — progress is a lower bound then, same
  *     as the reference's counters when a phase short-circuits;
  *   - worker registry → Spark executors; `activeWorkers` reports
  *     `defaultParallelism` slots (local mode: cores), the scheduler
  *     owns liveness (§2.11 design stance — no re-replication to manage).
  *
  * Scale note: the facade is driver-side bookkeeping only — O(1) state
  * per job, no data movement; the heavy lifting stays in the MiniJob
  * plan, so nothing here changes between local[32] and a 1000-executor
  * cluster beyond where the listener events come from.
  */
final class MiniHadoopApi(
    spark: SparkSession,
    maxConcurrentJobs: Int = 1,
    maxQueueSize: Int = 10) extends AutoCloseable {
  require(maxConcurrentJobs >= 1, "maxConcurrentJobs must be >= 1")

  private val infos = new ConcurrentHashMap[String, JobInfo]()
  /** Monitor signalled when a runner is done with a job (terminal status
    * set); `awaitJob` waits on it. */
  private val finished = new Object
  private val poisonedFlag = new AtomicReference[String]()

  // Capacity is maxQueueSize + 1 because the reference rejects only when
  // the pending count already EXCEEDS the cap (`compute_operation.ex:113`);
  // `enqueue` checks that bound under its lock, the capacity is a backstop.
  private val pool = new ThreadPoolExecutor(maxConcurrentJobs, maxConcurrentJobs,
    0L, TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable](maxQueueSize + 1),
    (r: Runnable) => {
      val t = new Thread(r, "minihadoop-runner")
      t.setDaemon(true)
      t
    })

  // ---- progress listener (job-group-scoped stage → phase counters) ----
  private val stagePhase = new ConcurrentHashMap[Int, (String, String)]()
  private val phaseTotal = new ConcurrentHashMap[(String, String), AtomicLong]()
  private val phaseDone = new ConcurrentHashMap[(String, String), AtomicLong]()
  private def ctr(m: ConcurrentHashMap[(String, String), AtomicLong],
      k: (String, String)): AtomicLong =
    m.computeIfAbsent(k, _ => new AtomicLong())

  /** A job whose terminal prune has NOT happened yet (finishJob sets the
    * terminal status before pruning, so live-here implies any later
    * prune also covers entries inserted now). */
  private def isLive(jobId: String): Boolean =
    Option(infos.get(jobId))
      .exists(i => i.status == "pending" || i.status == "running")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val gid = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      // gate on NON-TERMINAL status, not mere presence: the listener bus
      // is async, so an onJobStart delivered after finishJob's terminal
      // prune would re-create counters that then leak forever
      gid.filter(isLive).foreach { jid =>
        e.stageInfos.foreach { si =>
          val phase = if (si.parentIds.isEmpty) "map" else "reduce"
          // a stage can appear in several Spark jobs of one graft job
          // (shuffle reuse); count its tasks once
          if (stagePhase.putIfAbsent(si.stageId, (jid, phase)) == null)
            ctr(phaseTotal, (jid, phase)).addAndGet(si.numTasks.toLong)
        }
        // close the insert/prune race: if finishJob ran between the
        // liveness read above and the inserts, its prune may have missed
        // them — re-check and re-prune (idempotent) so a terminal job
        // can never end up with resurrected entries
        if (!isLive(jid)) pruneListener(jid)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stagePhase.get(e.stageId)).foreach { case (jid, phase) =>
        if (e.reason == org.apache.spark.Success)
          ctr(phaseDone, (jid, phase)).incrementAndGet()
      }
  }
  spark.sparkContext.addSparkListener(listener)

  private def progressOf(jobId: String): Map[String, PhaseCount] =
    Seq("map", "reduce").flatMap { phase =>
      Option(phaseTotal.get((jobId, phase))).map { t =>
        val total = t.get()
        val done =
          Option(phaseDone.get((jobId, phase))).map(_.get()).getOrElse(0L)
        // phaseDone counts every SUCCESSFUL attempt; task retries and
        // speculation can finish the same partition twice — clamp so the
        // documented completed <= total contract holds
        phase -> PhaseCount(math.min(done, total), total)
      }
    }.toMap

  private def update(jobId: String)(f: JobInfo => JobInfo): Unit =
    infos.computeIfPresent(jobId, (_, info) => f(info))

  private def runJob(jobId: String, thunk: () => JobResult): Unit = {
    val t0 = System.currentTimeMillis()
    update(jobId)(_.copy(status = "running", startedAt = Some(t0)))
    // tag this thread's Spark jobs so the listener attributes stages here
    spark.sparkContext.setJobGroup(jobId, jobId, interruptOnCancel = true)
    try {
      val res = thunk()
      val t1 = System.currentTimeMillis()
      finishJob(jobId)(_.copy(status = "completed", completedAt = Some(t1),
        elapsedMs = Some(t1 - t0), result = Some(res)))
    } catch {
      // Throwable, not NonFatal: an OutOfMemoryError/LinkageError from a
      // thunk must still flip the job to `failed` (a status stuck on
      // `running` forever is the worse lie), and the runner thread lives
      // on to drain the queue. A VirtualMachineError may leave the heap
      // corrupted though, so it also sets the poisoned flag surfaced via
      // systemStatus: callers see the degraded state instead of a
      // healthy-looking counter row.
      case e: Throwable =>
        val t1 = System.currentTimeMillis()
        // M3 taxonomy classes surface verbatim in the polled error field,
        // like the reference's JobExecution.error
        finishJob(jobId)(_.copy(status = "failed", completedAt = Some(t1),
          elapsedMs = Some(t1 - t0),
          error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")))
        e match {
          case NonFatal(_) | _: InterruptedException => // close() interrupts
          case fatal =>
            System.err.println(s"[minihadoop-runner] fatal error escaped a job: $fatal")
            if (fatal.isInstanceOf[VirtualMachineError]) poisonedFlag.compareAndSet(
              null, s"${fatal.getClass.getSimpleName}: ${fatal.getMessage}")
        }
    } finally {
      spark.sparkContext.clearJobGroup()
      finished.synchronized(finished.notifyAll())
    }
  }

  /** Terminal transition: fold the live listener counters into the
    * stored JobInfo ONCE, then drop them — a long-lived facade must not
    * leak (jobId, phase) counters and stage entries per job forever.
    * `jobInfo` serves the snapshot for terminal jobs. */
  private def finishJob(jobId: String)(f: JobInfo => JobInfo): Unit = {
    val snap = progressOf(jobId)
    update(jobId)(i => f(i).copy(progress = snap))
    pruneListener(jobId)
  }

  /** Drop a job's listener counters (idempotent — also re-run from
    * onJobStart when a late event raced the terminal prune). */
  private def pruneListener(jobId: String): Unit = {
    Seq("map", "reduce").foreach { phase =>
      phaseTotal.remove((jobId, phase))
      phaseDone.remove((jobId, phase))
    }
    val it = stagePhase.entrySet().iterator()
    while (it.hasNext) if (it.next().getValue._1 == jobId) it.remove()
  }

  // ---- public API ---------------------------------------------------
  /** Enqueue a job; returns `Right(jobId)` immediately,
    * `Left("queue_full")` past the queue bound (reference semantics:
    * rejected when the PENDING count already exceeds the cap,
    * `compute_operation.ex:113`) or `Left("shutdown")` after `close()`. */
  def submitJob[K: Encoder, V](spec: JobSpec[K, V], lines: Dataset[String],
      outputDir: String)(
      implicit kvEnc: Encoder[(K, V)]): Either[String, String] =
    enqueue(spec.name, () => MiniJob.runOn(spark, spec, lines, outputDir))

  private val submitLock = new Object

  private def enqueue(name: String,
      thunk: () => JobResult): Either[String, String] =
    // Serialize submitters (the reference's GenServer does the same
    // implicitly): under the lock, bound-check → publish → execute is one
    // atomic step, so a REJECTED submit is never transiently visible as a
    // phantom pending job, while the publish still precedes the execute,
    // so a runner that takes the job at once finds its info. Runners only
    // shrink the queue, so it cannot overfill between check and execute.
    submitLock.synchronized {
      if (pool.isShutdown) Left("shutdown")
      else if (pool.getQueue.size > maxQueueSize) Left("queue_full")
      else {
        // infos only grows, and only here, so its size numbers the jobs
        val jobId = f"job_${infos.size + 1}%04d_$name"
        infos.put(jobId, JobInfo(jobId, name, "pending",
          System.currentTimeMillis(), None, None, None, Map.empty, None, None))
        pool.execute(() => runJob(jobId, thunk))
        Right(jobId)
      }
    }

  /** Test hook: drive an arbitrary thunk through the same lifecycle
    * (used to pin the fatal-error and queue-bound contracts without a
    * Spark job in the loop). */
  private[graft] def submitRaw(name: String)(
      thunk: () => JobResult): Either[String, String] = enqueue(name, thunk)

  /** Diagnostics: live listener bookkeeping entries (the pruning spec
    * asserts these drain to zero once every job is terminal). */
  private[graft] def listenerEntryCount: Int =
    stagePhase.size + phaseTotal.size + phaseDone.size

  /** File-path submit — `MiniHadoop.submit_job` over stored files:
    * multiple inputs union by concatenation (S8/§3.1 step 1-4). */
  def submitJob[K: Encoder, V](spec: JobSpec[K, V], inputPaths: Seq[String],
      outputDir: String)(
      implicit kvEnc: Encoder[(K, V)]): Either[String, String] =
    submitJob(spec, spark.read.textFile(inputPaths: _*), outputDir)

  /** `job_info/1`: `Left("not_found")` or the current execution state
    * with live per-phase progress folded in. */
  def jobInfo(jobId: String): Either[String, JobInfo] =
    Option(infos.get(jobId)) match {
      case None => Left("not_found")
      // terminal jobs serve the snapshot folded in by finishJob (the
      // live counters are pruned then); live jobs read the counters
      case Some(info) if info.status == "completed" || info.status == "failed" =>
        Right(info)
      case Some(info) => Right(info.copy(progress = progressOf(jobId)))
    }

  /** Wait until the job reaches a terminal status or the timeout lapses;
    * returns the last observed info (the caller checks `.status`). The
    * status is read under the monitor a runner signals once it is done
    * with a job, so a job finishing between the read and the wait is not
    * missed. */
  def awaitJob(jobId: String, timeoutMs: Long = 120000): Either[String, JobInfo] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    finished.synchronized {
      var last = jobInfo(jobId)
      var left = deadline - System.currentTimeMillis()
      while (left > 0 &&
          last.exists(i => i.status == "pending" || i.status == "running")) {
        finished.wait(left)
        last = jobInfo(jobId)
        left = deadline - System.currentTimeMillis()
      }
      last
    }
  }

  private def withStatus(status: String): Seq[String] =
    infos.values.asScala.collect { case i if i.status == status => i.jobId }
      .toSeq.sorted

  def listRunningJobs: Seq[String] = withStatus("running")

  def listPendingJobs: Seq[String] = withStatus("pending")

  /** Every count is read from the job table in one pass, so the four
    * status counts always add up to the submitted total. */
  def systemStatus: SystemStatus = {
    val n = infos.values.asScala.toSeq.groupMapReduce(_.status)(_ => 1L)(_ + _)
      .withDefaultValue(0L)
    SystemStatus(n("running").toInt, n("pending").toInt, maxConcurrentJobs,
      spark.sparkContext.defaultParallelism,
      n.values.sum, n("completed"), n("failed"), Option(poisonedFlag.get()))
  }

  /** Stop the runner pool (interrupting running jobs) and detach the
    * listener. Jobs still waiting in the queue stay `pending` forever
    * after close, and later submits get `Left("shutdown")` — callers
    * drain first. */
  override def close(): Unit = {
    submitLock.synchronized(pool.shutdownNow())
    spark.sparkContext.removeSparkListener(listener)
  }
}
