package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingDeque, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
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
  *     plain concurrent maps; Scala's types replace the reference's
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

  private final case class Queued(jobId: String, thunk: () => JobResult)

  private val seq = new AtomicLong()
  private val infos = new ConcurrentHashMap[String, JobInfo]()
  /** Monitor signalled when a runner is done with a job (terminal status
    * set, running list updated); `awaitJob` waits on it. */
  private val finished = new Object
  // Bounded at the queue itself so the `queue_full` check is atomic: the
  // reference serializes submits through a GenServer; here concurrent
  // submitters race, and a check-then-put against an unbounded deque can
  // overfill at the boundary. Capacity is maxQueueSize + 1 because the
  // reference rejects only when the pending count already EXCEEDS the
  // cap (`compute_operation.ex:113`).
  private val pending = new LinkedBlockingDeque[Queued](maxQueueSize + 1)
  private val pendingIds = new ConcurrentHashMap[String, java.lang.Boolean]()
  private val runningIds = new ConcurrentHashMap[String, java.lang.Boolean]()
  private val submitted = new AtomicLong()
  private val completed = new AtomicLong()
  private val failed = new AtomicLong()
  private val poisonedFlag =
    new java.util.concurrent.atomic.AtomicReference[String]()
  @volatile private var closed = false

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

  // ---- runner pool --------------------------------------------------
  private val runners = (1 to maxConcurrentJobs).map { i =>
    val t = new Thread(() => runLoop(), s"minihadoop-runner-$i")
    t.setDaemon(true)
    t.start()
    t
  }

  private def runLoop(): Unit =
    while (!closed) {
      try {
        val q = pending.poll(100, TimeUnit.MILLISECONDS)
        if (q != null) {
          pendingIds.remove(q.jobId)
          runJob(q)
        }
      } catch {
        case _: InterruptedException => return // close() interrupts: exit
        // A FATAL error from a job thunk (OutOfMemoryError, LinkageError)
        // must not silently kill the runner: runJob has already recorded
        // the job as failed before rethrowing, so log and keep draining —
        // a dead runner with maxConcurrentJobs=1 would strand every
        // queued job in `pending` forever. A VirtualMachineError may
        // leave the heap/JVM corrupted though, so it additionally sets
        // the poisoned flag surfaced via systemStatus: the facade stays
        // up, but callers can see the degraded state instead of a
        // healthy-looking counter row.
        case t: Throwable =>
          System.err.println(
            s"[minihadoop-runner] fatal error escaped a job: $t")
          t match {
            case vm: VirtualMachineError => poisonedFlag.compareAndSet(
              null, s"${vm.getClass.getSimpleName}: ${vm.getMessage}")
            case _ =>
          }
      }
    }

  private def update(jobId: String)(f: JobInfo => JobInfo): Unit =
    infos.computeIfPresent(jobId, (_, info) => f(info))

  private def runJob(q: Queued): Unit = {
    runningIds.put(q.jobId, java.lang.Boolean.TRUE)
    val t0 = System.currentTimeMillis()
    update(q.jobId)(_.copy(status = "running", startedAt = Some(t0)))
    // tag this thread's Spark jobs so the listener attributes stages here
    spark.sparkContext.setJobGroup(q.jobId, q.jobId, interruptOnCancel = true)
    try {
      val res = q.thunk()
      val t1 = System.currentTimeMillis()
      finishJob(q.jobId)(_.copy(status = "completed", completedAt = Some(t1),
        elapsedMs = Some(t1 - t0), result = Some(res)))
      completed.incrementAndGet()
    } catch {
      // Throwable, not NonFatal: an OutOfMemoryError/LinkageError from a
      // thunk must still flip the job to `failed` (a status stuck on
      // `running` forever is the worse lie) — the fatal then rethrows to
      // runLoop, which logs and keeps the runner alive.
      case e: Throwable =>
        val t1 = System.currentTimeMillis()
        // M3 taxonomy classes surface verbatim in the polled error field,
        // like the reference's JobExecution.error
        finishJob(q.jobId)(_.copy(status = "failed", completedAt = Some(t1),
          elapsedMs = Some(t1 - t0),
          error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")))
        failed.incrementAndGet()
        if (!NonFatal(e)) throw e
    } finally {
      spark.sparkContext.clearJobGroup()
      runningIds.remove(q.jobId)
      // wake awaitJob callers only now, so a woken caller sees the job
      // terminal AND off the running list
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
  /** Enqueue a job; returns `Right(jobId)` immediately or
    * `Left("queue_full")` past the queue bound (reference semantics:
    * rejected when the PENDING count already exceeds the cap,
    * `compute_operation.ex:113`). */
  def submitJob[K: Encoder, V](spec: JobSpec[K, V], lines: Dataset[String],
      outputDir: String)(
      implicit kvEnc: Encoder[(K, V)]): Either[String, String] =
    enqueue(spec.name, () => MiniJob.runOn(spark, spec, lines, outputDir))

  private val submitLock = new Object

  private def enqueue(name: String,
      thunk: () => JobResult): Either[String, String] = {
    if (closed) return Left("shutdown")
    val jobId = f"job_${seq.incrementAndGet()}%04d_$name"
    // Serialize submitters (the reference's GenServer does the same
    // implicitly): under the lock, bound-check → publish → offer is one
    // atomic step, so a REJECTED submit is never transiently visible as
    // a phantom pending job via jobInfo/listPendingJobs — infos and
    // pendingIds publish only when the job is certain to land — while
    // the publish still precedes the offer, so a runner that polls the
    // job the instant it hits the deque finds its info. Runners only
    // poll (shrink the queue), so the bound cannot overfill between the
    // check and the offer; the deque's own capacity stays as a backstop.
    submitLock.synchronized {
      // reference semantics: reject only when the pending count already
      // EXCEEDS the cap (`compute_operation.ex:113`)
      if (pending.size > maxQueueSize) return Left("queue_full")
      infos.put(jobId, JobInfo(jobId, name, "pending",
        System.currentTimeMillis(), None, None, None, Map.empty, None, None))
      pendingIds.put(jobId, java.lang.Boolean.TRUE)
      if (!pending.offer(Queued(jobId, thunk))) { // unreachable given the
        pendingIds.remove(jobId)                  // bound check; backstop
        infos.remove(jobId)
        return Left("queue_full")
      }
      submitted.incrementAndGet()
    }
    Right(jobId)
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

  def listRunningJobs: Seq[String] = {
    import scala.jdk.CollectionConverters._
    runningIds.keySet.asScala.toSeq.sorted
  }

  def listPendingJobs: Seq[String] = {
    import scala.jdk.CollectionConverters._
    pendingIds.keySet.asScala.toSeq.sorted
  }

  def systemStatus: SystemStatus =
    SystemStatus(runningIds.size, pending.size, maxConcurrentJobs,
      spark.sparkContext.defaultParallelism,
      submitted.get(), completed.get(), failed.get(),
      Option(poisonedFlag.get()))

  /** Stop the runner pool and detach the listener. Queued-but-unstarted
    * jobs stay `pending` forever after close — callers drain first. */
  override def close(): Unit = {
    closed = true
    runners.foreach(_.interrupt())
    spark.sparkContext.removeSparkListener(listener)
  }
}
