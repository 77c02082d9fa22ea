package graft

import graft.core.{JobSpec, MiniHadoopApi, SortOpt}
import graft.examples.WordCount
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files
import java.util.concurrent.CountDownLatch

/** Gate a mapper on a JVM-wide latch: local mode deserializes the closure
  * in the same JVM, so the companion's latch is shared with the test. */
object ApiGate {
  @volatile var latch: CountDownLatch = new CountDownLatch(0)
}

/** Drives the reference-shaped lifecycle facade (SURVEY §3.1 entry point,
  * `lib/mini_hadoop.ex:18-20,81-83`): submit → poll `job_info` → result
  * paths, queue bound, failure surfacing, progress tuples. */
class MiniHadoopApiSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-api-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  test("submit → poll → result drives WordCount end-to-end") {
    import spark.implicits._
    val api = new MiniHadoopApi(spark)
    try {
      val out = Files.createTempDirectory("graft-api").toString
      val lines = Seq("hello world", "hello spark").toDS()
      val id = api.submitJob(WordCount.spec(Some(SortOpt.Default)), lines, out)
        .toOption.get
      assert(id.contains("word_count"))
      val info = api.awaitJob(id).toOption.get
      assert(info.status == "completed", info)
      assert(info.startedAt.nonEmpty && info.completedAt.nonEmpty &&
        info.elapsedMs.nonEmpty)
      val res = info.result.get
      assert(res.entries == 3) // hello=2, world=1, spark=1
      assert(new File(res.jsonPath).exists && new File(res.txtPath).exists)
      // progress in the reference's per-phase {completed, total} shape
      assert(info.progress.contains("map") && info.progress.contains("reduce"))
      val m = info.progress("map")
      assert(m.total > 0 && m.completed > 0 && m.completed <= m.total)
      val st = api.systemStatus
      assert(st.totalJobsSubmitted == 1 && st.totalJobsCompleted == 1 &&
        st.totalJobsFailed == 0)
      assert(st.maxConcurrentJobs == 1 && st.activeWorkers > 0)
      assert(api.jobInfo("nope") == Left("not_found"))
    } finally api.close()
  }

  test("bounded queue rejects with queue_full; queued jobs then drain") {
    import spark.implicits._
    val api = new MiniHadoopApi(spark, maxConcurrentJobs = 1, maxQueueSize = 0)
    try {
      val out = Files.createTempDirectory("graft-api-q").toString
      ApiGate.latch = new CountDownLatch(1)
      val gated = JobSpec[String, Long]("gated",
        line => { ApiGate.latch.await(); Seq(line -> 1L) },
        (k, vs) => Iterator.single(k -> vs.sum))
      val lines = Seq("x").toDS()
      val id1 = api.submitJob(gated, lines, out).toOption.get
      // wait until the runner has DEQUEUED job1 (status running, queue empty)
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        !api.listRunningJobs.contains(id1)) Thread.sleep(20)
      assert(api.listRunningJobs == Seq(id1))
      // queue bound 0: one pending job is allowed, the next is rejected
      val plain = JobSpec[String, Long]("plain",
        line => Seq(line -> 1L), (k, vs) => Iterator.single(k -> vs.sum))
      val id2 = api.submitJob(plain, lines, out).toOption.get
      assert(api.listPendingJobs == Seq(id2))
      assert(api.submitJob(plain, lines, out) == Left("queue_full"))
      assert(api.jobInfo(id2).toOption.get.status == "pending")
      // release the gate: both jobs complete in order
      ApiGate.latch.countDown()
      assert(api.awaitJob(id1).toOption.get.status == "completed")
      assert(api.awaitJob(id2).toOption.get.status == "completed")
      assert(api.listPendingJobs.isEmpty && api.listRunningJobs.isEmpty)
      val st = api.systemStatus
      assert(st.totalJobsSubmitted == 2 && st.totalJobsCompleted == 2)
    } finally api.close()
  }

  test("awaitJob wakes when the job finishes, well before its timeout") {
    val api = new MiniHadoopApi(spark)
    try {
      val gate = new CountDownLatch(1)
      val id = api.submitRaw("late")(() => {
        gate.await()
        graft.core.JobResult("j", "t", sorted = false, entries = 1)
      }).toOption.get
      @volatile var got: Either[String, graft.core.JobInfo] = Left("unset")
      val waiter = new Thread(() => got = api.awaitJob(id, timeoutMs = 60000))
      waiter.start()
      // finish the job only once the waiter is parked inside awaitJob
      val deadline = System.currentTimeMillis() + 10000
      while (waiter.getState != Thread.State.TIMED_WAITING &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
      assert(waiter.getState == Thread.State.TIMED_WAITING)
      val t0 = System.nanoTime()
      gate.countDown()
      waiter.join(60000)
      val wokeMs = (System.nanoTime() - t0) / 1e6
      assert(!waiter.isAlive)
      assert(got.toOption.get.status == "completed", got)
      assert(wokeMs < 5000, s"waiter woke ${wokeMs} ms after the job finished")
    } finally api.close()
  }

  test("a FATAL thunk error marks the job failed and the runner keeps draining") {
    val api = new MiniHadoopApi(spark)
    try {
      val id = api.submitRaw("fatal")(() =>
        throw new OutOfMemoryError("synthetic")).toOption.get
      val info = api.awaitJob(id).toOption.get
      // not stuck on 'running': the Throwable catch records the failure
      // before rethrowing the fatal to the (surviving) run loop
      assert(info.status == "failed", info)
      assert(info.error.exists(_.contains("OutOfMemoryError")), info.error)
      val ok = api.submitRaw("after")(() =>
        graft.core.JobResult("j", "t", sorted = false, entries = 1)).toOption.get
      assert(api.awaitJob(ok).toOption.get.status == "completed",
        "runner thread died on the fatal — queue no longer drains")
    } finally api.close()
  }

  test("concurrent submitters cannot overfill the bounded queue") {
    import scala.jdk.CollectionConverters._
    val api = new MiniHadoopApi(spark, maxConcurrentJobs = 1, maxQueueSize = 3)
    try {
      ApiGate.latch = new CountDownLatch(1)
      api.submitRaw("gate")(() => {
        ApiGate.latch.await()
        graft.core.JobResult("j", "t", sorted = false, entries = 0)
      })
      // wait for the runner to take the gate job off the queue
      val deadline = System.currentTimeMillis() + 5000
      while (api.listRunningJobs.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, String]]()
      val threads = (1 to 16).map(i => new Thread(() => {
        results.add(api.submitRaw(s"c$i")(() =>
          graft.core.JobResult("j", "t", sorted = false, entries = 0)))
        ()
      }))
      threads.foreach(_.start()); threads.foreach(_.join())
      val rs = results.asScala.toSeq
      val accepted = rs.count(_.isRight)
      assert(rs.count(_ == Left("queue_full")) == 16 - accepted)
      // reference bound: reject once pending EXCEEDS maxQueueSize —
      // the deque's capacity (maxQueueSize + 1) enforces it atomically
      assert(accepted <= 4, s"queue overfilled: $accepted accepted")
      assert(api.listPendingJobs.size <= 4)
      ApiGate.latch.countDown()
      rs.collect { case Right(id) => id }.foreach { id =>
        assert(api.awaitJob(id).toOption.get.status == "completed") }
    } finally api.close()
  }

  test("terminal jobs keep a progress snapshot while listener bookkeeping drains") {
    import spark.implicits._
    val api = new MiniHadoopApi(spark)
    try {
      val out = Files.createTempDirectory("graft-api-prune").toString
      val lines = Seq("alpha beta", "alpha gamma").toDS()
      val id = api.submitJob(WordCount.spec(Some(SortOpt.Default)), lines, out)
        .toOption.get
      val info = api.awaitJob(id).toOption.get
      assert(info.status == "completed")
      // the snapshot folded in at the terminal transition still serves
      assert(info.progress.contains("map"))
      val again = api.jobInfo(id).toOption.get
      assert(again.progress == info.progress)
      // …while the per-(job, phase) counters and stage entries are gone:
      // a long-lived facade must not leak bookkeeping per job forever
      Thread.sleep(300) // let any in-flight listener events settle
      assert(api.listenerEntryCount == 0,
        s"${api.listenerEntryCount} listener entries leaked")
    } finally api.close()
  }

  test("a crashing mapper fails the job and surfaces in info + metrics") {
    import spark.implicits._
    val api = new MiniHadoopApi(spark)
    try {
      val out = Files.createTempDirectory("graft-api-f").toString
      val boom = JobSpec[String, Long]("boom",
        _ => throw new RuntimeException("kaboom"),
        (k, vs) => Iterator.single(k -> vs.sum))
      val id = api.submitJob(boom, Seq("x").toDS(), out).toOption.get
      val info = api.awaitJob(id).toOption.get
      assert(info.status == "failed", info)
      assert(info.error.nonEmpty && info.completedAt.nonEmpty)
      assert(api.systemStatus.totalJobsFailed == 1)
    } finally api.close()
  }

  test("after close a queued job stays pending, submits get shutdown, counts add up") {
    val api = new MiniHadoopApi(spark, maxConcurrentJobs = 1, maxQueueSize = 2)
    val gate = new CountDownLatch(1)
    val done = () => graft.core.JobResult("j", "t", sorted = false, entries = 0)
    try {
      val running = api.submitRaw("gate")(() => { gate.await(); done() }).toOption.get
      val deadline = System.currentTimeMillis() + 10000
      while (!api.listRunningJobs.contains(running) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      val queued = api.submitRaw("queued")(done).toOption.get
      assert(api.listPendingJobs == Seq(queued))
      api.close()
      gate.countDown()
      assert(api.submitRaw("late")(done) == Left("shutdown"))
      // the running job reaches a terminal status; the queued one never runs
      assert(api.awaitJob(running, 10000).toOption.get.status != "running")
      Thread.sleep(200)
      assert(api.jobInfo(queued).toOption.get.status == "pending")
      val st = api.systemStatus
      assert(st.totalJobsSubmitted == 2 && st.pendingJobs == 1 && st.runningJobs == 0)
      assert(st.runningJobs + st.pendingJobs + st.totalJobsCompleted +
        st.totalJobsFailed == st.totalJobsSubmitted, st)
    } finally { gate.countDown(); api.close() }
  }
}
