package graft.tools

import graft.Session
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger
import scala.sys.process._

/** Fault-injection receipt (r11 verdict ask #6, mirroring the
  * reference's worker-failure test): run a kernel-shaped query on a
  * REAL multi-JVM `local-cluster[2,4,4g]`, SIGKILL one executor JVM
  * mid-query, and assert the query completes with an output
  * fingerprint identical to the undisturbed run — the "Spark task
  * retry + stage resubmission subsume the reference's worker-failure
  * handling" divergence note in SURVEY §2.11, turned into a measured
  * receipt.
  *
  * The query is the pinned KernelCanary cell (deterministic output —
  * 375k pairs — shuffle-heavy, multi-stage), run under
  * `graft.materialize=reliable`: on a real cluster the eager
  * localCheckpoint mode stores its blocks ON executors, where they die
  * with the process and are non-recomputable by design (lineage is
  * truncated) — reliable mode's parquet round-trip on shared storage
  * is the documented multi-node setting (`Materialize` scaladoc), and
  * this tool is exactly the scenario that makes it so. Shuffle files
  * lost with the executor exercise the other recovery path:
  * FetchFailed → stage resubmission → deterministic recompute.
  *
  * Usage (the standalone Worker's launcher needs both envs to build
  * the executor command):
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     tools/run.sh graft.tools.FaultInject
  * Prints one JSON line; exits nonzero on any mismatch.
  */
object FaultInject {

  /** A cell that crosses the GroupB salting threshold — the r12 verdict
    * note that the canary cell sits BELOW every salting threshold by
    * construction (deliberately, as a determinism pin), so no kill had
    * ever landed mid-flight in the group-salted enumeration / verify
    * stages that carry the production dedup path. A 1500-doc identical
    * clique forces every clique token's prefix posting list to
    * 1500 > 1024 = GroupB (g = 2): the hot-frame broadcast, the salted
    * (r, gx, gy) exchanges and the C(1500,2) ≈ 1.12M-pair enumeration
    * + exact verify all execute; 60k background family docs keep the
    * cold path busy alongside. Output is deterministic (same XOR
    * fingerprint contract as the canary cell). */
  def saltedCell(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val cliqueText = (1 to 50).map(i => s"c$i").mkString(" ")
    val docs = spark.range(60000L).select(
      col("id").as("doc_id"),
      when(col("id") < 1500L, lit(cliqueText)).otherwise(expr(
        s"""array_join(concat(
           |  transform(sequence(0, 49),
           |    j -> concat('w', pmod(xxhash64(id div 4 * 2654435761L
           |                                   + j * 1315423911L), 50000))),
           |  transform(sequence(0, 2),
           |    j -> concat('w', pmod(xxhash64(id * 97L + j * 7919L
           |                                   + 1234567L), 50000)))
           |), ' ')""".stripMargin)).as("text"))
    graft.operators.DedupOps.prefixFilterPairsOn(
      graft.operators.DedupOps.hashedWordSetsOf(docs), 0.8)
  }

  def main(args: Array[String]): Unit = args.headOption match {
    // `stream`: executor SIGKILL mid-micro-batch through the staged-swap
    // streaming sinks; `streamdriver`: driver halt inside the
    // delete-vs-rename commit window + restart-from-checkpoint;
    // `streamvictim`: internal — the forked driver-kill victim process
    case Some("stream")       => streamExecutorMode()
    case Some("streamdriver") => streamDriverMode()
    case Some("streamvictim") => streamVictim(args)
    case other                => batchMode(other.contains("salted"))
  }

  /** JDK17 module opens + classpath a forked JVM needs — shared with
    * [[graft.Session]]'s local-cluster wiring (one list to update on a
    * Spark upgrade, r14 review finding #5). */
  private def addOpens: String = Session.executorAddOpens
  private def cp: String = Session.executorCp

  /** An executor JVM of THIS application, found by pid: comm must be
    * `java` (a bare `pgrep -f` also matches this tool's bash wrapper,
    * whose cmdline contains the pattern — first flaky run killed pid
    * 354, a non-executor) and the cmdline must carry this app's
    * `--app-id`, so a second Spark app on the box can never lose an
    * executor to this tool. ONE definition for both kill modes (r14
    * review finding #4). */
  private def executorPidOf(appId: String): String =
    try Seq("bash", "-c",
      "for p in $(pgrep -f CoarseGrainedExecutorBackend); do " +
        "[ \"$(cat /proc/$p/comm 2>/dev/null)\" = java ] " +
        s"&& tr '\\0' ' ' < /proc/$$p/cmdline 2>/dev/null " +
        s"| grep -q -- '$appId' " +
        "&& echo $p && break; done").!!.trim
    catch { case _: Throwable => "" }

  /** Real multi-JVM session: two 4-core 4g executor processes. */
  private def clusterSession(app: String) = {
    val spark = Session.builder(app)
      .master("local-cluster[2,4,4096]")
      .config("spark.executor.memory", "4g")
      .config("spark.executor.extraClassPath", cp)
      .config("spark.executor.extraJavaOptions", addOpens)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def batchMode(salted: Boolean): Unit = {
    val spark = clusterSession("graft-faultinject")
    // multi-node discipline: executor-resident checkpoint blocks die
    // with the executor; route materialize through shared storage
    spark.conf.set("graft.materialize", "reliable")

    val removed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet()
    })

    // order-independent fingerprint of the deterministic cell (XOR, not
    // sum: summing 375k pseudo-random longs overflows under ANSI mode)
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(doc_a, doc_b, cast(jac * 1e9 as long)))")
          .as("h")).head()
      (r.getLong(0), r.getLong(1))
    }

    def cell(): DataFrame =
      if (salted) saltedCell(spark) else KernelCanary.build(spark)

    def timedRun(): ((Long, Long), Double) = {
      val t0 = System.nanoTime()
      val fp = fingerprint(cell())
      (fp, (System.nanoTime() - t0) / 1e9)
    }

    // wait for executors to register, then baseline (undisturbed)
    while (spark.sparkContext.getExecutorMemoryStatus.size < 3)
      Thread.sleep(200) // driver + 2 executors
    val (fpBase, wallBase) = timedRun()

    // fault run: SIGKILL one executor JVM once the query is mid-flight
    val removedBefore = removed.get()
    @volatile var killedPid = ""
    val appId = spark.sparkContext.applicationId
    def executorPid(): String = executorPidOf(appId)
    @volatile var queryDone = false
    @volatile var killAtS = -1.0
    @volatile var killStages = ""
    val killer = new Thread(() => {
      val tracker = spark.sparkContext.statusTracker
      while (tracker.getActiveJobIds().isEmpty && !queryDone)
        Thread.sleep(100)
      val tQ = System.nanoTime() // ≈ fault-run first job start
      // let some tasks finish so shuffle output exists and is then lost
      Thread.sleep(math.max(1000L, (wallBase * 0.3 * 1000).toLong))
      // kill, then verify the scheduler actually saw the removal —
      // retry on a fresh pid if not. Gate on the DONE flag, not on
      // getActiveJobIds(): the cell runs several jobs back-to-back and
      // the active list is momentarily empty between them (a prior run
      // exited here without ever killing).
      var attempts = 0
      while (removed.get() == removedBefore && attempts < 3 && !queryDone) {
        val p = executorPid()
        if (p.nonEmpty) {
          killedPid = p
          // timestamp + active stages at the kill, so the receipt can
          // show WHERE in the query the executor died (the salted cell's
          // window is dominated by the enumeration/verify stages)
          killAtS = (System.nanoTime() - tQ) / 1e9
          killStages = tracker.getActiveStageIds().sorted.mkString("+")
          Seq("kill", "-9", p).!
          val deadline = System.nanoTime() + 8L * 1000000000L
          while (removed.get() == removedBefore && !queryDone &&
              System.nanoTime() < deadline) Thread.sleep(200)
        } else Thread.sleep(500)
        attempts += 1
      }
    }, "executor-killer")
    killer.start()
    val (fpFault, wallFault) = timedRun()
    queryDone = true
    killer.join()

    val sawRemoval = removed.get() > removedBefore
    val ok = killedPid.nonEmpty && sawRemoval && fpBase == fpFault
    println(
      s"""{"metric":"faultinject","cluster":"local-cluster[2,4,4g]",""" +
        s""""cell":"${if (salted) "salted" else "canary"}",""" +
        f""""kill_at_s":$killAtS%.1f,"stages_at_kill":"$killStages",""" +
        s""""killed_pid":"$killedPid","executor_removed":$sawRemoval,""" +
        s""""rows_base":${fpBase._1},"rows_fault":${fpFault._1},""" +
        s""""hash_base":${fpBase._2},"hash_fault":${fpFault._2},""" +
        f""""wall_base_s":$wallBase%.1f,"wall_fault_s":$wallFault%.1f,""" +
        s""""identical":${fpBase == fpFault},"pass":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  // ───────────────────────── streaming fault receipts (r13 ask #4) ──

  /** Deterministic hour-chunked event fixture (the shape of the 10M-event
    * streaming receipts in BASELINE.md, smaller): `chunks` event-time
    * hours, 4 files per chunk written sequentially so
    * `maxFilesPerTrigger=4` replays exactly one chunk per micro-batch in
    * event-time order. */
  private def genEventChunks(spark: org.apache.spark.sql.SparkSession,
      dir: String, n: Long, chunks: Int): Unit = {
    val perChunk = n / chunks
    (0 until chunks).foreach { c =>
      spark.range(c * perChunk, (c + 1) * perChunk)
        .select(
          col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + // 2024-01-01 00:00 UTC
            (col("id") * lit(3600L * 1000000L * chunks / n))).as("ts"),
          pmod(xxhash64(col("id")), lit(5000L)).as("user_id"),
          element_at(array(lit("signup"), lit("view"), lit("click"),
            lit("purchase")),
            (pmod(xxhash64(col("id") * 31), lit(4)) + 1).cast("int"))
            .as("event_type"),
          (pmod(xxhash64(col("id") * 17), lit(1000)) / lit(100.0)).as("value"))
        .coalesce(4)
        .write.mode(if (c == 0) "overwrite" else "append").parquet(dir)
    }
  }

  private def fileStream(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(dir)
  }

  /** Order-independent value fingerprint of a rollup view. Exact columns
    * hash raw; `total` is a SUM of doubles whose association order is
    * run-dependent (3 decimals ≈ 1e8× the worst-case drift of a 1M-term
    * double sum, so rounding is safe); the HLL sketch hashes by ESTIMATE,
    * not bytes — register content is merge-order-independent but the
    * serialized mode byte layout is not (the r11 e17 lesson). */
  private def rollupFingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(col("event_type"), col("day"), col("cnt"),
        round(col("total"), 3).as("total"), col("lo"), col("hi"),
        expr("hll_sketch_estimate(sk)").as("users"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(event_type, day, cnt, total, lo, hi, users))")
          .as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The same per-(type, day) rollup computed in one batch pass — the
    * semantic ground truth the streamed view must reproduce. */
  private def rollupBatch(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): DataFrame =
    spark.read.parquet(dataDir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value"), col("user_id"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("cnt"), sum("value").as("total"),
        min("value").as("lo"), max("value").as("hi"),
        expr("hll_sketch_agg(user_id, 12)").as("sk"))

  /** Bit-exact fingerprint of an upsert snapshot: the merge moves rows
    * verbatim (no arithmetic), so base and fault runs must agree to the
    * last bit. */
  private def upsertFingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(k, event_type, value))").as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Executor SIGKILL mid-micro-batch on `local-cluster[2,4,4g]`,
    * through BOTH staged-swap sinks: `rollupStream` (additive merge,
    * batchId replay marker) and `upsertStream` (idempotent keyed merge).
    * Each sink runs an undisturbed baseline, then a fault run whose
    * killer lands once ≥2 commits exist AND stages are active; the
    * fault view must fingerprint-identical to the baseline view, and
    * the rollup view must also equal a one-pass batch recompute.
    *
    * Usage: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    *   tools/run.sh graft.tools.FaultInject stream */
  def streamExecutorMode(): Unit = {
    val spark = clusterSession("graft-faultinject-stream")
    val removed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet()
    })
    while (spark.sparkContext.getExecutorMemoryStatus.size < 3)
      Thread.sleep(200)
    val base = java.nio.file.Files
      .createTempDirectory("graft-faultstream").toString
    val dataDir = s"$base/events"
    genEventChunks(spark, dataDir, 2000000L, 8)

    val appId = spark.sparkContext.applicationId
    def executorPid(): String = executorPidOf(appId)

    /** Start `sink`, optionally kill one executor once ≥2 micro-batches
      * have committed and stages are running, drain, and report
      * (wall, batches, killAt, stagesAtKill). */
    def runStream(tag: String, kill: Boolean)(
        sink: () => org.apache.spark.sql.streaming.StreamingQuery)
        : (Double, Int, Double, String) = {
      val removedBefore = removed.get()
      val t0 = System.nanoTime()
      val q = sink()
      @volatile var killAtS = -1.0
      @volatile var killStages = ""
      @volatile var done = false
      val killer = if (!kill) None else Some(new Thread(() => {
        val tracker = spark.sparkContext.statusTracker
        var attempts = 0
        while (removed.get() == removedBefore && attempts < 40 && !done) {
          // snapshot the active stages in the same poll that gates the
          // kill: a sub-second stage can finish between a fresh re-read
          // and the SIGKILL, recording a misleading empty stage list
          val stagesNow = tracker.getActiveStageIds()
          if (q.recentProgress.length >= 2 && stagesNow.nonEmpty) {
            val p = executorPid()
            if (p.nonEmpty) {
              killAtS = (System.nanoTime() - t0) / 1e9
              killStages = stagesNow.sorted.mkString("+")
              Seq("kill", "-9", p).!
              val deadline = System.nanoTime() + 8L * 1000000000L
              while (removed.get() == removedBefore && !done &&
                  System.nanoTime() < deadline) Thread.sleep(100)
            }
          }
          Thread.sleep(200); attempts += 1
        }
      }, s"executor-killer-$tag"))
      killer.foreach(_.start())
      q.processAllAvailable()
      done = true
      killer.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.length
      q.stop()
      require(!kill || removed.get() > removedBefore,
        s"$tag: no executor removal was observed — the kill never landed")
      (wall, batches, killAtS, killStages)
    }

    // rollup: baseline → fault(+kill) → batch recompute
    def rollupView(tag: String, kill: Boolean) = {
      val r = runStream(tag, kill)(() => graft.streaming.EventStreams
        .rollupStream(fileStream(spark, dataDir),
          s"$base/view-$tag.parquet", s"$base/ckpt-$tag"))
      (rollupFingerprint(spark.read.parquet(s"$base/view-$tag.parquet")), r)
    }
    val (fpRollBase, _) = rollupView("rollbase", kill = false)
    val (fpRollFault, (_, rollBatches, rollKillAt, rollStages)) =
      rollupView("rollfault", kill = true)
    val fpRollBatch = rollupFingerprint(rollupBatch(spark, dataDir))

    // upsert: event_id-keyed (unique per batch by construction, so the
    // snapshot is deterministic and the fingerprint bit-exact)
    def upsertView(tag: String, kill: Boolean) = {
      val r = runStream(tag, kill)(() => graft.streaming.EventStreams
        .upsertStream(fileStream(spark, dataDir)
          .select(col("event_id").as("k"), col("event_type"), col("value")),
          "k", s"$base/up-$tag.parquet", s"$base/ckpt-up-$tag"))
      (upsertFingerprint(spark.read.parquet(s"$base/up-$tag.parquet")), r)
    }
    val (fpUpBase, _) = upsertView("upbase", kill = false)
    val (fpUpFault, (_, upBatches, upKillAt, upStages)) =
      upsertView("upfault", kill = true)

    val ok = fpRollBase == fpRollFault && fpRollFault == fpRollBatch &&
      fpUpBase == fpUpFault
    println(
      s"""{"metric":"faultinject_stream","cluster":"local-cluster[2,4,4g]",""" +
        s""""events":2000000,"chunks":8,""" +
        f""""rollup":{"batches":$rollBatches,"kill_at_s":$rollKillAt%.1f,"stages_at_kill":"$rollStages","rows":${fpRollBase._1},"hash_base":${fpRollBase._2},"hash_fault":${fpRollFault._2},"hash_batch":${fpRollBatch._2},"fault_eq_base":${fpRollBase == fpRollFault},"eq_batch_recompute":${fpRollFault == fpRollBatch}},""" +
        f""""upsert":{"batches":$upBatches,"kill_at_s":$upKillAt%.1f,"stages_at_kill":"$upStages","rows":${fpUpBase._1},"hash_base":${fpUpBase._2},"hash_fault":${fpUpFault._2},"bit_identical":${fpUpBase == fpUpFault}},""" +
        s""""pass":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Driver kill + restart-from-checkpoint: a forked victim JVM runs
    * `rollupStream` and HALTS (SIGKILL-equivalent `Runtime.halt`, via
    * its own [[CrashOnDeleteFs]]) inside the delete-vs-rename commit
    * window of batch 4 — the exact torn state `swapSnapshot`'s recovery
    * branch claims to survive. The parent verifies the torn state ON
    * DISK (staging present, target absent), restarts a fresh victim
    * from the same checkpoint, and requires the final view to
    * fingerprint equal to a one-pass batch recompute. That equality
    * needs both recovery steps: a restart that dropped the orphaned
    * staging would rebuild the view from batch 4 alone (batches 0–3
    * lost), and one that re-merged the re-delivered batch 4 instead of
    * marker-skipping it would count it twice. Three passes.
    *
    * Usage: tools/run.sh graft.tools.FaultInject streamdriver */
  def streamDriverMode(): Unit = {
    val spark = Session.builder("graft-faultinject-driver")
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files
      .createTempDirectory("graft-faultdriver").toString
    val dataDir = s"$base/events"
    genEventChunks(spark, dataDir, 400000L, 8)
    val fpBatch = rollupFingerprint(rollupBatch(spark, dataDir))

    def victim(dataDir: String, table: String, ckpt: String,
        crashAt: Long): (Int, String) = {
      val cmd = Seq("bash", "-c",
        s"exec java $addOpens -Xmx4g -Dspark.ui.enabled=false " +
          "-Dspark.sql.session.timeZone=UTC " +
          s"-cp '$cp' graft.tools.FaultInject streamvictim " +
          s"'$dataDir' '$table' '$ckpt' $crashAt 2>&1")
      val out = new StringBuilder
      val exit = cmd ! ProcessLogger(l => out.append(l).append('\n'))
      (exit, out.toString)
    }

    val passes = (1 to 3).map { pass =>
      val table = s"$base/view-$pass.parquet"
      val ckpt = s"$base/ckpt-$pass"
      // run 1: halts inside batch 4's commit window (exit 137)
      val (exit1, out1) = victim(dataDir, table, ckpt, 4L)
      val crashed = exit1 == 137 && out1.contains("CRASH-INJECT")
      // the torn state the injection claims: staging complete, target gone
      val torn = new java.io.File(s"$table.staging").isDirectory &&
        !new java.io.File(table).exists()
      // run 2: restart from the same checkpoint, no injection
      val (exit2, out2) = victim(dataDir, table, ckpt, -1L)
      val fp = rollupFingerprint(spark.read.parquet(table))
      val ok = crashed && torn && exit2 == 0 && fp == fpBatch
      println(s"[driverkill] pass $pass: crashed=$crashed torn=$torn " +
        s"fp=$fp batch=$fpBatch ok=$ok")
      if (!ok) { // keep the evidence trail on a failure
        System.err.println(s"--- victim 1 output ---\n$out1")
        System.err.println(s"--- victim 2 output ---\n$out2")
      }
      ok
    }
    val ok = passes.forall(identity)
    println(
      s"""{"metric":"faultinject_streamdriver","events":400000,"chunks":8,""" +
        s""""crash_batch":4,"passes":"${passes.count(identity)}/3",""" +
        s""""pass":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Internal: the forked driver-kill victim. Runs `rollupStream` over
    * the chunked fixture; with `crashAt ≥ 1` the JVM halts inside that
    * batch's commit window and never returns from processAllAvailable.
    * Batch 0 creates the view and every later batch deletes it once
    * before its rename, so batch `crashAt`'s delete is the view path's
    * `crashAt`-th. */
  def streamVictim(args: Array[String]): Unit = {
    val Array(_, dataDir, table, ckpt, crashAt) = args.take(5)
    val b = Session.builder("graft-streamvictim").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
    if (crashAt.toInt >= 1) {
      CrashOnDeleteFs.arm(new org.apache.hadoop.fs.Path(table), crashAt.toInt)
      b.config("spark.hadoop.fs.file.impl", classOf[CrashOnDeleteFs].getName)
        .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val q = graft.streaming.EventStreams
      .rollupStream(fileStream(spark, dataDir), table, ckpt)
    q.processAllAvailable()
    q.stop()
    println(s"""{"victim":"done","batches":${q.recentProgress.length}}""")
    spark.stop()
  }
}

/** The streamdriver victim's fault: the engine's `file:` filesystem
  * ([[graft.core.ForkFreeLocalFileSystem]], so the commit path under
  * test is the one that ships) that performs the armed path's N-th
  * delete and then halts the JVM (`Runtime.halt`
  * — no shutdown hooks, no cleanup). For the view of a staged-swap
  * stream that lands inside `swapSnapshot`'s delete-vs-rename window:
  * staging holds the complete merged snapshot (+ batch marker), the
  * target is gone. Only the forked victim installs it, through
  * `spark.hadoop.fs.file.impl` with the FS cache disabled — every
  * `getFileSystem` then builds a fresh instance, so the armed path and
  * the delete count live in the companion. */
final class CrashOnDeleteFs extends graft.core.ForkFreeLocalFileSystem {
  override def delete(f: org.apache.hadoop.fs.Path,
      recursive: Boolean): Boolean = {
    val done = super.delete(f, recursive)
    CrashOnDeleteFs.armed.foreach { case (target, n) =>
      if (makeQualified(f).toUri.getPath == target &&
          CrashOnDeleteFs.deletes.incrementAndGet() == n) {
        System.err.println(s"[swap] CRASH-INJECT after delete #$n of " +
          s"$target at ${System.currentTimeMillis()}")
        Runtime.getRuntime.halt(137)
      }
    }
    done
  }
}

object CrashOnDeleteFs {
  @volatile private var armed: Option[(String, Int)] = None
  private val deletes = new AtomicInteger(0)

  /** Halt on the `n`-th delete of `target` in this JVM. */
  def arm(target: org.apache.hadoop.fs.Path, n: Int): Unit =
    armed = Some((target.toUri.getPath, n))
}
