package graft.core

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The engine's single intra-query materialization strategy point.
  *
  * Every multi-consumer or iterative frame in the engine (LSH band
  * frames, hashed word sets, connected-components label frames,
  * PageRank ranks, ...) must be materialized eagerly before fan-out:
  * the consumers sit in parallel stages of one action and would
  * otherwise each recompute the full upstream pipeline (measured 2×
  * stage time on d02's sketch frame). HOW it is materialized is a
  * deployment decision, made once here rather than at 30 call sites:
  *
  *  - `graft.materialize=local` (default): eager `localCheckpoint` —
  *    lineage is truncated and blocks live UNREPLICATED on executors.
  *    Fastest option and exactly right for local[N] benchmarking, but
  *    on a preemptible/failing cluster a lost executor makes the
  *    truncated RDD unrecomputable and fails the job.
  *  - `graft.materialize=reliable`: a parquet round-trip under
  *    `graft.scratchDir` (set it to a shared filesystem on a real
  *    cluster). The intermediate survives any executor loss — Spark
  *    re-reads lost partitions from storage — restoring the complete
  *    fault-tolerance story the engine pins against the reference's
  *    silent-partial job runner (FaultToleranceSpec; the reference
  *    drops missing partitions at `job_runner.ex:221-231`). Parquet
  *    rather than `RDD.checkpoint` on purpose: checkpoint blocks
  *    reused across SQL executions reference the first execution's
  *    metric accumulators, which the ContextCleaner can collect in
  *    between (measured: a 48.6 s retry storm on g01) — a plain scan
  *    has no such coupling.
  *
  * Scratch intermediates are deleted on JVM shutdown (per-base hook,
  * via the filesystem that owns the path, so shared-FS scratch dirs
  * are cleaned too).
  */
object Materialize {
  /** "local" (eager localCheckpoint) | "reliable" (parquet round-trip). */
  val ModeKey = "graft.materialize"
  /** Base directory for reliable-mode intermediates; MUST be a shared
    * filesystem on a multi-node cluster. Defaults to a per-application
    * directory under java.io.tmpdir (fine for local[N]). */
  val ScratchKey = "graft.scratchDir"

  private val counter = new AtomicLong(0)
  private val cleanupHooks =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private[graft] def mode(s: SparkSession): String =
    s.conf.getOption(ModeKey)
      // spark.-prefixed alias so the mode can be set from spark-submit /
      // -D system properties (SparkConf only forwards spark.* keys)
      .orElse(s.conf.getOption(s"spark.$ModeKey"))
      .getOrElse("local")

  /** Resolved scratch base for this application (created lazily by the
    * first reliable write; registered for shutdown deletion). */
  private[graft] def scratchBase(s: SparkSession): String = {
    val base = s.conf.getOption(ScratchKey)
      .orElse(s.conf.getOption(s"spark.$ScratchKey"))
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-scratch") +
      "/" + s.sparkContext.applicationId
    cleanupOnShutdown(s, base)
    base
  }

  private def cleanupOnShutdown(s: SparkSession, base: String): Unit =
    cleanupHooks.getOrElseUpdate(base, {
      val hconf =
        new org.apache.hadoop.conf.Configuration(s.sparkContext.hadoopConfiguration)
      sys.addShutdownHook {
        try {
          val p = new Path(base)
          p.getFileSystem(hconf).delete(p, true)
        } catch { case _: Throwable => () } // best-effort cleanup
      }
      true
    })

  /** Reserve a fresh scratch path (reliable intermediates, shared pair
    * graph, ...) — unique per call, cleaned up on shutdown. */
  private[graft] def freshScratchPath(s: SparkSession, hint: String): String =
    s"${scratchBase(s)}/$hint-${counter.incrementAndGet()}"

  def apply(df: DataFrame): DataFrame = apply(df, "mat")

  def apply(df: DataFrame, hint: String): DataFrame = {
    val s = df.sparkSession
    mode(s) match {
      case "reliable" =>
        val p = freshScratchPath(s, hint)
        df.write.mode("overwrite").parquet(p)
        s.read.parquet(p)
      case _ => df.localCheckpoint() // eager: consumers race a lazy one
    }
  }

  /** Materialize with aggregate metrics riding the SAME action as a
    * CollectMetrics observation (guide §2.6 — fewer sequential driver
    * actions): the checkpoint/write tasks already see every row, so a
    * row-count / byte-estimate / convergence aggregate over the frame
    * must not pay a second scheduled job plus its fixed driver/AQE
    * latency (the r16 profile: over half the d-kernel wall at bench SF
    * is inter-action gaps). Returns the materialized frame plus the
    * observed metric values keyed by alias. Works in both modes: the
    * localCheckpoint and the parquet write are each one action over the
    * observed plan (verified on Spark 4.1.2). */
  def observed(df: DataFrame, hint: String,
      metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    require(metrics.nonEmpty, "observed() needs at least one metric")
    val obs = org.apache.spark.sql.Observation()
    val out = apply(df.observe(obs, metrics.head, metrics.tail: _*), hint)
    // the materialize was eager, so the metrics are already on their way
    // through the listener bus; a bounded wait turns a lost delivery into
    // a loud failure instead of a hang
    val row = try Await.result(obs.future, ObservedTimeout) catch {
      case e: TimeoutException => throw new IllegalStateException(
        s"materialize[$hint]: observed metrics not delivered within $ObservedTimeout", e)
    }
    (out, row.getValuesMap[Any](row.schema.fieldNames.toSeq))
  }

  /** Bound on [[observed]]'s wait for its metrics after the action. */
  private val ObservedTimeout: FiniteDuration = 2.minutes

  /** Postfix syntax so call sites read like the `.localCheckpoint()`
    * they replace: `frame.materialize` / `frame.materialize("bands")`. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def materialize: DataFrame = Materialize(df)
    def materializeAs(hint: String): DataFrame = Materialize(df, hint)
    def materializeObserved(metrics: Column*): (DataFrame, Map[String, Any]) =
      Materialize.observed(df, "mat", metrics)
  }
}
