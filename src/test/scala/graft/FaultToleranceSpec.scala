package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Executable form of the SURVEY §2.11 fault-tolerance divergence claim.
  *
  * The reference's job runner collects whatever task results arrive and
  * silently returns PARTIAL output when a worker dies mid-job
  * (`/root/reference/lib/mini_hadoop/master/job_runner.ex:221-231` — the
  * timeout arm drops the missing partitions on the floor). Spark's
  * scheduler instead re-runs failed tasks up to `spark.task.maxFailures`
  * times and either delivers COMPLETE results or fails the job loudly —
  * the semantics this engine inherits by construction, pinned here.
  *
  * Local mode only retries when the master string carries a failure
  * budget (`local[N, maxFailures]` — plain `local[N]` is fail-fast), so
  * this suite briefly swaps the shared session for a `local[4, 2]` one;
  * suites run sequentially in the forked test JVM, so the swap is safe.
  */
class FaultToleranceSpec extends AnyFunSuite {

  test("every partition's first attempt fails; the job still returns complete results") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // built through Session like every test session, so the shipped
    // defaults (the JVM-wide codegen cache size among them) hold whichever
    // suite runs first
    val spark = Session.builder("graft-retry")
      .master("local[4, 2]") // 4 threads, 2 attempts per task
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val n = 1000
      val parts = 8
      // first attempt of EVERY task throws after the iterator is built —
      // a deterministic stand-in for the reference's dying worker
      val out = spark.sparkContext.parallelize(0 until n, parts)
        .mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc.attemptNumber() == 0)
            throw new RuntimeException("injected first-attempt failure")
          it.map(x => (x, tc.attemptNumber()))
        }
        .collect()
      // complete, not partial: all n rows came back exactly once...
      assert(out.map(_._1).sorted.toSeq == (0 until n))
      // ...and every row was produced by a RETRY attempt, proving all
      // 8 first attempts really failed and were re-run (the reference
      // would have returned 0 rows here and called the job done)
      assert(out.map(_._2).distinct.toSeq == Seq(1))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
