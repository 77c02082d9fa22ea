package graft

import graft.progress.ProgressListener
import org.scalatest.funsuite.AnyFunSuite

/** The listener must report reference-style {done}/{total} phase progress
  * after a job completes (JobExecution parity, SURVEY §1.4). */
class ProgressListenerSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  test("listener sees completed stages and jobs") {
    val l = ProgressListener.attach(spark)
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count().collect()
    l.drain(spark)

    val snap = l.snapshot()
    assert(snap.nonEmpty)
    snap.values.foreach { p =>
      assert(p.completed == p.total, s"incomplete phase: $p")
      assert(p.failed == 0)
    }
    val (active, completed, failed) = l.jobCounts
    assert(active == 0 && completed >= 1 && failed == 0)
  }

  test("ingest counters track a write job's bytes and records (S4 parity)") {
    val l = ProgressListener.attach(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    spark.range(5000).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").parquet(dir)
    l.drain(spark)

    val io = l.ingest()
    assert(io.recordsWritten == 5000L)
    assert(io.bytesWritten > 0L)
    // percent against the real on-disk size: complete job = 100%
    val size = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    assert(io.percentOf(size) >= 99.0)
    assert(io.percentOf(0) == 100.0)
  }

  test("stage records carry task metrics; drain and reset bound a report") {
    val l = ProgressListener.attach(spark)
    val sc = spark.sparkContext
    val tag = "progress-listener-spec"
    sc.addJobTag(tag)
    try spark.range(2000).selectExpr("id % 5 AS k")
      .groupBy("k").count().collect()
    finally sc.removeJobTag(tag)
    l.drain(spark)

    val recs = l.stageRecords()
    assert(recs.size >= 2, s"expected a map and a result stage: $recs")
    recs.values.foreach { r =>
      assert(r.total > 0 && r.done == r.total && r.failed == 0,
        s"incomplete stage: $r")
      assert(r.maxTaskMs <= r.taskMs)
    }
    assert(recs.values.map(_.shuffleWriteB).sum > 0,
      s"no stage wrote shuffle bytes: $recs")
    val (active, completed, failed) = l.jobCounts
    assert(active == 0 && failed == 0)
    assert(completed == sc.statusTracker.getJobIdsForTag(tag).length)

    def printed(): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(l.report())
      out.toString("UTF-8")
    }
    val before = printed()
    recs.keys.foreach(id => assert(before.contains(f"[stagestats] $id%5d ")))
    assert(before.contains(s"TOTAL stages=${recs.size} "))

    l.reset()
    assert(l.stageRecords().isEmpty && l.snapshot().isEmpty)
    val after = printed().linesIterator.toSeq
    // header + totals line, no stage rows
    assert(after.size == 2, after.mkString("\n"))
    assert(after.last.contains("TOTAL stages=0 "))
  }
}
