package graft

import graft.progress.ProgressListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Time catalog queries end-to-end through the noop sink (same
  * measurement discipline as [[Bench]] while iterating on a few queries).
  *
  * Usage: `tools/run.sh graft.TimeQuery <name>[,<name>...] [sfDir] [runs]`.
  *
  * Each run executes the listed queries in order in ONE session, so a
  * family sharing a written-once artifact (d06/d15/g01/g04/g05 over the
  * `DedupOps.sharedAdjacency` table) is timed the way a pipeline session
  * pays it: the first query builds the table, the rest read it from the
  * session catalog. Every query's seconds, scheduled Spark jobs and
  * Janino compiles (generated-code cache misses, JVM-wide) are printed
  * per run; with two or more runs, the min over the runs after the
  * first (the first pays JIT, codegen and the table build) follows.
  * The per-stage table of the last run closes the output.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: TimeQuery <name>[,<name>...] [sfDir] [runs]")
    val qs = args(0).split(",").toSeq.map(n => Queries.byName.getOrElse(n,
      sys.error(s"unknown query '$n'; have: ${Queries.all.map(_.name).mkString(", ")}")))
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = Session.get("graft-timequery")
    val listener = ProgressListener.attach(spark)
    // jobs finished so far, read after a drain so no in-flight event of
    // the previous body is missed or counted against the next one
    def jobsSoFar(): Long = {
      listener.drain(spark)
      val (_, completed, failed) = listener.jobCounts
      completed + failed
    }
    // Janino compiles so far, JVM-wide (a code-cache miss compiles; a
    // hit does not)
    def compilesSoFar(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val secs = Array.ofDim[Double](runs, qs.size)
    (0 until runs).foreach { i =>
      // the stage table covers the last run only
      if (i == runs - 1) { listener.drain(spark); listener.reset() }
      qs.zipWithIndex.foreach { case (q, j) =>
        val jobs0 = jobsSoFar()
        val compiles0 = compilesSoFar()
        val t0 = System.nanoTime()
        q.build(spark, dir).write.mode("overwrite").format("noop").save()
        secs(i)(j) = (System.nanoTime() - t0) / 1e9
        println(f"[time] ${q.name} run$i: ${secs(i)(j)}%.2f s " +
          f"jobs=${jobsSoFar() - jobs0} compiles=${compilesSoFar() - compiles0}")
      }
    }
    if (runs >= 2) qs.zipWithIndex.foreach { case (q, j) =>
      println(f"[time] ${q.name} min(run1..run${runs - 1}): " +
        f"${(1 until runs).map(secs(_)(j)).min}%.2f s")
    }
    listener.drain(spark)
    listener.report()
    spark.stop()
  }
}
