package graft

/** Time one catalog query end-to-end through the noop sink (same
  * measurement discipline as [[Bench]] but for a single query while
  * iterating). Usage: `tools/run.sh graft.TimeQuery <name> [sfDir] [runs]`. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeQuery <queryName> [sfDir] [runs]")
    val q = Queries.byName.getOrElse(args(0),
      sys.error(s"unknown query '${args(0)}'; have: ${Queries.all.map(_.name).mkString(", ")}"))
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = Session.get("graft-timequery")
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_COUNT=1: also report output rows (scale-evidence
    // ledgering needs rows/sec, not just seconds — d09's output volume
    // is itself quadratic in this corpus)
    val wantCount = sys.env.contains("SPARK_GRAFT_COUNT")
    // SPARK_GRAFT_STAGESTATS=1: per-stage task/cpu/gc/shuffle/spill
    // breakdown after the LAST run (scale diagnosis: CPU- vs spill- vs
    // IO-bound, which wall-clock alone can't distinguish)
    val stats = if (sys.env.contains("SPARK_GRAFT_STAGESTATS")) {
      val l = new graft.tools.StageStats
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    // SPARK_GRAFT_JOBCOUNT=1: count scheduled Spark jobs per run — the
    // direct receipt for "fewer sequential driver actions" claims (r17;
    // each job pays a fixed driver/AQE scheduling latency that dominates
    // the d-kernels at bench SF)
    val jobCounter =
      if (sys.env.contains("SPARK_GRAFT_JOBCOUNT")) {
        val c = new java.util.concurrent.atomic.AtomicInteger(0)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              c.incrementAndGet()
          })
        Some(c)
      } else None
    // two-canary bracket: probe box drift BEFORE the timed runs (min-of-3,
    // first sample eats the JIT) and again AFTER (min-of-2, warm JVM) —
    // emitted in this tool's own output so a drifted decade cell can't be
    // ledgered as clean by forgetting the probes. SPARK_GRAFT_BRACKET=0
    // opts the sub-second dev loop out.
    // (skipped when the query under measurement IS the scan probe —
    // bracketing q01 with three warm q01 runs would both measure
    // nothing and destroy its cold-run comparability to the ledger)
    val bracket = graft.tools.CanaryBracket.enabled &&
      q.name != "q01_pricing_summary"
    val pre = if (bracket) Some(graft.tools.CanaryBracket.probe(spark, 3)) else None
    pre.foreach(p => println(f"[bracket] pre q01=${graft.tools.CanaryBracket.fmtQ01(p)} kernel=${p.kernel}%.3f"))
    // the probe's own jobs must not count toward run0; drain first so
    // none of them is delivered after the reset
    def drain(): Unit =
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
    jobCounter.foreach { c => drain(); c.set(0) }
    (0 until runs).foreach { i =>
      // keep only the final run; drain the async bus first so a prior
      // run's tail events can't survive the reset and double-count
      if (i == runs - 1) stats.foreach { l => l.drain(spark); l.reset() }
      val t0 = System.nanoTime()
      val rows =
        if (wantCount) q.build(spark, dir).count()
        else { q.build(spark, dir).write.mode("overwrite").format("noop").save(); -1L }
      val secs = (System.nanoTime() - t0) / 1e9
      val suffix = if (wantCount) f" rows=$rows" else ""
      val jobs = jobCounter.map { c => drain(); s" jobs=${c.getAndSet(0)}" }.getOrElse("")
      println(f"[time] ${q.name} run$i: $secs%.2f s$suffix$jobs")
    }
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      q.build(spark, dir).explain("formatted")
    stats.foreach { l => l.drain(spark); l.report() }
    // post-probe AFTER the stats report so canary stages can't be
    // attributed to the query under measurement
    pre.foreach { p =>
      val post = graft.tools.CanaryBracket.probe(spark, 2)
      println(f"[bracket] post q01=${graft.tools.CanaryBracket.fmtQ01(post)} kernel=${post.kernel}%.3f")
      println(s"""{"metric":"canary_bracket","query":"${q.name}",""" +
        graft.tools.CanaryBracket.json(p, post) + "}")
    }
    spark.stop()
  }
}
