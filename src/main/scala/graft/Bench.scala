package graft

/** Benchmark main: runs the headline query set against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  *
  * Queries are materialized through the noop sink so every output column is
  * computed (a bare `.count()` would let Catalyst prune the work away) while
  * write cost stays out of the measurement.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.get("graft-bench")

    val headliners = Queries.all.filter(_.headline)
    val set = if (headliners.nonEmpty) headliners else Queries.all

    // every sample is memo-cold: a graph-family row pays its prefix
    // kernel and adjacency write, not a table an earlier run left
    def runOnce(q: Q): Double = {
      operators.DedupOps.dropSharedGraphs(spark)
      val t0 = System.nanoTime()
      try q.build(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    set.foreach(runOnce) // warm-up: JIT + codegen + parquet footer caches
    tools.KernelCanary.timeOnce(spark) // warm the canary's codegen too
    // Min over INTERLEAVED rounds: the sandboxed filesystem shows erratic
    // multi-second IO stalls, and back-to-back repeats of one query all
    // sit inside the same stall — rotating through the whole set between
    // repeats decorrelates them, and min is the noise-robust estimator.
    val timings = collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    // Two drift canaries ride along (BASELINE.md discipline): q01 (in the
    // set) probes scan/agg drift; the fixed-size KernelCanary cell probes
    // the shuffle/memory-sensitive kernel shape that q01 can't see. It is
    // timed interleaved once per round and reported OUTSIDE the total.
    var kernelCanary = List.empty[Double]
    for (_ <- 1 to 3) {
      for (q <- set) timings(q.name) ::= runOnce(q)
      kernelCanary ::= tools.KernelCanary.timeOnce(spark)
    }
    // two extra rounds for the sub-2s queries, where one stall still
    // dominates all three samples but retries are nearly free
    val cheap = set.filter(q => timings(q.name).filter(_ >= 0) match {
      case Nil => false
      case ts  => ts.min < 2.0
    })
    for (_ <- 1 to 2; q <- cheap) timings(q.name) ::= runOnce(q)
    val results = set.map { q =>
      val runs = timings(q.name).filter(_ >= 0)
      q.name -> (if (runs.isEmpty) -1.0 else runs.min)
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val q01 = results.collectFirst {
      case (n, v) if n.startsWith("q01") => v }.getOrElse(-1.0)
    val kMin = kernelCanary.min
    val canaries =
      f""""canaries":{"q01_scan":$q01%.3f,"kernel":$kMin%.3f}"""
    // Canary-normalized total — the COMPARISON-OF-RECORD per
    // BASELINE.md's "bench record discipline" (r15 verdict ask #4:
    // three consecutive rounds of raw-total movement were each
    // attributed to host regime by manual interleaved A/Bs; the record
    // itself must stop moving with the weather). Two-factor rule:
    // scan-shaped rows (q*/t01/e02) divide by the day's q01 drift
    // against its pin, kernel-shaped rows (d02/d06/d07/p01) by the
    // in-Bench kernel canary against its pin. The pins are the minimum
    // of three sf0.1 sessions on a 4-core, 15 GB host, taken once the
    // codegen cache held the whole set (before, both canaries recompiled
    // their code every round and read ~1.3x higher). Raw total stays
    // `value` (driver contract) and remains what the per-row target
    // table reads against.
    val Q01Pin = 0.255
    val KernelPin = 21.7
    val kernelShaped = Set("d02_minhash_lsh", "d06_dedup_clusters",
      "d07_allpairs_jaccard", "p01_corpus_curation")
    val normalized =
      if (q01 <= 0 || kMin <= 0) -1.0
      else {
        val dScan = q01 / Q01Pin
        val dKernel = kMin / KernelPin
        results.collect { case (n, v) if v >= 0 =>
          v / (if (kernelShaped(n)) dKernel else dScan)
        }.sum
      }
    val drift =
      f""""total_normalized":$normalized%.3f,"drift":{"scan":${q01 / Q01Pin}%.3f,"kernel":${kMin / KernelPin}%.3f}"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,$canaries,$drift,"sf":"$sfDir"}""")
    spark.stop()
  }
}
