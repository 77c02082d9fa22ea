package graft

import graft.operators.DedupOps
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The JVM-wide cache of Janino-compiled classes holds a whole dedup pass.
  * Spark sizes that cache once per JVM, from the first session that
  * generates code; with its 100-entry default a d07 → d06 → d02 → p01
  * pass (~300 compile units) evicted its own classes, so a second pass
  * compiled them all again. `Session.builder` sizes it to the catalog.
  * Every test session is built through `Session`, so whichever suite runs
  * first sizes the cache the same way. */
class CodegenCacheSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private val pass = Seq("d07_allpairs_jaccard", "d06_dedup_clusters",
    "d02_minhash_lsh", "p01_corpus_curation")

  lazy val spark = Session.get("graft-test-codegen")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles of one memo-cold pass, noop sink as in Bench. */
  private def compilesOfOnePass(): Long = {
    val before = compiles
    pass.foreach { n =>
      DedupOps.dropSharedGraphs(spark)
      Queries.byName(n).build(spark, dir)
        .write.mode("overwrite").format("noop").save()
    }
    compiles - before
  }

  test("the session carries the sized codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  test("a second memo-cold dedup pass reuses the first pass's compiled code") {
    val first = compilesOfOnePass()
    val second = compilesOfOnePass()
    info(s"compiles: first pass $first, second pass $second")
    // measured at sf0.001: 246 then 16-18 with the sized cache, 310 then
    // 295 at the 100-entry default
    assert(second <= 50, s"second pass compiled $second units (first $first)")
  }
}
