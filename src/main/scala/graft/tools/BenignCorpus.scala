package graft.tools

import graft.Session
import org.apache.spark.sql.functions._

/** Generate a BENIGN near-dup corpus at scale: documents with
  * essentially disjoint word sets (25 pseudo-random words from a 50k
  * vocab) plus a 5% injected near-dup rate (every 20th doc copies its
  * predecessor with one word changed, J = 24/26 ≈ 0.923). This is the
  * opposite regime from the template-heavy sf* documents fixture: LSH
  * buckets stay shallow, so the derived hot-bucket cutoff should keep
  * the whole corpus in the banding layer (DedupHotBucketSpec pins the
  * small-scale version; BASELINE.md R7/R12 ledger the measured hot
  * fraction here).
  * Everything is expression-space — `spark.range` + hash arithmetic, no
  * driver loops, no rand() — so the corpus is deterministic and the
  * generator itself scales.
  *
  * Usage: `tools/run.sh graft.tools.BenignCorpus <dstDir> <nDocs> [vocab]`
  *
  * The optional `vocab` (default 50000) sets the shared-vocabulary
  * size. It is the scale KNOB for the containment kernels: exact
  * containment's candidate volume is Σ_h prefixDf(h)·df(h) ∝ n²/vocab
  * (df grows with corpus density), so a FIXED vocab makes d09/d16
  * fixture-quadratic at any corpus size — measured 144 s / 28.8 GB
  * shuffle for d16 at 500k docs, df ≈ 240. A vocab ∝ nDocs (e.g.
  * 5·nDocs → df ≈ 5) holds per-token df constant so a decade pair
  * isolates KERNEL scaling from corpus-density growth.
  */
object BenignCorpus {

  /** The corpus frame (exposed so BenignCorpusSpec can pin the
    * instrument's ground truth: exactly ⌊nDocs/20⌋ injected near-dup
    * pairs at J = 24/26, at any vocab). */
  def frame(spark: org.apache.spark.sql.SparkSession, nDocs: Long,
      vocab: Long): org.apache.spark.sql.DataFrame = {
    // base words of doc i, position j: v<hash(i, j) mod vocab>
    def words(idExpr: String) =
      s"transform(sequence(0, 23), j -> concat('v', pmod(xxhash64($idExpr * 31 + j * 7919), $vocab)))"
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        when(col("id") % 20 === 19,
          // near-dup of the previous doc: first 24 base words shared,
          // one fresh replica-unique word appended
          expr(s"array_join(concat(${words("(id - 1)")}, array(concat('x', id))), ' ')"))
          .otherwise(
            expr(s"array_join(concat(${words("id")}, array(concat('w', id))), ' ')"))
          .as("text"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("benign"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenignCorpus <dstDir> <nDocs> [vocab]")
    val dst = args(0)
    val nDocs = args(1).toLong
    val vocab = if (args.length > 2) args(2).toLong else 50000L
    val spark = Session.get("graft-benign-corpus")
    try {
      frame(spark, nDocs, vocab)
        .repartition(32).write.mode("overwrite").parquet(s"$dst/documents.parquet")
      println(s"[benign] $nDocs docs written to $dst (vocab $vocab)")
    } finally spark.stop()
  }
}
