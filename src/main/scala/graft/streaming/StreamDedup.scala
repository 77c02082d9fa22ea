package graft.streaming

import graft.functions.VectorFunctions.sorted_long_jaccard
import graft.operators.DedupOps.{firstBandMatch, lshDocFrame}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming near-duplicate detection against a STATIC reference corpus —
  * the "is this incoming page already in the training set?" gate at
  * ingest time (the batch twin is DedupOps.nearDupPairs / d02).
  *
  * The whole pipeline is STATELESS stream-static work, which is what
  * makes it deployable at ingest scale: the corpus is indexed once
  * ([[corpusIndex]]: band hashes + sorted word-hash sets), each incoming
  * doc is banded by the SAME per-doc LSH frame d02 runs
  * (`DedupOps.lshDocFrame`: tokenizer, MinHash signature and the
  * threshold-adaptive banding are d02's own code, not a copy),
  * candidates come from an equi-join on (band, bh) against the static
  * index, each (incoming, corpus) pair is emitted exactly once via d02's
  * `firstBandMatch` rule, and the exact sorted-set Jaccard verify kills
  * LSH false positives. No watermark, no state store: every micro-batch
  * is a pure join against the index.
  */
object StreamDedup {

  /** A banded corpus index together with the threshold it was banded
    * for: a probe banded for another threshold would share no band
    * layout with it and silently match nothing. */
  final case class CorpusIndex(frame: DataFrame, threshold: Double)

  /** One row per (doc, band) of a (doc_id, text) frame: the doc's id as
    * `idOut`, its band vector and word-hash set under `prefix`, and the
    * exploded (band, bh) join key. */
  private def banded(docs: DataFrame, threshold: Double, idOut: String,
      prefix: String): (DataFrame, Int) = {
    val (perDoc, numBands) = lshDocFrame(docs, threshold)
    (perDoc.select(col("doc_id").as(idOut), col("bhs").as(prefix + "bhs"),
      col("hs").as(prefix + "hs"), posexplode(col("bhs")).as(Seq("band", "bh"))),
      numBands)
  }

  /** The static LSH index joined against every micro-batch: one row per
    * (corpus doc, band) at the banding `lshBandingFor(threshold)` picks
    * (16 bands at 0.9, 32 at 0.8), each carrying the band vector + the
    * doc's word-hash set — build once, cache or persist to parquet for
    * a long-lived ingest stream. */
  def corpusIndex(corpus: DataFrame, threshold: Double = 0.9): CorpusIndex =
    CorpusIndex(banded(corpus, threshold, "corpus_doc_id", "c_")._1, threshold)

  /** The matcher: works identically on a streaming or batch `incoming`
    * frame (doc_id, text) — StreamDedupSpec pins batch ≡ streaming.
    * Returns (in_doc_id, corpus_doc_id, jaccard ≥ the index threshold). */
  def matchesAgainstCorpus(incoming: DataFrame, idx: CorpusIndex): DataFrame = {
    val (q, numBands) = banded(incoming, idx.threshold, "in_doc_id", "")
    q.join(idx.frame, Seq("band", "bh"))
      .filter(col("band") === firstBandMatch(col("bhs"), col("c_bhs"), numBands))
      .withColumn("jaccard", sorted_long_jaccard(col("hs"), col("c_hs")))
      .filter(col("jaccard") >= idx.threshold)
      .select(col("in_doc_id"), col("corpus_doc_id"), col("jaccard"))
  }
}
