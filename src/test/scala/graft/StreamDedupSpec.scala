package graft

import graft.streaming.StreamDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class InDoc(doc_id: Long, text: String)

/** Pins the streaming near-dup gate: (1) the shared per-doc LSH frame's
  * band hashes equal band hashes of the MinHashAgg aggregate signature at
  * the threshold's banding (the d02 contract — if these diverge, stream
  * and batch dedup silently disagree on candidates); (2) the index is
  * banded for its threshold; (3) the matcher equals d02 (t = 0.9) and
  * d12's pair set (t = 0.8) restricted to (incoming × corpus) pairs on
  * real data; (4) streaming execution over micro-batches emits exactly
  * the batch result with no state. */
class StreamDedupSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-streamdedup-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("the shared LSH frame's band hashes equal the MinHashAgg path's at 0.9 and 0.8") {
    val docs = Tables.df(spark, sf, "documents").limit(50)
    val words = docs.select(col("doc_id"),
      expr("array_distinct(filter(split(text, ' '), x -> x != ''))").as("words"))
      .filter(size(col("words")) > 0)
    val sigs = words
      .select(col("doc_id"), explode(col("words")).as("w"))
      .withColumn("wh", pmod(xxhash64(col("w")), lit(2147483647L)))
      .groupBy("doc_id")
      .agg(functions.MinHashAgg.minhash_agg(col("wh"), 64, 42L).as("sig"))
    for ((t, (bands, rows)) <- Seq(0.9 -> (16, 4), 0.8 -> (32, 2))) {
      assert(operators.DedupOps.lshBandingFor(t) == (bands, rows))
      val viaAgg = sigs.select(col("doc_id"), array((0 until bands).map { b =>
          xxhash64((b * rows until (b + 1) * rows).map(i =>
            element_at(col("sig"), i + 1)): _*)
        }: _*).as("bhs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val viaFrame = operators.DedupOps.lshDocFrame(docs, t)._1
        .select("doc_id", "bhs")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(viaFrame.keySet == viaAgg.keySet && viaFrame.nonEmpty, s"t=$t")
      viaFrame.foreach { case (id, bhs) =>
        assert(bhs.length == bands && bhs == viaAgg(id), s"t=$t doc $id")
      }
    }
  }

  test("the corpus index is banded for its threshold: 16 bands at 0.9, 32 at 0.8") {
    val corpus = Tables.df(spark, sf, "documents").filter(col("doc_id") < 250)
      .select("doc_id", "text")
    for (t <- Seq(0.9, 0.8)) {
      val idx = StreamDedup.corpusIndex(corpus, t)
      assert(idx.threshold == t)
      val bands = idx.frame.select("band").distinct().count()
      assert(bands == operators.DedupOps.lshBandingFor(t)._1, s"t=$t")
      assert(bands == (if (t == 0.9) 16 else 32), s"t=$t")
    }
  }

  test("at t = 0.8 the matcher equals nearDupPairs restricted to incoming-vs-corpus pairs") {
    val docs = Tables.df(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") < 250).select("doc_id", "text")
    val incoming = docs.filter(col("doc_id") >= 250).select("doc_id", "text")
    val got = StreamDedup.matchesAgainstCorpus(incoming,
        StreamDedup.corpusIndex(corpus, threshold = 0.8))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
    val batch = operators.DedupOps
      .nearDupPairs(spark, sf, threshold = 0.8, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 250 && b >= 250 }.toSet
    assert(got == batch && got.nonEmpty, s"got ${got.size} vs batch ${batch.size}")
  }

  test("batch matcher equals d02 restricted to incoming-vs-corpus pairs") {
    val docs = Tables.df(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") < 250).select("doc_id", "text")
    val incoming = docs.filter(col("doc_id") >= 250).select("doc_id", "text")
    val idx = StreamDedup.corpusIndex(corpus)
    val got = StreamDedup.matchesAgainstCorpus(incoming, idx)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
    // pure-LSH d02 (hot-bucket routing disabled): identical signatures →
    // identical band collisions → identical pair set after exact verify
    val d02 = operators.DedupOps.nearDupPairs(spark, sf, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 250 && b >= 250 }.toSet
    assert(got == d02 && got.nonEmpty, s"got ${got.size} vs d02 ${d02.size}")
  }

  test("streaming micro-batches emit exactly the batch result, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lam mu nu xi omicron pi rho sigma tau upsilon"),
      (1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val idx = {
      val i = StreamDedup.corpusIndex(corpus, threshold = 0.9)
      i.copy(frame = i.frame.localCheckpoint())
    }
    // 100: near-dup of 0 (19 shared + 1 new of 21 words); 101: exact dup
    // of 1; 102: unrelated
    val nearDup = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lam mu nu xi omicron pi rho sigma tau NEWWORD"
    val in = Seq(
      InDoc(100L, nearDup),
      InDoc(101L, "one two three four five six seven eight nine ten"),
      InDoc(102L, "completely different vocabulary about spark plans here"))

    val batchResult = StreamDedup
      .matchesAgainstCorpus(in.toDF(), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchResult.map(t => (t._1, t._2)) == Set((100L, 0L), (101L, 1L)))

    val stream = MemoryStream[InDoc]
    val q = StreamDedup
      .matchesAgainstCorpus(stream.toDF(), idx)
      .writeStream.format("memory").queryName("dedup_hits")
      .outputMode("append").start()
    stream.addData(in.head)
    q.processAllAvailable()
    stream.addData(in.tail: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dedup_hits")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batchResult)
  }
}
