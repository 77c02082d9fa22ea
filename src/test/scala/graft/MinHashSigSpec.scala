package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused native MinHashSig kernel must be BIT-identical to both
  * sketch formulations it replaces/coexists with — the transform-chain
  * (64 × array_min(transform(...))) and the MinHashAgg aggregate — or
  * LSH banding silently diverges between batch, stream and any
  * historical sketch index on disk. */
class MinHashSigSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-minhashsig-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  private val P = 2147483647L
  private val K = 64
  private val Seed = 42L

  test("native kernel == transform-chain == MinHashAgg, incl. null elements") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("alpha", "beta", "gamma", "delta")),
      (2L, Seq("one")),
      (3L, (1 to 300).map(i => s"tok$i")),
      (4L, Seq("alpha", "beta", "gamma", "delta")) // duplicate of 1
    ).toDF("doc_id", "words")
      .withColumn("whs", expr(s"transform(words, w -> pmod(xxhash64(w), ${P}L))"))

    // 1. the historical transform-chain
    val ab = functions.MinHashAgg.hashParams(K, Seed)
    val chain = docs.select(col("doc_id"), array(ab.map { case (a, b) =>
      array_min(expr(s"transform(whs, h -> pmod(${a}L * h + ${b}L, ${P}L))"))
    }: _*).as("sig"))
    // 2. the fused native kernel
    val native = docs.select(col("doc_id"),
      functions.VectorFunctions.minhash_sig(col("whs"), K, Seed).as("sig"))
    // 3. the aggregate over exploded (doc, hash) rows
    val agg = docs.select(col("doc_id"), explode(col("whs")).as("h"))
      .groupBy("doc_id")
      .agg(functions.MinHashAgg.minhash_agg(col("h"), K, Seed).as("sig"))

    val c = chain.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val n = native.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val g = agg.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(n.toSeq == c.toSeq)
    assert(n.toSeq == g.toSeq)
    assert(n(0) == n(3)) // identical docs → identical sigs

    // null elements are skipped, matching array_min's null handling
    val withNull = spark.sql(
      s"SELECT minhash_sig(array(5L, NULL, 9L), $K, $Seed) AS a, " +
        s"minhash_sig(array(5L, 9L), $K, $Seed) AS b")
    val r = withNull.head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
  }

  test("SQL registration and codegen path") {
    import spark.implicits._
    // a wide frame so the projection runs through whole-stage codegen
    val df = spark.range(2000).select(
      expr(s"transform(sequence(1, 1 + cast(pmod(xxhash64(id), 50) as int)), " +
        s"j -> pmod(xxhash64(id * 31 + j), ${P}L))").as("whs"))
    val viaSql = df.selectExpr(s"minhash_sig(whs, $K, $Seed) as sig")
    val viaCol = df.select(
      functions.VectorFunctions.minhash_sig(col("whs"), K, Seed).as("sig"))
    val a = viaSql.select(xxhash64(col("sig"))).as[Long].collect().sorted
    val b = viaCol.select(xxhash64(col("sig"))).as[Long].collect().sorted
    assert(a.sameElements(b))
    assert(a.length == 2000)
  }

  test("empty and all-null inputs yield the all-MaxValue signature (documented contract)") {
    // DIVERGENCE pin, not a feature: the transform-chain produced null
    // array_min entries here, the fused kernel produces Long.MaxValue
    // (the aggregate's empty-buffer value). Every call site pre-filters
    // size(words) > 0; this spec keeps the divergence visible so a new
    // call site that forgets the filter trips a failing assumption here
    // instead of silently making all empty docs mutual LSH candidates.
    val r = spark.sql(
      s"SELECT minhash_sig(cast(array() as array<bigint>), $K, $Seed) AS e, " +
        s"minhash_sig(array(cast(NULL as bigint)), $K, $Seed) AS n").head()
    val maxSig = Seq.fill(K)(Long.MaxValue)
    assert(r.getSeq[Long](0) == maxSig)
    assert(r.getSeq[Long](1) == maxSig)
    // and the chain it replaced really does differ (null min per hash)
    val chain = spark.sql(
      s"SELECT array_min(transform(array(cast(NULL as bigint)), h -> h)) AS m").head()
    assert(chain.isNullAt(0))
  }

  test("SQL minhash_sig rejects non-literal shape args with a clear message") {
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array(1L), cast(id as int), 42L) " +
        "FROM range(1)").head()
    }
    assert(err.getMessage.contains("numHashes must be an integer literal"),
      err.getMessage)
    // reject instead of truncating: 2^32 + 64 would .toInt-wrap to a
    // valid-looking 64-wide signature
    val wrap = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array(1L), 4294967360L)").head()
    }
    assert(wrap.getMessage.contains("out of int range"), wrap.getMessage)
  }
}
