package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every SQL function comes from the one `GraftExtensions.functions`
  * table: each name resolves in a `Session.builder` session, a wrong
  * arity fails naming the function, and every sketch-shape argument is
  * checked by the shared integer-literal rule. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-extensions-test").master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private def chainMsgs(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("the table offers exactly the session's SQL names, and each resolves") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct == names, "duplicate entries")
    assert(names.toSet == Set(
      "cosine_similarity", "jaccard_similarity", "minhash_agg", "minhash_sig",
      "dense_bitmap_agg", "bitmap_cardinality", "bitmap_and_cardinality",
      "bitmap_or_cardinality", "mg_sketch", "kll_agg", "kll_union_agg",
      "kll_quantile", "kll_rank", "topk_agg"))
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  test("a wrong arity fails naming the function") {
    // no entry takes four arguments
    GraftExtensions.functions.map(_._1).foreach { name =>
      val e = intercept[Throwable] {
        spark.sql(s"SELECT $name(1, 1, 1, 1)").collect()
      }
      assert(chainMsgs(e).contains(s"$name takes "), chainMsgs(e))
      assert(chainMsgs(e).contains("got 4"), chainMsgs(e))
    }
  }

  test("every sketch-shape argument must be an integer literal") {
    val cases = Seq(
      "minhash_agg(id, cast(id as int))" -> "minhash_agg: numHashes",
      "minhash_agg(id, 64, id)" -> "minhash_agg: seed",
      "minhash_sig(array(id), cast(id as int))" -> "minhash_sig: numHashes",
      "minhash_sig(array(id), 64, id)" -> "minhash_sig: seed",
      "dense_bitmap_agg(id, cast(id as int))" -> "dense_bitmap_agg: nBits",
      "mg_sketch(cast(id as string), cast(id as int))" -> "mg_sketch: k",
      "kll_agg(cast(id as double), cast(id as int))" -> "kll_agg: k",
      "kll_union_agg(cast('' as binary), cast(id as int))" -> "kll_union_agg: k",
      "topk_agg(id, id, cast(id as int))" -> "topk_agg: k")
    cases.foreach { case (call, what) =>
      val e = intercept[Throwable] {
        spark.sql(s"SELECT $call FROM range(1)").collect()
      }
      assert(chainMsgs(e).contains(s"$what must be an integer literal"),
        s"$call: ${chainMsgs(e)}")
    }
  }
}
