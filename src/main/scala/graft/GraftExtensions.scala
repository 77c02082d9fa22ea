package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._
import graft.functions.VectorFunctions.{intLitArg, longLitArg}

/** SparkSessionExtensions hook: registers the engine's native functions
  * for SQL use at session build time —
  * `SparkSession.builder().withExtensions(new GraftExtensions)` — the
  * standard integration point for third-party Catalyst function libraries
  * (also wired into graft.Session by default).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator extension (SURVEY §7.3 tier c): the native as-of join
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** One entry per SQL name: its arity cases; any other arity fails at
    * analysis with "`name` takes `args`, got n". */
  private def fn(name: String, cls: Class[_], args: String)(
      cases: PartialFunction[Seq[Expression], Expression]): (String, Class[_], Builder) =
    (name, cls, exprs => cases.applyOrElse(exprs, (other: Seq[Expression]) =>
      throw new IllegalArgumentException(s"$name takes $args, got ${other.size}")))

  /** Every SQL function a graft session offers. Sketch-shape arguments
    * (`numHashes`, `seed`, `nBits`, `k`) must be integer literals — they
    * fix the aggregation buffer or signature width at analysis time — and
    * all go through `intLitArg`/`longLitArg`. */
  private[graft] val functions: Seq[(String, Class[_], Builder)] = Seq(
    fn("cosine_similarity", classOf[CosineSimilarity], "2 arguments (a, b)") {
      case Seq(a, b) => CosineSimilarity(a, b)
    },
    fn("jaccard_similarity", classOf[JaccardSimilarity], "2 arguments (a, b)") {
      case Seq(a, b) => JaccardSimilarity(a, b)
    },
    // MinHash over (doc, hash) rows, and the fused per-ROW signature
    // kernel (same hash family; bit-identical, pinned by MinHashSigSpec)
    fn("minhash_agg", classOf[MinHashAgg],
        "1-3 arguments (hash[, numHashes[, seed]])") {
      case Seq(h) => MinHashAgg(h, 64, 42L).toAggregateExpression()
      case Seq(h, n) =>
        MinHashAgg(h, intLitArg(n, "minhash_agg", "numHashes"), 42L).toAggregateExpression()
      case Seq(h, n, s) => MinHashAgg(h, intLitArg(n, "minhash_agg", "numHashes"),
        longLitArg(s, "minhash_agg", "seed")).toAggregateExpression()
    },
    fn("minhash_sig", classOf[MinHashSig], "1-3 arguments (whs[, numHashes[, seed]])") {
      case Seq(w) => MinHashSig(w, 64, 42L)
      case Seq(w, n) => MinHashSig(w, intLitArg(n, "minhash_sig", "numHashes"), 42L)
      case Seq(w, n, s) => MinHashSig(w, intLitArg(n, "minhash_sig", "numHashes"),
        longLitArg(s, "minhash_sig", "seed"))
    },
    // the audience-store primitive and its cardinality arithmetic
    fn("dense_bitmap_agg", classOf[DenseBitmapAgg], "1-2 arguments (id[, nBits])") {
      case Seq(id) => DenseBitmapAgg(id, 1 << 22).toAggregateExpression()
      case Seq(id, n) =>
        DenseBitmapAgg(id, intLitArg(n, "dense_bitmap_agg", "nBits")).toAggregateExpression()
    },
    fn("bitmap_cardinality", classOf[BitmapCardinality], "1 argument (bitmap)") {
      case Seq(b) => BitmapCardinality(b)
    },
    fn("bitmap_and_cardinality", classOf[BitmapAndCardinality], "2 arguments (a, b)") {
      case Seq(a, b) => BitmapAndCardinality(a, b)
    },
    fn("bitmap_or_cardinality", classOf[BitmapOrCardinality], "2 arguments (a, b)") {
      case Seq(a, b) => BitmapOrCardinality(a, b)
    },
    // Misra–Gries heavy-hitter candidate summary (STRUCT<total, keys>)
    fn("mg_sketch", classOf[MisraGriesAgg], "2 arguments (key, k)") {
      case Seq(key, k) =>
        MisraGriesAgg(key, intLitArg(k, "mg_sketch", "k")).toAggregateExpression()
    },
    // mergeable KLL quantile sketches
    fn("kll_agg", classOf[KllDoublesAgg], "1-2 arguments (value[, k])") {
      case Seq(v) => KllDoublesAgg(v, KllAgg.DefaultK).toAggregateExpression()
      case Seq(v, k) =>
        KllDoublesAgg(v, intLitArg(k, "kll_agg", "k")).toAggregateExpression()
    },
    fn("kll_union_agg", classOf[KllUnionAgg], "1-2 arguments (sketch[, k])") {
      case Seq(sk) => KllUnionAgg(sk, KllAgg.DefaultK).toAggregateExpression()
      case Seq(sk, k) =>
        KllUnionAgg(sk, intLitArg(k, "kll_union_agg", "k")).toAggregateExpression()
    },
    fn("kll_quantile", classOf[KllQuantile], "2 arguments (sketch, q)") {
      case Seq(sk, q) => KllQuantile(sk, q)
    },
    fn("kll_rank", classOf[KllRank], "2 arguments (sketch, v)") {
      case Seq(sk, v) => KllRank(sk, v)
    },
    // bounded top-K heap: sort/payload take any orderable atomic type
    // (checked by the aggregate's own type check)
    fn("topk_agg", classOf[TopKAgg], "3 arguments (sort, payload, k)") {
      case Seq(sort, payload, k) =>
        TopKAgg(sort, payload, intLitArg(k, "topk_agg", "k")).toAggregateExpression()
    })
}
