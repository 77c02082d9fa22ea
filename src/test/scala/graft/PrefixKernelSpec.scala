package graft

import graft.core.Materialize.MatOps
import graft.operators.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the prefix kernel's rank-ordered exactly-once rule, the PPJoin
  * positional filter (the sf10 candidate-blow-up fix), and the
  * past-broadcast shuffle-hash verify path.
  *
  * The positional filter is stated on the FIRST shared token in the
  * global rarity order (which is why the kernel joins on an
  * order-preserving token RANK): on the exactly-once row no shared
  * token precedes the join token, so |a∩b| ≤ 1 + min(sz−pos) — a true
  * pair always passes on its kept row, while near-miss pairs sharing
  * many mid-rarity tokens below their salted prefixes (the
  * cross-replica-twin shape that drove the measured 2.45B sf10
  * candidates) die at candidate time. */
class PrefixKernelSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-prefix-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  // 20 boilerplate tokens shared by 72 docs, plus per-doc unique tokens.
  private val common = (1 to 20).map(i => s"boiler$i")
  /** 70 background docs: commons + 10 unique tokens each → J = 0.5 with
    * any template doc, below 0.9. */
  private def background(i: Int): String =
    (common ++ (1 to 10).map(j => s"u${i}_$j")).mkString(" ")
  /** The adversarial TRUE pair: commons + 1 unique each → J = 20/22 ≈
    * 0.909; every SHARED token is corpus-wide boilerplate, and the
    * required overlap (20) exactly meets the positional upper bound —
    * the completeness boundary. */
  private val templA = (common :+ "onlyA").mkString(" ")
  private val templB = (common :+ "onlyB").mkString(" ")
  /** A rare-token true pair: J = 19/21 ≈ 0.905. */
  private val rare = (1 to 20).map(i => s"rare$i")
  private val rareA = rare.mkString(" ")
  private val rareB = (rare.dropRight(1) :+ "rareX").mkString(" ")

  private def rows: Seq[(Long, String)] =
    (0 until 70).map(i => (i.toLong, background(i))) ++
      Seq((70L, templA), (71L, templB), (72L, rareA), (73L, rareB))

  private lazy val docsDf: DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Exact quadratic truth over distinct word sets. */
  private def truth: Set[(Long, Long, Double)] = {
    val sets = rows.map { case (id, t) => (id, t.split(' ').toSet) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= 0.9
    } yield (a, b, math.rint(j * 10000) / 10000.0)).toSet
  }

  private def kernelPairs(): Set[(Long, Long, Double)] =
    DedupOps.prefixFilterPairsOn(DedupOps.hashedWordSetsOf(docsDf), 0.9)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("a true pair whose shared tokens are ALL boilerplate is still found (completeness at the positional boundary)") {
    val t = truth
    assert(t.contains((70L, 71L, 0.9091)), s"fixture broken: $t")
    assert(t.contains((72L, 73L, 0.9048)))
    assert(kernelPairs() == t)
  }

  test("candidate volume is exactly the true pair set on the boilerplate corpus") {
    // backgrounds keep all-unique prefixes (10 df=1 tokens ≥ p = 4), so
    // the only candidate rows are the two true pairs — the join never
    // explodes on the df=72 boilerplate tokens
    val cand = DedupOps.prefixCandidatesOn(
      DedupOps.hashedWordSetsOf(docsDf).materialize, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set((70L, 71L), (72L, 73L)), cand)
  }

  test("the positional filter prunes a near-miss twin at candidate time") {
    import spark.implicits._
    // 37 shared df=2 tokens + 3 unique each: J = 37/43 ≈ 0.860 < 0.9.
    // Salt (3) < prefix length (5), so 2 shared tokens DO enter both
    // prefixes — without the positional bound this IS a candidate; with
    // it, the kept row's bound 1 + min(40−4, 40−4) = 37 misses the
    // required overlap ⌈0.9/1.9·80⌉ = 38.
    val shared = (1 to 37).map(i => s"s$i")
    val a = (shared ++ Seq("xa1", "xa2", "xa3")).mkString(" ")
    val b = (shared ++ Seq("xb1", "xb2", "xb3")).mkString(" ")
    val twins = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val cand = DedupOps.prefixCandidatesOn(
      DedupOps.hashedWordSetsOf(twins).materialize, 0.9).count()
    assert(cand == 0L, s"near-miss twin not pruned: $cand candidate(s)")
    // control: the filter is positional, not a similarity oracle — a
    // pair sharing its 20 RAREST tokens but diverging in a common tail
    // (J = 20/60 ≈ 0.33) has its first shared token at position 1, so
    // the suffix bound is vacuous: it must reach (and die in) the exact
    // verify, not be silently pruned
    val sTok = (1 to 20).map(i => s"s$i")
    val pool = (1 to 60).map(i => s"p$i")
    val a2 = (sTok ++ pool.take(20)).mkString(" ")
    val b2 = (sTok ++ pool.slice(20, 40)).mkString(" ")
    // two fillers keep every pool token commoner (df 3/2) than the
    // shared df=2 tokens without forming candidates themselves (their
    // 10 df=1 unique tokens fill their prefixes)
    def filler(i: Int) =
      (pool ++ (1 to 10).map(j => s"f${i}_$j")).mkString(" ")
    val ctrl = Seq((0L, a2), (1L, b2), (2L, filler(1)), (3L, filler(2)))
      .toDF("doc_id", "text")
    val ctrlSets = DedupOps.hashedWordSetsOf(ctrl).materialize
    assert(DedupOps.prefixCandidatesOn(ctrlSets, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
    assert(DedupOps.prefixFilterPairsOn(ctrlSets, 0.9).count() == 0L)
  }

  test("forced past-broadcast verify: shuffle-hash attaches, no array-laden sort") {
    val df = DedupOps.prefixFilterPairsOn(
      DedupOps.hashedWordSetsOf(docsDf), 0.9, verifyBroadcast = Some(false))
    val plan = df.queryExecution.explainString(FormattedMode)
    // the verify attaches must be ShuffledHashJoin on doc_a / doc_b …
    assert(plan.contains("ShuffledHashJoin"), plan)
    // … and NO SortMergeJoin may touch the candidate pair frame: an
    // SMJ there external-sorts pair-count × array bytes (the measured
    // sf10 cliff). Node-detail paragraphs in formatted mode start
    // "(n) NodeName"; any SMJ block naming doc_a/doc_b is a fail.
    val smjBlocks = plan.split("\n\n")
      .filter(b => b.matches("(?s)\\(\\d+\\) SortMergeJoin.*"))
    assert(!smjBlocks.exists(b => b.contains("doc_a") || b.contains("doc_b")),
      smjBlocks.mkString("\n---\n"))
    // … and the attach must ship the rank-encoded BINARY sets, not raw
    // long arrays: the varint merge in the plan is the pin that the
    // pair-linear exchange runs at the compact per-pair constant
    // (r11 — 2.3× → 1.17× vs broadcast at sf1.0)
    assert(plan.contains("varint_intersect_within"), plan)
    val forced = df
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(forced == truth)
  }
}
