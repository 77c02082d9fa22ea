package graft

import graft.operators.DedupOps
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Connected components: the alt-star doubling path vs min-label
  * propagation, and the rounds-budget crossover between them. */
class DedupCCSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("alt-star converges on a 64-chain within an O(log n) budget") {
    // path 1-2-...-64: diameter 63. Min-label needs 63 rounds; the
    // doubling form must settle well inside 12.
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = labels(DedupOps.connectedComponentsAltStar(chain, maxRounds = 12))
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.forall(_ == 1L))
  }

  test("pointer-jump propagation converges a 40-chain inside the budget") {
    // diameter 39 ≫ crossoverAfter = 8: plain per-round propagation
    // would hand off to alt-star, but the r16 pointer jump doubles the
    // label-pointer depth per round, so the loop itself must settle in
    // ≤ 8 rounds (O(log diameter)) — pinned via the returned round count
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = labels(DedupOps.connectedComponents(chain))
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
    val rounds = DedupOps.propagateLabels(chain).map(_._2)
    assert(rounds.exists(r => r >= 1 && r <= 8),
      s"expected propagation (not alt-star fallback) to converge the " +
        s"40-chain; rounds=$rounds")
  }

  test("crossover to alt-star still fires when the budget truly runs out") {
    // crossoverAfter = 1: one hop+jump round cannot cover diameter 39,
    // so the fallback must take over and still be right
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = labels(DedupOps.connectedComponents(chain, crossoverAfter = 1))
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
    assert(DedupOps.propagateLabels(chain, crossoverAfter = 1).isEmpty,
      "expected the alt-star fallback path")
  }

  test("connectedComponents is correct for string node ids") {
    // string labels cast to NULL under the numeric label-sum shortcut —
    // the type check must route them to the join-count convergence path,
    // not silently declare convergence after one round
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val got = DedupOps.connectedComponents(chain).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("alt-star labels equal propagation labels on a multi-component graph") {
    val rnd = new scala.util.Random(11)
    // several blobs + a chain + isolated pair, shuffled ids
    val edges = (
      Seq.fill(60)((rnd.nextInt(15).toLong + 1, rnd.nextInt(15).toLong + 1)) ++
        (20L until 30L).map(i => (i, i + 1)) ++
        Seq((100L, 101L))
      ).filter { case (a, b) => a != b }.toDF("src", "dst")
    val viaProp = labels(DedupOps.connectedComponents(
      edges, maxRounds = 100, crossoverAfter = 100))
    val viaStar = labels(DedupOps.connectedComponentsAltStar(edges))
    assert(viaStar == viaProp)
  }

  /** Every node of an executed plan, looking inside adaptive plans and
    * query stages; a reused exchange is a leaf. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case s: QueryStageExec => allNodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p.children.flatMap(allNodes)
  })

  /** The nodes one exchange's map side runs: down to the next exchange. */
  private def mapSide(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: Exchange | _: QueryStageExec | _: ReusedExchangeExec => Nil
    case _ => p.children.flatMap(mapSide)
  })

  private def feedsUnion(e: SparkPlan): Boolean =
    mapSide(e.children.head).exists(_.isInstanceOf[UnionExec])

  test("the fused hop+jump round shuffles its union once and reuses it") {
    // executed plans of every localCheckpoint the CC loop runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val capture = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // NULLABLE id columns, as every parquet-read pair graph has: the
    // jump join's inferred isnotnull(node) only reaches (and diverges)
    // one side's union subtree when the ids can be null at all
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .collect { case (a, b) if a != b => (Option(a), Option(b)) }
      .toDF("src", "dst")
    spark.listenerManager.register(capture)
    try {
      DedupOps.connectedComponents(edges).count()
      Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(capture)
    import scala.jdk.CollectionConverters._
    val round1 = plans.asScala.find(p => allNodes(p).exists(_.isInstanceOf[UnionExec]))
      .getOrElse(fail(s"no hop+jump materialize among ${plans.size} captured"))
    val nodes = allNodes(round1)
    val unionShuffles = nodes.collect {
      case e: ShuffleExchangeExec if feedsUnion(e) => e }
    val reused = nodes.collect {
      case r: ReusedExchangeExec if feedsUnion(r.child) => r }
    assert(unionShuffles.size == 1,
      s"the union input must be shuffled exactly once:\n$round1")
    assert(reused.nonEmpty,
      s"the other join side must reuse the union shuffle:\n$round1")
  }
}
