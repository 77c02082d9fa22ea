package graft

import graft.operators.{DedupOps, GraphOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale hygiene proof for the pair-graph consumers (d06 CC, g01
  * triangles, g04 LPA): `DedupOps.sharedAdjacency` persists the
  * symmetrized near-dup graph BUCKETED AND SORTED on `src`, so the
  * opening shuffle of every consumer — CC's per-round edge⋈label join,
  * the triangle degree aggregate and its first degree attach, LPA's
  * vote join — runs with ZERO Exchange on the adjacency side. At 100 TB
  * the pair graph of a near-dup-heavy corpus is itself large; paying
  * its shuffle once at write time instead of once per consumer per
  * round is the difference the BucketedJoinSpec snapshots already pin
  * for the CDC family, extended here to the graph family.
  */
class BucketedAdjacencySpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark = {
    val s = Session.get("graft-test-adj")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    s
  }

  private def nExchanges(plan: String): Int = plan.split("Exchange").length - 1

  test("adjacency is the symmetrized pair graph, bucketed on src") {
    val pairs = DedupOps.sharedPairGraph(spark, dir).select("doc_a", "doc_b")
    val adj = DedupOps.sharedAdjacency(spark, dir)
    assert(adj.columns.toSeq == Seq("src", "dst"))
    assert(adj.count() == 2 * pairs.count())
    // both orientations present
    val canon = adj.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct().count()
    assert(canon == pairs.count())
  }

  test("degree aggregate and CC-round join are exchange-free on the adjacency") {
    val adj = DedupOps.sharedAdjacency(spark, dir)
    val degPlan = adj.groupBy("src").agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(nExchanges(degPlan) == 0,
      s"bucketed degree aggregate still shuffles:\n$degPlan")

    // the shape of a CC/LPA round: adjacency joined to a per-node frame
    // derived from the same bucketed scan — co-partitioned, no Exchange
    val labels = adj.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
    val round = adj.join(labels, adj("src") === labels("node"))
    val joinPlan = round.queryExecution.executedPlan.toString
    assert(nExchanges(joinPlan) == 0,
      s"CC round join shuffles the bucketed adjacency:\n$joinPlan")
    assert(round.count() > 0)
  }

  test("d06 clusters match between bucketed and in-memory sym paths") {
    val pairs = DedupOps.sharedPairGraph(spark, dir).select("doc_a", "doc_b")
    val adj = DedupOps.sharedAdjacency(spark, dir)
    val got = DedupOps.connectedComponents(pairs, symAdj = Some(adj))
      .collect().map(r => (r.get(0), r.get(1))).toSet
    val want = DedupOps.connectedComponents(pairs)
      .collect().map(r => (r.get(0), r.get(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("g04 LPA labels match between bucketed and in-memory sym paths") {
    val pairs = DedupOps.sharedPairGraph(spark, dir, 0.7).select("doc_a", "doc_b")
    val adj = DedupOps.sharedAdjacency(spark, dir, 0.7)
    val got = GraphOps.labelPropagation(pairs, 2, symAdj = Some(adj))
      .collect().map(r => (r.get(0), r.get(1))).toSet
    val want = GraphOps.labelPropagation(pairs, 2)
      .collect().map(r => (r.get(0), r.get(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("g01 triangle count matches between bucketed and edge-list paths") {
    val pairs = DedupOps.sharedPairGraph(spark, dir).select("doc_a", "doc_b")
    val adj = DedupOps.sharedAdjacency(spark, dir)
    val got = GraphOps.triangleCountAdjIntersect(adj).head.getLong(0)
    val want = GraphOps.triangleCount(pairs).head.getLong(0)
    assert(got == want)
  }

  test("the adjacency lives under this application's scratch and is deleted on drop") {
    DedupOps.sharedAdjacency(spark, dir)
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_adj_"))
    assert(tables.nonEmpty)
    val locs = tables.map(t => new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location))
    val fs = locs.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    locs.foreach { loc =>
      assert(loc.toString.contains(spark.sparkContext.applicationId), loc)
      assert(fs.exists(loc), loc)
    }
    DedupOps.dropSharedGraphs(spark)
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_adj_")))
    locs.foreach(loc => assert(!fs.exists(loc), loc))
  }
}
