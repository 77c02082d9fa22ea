package graft

import graft.operators.GraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()
  import spark.implicits._

  private def tri(df: DataFrame): Long =
    df.collect().head.getLong(0)

  /** The clean symmetric adjacency g01's kernel reads, as
    * `DedupOps.sharedAdjacency` stores it: both orientations of every
    * distinct non-loop edge. */
  private def symAdj(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst")).distinct()
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** g01's kernel on `edges`, on its default (broadcast) path and on
    * its shuffle-hash fallback; both counts must agree. */
  private def adjTri(edges: DataFrame): Long = {
    val adj = symAdj(edges)
    val viaBroadcast = tri(GraphOps.triangleCountAdjIntersect(adj))
    val shuffled = GraphOps.triangleCountAdjIntersect(adj,
      broadcastNbr = Some(false))
    assert(shuffled.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"))
    assert(tri(shuffled) == viaBroadcast)
    viaBroadcast
  }

  test("degree-ordered count equals canonical count") {
    // K4 (4 triangles) + a pendant chain + an isolated triangle
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L),
      (7L, 8L), (8L, 9L), (9L, 7L)).toDF("src", "dst")
    assert(tri(GraphOps.triangleCount(edges)) == 5L)
    assert(adjTri(edges) == 5L)

    // pseudo-random graph: same counts whatever they are, plus dup +
    // reversed edges to exercise canonicalization
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val redges = (es ++ es.take(50).map(_.swap)).toDF("src", "dst")
    assert(tri(GraphOps.triangleCount(redges)) == adjTri(redges))
  }

  test("personalized PageRank matches hand computation on a 2-node graph") {
    // seed {1}, edge 1→2. r0 = {1: 1.0}.
    // iter1: teleport 1→0.15; contrib 2 ← 0.85·1.0/1 → {1: 0.15, 2: 0.85}
    // iter2: teleport 1→0.15; contrib 2 ← 0.85·0.15   → {1: 0.15, 2: 0.1275}
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    val r1 = GraphOps.personalizedPageRank(edges, seeds, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(close(r1(1L), 0.15) && close(r1(2L), 0.85) && r1.size == 2)
    val r2 = GraphOps.personalizedPageRank(edges, seeds, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(close(r2(1L), 0.15) && close(r2(2L), 0.1275) && r2.size == 2)
  }

  test("PPR dangling redistribution conserves mass on the 2-node graph") {
    // seed {1}, edge 1→2; node 2 is dangling.
    // iter1: dangling mass over r0 = 0 (node 1 has an out-edge) →
    //   teleport 1→0.15; contrib 2 ← 0.85 → {1: 0.15, 2: 0.85}
    // iter2: dangling mass m = 0.85 (node 2) →
    //   teleport 1→(0.15 + 0.85·0.85) = 0.8725; contrib 2 ← 0.85·0.15
    //   → {1: 0.8725, 2: 0.1275}; total mass back to exactly 1.0
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    val r2 = GraphOps.personalizedPageRank(edges, seeds, iterations = 2,
      redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(close(r2(1L), 0.8725) && close(r2(2L), 0.1275) && r2.size == 2)
    assert(close(r2.values.sum, 1.0))
  }

  test("degree ordering collapses the hub's wedge fan-out") {
    // star with a MIDDLE-id hub (100), 40 leaves below and 40 above: zero
    // triangles, but the id-canonical wedge join enumerates every
    // (low leaf, hub, high leaf) wedge — 40×40 = 1600 — while the
    // degree-oriented form points every edge leaf→hub, so no vertex has
    // two out-edges and the wedge stage is EMPTY
    val star = ((1L to 40L) ++ (101L to 140L)).map(l => (100L, l)).toDF("src", "dst")
    assert(tri(GraphOps.triangleCount(star)) == 0L)
    assert(adjTri(star) == 0L)

    val e = star.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    val canonicalWedges = e.toDF("a", "b").alias("x")
      .join(e.toDF("b", "c").alias("y"), "b")
      .filter(col("b") < col("c")).count()
    assert(canonicalWedges == 1600L)

    val o = GraphOps.degreeOrientedFromAdj(symAdj(star))
    val orientedWedges = o.alias("x")
      .join(o.alias("y"), col("x.src") === col("y.src"))
      .filter(col("x.dst") < col("y.dst")).count()
    assert(orientedWedges == 0L)
  }

  test("LPA splits bridged cliques that connected components would merge") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    // two 4-cliques joined by the single bridge 4–10: one CC, two
    // communities. Hand-run of 2 synchronous rounds (own label doesn't
    // vote, ties to min): round 1 sends every A-node to label 1-or-2 and
    // B to 4-or-10; round 2 settles A on 1 and B on 10.
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L, 10L)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, iterations = 2)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L))
    val cc = graft.operators.DedupOps.connectedComponents(edges)
      .select("component").distinct().count()
    assert(cc == 1L, "CC merges what LPA separates")
  }
}
