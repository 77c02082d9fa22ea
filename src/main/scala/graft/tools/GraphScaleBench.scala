package graft.tools

import graft.core.Materialize.MatOps
import graft.Session
import graft.operators.{DedupOps, GraphOps}
import graft.progress.ProgressListener
import org.apache.spark.sql.functions._

/** Decade-scale evidence for the graph family on a graph whose EDGE
  * count grows LINEARLY in the node count — unlike the 0.7-threshold
  * ScaleUp pair graph, whose cross-replica twins make the edge volume
  * quadratic in replicas by fixture construction (BASELINE.md r8/r9:
  * g04/g05 sf10 excluded for exactly that reason). Here the fixture
  * cannot confound the operator: degrees are bounded (1..15, avg ≈ 8),
  * so time-per-edge across two runs a decade apart isolates the
  * operator's own scaling.
  *
  * The graph is deterministic and generated in expression space
  * (`spark.range` + hash arithmetic — no driver materialization, no
  * rand()): node i emits 1 + (xxhash64(i) mod 15) edges to hash-derived
  * targets, self-loops dropped, exact-duplicate edges deduped at
  * generation (one edge-linear shuffle, charged to setup, not to the
  * measured operators).
  *
  * Runs [[GraphOps.labelPropagation]] (2 rounds, the g04 shape) and
  * [[GraphOps.kCorePeel]] (k=3, 3 rounds, the g05 shape) and prints one
  * JSON ledger line per operator.
  *
  * Mode `lpab` is the ≥10⁹-edge STORAGE path: the in-memory fallback
  * adjacency (a deserialized checkpoint of 2m rows) plus round-1's two
  * edge-cardinality agg shuffles is a ~225 GB live set at 1.6B
  * symmetric rows — past one box's disk. The production shape for that
  * regime is g04's: the symmetric adjacency written ONCE as a
  * src-bucketed sorted table (~10 B/row on disk), every round's vote
  * join exchange-free against the scan. `lpab` writes that table
  * (build charged separately) and times the same 2 LPA rounds over it;
  * edges stage to scratch parquet instead of a heap checkpoint for the
  * same reason.
  *
  * Fixture `zipf` (third arg): a POWER-LAW graph instead of the
  * bounded-degree one — out-stub counts are Pareto(α = 2.5, capped) and
  * stub targets are log-uniform over the id space (`⌊n^u⌋`, density
  * ∝ 1/x), i.e. in-degree follows Zipf(1): node j collects ≈ m/(j·ln n)
  * edges, so the top ids are million-degree hubs at decade scale. Real
  * dedup/web graphs are Zipfian, and a bounded-degree fixture cannot
  * exercise the hub terms (wedge explosion at an apex, skewed join
  * keys, per-edge intersection length) — this mode exists to measure
  * them (r10 verdict ask #2). Same determinism contract: pure hash
  * arithmetic in expression space, no rand(), no driver state.
  *
  * Mode `tri` times [[GraphOps.triangleCountAdjIntersect]] (the live
  * g01 path; per-edge sorted-merge over degree-ORIENTED out-lists,
  * bounded O(√m) even at a hub) over the bucketed adjacency and prints
  * one ledger line. The retired wedge-join form's `tri_wedgejoin`
  * lines stay in BASELINE.md as the dispatch decision's receipt.
  *
  * Both bucketed modes write the adjacency through
  * [[graft.operators.DedupOps.writeBucketedAdjacency]], the writer g01
  * and g04 read from, so the timed table has their bucket count.
  *
  * Usage: tools/run.sh graft.tools.GraphScaleBench <nodes> [lpa|lpab|kcore|tri|both] [zipf]
  */
object GraphScaleBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: GraphScaleBench <nodes> [lpa|lpab|kcore|tri|both] [zipf]")
    val n = args(0).toLong
    val which = if (args.length > 1) args(1) else "both"
    val zipf = args.length > 2 && args(2) == "zipf"
    val spark = Session.get("graft-graphscale")
    spark.sparkContext.setLogLevel("WARN")
    // per-stage breakdown after each timed body, to attribute
    // fixture-shape premiums (e.g. the Zipf hub's LPA term) to a named
    // stage, not a guess
    val stats = ProgressListener.attach(spark)

    val stubs =
      if (zipf) {
        // Pareto out-stubs: u ∈ (0,1] from a hash; k = ⌈u^(−1/1.5)⌉
        // (α = 2.5 → mean ≈ 3), capped at 10k so a single generator row
        // cannot explode; log-uniform targets: dst = ⌊n^v⌋ − 1 clamped,
        // giving the 1/x in-degree density (Zipf hubs at small ids).
        s"""transform(
           |  sequence(1, least(10000, cast(ceil(pow(
           |    (cast(pmod(xxhash64(id), 1000000) as double) + 1.0) / 1000000.0,
           |    -1.0 / 1.5)) as int))),
           |  j -> least(${n}L - 1L, cast(floor(pow(cast(${n}L as double),
           |    (cast(pmod(xxhash64(id * 131 + j * 7919), 1000000) as double) + 1.0)
           |      / 1000000.0)) as bigint) - 1L))""".stripMargin
      } else
        s"transform(sequence(1, 1 + cast(pmod(xxhash64(id), 15) as int)), " +
          s"j -> pmod(xxhash64(id * 131 + j * 7919), ${n}L))"
    val gen = spark.range(n)
      .select(col("id").as("src"), explode(expr(stubs)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val edges =
      if (which == "lpab") {
        // storage-path staging: parquet scratch, not a heap checkpoint
        val p = graft.core.Materialize.freshScratchPath(spark, "graphscale-edges")
        gen.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      } else gen.materialize
    val m = edges.count()

    def timed(name: String)(body: => Long): Unit = {
      // drain the async bus on both sides of the timed body so a prior
      // operator's tail events can't leak into this one's attribution
      stats.drain(spark); stats.reset()
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"metric":"graphscale_$name","nodes":$n,"edges":$m,"rows":$rows,"total_sec":$sec%.2f,"ns_per_edge":${sec * 1e9 / m}%.1f}""")
      stats.drain(spark); println(s"[stagestats] $name:"); stats.report()
    }

    // the g01/g04 storage shape: symmetric adjacency bucketed on src
    def bucketedAdjacency(name: String): Int =
      DedupOps.writeBucketedAdjacency(spark, name,
        edges.select(col("doc_a").as("src"), col("doc_b").as("dst")), m)

    if (which == "lpa" || which == "both")
      timed("lpa2")(GraphOps.labelPropagation(edges, iterations = 2).count())
    if (which == "lpab") {
      val name = s"graphscale_adj_$n"
      val tb0 = System.nanoTime()
      val nBuckets = bucketedAdjacency(name)
      println(f"""{"metric":"graphscale_adj_build","nodes":$n,"edges":$m,"buckets":$nBuckets,"total_sec":${(System.nanoTime() - tb0) / 1e9}%.2f}""")
      timed("lpa2_bucketed")(GraphOps.labelPropagation(edges, iterations = 2,
        symAdj = Some(spark.table(name))).count())
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
    }
    if (which == "kcore" || which == "both")
      timed("kcore3")(GraphOps.kCorePeel(edges, k = 3, rounds = 3).count())
    if (which == "tri") {
      val name = s"graphscale_triadj_$n"
      bucketedAdjacency(name)
      timed("tri_adjintersect")(GraphOps
        .triangleCountAdjIntersect(spark.table(name))
        .head().getLong(0))
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
    }
    spark.stop()
  }
}
