package graft.operators

import graft.core.Materialize.MatOps
import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the near-duplicate pair graph (edges =
  * oracle-verified d02/d07 pairs; nodes = documents). Together with
  * [[DedupOps.connectedComponents]] and PageRank this gives the engine a
  * distributed-graph family: iterative propagation, component labeling,
  * and motif counting.
  */
object GraphOps {

  /** Canonical undirected edge set: (a, b) with a < b, self-loops and
    * duplicates dropped. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.toDF("src", "dst")
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()

  /** Count triangles in an undirected graph given as (src, dst) edges.
    *
    * Edges are canonicalized to src < dst, so each triangle {a<b<c} is
    * counted exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c) — the two-join
    * formulation of the classic MapReduce triangle count (Suri &
    * Vassilvitskii, WWW'11). Wedge fan-out at a vertex of degree d is
    * O(d²), so a power-law hub dominates the wedge stage — this form is
    * the ground-truth twin; [[triangleCountAdjIntersect]] is the scale
    * path. Both joins are plain equi-joins: wedge generation shuffles by
    * the middle vertex, closure by the (a, c) pair. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = canonical(edges)
    val wedges = e.toDF("a", "b").alias("x")
      .join(e.toDF("b", "c").alias("y"), "b")
      .filter(col("b") < col("c"))
      .select(col("a"), col("b"), col("c"))
    wedges.join(e.toDF("a", "c"), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Each edge oriented from its lower-(degree, id) endpoint: columns
    * (src, dst, deg_dst). Every vertex's OUT-degree is then bounded by
    * O(√m) regardless of its real degree — the Suri & Vassilvitskii
    * ordering that tames power-law hubs.
    *
    * Fed from a pre-symmetrized adjacency BUCKETED on `src`
    * (DedupOps.sharedAdjacency): each node's degree is its out-row
    * count in the symmetric frame, so the degree aggregate runs with
    * ZERO Exchange on the bucketed scan, and the canonical edge list is
    * the same scan filtered to src < dst — whose join back to the
    * degrees (both hash-clustered on the same key) is exchange-free
    * too. Only the second degree attach (keyed on the other endpoint)
    * still shuffles. */
  def degreeOrientedFromAdj(adj: DataFrame): DataFrame = {
    val deg = adj.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val e = adj.filter(col("src") < col("dst")).toDF("a", "b")
    orientByDegree(e, deg)
  }

  private def orientByDegree(e: DataFrame, deg: DataFrame): DataFrame = {
    val lowerA = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    e.join(deg.toDF("a", "deg_a"), "a")
      .join(deg.toDF("b", "deg_b"), "b")
      .select(
        when(lowerA, col("a")).otherwise(col("b")).as("src"),
        when(lowerA, col("b")).otherwise(col("a")).as("dst"),
        when(lowerA, col("deg_b")).otherwise(col("deg_a")).as("deg_dst"))
  }

  // ---------------------------------------------------------------- g01
  private val BcMaxAdjBytes = 1500000000L

  /** Triangle count via PER-EDGE sorted-neighborhood intersection —
    * the shuffle-free successor to the Suri & Vassilvitskii wedge join.
    * Same degree orientation (each triangle counted once,
    * at its lowest-rank vertex: for oriented edge u→v the common
    * out-neighbors N⁺(u)∩N⁺(v) are exactly the triangles closed over
    * that edge), but the Σ C(outdeg,2) wedge EXPLOSION never becomes
    * rows: each edge computes one codegen'd sorted-array merge
    * ([[graft.functions.VectorFunctions.sorted_long_intersect_within]]
    * with budget=|A|, i.e. exact count, never −1) over the two
    * endpoints' out-lists. The wedge join shuffled+sorted the full
    * explosion (~500M rows at sf1.0, measured 639 s); here the same
    * O(m^{3/2}) element comparisons run inside one whole-stage-codegen
    * scan, and what moves is O(m) edges plus the inverted
    * neighborhood. That table (one row per vertex, Σ|N⁺| = m sorted
    * longs — the orientation bounds every array at O(√m)) broadcasts
    * when small (both attaches ride ONE broadcast: scan → BHJ → BHJ →
    * merge → partial agg, zero wide shuffles — 639 → 9.5 s at sf1.0);
    * past `BcMaxAdjBytes` (estimated) it degrades to two equi-joins
    * whose fat side is the same bytes the wedge shuffle moved, minus
    * the 50×-row overhead and the sort — the 100 TB fallback. */
  def triangleCountAdjIntersect(adj: DataFrame,
      broadcastNbr: Option[Boolean] = None): DataFrame = {
    val o = degreeOrientedFromAdj(adj).materialize
    val nbr0 = o.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("ns")).materialize
    // Byte-derived broadcast guard, not a row-count proxy: the oriented
    // neighborhood table holds exactly m longs (Σ|N⁺| = one canonical
    // edge each) plus PER-VERTEX row/array headers — overhead scales
    // with vertices, not edges, so estimating it per-edge (the r9 ×16
    // guard) over-counts ~3× on dense graphs and pushed the sf10 0.9
    // graph (240M sym rows but only ~1.2 GB real payload) onto the
    // shuffle fallback, whose SMJ sort-spill is what filled the disk.
    // The deserialized broadcast lives on the DRIVER first, so the cap
    // is the lower of a fixed budget and an eighth of the actual heap
    // (a session launched without run.sh's 48g default must not be
    // pushed over by a guard tuned for it).
    val bcBudget = math.min(BcMaxAdjBytes, Runtime.getRuntime.maxMemory / 8)
    val estBytes = adj.count() / 2 * 8L + nbr0.count() * 48L
    val bc = broadcastNbr.getOrElse(estBytes <= bcBudget)
    // Fallback attaches are SHUFFLE_HASH, not SMJ: the per-vertex array
    // side builds a hash map and the oriented edge frame streams — no
    // external sort of the array-laden join output (the spill that
    // dominated the non-broadcast path).
    val nbr = if (bc) broadcast(nbr0) else nbr0.hint("SHUFFLE_HASH")
    o.select(col("src"), col("dst"))
      .join(nbr, "src")
      .select(col("dst").as("vv"), col("ns").as("ns_u"))
      .join(if (bc) nbr.toDF("vv", "ns_v")
            else nbr0.toDF("vv", "ns_v").hint("SHUFFLE_HASH"), "vv")
      .select(graft.functions.VectorFunctions.sorted_long_intersect_within(
        col("ns_u"), col("ns_v"), size(col("ns_u"))).cast("long").as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("n_triangles"))
  }

  /** Triangle count of the ≥0.9-Jaccard near-dup graph — a structure
    * probe for dedup clusters (near-cliques are triangle-dense; chains
    * of borderline pairs are not). The pair graph rides the d07 prefix
    * kernel (same exact verified pair set as the LSH path, completeness
    * guaranteed, ~7× cheaper on this corpus — the d06 decision).
    * Oracle: DuckDB closes the same wedges over the quadratic exact
    * pair set. */
  val g01 = Q("g01_neardup_triangles",
    (s, dir) =>
      triangleCountAdjIntersect(DedupOps.sharedAdjacency(s, dir)),
    Some("""
      WITH w AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(text,' '), x -> x <> '')) AS s
        FROM documents),
      e AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM w a JOIN w b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s)) * 1.0 /
                (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9)
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"""),
    // scale replay (r15 verdict ask #3 playbook): the quadratic pair
    // CTE swaps for d07's STAGED prefix-filter replay. The tail is the
    // ADJACENCY-INTERSECT triangle count (the Spark kernel's own
    // shape), not the ground truth's 3-way wedge join: sf1.0's
    // template clusters are ~thousand-doc CLIQUES, so the wedge
    // intermediate is Σ n³/6 ≈ 10⁹ rows and DuckDB materialized it as
    // a build side (blew a 42 GB temp cap, measured r16). Per
    // canonical edge (a<b), |N⁺(a) ∩ N⁺(b)| counts each triangle
    // exactly once at its two smallest vertices; builds are node-sized.
    // The tail is ALSO staged: the same aggregate ran 148 s / zero
    // spill as a plain top-level SELECT but blew the temp cap when
    // wrapped (digest subquery or CTAS both replan it) — temp tables
    // with exact stats at every step make the final SELECT immune to
    // the wrapper's optimizer boundary.
    scaleOracle = Some(s"""
      ${DedupOps.replayPairStages(0.9, "g01")}
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g01_adj AS
      SELECT doc_a AS a, list(doc_b) AS nb FROM graft_g01_tp GROUP BY doc_a
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g01_tri AS
      SELECT CAST(coalesce(sum(len(list_intersect(x.nb, y.nb))), 0) AS BIGINT)
               AS n_triangles
      FROM graft_g01_tp e JOIN graft_g01_adj x ON x.a = e.doc_a
                          JOIN graft_g01_adj y ON y.a = e.doc_b
      --graft-stage--
      SELECT n_triangles FROM graft_g01_tri"""))

  /** Personalized PageRank: power iteration on r = (1−d)·p + d·AᵀDr,
    * where the teleport vector p is uniform over `seeds` instead of all
    * nodes — the "what's relevant to THIS set" primitive (seed-expanding
    * a trusted-document set, finding parts associated with a supplier
    * cohort). r₀ = p, absent ranks are 0 (standard PPR, unlike the
    * reference-semantics mr02 whose missing ranks default to 1.0).
    *
    * Dangling mass (rank on pages with no out-edges) is DROPPED by
    * default — total mass shrinks each iteration — or, with
    * `redistributeDangling = true`, returned to the teleport set per
    * iteration (r' = (1−d)·p + d·(AᵀD⁻¹r + m·p), m = dangling mass):
    * the standard variant that conserves total mass 1. The mass sum
    * stays in-plan — a 1-row anti-join aggregate broadcast-crossJoined
    * onto the teleport rows (the t07 N-scalar discipline) — so the
    * driver loop still holds no data either way.
    *
    * Scale shape per iteration: one equi-join of edges to the current
    * rank vector (AQE-broadcast when the reachable frontier is small —
    * the common PPR case) + one partial-agg sum; redistribution adds
    * one anti-join partial-agg for the scalar. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int, damping: Double = 0.85,
      redistributeDangling: Boolean = false): DataFrame = {
    // The edge/degree subtrees repeat once per iteration inside the ONE
    // final action — AQE exchange reuse dedups them there (verified in
    // the executed plan), so materializing them would only add an extra
    // full edge copy; deliberately left as plans. The SEED COUNT is
    // different: `seeds.count()` was a separately scheduled scan job of
    // the (for g02/g03 lineitem-scale) seed plan — it now rides a seed
    // materialize as an observation (r17, guide §2.6), and the teleport
    // terms re-read the checkpointed seed blocks instead of re-running
    // the scan+filter per consumer.
    val e = edges.toDF("src", "dst")
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val (seedPages, sm) = graft.core.Materialize.observed(
      seeds.toDF("page"), "ppr-seeds", Seq(count(lit(1)).as("n")))
    val nSeeds = sm("n").asInstanceOf[Long]
    require(nSeeds > 0, "personalizedPageRank: empty seed set")
    val teleport = seedPages.distinct()
      .withColumn("tp", lit(1.0 / nSeeds))
    var ranks = teleport.select(col("page"), col("tp").as("rank"))
    for (i <- 1 to iterations) {
      val contribs = e.join(deg, "src")
        .join(ranks.withColumnRenamed("page", "src"), Seq("src"))
        .select(col("dst").as("page"),
          (lit(damping) * col("rank") / col("d")).as("c"))
      val telC =
        if (redistributeDangling) {
          val dm = ranks
            .join(deg.withColumnRenamed("src", "page"), Seq("page"), "left_anti")
            .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
          teleport.crossJoin(broadcast(dm))
            .select(col("page"),
              (col("tp") * (lit(1.0 - damping) + lit(damping) * col("dm"))).as("c"))
        } else
          teleport.select(col("page"), (col("tp") * (1.0 - damping)).as("c"))
      ranks = telC
        .union(contribs)
        .groupBy("page").agg(sum("c").as("rank"))
      if (i % 5 == 0) ranks = ranks.materialize
    }
    ranks
  }

  // ---------------------------------------------------------------- g02
  /** 2-iteration personalized PageRank over the supplier→part graph,
    * seeded on every 10th supplier — the parts most associated with the
    * seed cohort surface first. Oracle: both iterations unrolled in SQL
    * (the mr02 discipline, with the PPR teleport/default-0 semantics). */
  val g02 = Q("g02_personalized_pagerank",
    (s, dir) => {
      val li = graft.Tables.df(s, dir, "lineitem")
      val edges = li.select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst")).distinct()
      val seeds = li.filter(col("l_suppkey") % 10 === 0)
        .select(concat(lit("s"), col("l_suppkey")).as("node")).distinct()
      personalizedPageRank(edges, seeds, iterations = 2)
        .select(col("page"), round(col("rank"), 8).as("rank"))
        .orderBy(col("rank").desc, col("page"))
    },
    Some("""
      WITH edges AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS tgt
        FROM lineitem),
      deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      seeds AS (
        SELECT DISTINCT 's' || l_suppkey AS page FROM lineitem
        WHERE l_suppkey % 10 = 0),
      ns AS (SELECT count(*) AS n FROM seeds),
      r0 AS (SELECT page, 1.0 / (SELECT n FROM ns) AS rank FROM seeds),
      r1 AS (
        SELECT page, sum(c) AS rank FROM (
          SELECT page, 0.15 / (SELECT n FROM ns) AS c FROM seeds
          UNION ALL
          SELECT e.tgt, 0.85 * r0.rank / d.d
          FROM edges e JOIN deg d ON e.src = d.src
                       JOIN r0 ON r0.page = e.src) t
        GROUP BY page),
      r2 AS (
        SELECT page, sum(c) AS rank FROM (
          SELECT page, 0.15 / (SELECT n FROM ns) AS c FROM seeds
          UNION ALL
          SELECT e.tgt, 0.85 * r1.rank / d.d
          FROM edges e JOIN deg d ON e.src = d.src
                       JOIN r1 ON r1.page = e.src) t
        GROUP BY page)
      SELECT page, round(rank, 8) AS rank
      FROM r2
      ORDER BY rank DESC, page"""))

  // ---------------------------------------------------------------- g03
  /** g02's graph with dangling-mass redistribution: every part node is
    * dangling (edges only run supplier→part), so after iteration 1 a
    * large mass sits on dangling pages and the redistribute flag visibly
    * changes iteration 2 — the seeds reabsorb d·m. Oracle unrolls both
    * iterations with the same per-iteration dangling-mass scalar. */
  val g03 = Q("g03_ppr_redistribute",
    (s, dir) => {
      val li = graft.Tables.df(s, dir, "lineitem")
      val edges = li.select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst")).distinct()
      val seeds = li.filter(col("l_suppkey") % 10 === 0)
        .select(concat(lit("s"), col("l_suppkey")).as("node")).distinct()
      personalizedPageRank(edges, seeds, iterations = 2,
        redistributeDangling = true)
        .select(col("page"), round(col("rank"), 8).as("rank"))
        .orderBy(col("rank").desc, col("page"))
    },
    Some("""
      WITH edges AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS tgt
        FROM lineitem),
      deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      seeds AS (
        SELECT DISTINCT 's' || l_suppkey AS page FROM lineitem
        WHERE l_suppkey % 10 = 0),
      ns AS (SELECT count(*) AS n FROM seeds),
      r0 AS (SELECT page, 1.0 / (SELECT n FROM ns) AS rank FROM seeds),
      dm0 AS (
        SELECT COALESCE(sum(r0.rank), 0) AS m
        FROM r0 LEFT JOIN deg ON r0.page = deg.src
        WHERE deg.src IS NULL),
      r1 AS (
        SELECT page, sum(c) AS rank FROM (
          SELECT page,
                 (1.0 / (SELECT n FROM ns)) *
                   (0.15 + 0.85 * (SELECT m FROM dm0)) AS c
          FROM seeds
          UNION ALL
          SELECT e.tgt, 0.85 * r0.rank / d.d
          FROM edges e JOIN deg d ON e.src = d.src
                       JOIN r0 ON r0.page = e.src) t
        GROUP BY page),
      dm1 AS (
        SELECT COALESCE(sum(r1.rank), 0) AS m
        FROM r1 LEFT JOIN deg ON r1.page = deg.src
        WHERE deg.src IS NULL),
      r2 AS (
        SELECT page, sum(c) AS rank FROM (
          SELECT page,
                 (1.0 / (SELECT n FROM ns)) *
                   (0.15 + 0.85 * (SELECT m FROM dm1)) AS c
          FROM seeds
          UNION ALL
          SELECT e.tgt, 0.85 * r1.rank / d.d
          FROM edges e JOIN deg d ON e.src = d.src
                       JOIN r1 ON r1.page = e.src) t
        GROUP BY page)
      SELECT page, round(rank, 8) AS rank
      FROM r2
      ORDER BY rank DESC, page"""),
    // scale replay (r16 verdict item 5): the SAME unrolled redistribute
    // iterations, but each round and each dangling-mass scalar staged
    // into its own temp-table statement (the propagationStages /
    // R16.5-R16.7 lesson: a monolithic statement's join spill
    // accumulates inside ONE statement — and bigcheck's digest CTAS
    // wrapper replans a clean tail past the disk cap; at sf10 the
    // monolithic form offloaded past a 65 GB temp cap, sys-time bound).
    // Expressions are verbatim from the ground-truth oracle — same
    // decimal/double arithmetic, staged only — so the hash gate is the
    // same comparison.
    scaleOracle = Some("""
      CREATE OR REPLACE TEMP TABLE graft_g03_edges AS
      SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS tgt
      FROM lineitem
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g03_deg AS
      SELECT src, count(*) AS d FROM graft_g03_edges GROUP BY src
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g03_seeds AS
      SELECT DISTINCT 's' || l_suppkey AS page FROM lineitem
      WHERE l_suppkey % 10 = 0
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g03_ns AS
      SELECT count(*) AS n FROM graft_g03_seeds
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g03_r0 AS
      SELECT page, 1.0 / (SELECT n FROM graft_g03_ns) AS rank
      FROM graft_g03_seeds
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g03_dm0 AS
      SELECT COALESCE(sum(r.rank), 0) AS m
      FROM graft_g03_r0 r LEFT JOIN graft_g03_deg d ON r.page = d.src
      WHERE d.src IS NULL
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g03_r1 AS
      SELECT page, sum(c) AS rank FROM (
        SELECT page,
               (1.0 / (SELECT n FROM graft_g03_ns)) *
                 (0.15 + 0.85 * (SELECT m FROM graft_g03_dm0)) AS c
        FROM graft_g03_seeds
        UNION ALL
        SELECT e.tgt, 0.85 * r0.rank / d.d
        FROM graft_g03_edges e JOIN graft_g03_deg d ON e.src = d.src
                               JOIN graft_g03_r0 r0 ON r0.page = e.src) t
      GROUP BY page
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g03_dm1 AS
      SELECT COALESCE(sum(r.rank), 0) AS m
      FROM graft_g03_r1 r LEFT JOIN graft_g03_deg d ON r.page = d.src
      WHERE d.src IS NULL
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g03_r2 AS
      SELECT page, sum(c) AS rank FROM (
        SELECT page,
               (1.0 / (SELECT n FROM graft_g03_ns)) *
                 (0.15 + 0.85 * (SELECT m FROM graft_g03_dm1)) AS c
        FROM graft_g03_seeds
        UNION ALL
        SELECT e.tgt, 0.85 * r1.rank / d.d
        FROM graft_g03_edges e JOIN graft_g03_deg d ON e.src = d.src
                               JOIN graft_g03_r1 r1 ON r1.page = e.src) t
      GROUP BY page
      --graft-stage--
      SELECT page, round(rank, 8) AS rank
      FROM graft_g03_r2
      ORDER BY rank DESC, page"""))

  // ---------------------------------------------------------------- g04
  /** Synchronous label propagation (Raghavan et al. 2007): every node
    * adopts the most frequent label among its neighbors each round, ties
    * to the smallest label; labels start as node ids. Community detection
    * where connected components are too coarse — on a similarity graph
    * with a LOWER threshold than dedup, LPA splits a weakly-bridged blob
    * into its dense cores while CC would glue it into one component.
    *
    * A fixed iteration count (not convergence) keeps the result exactly
    * reproducible — full LPA is order-sensitive and can oscillate; the
    * synchronous fixed-round variant is deterministic, so the DuckDB
    * oracle can replay it round for round. A node's own label does not
    * vote (pure neighbor majority).
    *
    * Scale shape per round: one edge⋈label equi-join that never moves
    * the edge frame (src-partitioned adjacency on both paths), one
    * (node, label) partial count, and a per-node argmax as a second
    * hash aggregation — `min(struct(−cnt, label))` is lexicographically
    * the (most votes, smallest label) winner, so the argmax gets
    * map-side partials instead of a window's full (node, label) sort.
    * Everything keyed by node, lineage cut per round (the d06/g02
    * discipline). */
  def labelPropagation(edges: DataFrame, iterations: Int,
      symAdj: Option[DataFrame] = None): DataFrame = {
    // eager: sym feeds the label init AND every round's join — lazy
    // checkpoints are raced by parallel stages (the d02/g01 lesson).
    // A provided symAdj is a bucketed storage scan (its own
    // materialization — a checkpoint would erase the bucketing). The
    // fallback repartitions by src BEFORE materializing: localCheckpoint
    // preserves outputPartitioning, so every round's join re-shuffles
    // only the label frame (n rows), never the 2m-row adjacency. The
    // partition count is pinned WIDE (8× parallelism, not the 32-way
    // AQE-coalesced width): the checkpoint caches rows DESERIALIZED, so
    // a 64MB-serialized-target partition is ~6× that on-heap and N
    // concurrent cache-builds of fat partitions OOM-race the unroll
    // accounting (measured: 160M-row sym at 32 partitions OOMed a 48g
    // heap; at 8× parallelism the same frame caches in bounded slices).
    val sym = symAdj.getOrElse {
      val spark = edges.sparkSession
      val parts = spark.sparkContext.defaultParallelism * 8
      val e = canonical(edges)
      e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
        .repartition(parts, col("src"))
        .materialize
    }
    // Round 1 in closed form: labels initialize to node ids, so every
    // neighbor label is UNIQUE — every vote count is 1 and the
    // (most-votes, smallest-label) winner degenerates to the minimum
    // neighbor id. That matters at scale because the general round's
    // (node, label) count CANNOT map-side combine when labels are all
    // distinct: round 1 of the general path shuffles the full vote
    // multiset (2m rows, ~96 GB at 1.6B symmetric edges — past one
    // box's disk), while min(src) combines to node cardinality inside
    // the scan. Later rounds combine fine on their own: labels have
    // converged onto few values, so the same groupBy shrinks map-side.
    var labels =
      if (iterations >= 1)
        sym.groupBy(col("dst").as("node"))
          .agg(min(col("src")).as("label"))
          .materialize
      else
        sym.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
    for (_ <- 2 to iterations) {
      // votes keyed on `src` (the adjacency's partition key), voting
      // each edge's src label onto its dst: over a SYMMETRIC edge frame
      // this is the same multiset of (node, label) votes as the textbook
      // "label of dst grouped by src" formulation — every undirected
      // edge appears in both orientations — but it keeps the join
      // exchange-free on the src-partitioned adjacency.
      labels = sym.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(min(struct((col("cnt") * -1).as("neg_cnt"),
          col("label"))).as("win"))
        .select(col("node"), col("win.label").as("label"))
        .materialize
    }
    labels
  }

  val g04 = Q("g04_lpa_communities",
    (s, dir) => {
      val adj = DedupOps.sharedAdjacency(s, dir, 0.7)
      labelPropagation(DedupOps.pairView(adj), iterations = 2, symAdj = Some(adj))
        .select(col("node").as("doc_id"), col("label").as("community"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(text,' '), x -> x <> '')) AS s
        FROM documents),
      p AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM w a JOIN w b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s)) * 1.0 /
                (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7),
      e AS (SELECT a AS src, b AS dst FROM p
            UNION ALL SELECT b, a FROM p),
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
      c1 AS (SELECT e.src AS node, l.label, count(*) AS cnt
             FROM e JOIN l0 l ON e.dst = l.node GROUP BY 1, 2),
      l1 AS (SELECT node, label FROM (
               SELECT node, label,
                      row_number() OVER (PARTITION BY node
                                         ORDER BY cnt DESC, label) AS rn
               FROM c1) WHERE rn = 1),
      c2 AS (SELECT e.src AS node, l.label, count(*) AS cnt
             FROM e JOIN l1 l ON e.dst = l.node GROUP BY 1, 2),
      l2 AS (SELECT node, label FROM (
               SELECT node, label,
                      row_number() OVER (PARTITION BY node
                                         ORDER BY cnt DESC, label) AS rn
               FROM c2) WHERE rn = 1)
      SELECT node AS doc_id, label AS community
      FROM l2
      ORDER BY doc_id"""),
    // scale replay: the 0.7-threshold pair space through the same
    // STAGED prefix-filter chain, LPA rounds unrolled verbatim from
    // the ground truth. Every intermediate MATERIALIZED — the rounds
    // reference e and each label frame multiple times, and plain CTEs
    // would inline a copy per reference.
    // Rounds staged into temp tables (the g01 tail lesson: exact stats
    // per step, immune to the digest wrapper's optimizer boundary).
    scaleOracle = Some(s"""
      ${DedupOps.replayPairStages(0.7, "g04")}
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g04_e AS
      SELECT doc_a AS src, doc_b AS dst FROM graft_g04_tp
      UNION ALL SELECT doc_b, doc_a FROM graft_g04_tp
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g04_l1 AS
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM (SELECT e.src AS node, l.label, count(*) AS cnt
              FROM graft_g04_e e
              JOIN (SELECT DISTINCT src AS node, src AS label
                    FROM graft_g04_e) l ON e.dst = l.node
              GROUP BY 1, 2))
      WHERE rn = 1
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g04_l2 AS
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM (SELECT e.src AS node, l.label, count(*) AS cnt
              FROM graft_g04_e e
              JOIN graft_g04_l1 l ON e.dst = l.node
              GROUP BY 1, 2))
      WHERE rn = 1
      --graft-stage--
      SELECT node AS doc_id, label AS community
      FROM graft_g04_l2
      ORDER BY doc_id"""))

  /** Fixed-round k-core peel: each round computes degrees over the
    * surviving edge set and drops every vertex (and its edges) with
    * degree < k. At the fixpoint the survivors are exactly the k-core
    * (maximal subgraph of minimum degree ≥ k); rounds are FIXED so a
    * second engine can replay the peel as unrolled CTEs — g04's LPA
    * discipline — and KCoreSpec proves the fixture reaches the fixpoint
    * within the budget (an extra round changes nothing), so the catalog
    * answer IS the true core there. Each round is two bounded shuffles
    * (a degree count and a semi-join back on each endpoint), with the
    * shrinking edge frame materialized so round r+1 doesn't recompute
    * rounds 1..r — the PageRank lineage discipline. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = canonical(edges).materializeAs("kcore-edges")
    for (_ <- 1 to rounds) {
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      e = e.join(keep.toDF("a"), "a").join(keep.toDF("b"), "b")
        .materializeAs("kcore-round")
    }
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
  }

  // ---------------------------------------------------------------- g05
  /** 3-core of the near-duplicate pair graph after 3 peel rounds — the
    * "dense template cluster" detector: a document surviving the 3-core
    * has at least 3 near-duplicate partners that THEMSELVES keep 3
    * partners, the signature of boilerplate families rather than
    * accidental pairs. Oracle = the same 3 rounds unrolled over the
    * exact pair graph. */
  val g05 = Q("g05_kcore",
    (s, dir) =>
      kCorePeel(DedupOps.sharedPairGraph(s, dir, 0.7), k = 3, rounds = 3)
        .select(col("node").as("doc_id"), col("core_deg"))
        .orderBy("doc_id"),
    Some("""
      WITH w AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(text,' '), x -> x <> '')) AS s
        FROM documents),
      e0 AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM w a JOIN w b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s)) * 1.0 /
                (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7),
      d1 AS (SELECT node, count(*) AS deg FROM (
               SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
             GROUP BY 1),
      k1 AS (SELECT node FROM d1 WHERE deg >= 3),
      e1 AS (SELECT e.a, e.b FROM e0 e
             JOIN k1 x ON e.a = x.node JOIN k1 y ON e.b = y.node),
      d2 AS (SELECT node, count(*) AS deg FROM (
               SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
             GROUP BY 1),
      k2 AS (SELECT node FROM d2 WHERE deg >= 3),
      e2 AS (SELECT e.a, e.b FROM e1 e
             JOIN k2 x ON e.a = x.node JOIN k2 y ON e.b = y.node),
      d3 AS (SELECT node, count(*) AS deg FROM (
               SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
             GROUP BY 1),
      k3 AS (SELECT node FROM d3 WHERE deg >= 3),
      e3 AS (SELECT e.a, e.b FROM e2 e
             JOIN k3 x ON e.a = x.node JOIN k3 y ON e.b = y.node)
      SELECT node AS doc_id, count(*) AS core_deg FROM (
        SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
      GROUP BY 1
      ORDER BY 1"""),
    // scale replay: same peel rounds over the STAGED replay pair set,
    // each shrinking edge frame its own temp-table stage (the g01 tail
    // lesson: exact stats per step, immune to the digest wrapper's
    // optimizer boundary; also avoids the ~3^rounds plain-CTE inline).
    scaleOracle = Some({
      def peel(prev: String, next: String): String = s"""
      CREATE OR REPLACE TEMP TABLE $next AS
      SELECT e.a, e.b FROM $prev e
      JOIN (SELECT node FROM (
              SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
              GROUP BY 1) WHERE deg >= 3) x ON e.a = x.node
      JOIN (SELECT node FROM (
              SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
              GROUP BY 1) WHERE deg >= 3) y ON e.b = y.node"""
      s"""
      ${DedupOps.replayPairStages(0.7, "g05")}
      --graft-stage--
      CREATE OR REPLACE TEMP TABLE graft_g05_e0 AS
      SELECT doc_a AS a, doc_b AS b FROM graft_g05_tp
      --graft-stage--
      ${peel("graft_g05_e0", "graft_g05_e1")}
      --graft-stage--
      ${peel("graft_g05_e1", "graft_g05_e2")}
      --graft-stage--
      ${peel("graft_g05_e2", "graft_g05_e3")}
      --graft-stage--
      SELECT node AS doc_id, count(*) AS core_deg FROM (
        SELECT a AS node FROM graft_g05_e3 UNION ALL SELECT b FROM graft_g05_e3)
      GROUP BY 1
      ORDER BY 1"""
    }))

  val queries: Seq[Q] = Seq(g01, g02, g03, g04, g05)
}
