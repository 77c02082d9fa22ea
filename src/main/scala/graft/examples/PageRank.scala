package graft.examples

import graft.core.Materialize
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank with the reference's exact (quirky, documented) semantics
  * (`lib/mini_hadoop/examples/page_rank.ex:31-122`):
  *   - each adjacency row emits `(source, (1-d)/n)` — the baseline goes to
  *     SOURCES only, once per input row; pure targets receive only
  *     distributed mass;
  *   - each target of a row receives `d * rank(source) / out_degree`
  *     (a target listed twice in one row receives it twice);
  *   - a source's previous rank defaults to 1.0 when absent
  *     (page_rank.ex:56);
  *   - the new rank is the plain sum of contributions (no dangling-mass
  *     redistribution).
  *
  * The reference re-reads the whole rank file inside every map task
  * (SURVEY §4.3.5). Here the links are hash-partitioned by source once
  * per call and cached, and the ranks stay on the same partitioner (the
  * RDD paper's PageRank, Zaharia et al., NSDI 2012): an iteration zips
  * each links partition with the matching ranks partition, which holds
  * every rank its sources need, and ends in one `reduceByKey` — one
  * shuffle per iteration, no join and no broadcast. The intermediate
  * ranks need no lineage truncation: every iteration ends at a shuffle,
  * so a task serializes only the chain since that shuffle, and a lost
  * shuffle file is recomputed from lineage.
  */
object PageRank {

  /** F4 line parse: `source\ttarget1 target2 ...` → (src, targets).
    * Malformed lines are dropped, like the mapper's error branch. */
  def parseAdjacency(spark: SparkSession, lines: Dataset[String]): DataFrame = {
    lines
      .select(split(col("value"), "\t").as("parts"))
      .filter(size(col("parts")) >= 1 && length(trim(col("parts").getItem(0))) > 0)
      .select(
        trim(col("parts").getItem(0)).as("src"),
        when(size(col("parts")) > 1,
          expr("filter(split(parts[1], ' '), x -> x != '')"))
          .otherwise(array().cast("array<string>")).as("targets"))
  }

  private type Ranks = RDD[(String, Double)]

  /** The links as `(src, targets)` rows hash-partitioned by `src` over
    * `spark.sql.shuffle.partitions` and cached; duplicate `src` rows stay
    * separate rows. The caller unpersists. */
  private def linkTable(links: DataFrame): RDD[(String, Array[String])] = {
    val parts = links.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    links.select("src", "targets").rdd
      .map { r =>
        val ts = r.getSeq[String](1)
        r.getString(0) -> (if (ts == null) Array.empty[String] else ts.toArray)
      }
      .partitionBy(new HashPartitioner(parts))
      .persist()
  }

  /** One iteration on the links' partitioner: each links partition reads
    * the same partition of `prev` into a hash map, emits the baseline per
    * source row and `(d * r) / deg` per target, and one `reduceByKey`
    * sums them back onto the partitioner. */
  private def step(links: RDD[(String, Array[String])], prev: Ranks,
      damping: Double, totalPages: Long): Ranks = {
    val baseline = (1.0 - damping) / totalPages
    links.zipPartitions(prev) { (rows, rs) =>
      val rank = rs.toMap.withDefaultValue(1.0) // default rank, page_rank.ex:56
      rows.flatMap { case (src, targets) =>
        val c = damping * rank(src) / targets.length // unused when no targets
        Iterator.single(src -> baseline) ++ targets.iterator.map(_ -> c)
      }
    }.reduceByKey(links.partitioner.get, _ + _)
  }

  /** The ranks before the first iteration: none, on as many partitions as
    * the links so that [[step]] can zip them. */
  private def noRanks(links: RDD[(String, Array[String])]): Ranks =
    links.sparkContext.parallelize(Seq.empty[(String, Double)], links.getNumPartitions)

  /** max |next − prev| over two co-partitioned rank tables, a page
    * missing on one side counting as rank 0 there. */
  private def maxDelta(prev: Ranks, next: Ranks): Double =
    prev.zipPartitions(next) { (ps, ns) =>
      val old = ps.toMap
      val cur = ns.toMap
      Iterator.single((old.keySet ++ cur.keySet).iterator
        .map(p => math.abs(cur.getOrElse(p, 0.0) - old.getOrElse(p, 0.0)))
        .foldLeft(0.0)(math.max))
    }.fold(0.0)(math.max)

  private def toFrame(spark: SparkSession, ranks: Ranks): DataFrame = {
    import spark.implicits._
    Materialize(ranks.toDF("page", "rank"), "pagerank")
  }

  /** Driver-loop iteration (replaces the reference's manual job-per-
    * iteration runbook, `lib/mini_hadoop.ex:34-73`). The whole loop runs
    * as the one job that materializes the result. */
  def run(spark: SparkSession, links: DataFrame, iterations: Int,
      damping: Double = 0.85, totalPages: Long): DataFrame = {
    val table = linkTable(links)
    try toFrame(spark, (1 to iterations).foldLeft(noRanks(table)) { (ranks, _) =>
      step(table, ranks, damping, totalPages)
    })
    finally table.unpersist(blocking = false)
  }

  /** Result of [[runUntil]]: final ranks, iterations executed, and the
    * last max-|Δrank| observed (Double.MaxValue if only one iteration ran). */
  final case class Converged(ranks: DataFrame, iterations: Int, maxDelta: Double)

  /** Convergence-driven iteration: stop when max |rank − prev_rank| < eps
    * or after `maxIterations`. This is the reference's runbook loop
    * (`README.md:843-854` — run a job per iteration, diff successive rank
    * files by hand) made a first-class API. Each iteration's ranks are
    * persisted because they are read twice (next iteration + delta); the
    * delta is a narrow zip of the two co-partitioned rank tables, so its
    * job also computes the iteration, and the previous ranks are
    * unpersisted once it has run. */
  def runUntil(spark: SparkSession, links: DataFrame, eps: Double,
      maxIterations: Int = 50, damping: Double = 0.85,
      totalPages: Long): Converged = {
    val table = linkTable(links)
    var ranks = noRanks(table)
    try {
      var i = 0
      var delta = Double.MaxValue
      while (i < maxIterations && delta >= eps) {
        val prev = ranks
        ranks = step(table, prev, damping, totalPages).persist()
        if (i > 0)
          try delta = maxDelta(prev, ranks) finally prev.unpersist(blocking = false)
        i += 1
      }
      Converged(toFrame(spark, ranks), i, delta)
    } finally {
      ranks.unpersist(blocking = false)
      table.unpersist(blocking = false)
    }
  }
}
