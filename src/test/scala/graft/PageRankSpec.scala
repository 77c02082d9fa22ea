package graft

import graft.core.Materialize
import graft.examples.PageRank
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Golden-math checks for the reference-parity PageRank semantics
  * (page_rank.ex:31-122): baseline only to sources, default rank 1.0,
  * plain contribution sum. The no-inlink baseline value mirrors the
  * reference's shipped golden file ((1-0.85)/41332, SURVEY §6). */
class PageRankSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  /** Every shape the semantics single out: `a` has two rows (its baseline
    * counts twice) and lists `b` twice in one row, `b` links to itself,
    * `solo` has no targets, and `d`, `f` are target-only pages. */
  private val edgeCases = Seq("a\tb c b", "a\td", "b\tb c", "solo", "c\ta f", "e\tc")
  private val edgeCasePages = 7L // a b c d e f solo

  /** Driver-side replay of the semantics, one adjacency row at a time. */
  private def replay(lines: Seq[String], iterations: Int, d: Double,
      n: Long): Map[String, Double] = {
    val rows = lines.map(_.split("\t", -1)).filter(_.head.trim.nonEmpty).map { p =>
      p.head.trim -> (if (p.length > 1) p(1).split(" ").filter(_.nonEmpty).toSeq else Nil)
    }
    (1 to iterations).foldLeft(Map.empty[String, Double]) { (prev, _) =>
      val next = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      rows.foreach { case (src, targets) =>
        next(src) += (1 - d) / n
        targets.foreach(t => next(t) += d * prev.getOrElse(src, 1.0) / targets.size)
      }
      next.toMap
    }
  }

  private def links(lines: Seq[String]) = {
    import spark.implicits._
    PageRank.parseAdjacency(spark, lines.toDS())
  }

  private def collect(ranks: org.apache.spark.sql.DataFrame): Map[String, Double] =
    ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def assertClose(got: Map[String, Double], want: Map[String, Double],
      tol: Double): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (p, r) =>
      assert(math.abs(got(p) - r) < tol, s"page $p: got ${got(p)}, want $r")
    }
  }

  /** Spark jobs `body` starts, attributed by a job tag; the listener bus
    * is drained before counting so no job start is still in flight. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"pagerank-spec-${System.nanoTime()}"
    val seen = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) seen.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      Bridge.drainListenerBus(sc)
      sc.removeSparkListener(l)
    }
    seen.get()
  }

  /** Persistent RDDs that `body` leaves behind, except, in local mode,
    * the result frame's local checkpoint (Spark keeps one as a persisted
    * RDD); reliable mode's result is a parquet scan, so nothing is
    * exempt there. */
  private def leftoverCaches(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val exempt = Materialize.mode(spark) != "reliable"
    val before = sc.getPersistentRDDs.keySet
    body
    sc.getPersistentRDDs.filter { case (id, rdd) =>
      !before(id) && !(exempt && rdd.isCheckpointed) }.keys.toSeq
  }

  private def withMode[A](m: String)(body: => A): A = {
    val prev = spark.conf.getOption(Materialize.ModeKey)
    spark.conf.set(Materialize.ModeKey, m)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Materialize.ModeKey, v)
      case None    => spark.conf.unset(Materialize.ModeKey)
    }
  }

  test("iteration 1 on a 3-node graph matches hand computation") {
    val ranks = collect(PageRank.run(spark, links(Seq("a\tb c", "b\tc")),
      iterations = 1, damping = 0.85, totalPages = 3))

    val base = 0.15 / 3
    assert(math.abs(ranks("a") - base) < 1e-12) // source only: baseline
    assert(math.abs(ranks("b") - (base + 0.85 / 2)) < 1e-12)
    assert(math.abs(ranks("c") - (0.85 / 2 + 0.85)) < 1e-12) // target-only: no baseline
  }

  test("iteration 2 uses iteration-1 ranks with 1.0 default") {
    val r2 = collect(PageRank.run(spark, links(Seq("a\tb", "b\ta")), 2, 0.85, 2))
    val base = 0.15 / 2
    val r1 = Map("a" -> (base + 0.85), "b" -> (base + 0.85))
    assert(math.abs(r2("a") - (base + 0.85 * r1("b"))) < 1e-12)
    assert(math.abs(r2("b") - (base + 0.85 * r1("a"))) < 1e-12)
  }

  test("adjacency parser handles missing targets and blank lines") {
    val parsed = links(Seq("a\tb c", "solo", "", "  "))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(parsed("a") == Seq("b", "c"))
    assert(parsed("solo") == Seq())
    assert(parsed.size == 2)
  }

  test("no-inlink baseline matches the reference golden value") {
    // golden: shared/page_rank_iter_1.json has 3.6291493273976587e-6
    assert(math.abs((1 - 0.85) / 41332 - 3.6291493273976587e-6) < 1e-20)
  }

  test("run equals the driver-side replay at 1, 2 and 10 iterations") {
    val l = links(edgeCases)
    Seq(1, 2, 10).foreach { k =>
      assertClose(collect(PageRank.run(spark, l, k, 0.85, edgeCasePages)),
        replay(edgeCases, k, 0.85, edgeCasePages), 1e-12)
    }
  }

  test("runUntil equals the driver-side replay at the iteration it stopped") {
    val res = PageRank.runUntil(spark, links(edgeCases), eps = 1e-6,
      maxIterations = 100, damping = 0.85, totalPages = edgeCasePages)
    assert(res.iterations > 2 && res.iterations < 100)
    assertClose(collect(res.ranks),
      replay(edgeCases, res.iterations, 0.85, edgeCasePages), 1e-12)
  }

  test("runUntil converges to a fixed point within tolerance") {
    // a strongly connected 4-node graph → ranks converge geometrically
    val l = links(Seq("a\tb c", "b\tc", "c\ta d", "d\ta"))
    val eps = 1e-9
    val res = PageRank.runUntil(spark, l, eps,
      maxIterations = 200, damping = 0.85, totalPages = 4)

    assert(res.maxDelta < eps)
    assert(res.iterations > 2 && res.iterations < 200)

    // fixed point: one more iteration moves every rank by < eps
    val ranks = collect(res.ranks)
    val once = collect(PageRank.run(spark, l, res.iterations + 1, 0.85, 4))
    assert(once.keySet == ranks.keySet)
    ranks.foreach { case (p, r) => assert(math.abs(once(p) - r) < eps * 10) }
  }

  test("runUntil stops at maxIterations when tolerance is unreachable") {
    val res = PageRank.runUntil(spark, links(Seq("a\tb", "b\ta")), eps = 0.0, // delta < 0 is impossible
      maxIterations = 3, damping = 0.85, totalPages = 2)
    assert(res.iterations == 3)
  }

  test("run starts the same number of Spark jobs at 2 and at 10 iterations") {
    // the whole loop is one job chain with a shuffle per iteration; a
    // per-iteration action (materialize, broadcast collect) would grow
    // the count with the iterations
    val l = links(edgeCases)
    def jobs(k: Int) = jobsOf { PageRank.run(spark, l, k, 0.85, edgeCasePages) }
    val two = jobs(2)
    assert(two > 0)
    assert(jobs(10) == two)
  }

  test("run and runUntil leave no cached links or ranks behind") {
    val l = links(edgeCases)
    Seq("local", "reliable").foreach { m =>
      withMode(m) {
        assert(leftoverCaches {
          PageRank.run(spark, l, 3, 0.85, edgeCasePages).count()
        }.isEmpty, s"run leaked a cache in $m mode")
        assert(leftoverCaches {
          PageRank.runUntil(spark, l, eps = 1e-6, maxIterations = 20,
            totalPages = edgeCasePages).ranks.count()
        }.isEmpty, s"runUntil leaked a cache in $m mode")
      }
    }
  }
}
