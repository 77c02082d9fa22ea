package graft

import graft.operators.DedupOps
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CyclicBarrier, Executors}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Two catalog queries running at the same time on one session return
  * the rows each returns alone: no operator state leaks from one query
  * into the other. d07 and d06 are the pair with the most to share —
  * both run the d07 prefix kernel, and d06 also builds the shared
  * bucketed adjacency. d06 and d15 read that same table, so two cold
  * runs of them race to build it. */
class ConcurrentQueriesSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark = Session.get("graft-test-concurrent")

  private def sortedRows(name: String): Seq[String] =
    Queries.byName(name).build(spark, dir).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq

  /** Runs `names` serially, then `before`, then all of them at once on
    * their own threads; each concurrent run must equal its serial one. */
  private def assertConcurrentEqualsSerial(names: Seq[String],
      before: => Unit = ()): Unit = {
    val serial = names.map(sortedRows)
    assert(serial.forall(_.nonEmpty))
    before
    val pool = Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // all threads start building at the same moment
    val start = new CyclicBarrier(names.size)
    try {
      val concurrent = Await.result(Future.sequence(names.map { n =>
        Future { start.await(); sortedRows(n) }
      }), 10.minutes)
      names.zip(serial.zip(concurrent)).foreach { case (n, (s, c)) =>
        assert(c == s, s"$n: concurrent run differs from the serial run")
      }
    } finally pool.shutdown()
  }

  test("d07 and d06 on two threads of one session equal their serial runs") {
    assertConcurrentEqualsSerial(
      Seq("d07_allpairs_jaccard", "d06_dedup_clusters"))
  }

  test("cold d06 and d15 on two threads build one shared adjacency table") {
    assertConcurrentEqualsSerial(
      Seq("d06_dedup_clusters", "d15_quality_winner_dedup"),
      DedupOps.dropSharedGraphs(spark))
    // both queries read the 0.9-threshold graph of this one directory
    val adj = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_adj_") && n.endsWith("_90"))
    assert(adj.length == 1, s"shared adjacency tables: ${adj.mkString(", ")}")
  }
}
