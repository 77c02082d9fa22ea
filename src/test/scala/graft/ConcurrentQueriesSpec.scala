package graft

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CyclicBarrier, Executors}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Two catalog queries running at the same time on one session return
  * the rows each returns alone: no operator state leaks from one query
  * into the other. d07 and d06 are the pair with the most to share —
  * both run the d07 prefix kernel, and d06 also builds the memoized
  * pair graph and bucketed adjacency. */
class ConcurrentQueriesSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("d07_allpairs_jaccard", "d06_dedup_clusters")

  lazy val spark = Session.get("graft-test-concurrent")

  private def sortedRows(name: String): Seq[String] =
    Queries.byName(name).build(spark, dir).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq

  test("d07 and d06 on two threads of one session equal their serial runs") {
    val serial = names.map(sortedRows)
    assert(serial.forall(_.nonEmpty))
    val pool = Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // both threads start building at the same moment
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
}
