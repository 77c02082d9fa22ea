package graft

import graft.core.Materialize
import graft.core.Materialize.MatOps
import graft.examples.PageRank
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the materialization strategy point (VERDICT r6 #1): every
  * multi-consumer/iterative frame routes through `Materialize`, whose
  * `reliable` mode replaces the executor-local `localCheckpoint` with a
  * parquet round-trip under a (cluster: shared-FS) scratch dir — the
  * fault-tolerant deployment mode. The heavyweight consumers (d02's
  * three-consumer LSH band frame, d06's iterative connected-components
  * labels) must produce identical answers in both modes. */
class MaterializeSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-mat-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def withMode[A](m: String)(body: => A): A = {
    val prev = spark.conf.getOption(Materialize.ModeKey)
    spark.conf.set(Materialize.ModeKey, m)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Materialize.ModeKey, v)
      case None    => spark.conf.unset(Materialize.ModeKey)
    }
  }

  test("reliable mode writes parquet under the scratch base and round-trips rows") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val got = withMode("reliable") { df.materializeAs("spec") }
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (1 to 100).map(i => (i.toLong, s"v$i")).toSet)
    val base = new java.io.File(Materialize.scratchBase(spark))
    assert(base.exists && base.listFiles.exists(_.getName.startsWith("spec-")),
      s"no spec-* intermediate under $base")
  }

  test("local mode still truncates lineage via localCheckpoint") {
    import spark.implicits._
    val df = (1 to 10).toDF("x")
    val got = withMode("local") { df.materialize }
    // a checkpointed frame's logical plan is a bare scan of the
    // materialized RDD, not the original LocalRelation pipeline
    assert(got.queryExecution.optimizedPlan.collectLeaves()
      .forall(p => !p.getClass.getSimpleName.contains("LocalRelation")))
    assert(got.count() == 10)
  }

  test("d02 near-dup pairs are identical under local and reliable modes") {
    def pairs(m: String) = withMode(m) {
      Queries.byName("d02_minhash_lsh").build(spark, sf)
        .collect().map(_.toSeq).toSet
    }
    val local = pairs("local")
    assert(local.nonEmpty)
    assert(pairs("reliable") == local)
  }

  test("d06 connected components are identical under local and reliable modes") {
    def clusters(m: String) = withMode(m) {
      Queries.byName("d06_dedup_clusters").build(spark, sf)
        .collect().map(_.toSeq).toSet
    }
    val local = clusters("local")
    assert(local.nonEmpty)
    assert(clusters("reliable") == local)
  }

  test("observed() returns its metrics in local and reliable modes") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Seq("local", "reliable").foreach { m =>
      val (out, metrics) = withMode(m) {
        Materialize.observed(df, "obs-spec",
          Seq(count(lit(1)).as("rows"), sum("k").as("total")))
      }
      assert(metrics == Map("rows" -> 100L, "total" -> 5050L), s"$m mode")
      assert(out.count() == 100)
    }
  }

  test("PageRank ranks are identical under local and reliable modes") {
    import spark.implicits._
    val links = PageRank.parseAdjacency(spark,
      Seq("a\tb c b", "a\td", "b\tb c", "solo", "c\ta f", "e\tc").toDS())
    def ranks(m: String) = withMode(m) {
      PageRank.run(spark, links, 5, 0.85, 7).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val local = ranks("local")
    assert(local.size == 7)
    assert(ranks("reliable") == local)
  }
}
