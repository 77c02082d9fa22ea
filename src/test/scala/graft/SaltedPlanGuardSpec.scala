package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, JoinHint, LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan guards for the group-salted dedup kernels (r12's −75% sf10
  * wins). PrefixSaltSpec pins the OUTPUT exactly-once; nothing pinned
  * the PLAN, and the scale behavior lives entirely in plan shapes whose
  * absence changes no output: the explicit-width `repartition(N, keys)`
  * exchanges (AQE sizes by BYTES, so the 24 B candidate rows would be
  * coalesced to ~1 task and the fused C(df,2) enumeration would ride it
  * — the measured 361 s single task at sf10) and the broadcast of the
  * tiny hot-token frame. A Spark/AQE upgrade could silently restore the
  * single-task shape; these assertions turn that into a test failure.
  *
  * Every guard is proven to BITE: a test-side optimizer rule
  * (`spark.experimental.extraOptimizations`, removed again in a
  * `finally`) strips the corresponding plan piece from the kernel's
  * plan (output unchanged) and the same predicate must then FAIL — a
  * guard that passes on the ablated plan guards nothing. The ablations
  * live here, not in DedupOps: production code carries no switch that
  * could restore the single-task shape with byte-identical output.
  *
  * Fixture size is irrelevant: the guarded shapes are static plan
  * properties (REPARTITION_BY_NUM origin is exactly the origin AQE's
  * coalescing rule refuses to touch), so a tiny corpus pins the same
  * plan the sf10 cells run. */
class SaltedPlanGuardSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-saltedplan-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  /** Version provenance (r13 verdict ask #6): these guards pin
    * AQE-sensitive plan shapes, so they are only evidence FOR the Spark
    * they were validated on. A jar swap must show up in the test report
    * as this failure — re-validate the guarded shapes on the new
    * version, then update the pin. */
  test("provenance: salted plan shapes validated on Spark 4.1.2") {
    info(s"running on Spark ${spark.version}")
    assert(spark.version == "4.1.2",
      s"salted plan guards were validated on Spark 4.1.2 but this is " +
        s"${spark.version} — re-validate the guarded shapes (explicit-width " +
        "exchanges, hot-frame broadcast, pair-collapse partitioning) on the " +
        "new version, then update this pin")
  }

  private def docs: DataFrame = {
    import spark.implicits._
    val base = (1 to 12).map(i => s"w$i")
    (0L until 40L).map { i =>
      if (i % 10 == 9) (i, (base.dropRight(1) :+ s"x$i").mkString(" "))
      else (i, base.map(w => s"$w$i").mkString(" "))
    }.toDF("doc_id", "text")
  }

  lazy val dir: String = {
    val d = Files.createTempDirectory("graft-saltedplan").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  private def blocks(df: DataFrame): Array[String] =
    df.queryExecution.explainString(FormattedMode).split("\n\n")

  private def isNode(b: String, name: String): Boolean =
    b.matches(s"(?s)\\(\\d+\\) $name.*")

  private def argLine(b: String): String =
    b.linesIterator.find(_.startsWith("Arguments: ")).getOrElse("")

  /** `key#` as a whole attribute name on `line` — a bare substring test
    * would let `prefr#` or `dfr#` satisfy a guard on `r#`. */
  private def keyed(line: String, key: String): Boolean =
    ("""[(\[,\s]""" + java.util.regex.Pattern.quote(key) + "#").r
      .findFirstIn(line).isDefined

  /** Exchanges that are explicit-width repartitions on ALL `keys` —
    * REPARTITION_BY_NUM is the one shuffle origin AQE coalescing never
    * touches; ENSURE_REQUIREMENTS or REPARTITION_BY_COL here would mean
    * the width pin was silently lost. */
  private def byNumExchanges(bs: Array[String], keys: Seq[String]): Int =
    bs.count { b =>
      val a = argLine(b)
      isNode(b, "Exchange") && a.contains("REPARTITION_BY_NUM") &&
        keys.forall(k => keyed(a, k))
    }

  /** Joins of physical `node` type keyed on `key` (formatted mode puts
    * join keys on "Left/Right keys" detail lines, not the Arguments
    * line); `joinType` narrows to e.g. the LeftOuter hot-frame attach
    * so a coincidentally-broadcast inner join can't satisfy the guard. */
  private def joinsOn(bs: Array[String], node: String, key: String,
      joinType: String = ""): Int =
    bs.count { b =>
      isNode(b, node) &&
        b.linesIterator.exists(l =>
          (l.contains("Left keys") || l.contains("Right keys")) &&
            keyed(l, key)) &&
        (joinType.isEmpty || b.contains(s"Join type: $joinType"))
    }

  private def d07Kernel: DataFrame =
    operators.DedupOps.prefixCandidatesOn(
      operators.DedupOps.hashedWordSetsOf(docs), 0.9)

  private def d09Kernel: DataFrame =
    operators.DedupOps.containmentCandidatesOn(
      operators.DedupOps.hashedWordSetsOf(docs), 0.9)

  /** Ablation: drop every explicit-width `repartition(N, keys)`. */
  private object StripExplicitWidth extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case r: RepartitionByExpression if r.optNumPartitions.isDefined => r.child
    }
  }

  /** Ablation: clear every `broadcast(...)` join hint. */
  private object StripBroadcastHints extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case j: Join => j.copy(hint = JoinHint(
        j.hint.leftHint.filterNot(_.strategy.contains(BROADCAST)),
        j.hint.rightHint.filterNot(_.strategy.contains(BROADCAST))))
    }
  }

  private def ablated(rule: Rule[LogicalPlan])(body: => Unit): Unit = {
    val old = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = old :+ rule
    try body
    finally spark.experimental.extraOptimizations = old
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("d07/d02 salted kernel: two explicit-width exchanges on (r, gx, gy) + hot-frame broadcast") {
    val bs = blocks(d07Kernel)
    assert(byNumExchanges(bs, Seq("r", "gx", "gy")) >= 2,
      bs.filter(isNode(_, "Exchange")).map(argLine).mkString("\n"))
    assert(joinsOn(bs, "BroadcastHashJoin", "r", "LeftOuter") >= 1,
      bs.filter(b => b.matches("(?s)\\(\\d+\\) \\w*Join.*")).mkString("\n\n"))
  }

  test("d09 salted kernel: explicit-width exchanges on (h, grp) and (doc_a, doc_b); agg inherits the width") {
    val bs = blocks(d09Kernel)
    assert(byNumExchanges(bs, Seq("h", "grp")) >= 2,
      bs.filter(isNode(_, "Exchange")).map(argLine).mkString("\n"))
    assert(byNumExchanges(bs, Seq("doc_a", "doc_b")) >= 1,
      bs.filter(isNode(_, "Exchange")).map(argLine).mkString("\n"))
    // the pair collapse must ride the explicit repartition, not add an
    // AQE-coalescible exchange of its own (that was the 1-wide fused
    // verify StageStats caught at sf0.1)
    assert(!bs.exists { b =>
      val a = argLine(b)
      isNode(b, "Exchange") && a.contains("ENSURE_REQUIREMENTS") &&
        keyed(a, "doc_a")
    }, bs.filter(isNode(_, "Exchange")).map(argLine).mkString("\n"))
    assert(joinsOn(bs, "BroadcastHashJoin", "h", "LeftOuter") >= 2,
      bs.filter(b => b.matches("(?s)\\(\\d+\\) \\w*Join.*")).mkString("\n\n"))
  }

  test("d02 forced exact-verify attaches are ShuffledHashJoins on doc_a/doc_b, never sort-merged") {
    // the past-broadcast verify is the large-corpus production path;
    // the band-join SHJ is pinned by DedupHotBucketSpec, this pins the
    // two verify attaches (an SMJ here external-sorts the array-laden
    // candidate frame — the measured 46–55× decade cliff)
    val bs = blocks(operators.DedupOps.nearDupPairs(spark, dir,
      verifyBroadcast = Some(false)))
    assert(joinsOn(bs, "ShuffledHashJoin", "doc_a") >= 1)
    assert(joinsOn(bs, "ShuffledHashJoin", "doc_b") >= 1)
    assert(joinsOn(bs, "SortMergeJoin", "doc_a") == 0 &&
      joinsOn(bs, "SortMergeJoin", "doc_b") == 0,
      bs.filter(isNode(_, "SortMergeJoin")).mkString("\n\n"))
  }

  test("the explicit-width guard BITES: ablating the repartitions fails it") {
    ablated(StripExplicitWidth) {
      assert(byNumExchanges(blocks(d07Kernel), Seq("r", "gx", "gy")) == 0)
      val bs = blocks(d09Kernel)
      assert(byNumExchanges(bs, Seq("h", "grp")) == 0)
      assert(byNumExchanges(bs, Seq("doc_a", "doc_b")) == 0)
    }
  }

  test("the broadcast guard BITES: ablating the hint drops the broadcast when size stats can't carry it") {
    // with autoBroadcast disabled, ONLY the explicit broadcast() can
    // produce a BHJ: shipped plan keeps it, ablated plan loses it —
    // i.e. the guard detects exactly the hint's removal
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(joinsOn(blocks(d07Kernel), "BroadcastHashJoin", "r", "LeftOuter") >= 1)
      assert(joinsOn(blocks(d09Kernel), "BroadcastHashJoin", "h", "LeftOuter") >= 2)
      ablated(StripBroadcastHints) {
        assert(joinsOn(blocks(d07Kernel), "BroadcastHashJoin", "r", "LeftOuter") == 0)
        assert(joinsOn(blocks(d09Kernel), "BroadcastHashJoin", "h", "LeftOuter") == 0)
      }
    }
  }
}
