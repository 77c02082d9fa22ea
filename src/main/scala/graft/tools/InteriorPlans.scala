package graft.tools

import graft.{Session, Tables}
import graft.operators.DedupOps

/** Dumps the plan shapes that `materialize` boundaries hide from the
  * final query explain (r16 verdict ask #6: final-plan diffs on the
  * kernel queries are vacuous expression-ID churn because the kernel
  * interior is an ExistingRDD by the time the catalog query explains).
  *
  *   - `kernel`: the d07 prefix-filter + exact-verify frame as returned
  *     by [[DedupOps.prefixFilterPairsOn]] — the candidate self-join,
  *     explicit widths and verify join strategy all visible;
  *   - `cc`: runs d06's connected components with
  *     `SPARK_GRAFT_CC_EXPLAIN=1` so the loop prints round-1 interior
  *     plans (set the env when invoking; this main just drives the op).
  *   - `containment`: the d09 candidate frame as returned by
  *     [[DedupOps.containmentCandidatesOn]].
  *
  * Usage: `tools/run.sh graft.tools.InteriorPlans [kernel|cc|containment] [sfDir]`.
  * Diagnostic only — not part of the bench or verify contract.
  */
object InteriorPlans {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("kernel")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.get("graft-interior-plans")
    what match {
      case "kernel" =>
        val sets = DedupOps.hashedWordSetsOf(Tables.df(spark, dir, "documents"))
        val pairs = DedupOps.prefixFilterPairsOn(sets, 0.9)
        println("===== d07 kernel interior (prefixFilterPairsOn) =====")
        println(pairs.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case "cc" =>
        // sharedAdjacency + CC exactly as d06 wires them; the env-gated
        // in-loop hook prints the round-1 hopped/next plans
        val cc = DedupOps.connectedComponents(
          DedupOps.sharedPairGraph(spark, dir).select("doc_a", "doc_b"),
          symAdj = Some(DedupOps.sharedAdjacency(spark, dir)))
        cc.write.mode("overwrite").format("noop").save()
      case "containment" =>
        val sets = DedupOps.hashedWordSetsOf(Tables.df(spark, dir, "documents"))
        val cand = DedupOps.containmentCandidatesOn(
          sets.localCheckpoint(), 0.9)
        println("===== d09 candidate interior (containmentCandidatesOn) =====")
        println(cand.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case other => sys.error(s"unknown dump '$other' (kernel|cc|containment)")
    }
    spark.stop()
  }
}
