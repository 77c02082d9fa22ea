package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Linear-oracle members of otherwise-excluded families (r14): their
    * DuckDB sides are scans / hash-groupBys / equi- or interval-joins —
    * d01 digest groupBy, d08/d13 shingle-join decontamination, d14
    * span-hash groupBy, j01–j03 binned/equi/interval joins — each
    * measured ≤2 s in DuckDB at sf1.0, so they belong on the scale
    * board even though their family siblings replay quadratic pair
    * spaces. */
  val linearExtras: Seq[String] = Seq(
    "d01_exact_dedup", "d08_decontaminate", "d13_bloom_decontaminate",
    "d14_span_dedup", "j01_range_join_binned", "j02_salted_join",
    "j03_interval_overlap")

  /** The scale-diverse oracle board (r10 verdict ask #5): every catalog
    * query whose DuckDB oracle is LINEAR in the input — the q (TPC-H
    * relational), e (events), t (text) and v (validation) families plus
    * [[linearExtras]] — is also run at sf0.1 AND (since r14) at the
    * sf1.0 ScaleUp fixture, catching scale-dependent divergence the
    * sf0.01 board cannot (catches: r11 e17/e22's HLL merge bit-equality
    * gates past the list→HLL promotion boundary; r14 t04's quality
    * rational landing exactly on a ten-thousandth-and-a-half where
    * `round(double, 4)` is engine-dependent). EXCLUDED, with reasons:
    * the rest of the d family and the g family — their oracles replay
    * the full QUADRATIC exact pair space in DuckDB (d02's oracle alone
    * is a 600k-doc self-join at sf0.1; d15's recursive-CTE CC blows
    * past 10 min already at sf0.1); s01–s12 — s01/s02's oracle is the
    * brute-force all-pairs scan and the rest replay the same IVF
    * algorithm at quadratic oracle cost; p01/p02 — they compose the
    * dedup kernels (same quadratic oracle); m01–m07 — deterministic
    * codec stubs whose outputs are scale-invariant by construction;
    * mr01–mr03 — fixed mini-corpus inputs, no sf dependence. Run it at
    * round close via `graft.Verify <sfDir> <out> @sf01-linear` +
    * `tools/check.py`. Since R14.13 this same board is the sf10 board
    * too (every member's oracle measured ≤ 20 s in DuckDB at sf10). */
  def sf01LinearBoard: Seq[String] =
    (SparkEntry.queries.keys.toSeq.filter(n => "qetv".contains(n.head)) ++
      linearExtras).sorted

  /** The sf10-numeric sub-board (r14, R14.8): the q/e/j/v families,
    * whose DuckDB oracles are numeric scans/joins/windows. Kept as a
    * named alias for the ledgered 82-query gate; SUPERSEDED by the full
    * [[sf01LinearBoard]] at sf10 — the t family's exclusion rested on an
    * unmeasured "hours in DuckDB" estimate that a per-query measurement
    * refuted (worst t oracle at sf10: t07 tfidf 11.9 s, t16 5.1 s; the
    * d-linear extras ≤ 20 s), so the same 110-query linear board is now
    * hash-gated at sf0.1, sf1.0 AND sf10 (R14.13). */
  def sf10NumericBoard: Seq[String] =
    (SparkEntry.queries.keys.toSeq.filter(n => "qev".contains(n.head)) ++
      linearExtras.filter(_.startsWith("j"))).sorted

  /** The dedup-kernel scale board (r15, verdict ask #1): the pair
    * queries whose ground-truth oracle is quadratic-infeasible above
    * sf0.01 but which carry a [[Q.scaleOracle]] — a complete
    * prefix-filter replay in DuckDB (independent implementation;
    * pigeonhole-complete candidates + exact verify ≡ ground truth at
    * every scale). Run with SPARK_GRAFT_SCALE_ORACLES=1 so the dumped
    * oracle_sql.json carries the replay SQL:
    * `SPARK_GRAFT_SCALE_ORACLES=1 tools/run.sh graft.Verify <sfDir> <out>
    * @d-kernel` + `tools/check.py` or `tools/bigcheck.py`. Since r16
    * the replay oracles are STAGED programs (hashed-token temp-table
    * stages separated by `--graft-stage--`, executed sequentially by
    * both gate tools — single-statement forms let DuckDB run the
    * bucketed branches concurrently and re-aggregate the whole peak;
    * BASELINE.md R16.3–R16.5 carry the measurements) and the ENTIRE
    * board is hash-gated green at sf1.0 in one capped ~15-min bigcheck
    * session: d02/d07 10.77M pairs, d12 42.4M, d06 36k clusters,
    * d09 146.1M containment pairs, d10 1.8M new×old pairs, d16 50k
    * summaries, p01's composed end-to-end oracle — plus g01/g04/g05
    * through the same staged chains. At sf10 (R16.6/R16.7) the Jaccard
    * kernels and the flagship composition are gated too: d02/d07
    * 111.1M pairs, d12 536.5M (t = 0.8), d06 329k clustered docs
    * (propagation rounds staged per-round AND pointer-jumped — 16
    * rounds cover diameter 2^16), p01's 4-row roll-up. The containment
    * trio d09/d10/d16 stays sf1.0-only: on any fixed-vocab fixture its
    * candidate volume grows ∝ n²/vocab (r13), so an sf10 cell would
    * measure the fixture, not the operator. */
  def dKernelBoard: Seq[String] =
    Queries.all.filter(_.scaleOracle.isDefined).map(_.name).sorted

  /** The sf100 SPOT board (R14.16, widened r15): the classes most
    * likely to break only at scale — every exact-integer-rounding site
    * over data-sized rationals (q33/e04/e20/t04/t09/t14), the exact
    * value-grid median (q26), the 60-bit XOR fingerprint (v05), decimal
    * pricing (q36), regression power sums (q44) — plus one anchor per
    * family. r15 adds the families the r14 verdict named absent:
    * windows with data-sized outputs (q27/q45), the as-of direction
    * trio + tolerance (e05/e06/e18/e19/e25), and set-ops/distinct
    * (q13/q14). The r14 large-output exclusion is LIFTED by
    * tools/bigcheck.py (the canonicalize+hash compare runs engine-side,
    * R15.4) together with SPARK_GRAFT_NO_COALESCE=1 for the dump. Disk
    * still binds at the 21 GB fixture — run cells one at a time with
    * ≥30 GB free (the q26 lesson, R14.19). */
  def sf100SpotBoard: Seq[String] = Seq(
    "q01_pricing_summary", "q13_set_ops", "q14_distinct",
    "q18_small_quantity_revenue", "q26_approx_aggs",
    "q27_window_range_frame", "q33_window_ranks", "q36_decimal_pricing",
    "q44_regression_stats", "q45_running_distinct",
    "e01_hourly_agg", "e03_props_extract", "e04_funnel",
    "e05_asof_join", "e06_asof_native", "e18_asof_forward",
    "e19_asof_nearest", "e25_asof_tolerance", "e20_bitmap_retention",
    "t01_wordcount", "t04_quality_score", "t09_quality_deciles",
    "t14_quality_deciles_approx", "v05_table_fingerprint",
    "d01_exact_dedup")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to the named queries (local iteration
    // aid; the driver always runs the full set). `@sf01-linear` expands
    // to the scale-diverse linear-oracle board above.
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(args.drop(2).flatMap {
          case "@sf01-linear" => sf01LinearBoard
          case "@sf10-numeric" => sf10NumericBoard
          case "@sf100-spot" => sf100SpotBoard
          case "@d-kernel" => dKernelBoard
          case n => Seq(n)
        }.toSet)
      else None
    // A typo'd cell name must fail loud, not silently run an empty
    // board whose 0-pass check still exits 0 (check.py learned the
    // same lesson in R16.2; measured again this round with
    // "t24_token_heavyhitters" quietly gating nothing).
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // Session's wiring: local[$SPARK_GRAFT_CPUS] by default, or
    // SPARK_GRAFT_MASTER (e.g. local-cluster[4,8,4096]) for the
    // cross-JVM correctness receipt
    val spark = Session.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // SPARK_GRAFT_NO_COALESCE=1 keeps the natural write parallelism:
        // the single-file dump is a driver-harness convention, but its
        // one-task ordered write dominates data-sized outputs on the
        // local scale boards (q45's sf10 dump is a 361 MB single file;
        // q27 at sf100 is 150M rows) — bigcheck.py / check.py glob the
        // directory and hash order-independently, so multi-file is fine.
        val out = fn(spark, sfDir)
        val shaped =
          if (sys.env.get("SPARK_GRAFT_NO_COALESCE").contains("1")) out
          else out.coalesce(1)
        shaped.write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // SPARK_GRAFT_SCALE_ORACLES=1 → overlay the scale-feasible replay
    // oracles (the d-kernel pair queries) over the ground-truth SQL.
    // Local scale boards only; the driver never sets this, so its
    // sf0.01 gate keeps the maximally-independent quadratic oracles.
    val oracles =
      if (sys.env.get("SPARK_GRAFT_SCALE_ORACLES").contains("1"))
        SparkEntry.oracleSql ++ Queries.scaleOracleMap
      else SparkEntry.oracleSql
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
