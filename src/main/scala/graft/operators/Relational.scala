package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2.2–§2.8): filters/projections,
  * joins (inner/semi/anti/outer), aggregations (hash agg, rollup/cube),
  * windows, sorts/limits/top-k, set ops, scalar/date/string functions.
  *
  * The reference (dis-functional-bros/mini-hadoop) expresses all of these
  * through user map/reduce closures (`lib/mini_hadoop/models/types.ex:10-11`);
  * here each is a first-class declarative plan so Catalyst gets pushdown,
  * pruning, join selection and whole-stage codegen.
  *
  * Scale notes (100 TB):
  *   - dimension tables (region/nation/supplier/part/customer at low SF) are
  *     broadcast explicitly, so the fact-table joins never shuffle the big side;
  *   - aggregates are partial+final (map-side combine) by construction;
  *   - top-k uses orderBy+limit → TakeOrderedAndProject (no global sort);
  *   - every float aggregate is rounded for oracle stability, at the very top
  *     of the plan so the rounding never blocks pushdown.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.df(s, dir, name)

  /** l_shipdate etc. are parquet TIMESTAMP_NTZ; a string literal coerces to
    * the column's own timestamp flavor, so comparisons stay pushdown-able. */
  private def ts(lit0: String): Column = lit(lit0)

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-style pricing summary: scan + filter + hash aggregate.
    * Ref analog: WordCount's map→group→sum pipeline generalized
    * (`lib/mini_hadoop/examples/word_count.ex:114-147`). */
  val q01 = Q("q01_pricing_summary",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    headline = true)

  // ---------------------------------------------------------------- q02
  /** Filter + projection that must reach the parquet scan (PushedFilters /
    * 3-column ReadSchema). Ref analog: in-mapper filtering (SURVEY §2.2 M4). */
  val q02 = Q("q02_filter_pushdown",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("2000-01-01") &&
          col("l_shipdate") < ts("2000-02-01") && col("l_discount") > 0.08)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        AND l_shipdate <  TIMESTAMP '2000-02-01'
        AND l_discount > 0.08
      ORDER BY l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3-style: 3-way join + agg + top-k. customer is the small side →
    * broadcast; lineitem (the 100 TB fact) never moves for the dim join. */
  val q03 = Q("q03_shipping_priority",
    (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < ts("1998-01-01"))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-01-01"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_date"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select("l_orderkey", "revenue", "o_date", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20)
    },
    Some("""
      SELECT l_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate  > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_date, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 20"""),
    headline = true)

  // ---------------------------------------------------------------- q04
  /** EXISTS → left-semi join (no join explosion, dedup-free). */
  val q04 = Q("q04_exists_semi",
    (s, dir) => {
      val big = t(s, dir, "lineitem").filter(col("l_quantity") > 49)
        .select(col("l_orderkey"))
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 49)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q05
  /** TPC-H Q5-style 5-way star join: fact table joins broadcast dims. */
  val q05 = Q("q05_region_revenue",
    (s, dir) => {
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer, orders, lineitem, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""),
    headline = true)

  // ---------------------------------------------------------------- q06
  /** TPC-H Q6: pure scan-side predicate → single global aggregate. */
  val q06 = Q("q06_forecast_revenue",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue")),
    Some("""
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""),
    headline = true)

  // ---------------------------------------------------------------- q07
  /** NOT EXISTS → left-anti join. */
  val q07 = Q("q07_anti_join",
    (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") < ts("1996-01-01"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment"),
    Some("""
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate < TIMESTAMP '1996-01-01')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  // ---------------------------------------------------------------- q08
  /** Top-3 per group via row_number window (partition-local sort only). */
  val q08 = Q("q08_window_rank",
    (s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_nationkey", "rn", "c_custkey", "c_acctbal")
        .orderBy("c_nationkey", "rn")
    },
    Some("""
      SELECT c_nationkey, rn, c_custkey, c_acctbal FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer) sub
      WHERE rn <= 3
      ORDER BY c_nationkey, rn"""))

  // ---------------------------------------------------------------- q09
  /** Running-total window (rows frame), deterministic order within ties. */
  val q09 = Q("q09_window_running_sum",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_spend", round(sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      FROM orders
      ORDER BY o_custkey, o_orderkey"""))

  // ---------------------------------------------------------------- q10
  /** Top-k: orderBy+limit compiles to TakeOrderedAndProject — per-partition
    * heaps + driver merge, never a global sort (SURVEY §2.6). */
  val q10 = Q("q10_topk_customers",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("total_spend"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_spend").desc, col("o_custkey"))
        .limit(10),
    Some("""
      SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
             count(*) AS n_orders
      FROM orders
      GROUP BY o_custkey
      ORDER BY total_spend DESC, o_custkey
      LIMIT 10"""))

  // ---------------------------------------------------------------- q11
  /** ROLLUP hierarchy totals (multi-level aggregate in one pass). */
  val q11 = Q("q11_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q12
  /** CUBE over two dimensions (grouping-sets coverage). */
  val q12 = Q("q12_cube",
    (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), round(avg("o_totalprice"), 4).as("avg_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             round(avg(o_totalprice), 4) AS avg_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q13
  /** Set ops: symmetric difference of two customer populations
    * (EXCEPT ∪ EXCEPT; SURVEY §2.7 — the reference only has union-by-concat). */
  val q13 = Q("q13_set_ops",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val rich = c.filter(col("c_acctbal") > 6000).select("c_custkey")
      val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      rich.except(building).withColumn("side", lit("rich_only"))
        .union(building.except(rich).withColumn("side", lit("building_only")))
        .orderBy("side", "c_custkey")
    },
    Some("""
      SELECT c_custkey, 'rich_only' AS side FROM (
        SELECT c_custkey FROM customer WHERE c_acctbal > 6000
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      UNION ALL
      SELECT c_custkey, 'building_only' AS side FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal > 6000)
      ORDER BY side, c_custkey"""))

  // ---------------------------------------------------------------- q14
  /** DISTINCT (dedup of the key space — ref §2.4 A5's ETS ordered_set). */
  val q14 = Q("q14_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus
      FROM lineitem
      ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q15
  /** String scalar functions (upper/length/substring/concat/trim). */
  val q15 = Q("q15_string_funcs",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_type"), 1, 4).as("type_prefix"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey"),
    Some("""
      SELECT p_partkey, upper(p_brand) AS brand_u,
             length(p_name) AS name_len,
             substring(p_type, 1, 4) AS type_prefix,
             concat_ws('/', p_brand, p_type) AS brand_type
      FROM part
      ORDER BY p_partkey"""))

  // ---------------------------------------------------------------- q16
  /** Date functions: extract year/quarter, aggregate per bucket. */
  val q16 = Q("q16_date_funcs",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
          quarter(col("o_orderdate")).cast("long").as("o_quarter"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_year", "o_quarter"),
    Some("""
      SELECT year(o_orderdate) AS o_year, quarter(o_orderdate) AS o_quarter,
             count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY o_year, o_quarter
      ORDER BY o_year, o_quarter"""))

  // ---------------------------------------------------------------- q17
  /** CASE WHEN bucketing + aggregate. */
  val q17 = Q("q17_case_bucket",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .otherwise("large"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"), round(avg("o_totalprice"), 4).as("avg_price"))
        .orderBy("bucket"),
    Some("""
      SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                  WHEN o_totalprice < 150000 THEN 'medium'
                  ELSE 'large' END AS bucket,
             count(*) AS n_orders, round(avg(o_totalprice), 4) AS avg_price
      FROM orders
      GROUP BY bucket
      ORDER BY bucket"""))

  // ---------------------------------------------------------------- q18
  /** TPC-H Q17-style: per-group average as a join (decorrelated subquery).
    * No broadcast hint on the aggregate side: it has one row per distinct
    * l_partkey, which is unbounded at scale (billions at 100 TB) — a static
    * broadcast would OOM the driver. AQE picks broadcast vs shuffle from the
    * runtime size instead. */
  val q18 = Q("q18_small_quantity_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val partAvg = li.groupBy(col("l_partkey").as("pk"))
        .agg((avg("l_quantity") * 0.5).as("half_avg_qty"))
      li.join(partAvg, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("half_avg_qty"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    },
    Some("""
      SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      FROM lineitem l
      JOIN (SELECT l_partkey AS pk, avg(l_quantity) * 0.5 AS half_avg_qty
            FROM lineitem GROUP BY l_partkey) p
        ON l.l_partkey = p.pk
      WHERE l.l_quantity < p.half_avg_qty"""),
    headline = true)

  // ---------------------------------------------------------------- q19
  /** Left outer join + count(col) null-skipping semantics. */
  val q19 = Q("q19_outer_join",
    (s, dir) =>
      t(s, dir, "nation")
        .join(t(s, dir, "supplier"), col("n_nationkey") === col("s_nationkey"), "left_outer")
        .groupBy("n_nationkey", "n_name")
        .agg(count(col("s_suppkey")).as("n_suppliers"),
          round(coalesce(sum("s_acctbal"), lit(0.0)), 2).as("total_bal"))
        .orderBy("n_nationkey"),
    Some("""
      SELECT n_nationkey, n_name, count(s_suppkey) AS n_suppliers,
             round(coalesce(sum(s_acctbal), 0), 2) AS total_bal
      FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
      GROUP BY n_nationkey, n_name
      ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q20
  /** Exact interpolated percentiles (median / p90) per group. */
  val q20 = Q("q20_percentiles",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
             round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q21
  /** LIKE / regex predicates (pattern pushdown where the source supports it). */
  val q21 = Q("q21_like_filter",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_type").like("%ECONOMY%") ||
          col("p_name").rlike("^p.*[02468]$"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("p_brand"),
    Some("""
      SELECT p_brand, count(*) AS n_parts
      FROM part
      WHERE p_type LIKE '%ECONOMY%' OR regexp_matches(p_name, '^p.*[02468]$')
      GROUP BY p_brand
      ORDER BY p_brand"""))

  // ---------------------------------------------------------------- q22
  /** INTERSECT (completes the set-op family with q13's EXCEPT/UNION). */
  val q22 = Q("q22_intersect",
    (s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_acctbal") > 6000).select("c_custkey")
        .intersect(c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey FROM customer WHERE c_acctbal > 6000
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q23
  /** Array aggregation: deterministic (sorted) collect per group. The list
    * is joined to one scalar string so the driver's hash compare (pandas)
    * can factorize it — an array<string> column is unhashable there. */
  val q23 = Q("q23_collect_sorted",
    (s, dir) =>
      t(s, dir, "supplier")
        .groupBy("s_nationkey")
        .agg(concat_ws(",", array_sort(collect_list("s_name"))).as("suppliers"),
          count(lit(1)).as("n"))
        .orderBy("s_nationkey"),
    Some("""
      SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
             count(*) AS n
      FROM supplier
      GROUP BY s_nationkey
      ORDER BY s_nationkey"""))

  // ---------------------------------------------------------------- q24
  /** Null-generating expressions + null-aware aggregation (the tables are
    * null-free, so nulls are introduced with nullif). */
  val q24 = Q("q24_null_handling",
    (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("disc_or_null", nullif(col("l_discount"), lit(0.0)))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("disc_or_null")).as("n_discounted"),
          round(avg(col("disc_or_null")), 6).as("avg_nonzero_disc"),
          round(sum(coalesce(col("disc_or_null"), lit(0.0))), 4).as("sum_disc"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag, count(*) AS n_rows,
             count(nullif(l_discount, 0.0)) AS n_discounted,
             round(avg(nullif(l_discount, 0.0)), 6) AS avg_nonzero_disc,
             round(sum(coalesce(nullif(l_discount, 0.0), 0.0)), 4) AS sum_disc
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q25
  /** Pivot (wide aggregation): return-flag columns per linestatus. The
    * pivot values are declared, so the plan is a single pass of
    * conditional aggregates — same shape the oracle spells out. */
  val q25 = Q("q25_pivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
        .orderBy("l_linestatus"),
    Some("""
      SELECT l_linestatus,
             round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
             round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
             round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus"""))

  // ---------------------------------------------------------------- q26
  /** Distinct-count + exact-median profile, fully oracled.
    *
    * Two deterministic halves: exact `count(distinct)` (plain SQL on both
    * engines), and the per-group EXACT median as a value-grid rank
    * selection — the element at 1-based ascending rank ceil(N/2), which
    * the DuckDB oracle replicates with a per-group row_number selection.
    * The median is computed scalably: per-(flag, price) counts (one
    * partial-aggregated shuffle whose size is the VALUE GRID, not the
    * data), a cumulative count over each flag's sorted distinct prices,
    * and the smallest price whose cumulative count reaches the rank.
    * This replaced `approx_percentile(…, 10⁷)` in r14: that sketch is
    * exact only while groups stay under the accuracy (its rank error
    * n/10⁷ crosses 1 row just past sf10 group sizes — a latent hash
    * break), and its O(1/ε) buffer made q26 the worst superlinear row
    * of the sf10 board (20.4× at 10× data). The grid selection is exact
    * at EVERY scale and its window is bounded by the price grid. The
    * HLL++ `approx_count_distinct` / bounded-accuracy sketch variants
    * stay pinned by tolerance bounds in ApproxAndIvfSpec; at 100 TB
    * those are what replace the exact distinct's full key-space
    * shuffle. */
  val q26 = Q("q26_approx_aggs",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // The two exact distincts run as SEPARATE distinct→count plans,
      // not one multi-distinct aggregate: Catalyst plans the latter via
      // Expand (every row duplicated once per distinct group), which
      // tripled the shuffled row count and was the disk-spill term that
      // killed the first sf100 run. distinct() partial-aggregates
      // map-side, so each shuffle carries at most the distinct key
      // space of a 2-column projection.
      // isNotNull keeps distinct→count ≡ COUNT(DISTINCT): the oracle's
      // COUNT(DISTINCT) ignores NULL keys, while counting distinct ROWS
      // would tally a NULL key as one group (latent only — lineitem
      // keys are non-null — but the guard costs nothing and survives
      // nullable inputs). Remaining latent corner on the same axis
      // (r15 ADVICE): a returnflag group whose key column is ENTIRELY
      // NULL vanishes from that dcount leg and the inner joins below
      // then drop the whole output row, where COUNT(DISTINCT) keeps
      // the group with count 0 — to also survive that input, left-join
      // each dcount leg onto li.select(l_returnflag).distinct() with
      // coalesce(n, 0). Not done here: both key columns are TPC-H
      // non-null, and the plan-churn on a green sf100 cell isn't worth
      // an impossible input.
      def dcount(key: String, as: String) =
        li.filter(col(key).isNotNull)
          .select(col("l_returnflag"), col(key)).distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as(as))
      val counts = dcount("l_orderkey", "n_orders")
        .join(dcount("l_partkey", "n_parts"), "l_returnflag")
      val flagN = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      val med = li.groupBy("l_returnflag", "l_extendedprice")
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(w))
        .join(flagN, "l_returnflag")
        .filter(col("cum") - col("c") < expr("(n + 1) div 2") &&
          expr("(n + 1) div 2") <= col("cum"))
        .select(col("l_returnflag"), col("l_extendedprice").as("median_price"))
      counts.join(med, "l_returnflag").orderBy("l_returnflag")
    },
    Some("""
      WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rk,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem),
      med AS (
        SELECT l_returnflag, l_extendedprice AS median_price
        FROM ranked WHERE rk = CAST(ceil(0.5 * n) AS BIGINT)),
      d AS (
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS n_orders,
               count(DISTINCT l_partkey) AS n_parts
        FROM lineitem
        GROUP BY l_returnflag)
      SELECT d.l_returnflag, d.n_orders, d.n_parts, m.median_price
      FROM d JOIN med m USING (l_returnflag)
      ORDER BY d.l_returnflag"""))

  // ---------------------------------------------------------------- q27
  /** RANGE window frame: per-customer trailing-30-day spend. The frame is
    * defined in VALUE space (days), not row counts — peers on the same day
    * all enter the frame, so the result is deterministic under ties where
    * a ROWS frame would not be. Ordered by epoch days so the same numeric
    * RANGE clause runs on both engines. */
  val q27 = Q("q27_window_range_frame",
    (s, dir) => {
      val days = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date"))
      val w = Window.partitionBy("o_custkey").orderBy(days)
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("spend_30d", round(sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "spend_30d")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS spend_30d
      FROM orders
      ORDER BY o_custkey, o_orderkey"""))

  // ---------------------------------------------------------------- q28
  /** Map-type columns: build a map of named aggregates per group, then
    * read it back through the map surface (element_at / map_keys /
    * map_values / aggregate-over-values). The oracle computes the same
    * scalars directly — the map is Spark-side representation, the VALUES
    * must agree. */
  val q28 = Q("q28_map_columns",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .select(col("l_returnflag"),
          map(lit("sum_qty"), col("sum_qty"),
            lit("sum_price"), col("sum_price")).as("m"))
        .select(col("l_returnflag"),
          element_at(col("m"), "sum_qty").as("qty"),
          size(map_keys(col("m"))).cast("long").as("n_keys"),
          array_join(map_keys(col("m")), ",").as("stat_keys"),
          round(expr("aggregate(map_values(m), 0D, (acc, x) -> acc + x)"), 2).as("total"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS qty,
             CAST(2 AS BIGINT) AS n_keys,
             'sum_qty,sum_price' AS stat_keys,
             round(round(sum(l_quantity), 2) + round(sum(l_extendedprice), 2), 2) AS total
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q29
  /** Correlated LATERAL subquery: top-2 suppliers by balance per nation.
    * Catalyst decorrelates the per-row dependent subquery into a ranked
    * window join — no per-nation re-execution, one shuffle — which is why
    * LATERAL is usable at fact-table row counts. */
  val q29 = Q("q29_lateral_topk",
    (s, dir) => {
      Tables.createViews(s, dir)
      s.sql("""
        SELECT n_name, t.s_name, round(t.s_acctbal, 2) AS bal
        FROM nation,
        LATERAL (SELECT s_name, s_acctbal FROM supplier
                 WHERE s_nationkey = n_nationkey
                 ORDER BY s_acctbal DESC, s_name LIMIT 2) t
        ORDER BY n_name, bal DESC, s_name""")
    },
    Some("""
      SELECT n_name, t.s_name, round(t.s_acctbal, 2) AS bal
      FROM nation,
      LATERAL (SELECT s_name, s_acctbal FROM supplier
               WHERE s_nationkey = n_nationkey
               ORDER BY s_acctbal DESC, s_name LIMIT 2) t
      ORDER BY n_name, bal DESC, s_name"""))

  // ---------------------------------------------------------------- q30
  /** LATERAL VIEW explode (the HiveQL generator syntax; the DataFrame
    * twin is select(explode(...)) as in t01). */
  val q30 = Q("q30_lateral_view_explode",
    (s, dir) => {
      Tables.createViews(s, dir)
      s.sql("""
        SELECT word, count(*) AS n
        FROM part LATERAL VIEW explode(split(p_type, ' ')) w AS word
        GROUP BY word
        ORDER BY word""")
    },
    Some("""
      SELECT word, count(*) AS n
      FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part) t
      GROUP BY word
      ORDER BY word"""))

  // ---------------------------------------------------------------- q31
  /** Deterministic hash sampling: profile a ~1/16 sample of orders chosen
    * by a digest of the key, not rand(). Hash-gating is the sampling that
    * scales: it needs no global state, is reproducible across engines and
    * re-runs (which is also what makes it oracle-checkable — a rand()
    * sample never is), pushes down to a scan-local filter, and stratifies
    * for free (the gate applies uniformly within every group). */
  val q31 = Q("q31_hash_sample",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("avg_price"))
        .orderBy("o_orderstatus"),
    Some("""
      SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
      FROM orders
      WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------- q32
  /** Equi-width histogram of l_extendedprice (integer-binned — exact, so
    * no float-boundary ambiguity between engines). One scan-local bin
    * expression + one bounded-key aggregate: the shape stays a single
    * shuffle of (bucket, partial-agg) rows at any scale. */
  val q32 = Q("q32_histogram",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select((floor(col("l_extendedprice") / 5000) * 5000).cast("long").as("bucket_lo"),
          col("l_extendedprice"))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n"), round(avg("l_extendedprice"), 2).as("avg_price"))
        .orderBy("bucket_lo"),
    Some("""
      SELECT CAST(floor(l_extendedprice / 5000) * 5000 AS BIGINT) AS bucket_lo,
             count(*) AS n, round(avg(l_extendedprice), 2) AS avg_price
      FROM lineitem
      GROUP BY bucket_lo
      ORDER BY bucket_lo"""))

  // ---------------------------------------------------------------- q33
  /** Ranking-window family completion: ntile, percent_rank, cume_dist
    * (q08 covers rank/dense_rank/row_number). One window shuffle by
    * nation; ordering ties broken by key so both engines rank
    * identically. */
  val q33 = Q("q33_window_ranks",
    (s, dir) => {
      // percent_rank = (r−1)/(n−1) and cume_dist = r/n are INTEGER
      // rationals, so their true value can land exactly on a
      // millionth-and-a-half, where `round(double, 6)` is
      // engine-dependent — the sf10 board caught nation 11's rank
      // 33492/64000 = EXACTLY 0.5233125 (same class as t04's r14 catch).
      // Both are computed as exact integer round-half-up instead;
      // the ORDER BY is unique (acctbal, custkey), so rank() == the
      // built-ins' row ordering and the rationals are well-defined.
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val wp = Window.partitionBy("c_nationkey")
      t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          ntile(4).over(w).as("quartile"),
          rank().over(w).cast("long").as("r"),
          count(lit(1)).over(wp).as("n"))
        .withColumn("pct_rank",
          when(col("n") === 1L, lit(0.0)).otherwise(
            expr(ExactRound.spark("r-1", "n-1", 6))))
        .withColumn("cume", expr(ExactRound.spark("r", "n", 6)))
        .filter(col("c_custkey") % 10 === 0)
        .select("c_nationkey", "c_custkey", "quartile", "pct_rank", "cume")
        .orderBy("c_nationkey", "c_custkey")
    },
    Some(s"""
      WITH rk AS (
        SELECT c_nationkey, c_custkey,
               ntile(4) OVER w AS quartile,
               rank() OVER w AS r,
               count(*) OVER (PARTITION BY c_nationkey) AS n
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
      SELECT c_nationkey, c_custkey, quartile,
             CASE WHEN n = 1 THEN 0.0
                  ELSE ${ExactRound.duck("r-1", "n-1", 6)}
             END AS pct_rank,
             ${ExactRound.duck("r", "n", 6)} AS cume
      FROM rk
      WHERE c_custkey % 10 = 0
      ORDER BY c_nationkey, c_custkey"""))

  // ---------------------------------------------------------------- q34
  /** Edit-distance fuzzy matching: each nation's nearest other nation by
    * Levenshtein distance. Native `levenshtein` is exact integer edit
    * distance — identical across engines, so the oracle is sharp. The
    * all-pairs shape is fine on a bounded dimension (25×25); fuzzy
    * matching on unbounded text routes through d07's prefix-filter or
    * d02's LSH instead. */
  val q34 = Q("q34_fuzzy_match",
    (s, dir) => {
      val a = t(s, dir, "nation").select(col("n_name").as("name_a"))
      val b = t(s, dir, "nation").select(col("n_name").as("name_b"))
      a.crossJoin(b).filter(col("name_a") =!= col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .groupBy("name_a")
        .agg(min(struct(col("dist"), col("name_b"))).as("best"))
        .select(col("name_a"), col("best.name_b").as("closest"),
          col("best.dist").cast("long").as("dist"))
        .orderBy("name_a")
    },
    Some("""
      SELECT name_a, name_b AS closest, CAST(dist AS BIGINT) AS dist
      FROM (
        SELECT a.n_name AS name_a, b.n_name AS name_b,
               levenshtein(a.n_name, b.n_name) AS dist,
               row_number() OVER (PARTITION BY a.n_name
                                  ORDER BY levenshtein(a.n_name, b.n_name), b.n_name) AS rn
        FROM nation a JOIN nation b ON a.n_name <> b.n_name)
      WHERE rn = 1
      ORDER BY name_a"""))

  // ---------------------------------------------------------------- q36
  /** q01's pricing summary through the exact-decimal money path
    * ([[Tables.dfDecimal]]): every price term is DECIMAL(12,2), the
    * discount/tax factors are cast to DECIMAL(12,2) before multiplying,
    * and all sums aggregate exact decimal — no double summation error,
    * no cross-engine rounding ties (the q35 bug class is impossible by
    * construction). Only the FINAL aggregates cast to double, a
    * correctly-rounded conversion identical on both engines. Decimal
    * arithmetic stays whole-stage-codegen'd in Spark, so the scan shape
    * and shuffle profile match q01's exactly. */
  val q36 = Q("q36_decimal_pricing",
    (s, dir) => {
      val li = Tables.dfDecimal(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("2000-09-02"))
      val disc1 = (lit(1) - col("l_discount")).cast("decimal(12,2)")
      val tax1 = (lit(1) + col("l_tax")).cast("decimal(12,2)")
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_extendedprice").cast("double").as("sum_base_price"),
          sum(col("l_extendedprice") * disc1).cast("double").as("sum_disc_price"),
          sum(col("l_extendedprice") * disc1 * tax1).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_disc_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(1 - l_discount AS DECIMAL(12,2)) *
                      CAST(1 + l_tax AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_charge,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q37
  /** Stratified sampling with per-stratum rates — the TABLESAMPLE /
    * `sampleBy` shape, but keyed on a digest instead of rand() so the
    * sample is reproducible across engines, re-runs, and repartitioning
    * (exactly the property the oracle exploits; rand()-based TABLESAMPLE
    * is checkable only in expectation). Scan-local filter + bounded-key
    * aggregate: nothing here scales with anything but the scan. The
    * digest-mod-10000 uniformizer is the t13 k-fold trick. */
  val q37 = Q("q37_stratified_sample",
    (s, dir) =>
      t(s, dir, "orders")
        // the IN-list is implied by the OR below, but Catalyst won't
        // derive it — stated explicitly it reaches the scan as a
        // pushed filter, so non-sampled strata prune at the row-group
        .filter(col("o_orderstatus").isin("F", "O", "P"))
        .withColumn("u",
          pmod(conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
            .cast("long"), lit(10000)))
        .filter(
          (col("o_orderstatus") === "F" && col("u") < 1000) ||
            (col("o_orderstatus") === "O" && col("u") < 500) ||
            (col("o_orderstatus") === "P" && col("u") < 5000))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_sampled"),
          round(sum("o_totalprice"), 2).as("sampled_total"))
        .orderBy("o_orderstatus"),
    Some("""
      WITH u AS (
        SELECT o_orderstatus, o_totalprice,
               CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 10000 AS BIGINT) AS u
        FROM orders)
      SELECT o_orderstatus, count(*) AS n_sampled,
             round(sum(o_totalprice), 2) AS sampled_total
      FROM u
      WHERE (o_orderstatus = 'F' AND u < 1000)
         OR (o_orderstatus = 'O' AND u < 500)
         OR (o_orderstatus = 'P' AND u < 5000)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------- q38
  /** Correlated scalar subquery: customers within 10% of their nation's
    * top account balance. Catalyst decorrelates the subquery into an
    * aggregate + join — the plan to check is that no per-row subquery
    * execution survives. The threshold multiplies MAX (order-independent,
    * so bit-identical across engines); an avg-based threshold would be
    * summation-order tie-prone at the boundary. */
  val q38 = Q("q38_scalar_subquery",
    (s, dir) => {
      // unique per-call view name: a second concurrent catalog user would
      // race on a static one. spark.sql analyzes eagerly, so the view can
      // be dropped as soon as the frame is built.
      val vn = s"q38_customer_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      t(s, dir, "customer").createOrReplaceTempView(vn)
      try s.sql(s"""
        SELECT c_nationkey, count(*) AS n_top,
               round(min(c_acctbal), 2) AS min_top_bal
        FROM $vn c
        WHERE c_acctbal >= 0.9 * (SELECT max(c2.c_acctbal)
                                  FROM $vn c2
                                  WHERE c2.c_nationkey = c.c_nationkey)
        GROUP BY c_nationkey
        ORDER BY c_nationkey""")
      finally s.catalog.dropTempView(vn)
    },
    Some("""
      SELECT c_nationkey, count(*) AS n_top,
             round(min(c_acctbal), 2) AS min_top_bal
      FROM customer c
      WHERE c_acctbal >= 0.9 * (SELECT max(c2.c_acctbal)
                                FROM customer c2
                                WHERE c2.c_nationkey = c.c_nationkey)
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""))

  // ---------------------------------------------------------------- q39
  /** GROUPING SETS with an explicit grouping-id: detail, per-status, and
    * grand-total rows in one pass (one shuffle, expand-based — not three
    * scans unioned). NULL group keys are coalesced to 'ALL' so ordering
    * needs no NULLS FIRST/LAST reconciliation between engines, and the
    * gid is composed from grouping() bits identically on both sides. */
  val q39 = Q("q39_grouping_sets",
    (s, dir) => {
      // unique per-call view name (q38 discipline), dropped after the
      // eager analysis
      val vn = s"q39_orders_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      t(s, dir, "orders").createOrReplaceTempView(vn)
      try s.sql(s"""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM $vn
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, status, priority""")
      finally s.catalog.dropTempView(vn)
    },
    Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      ORDER BY gid, status, priority"""))

  // ---------------------------------------------------------------- q40
  /** Window NAVIGATION functions — lag/lead deltas and positional picks
    * (first/nth within a growing frame) over each customer's order
    * history; the time-series feature-engineering shapes (previous-value
    * delta, next-value peek, k-th reference point) the rank/sum windows
    * of q08/q09/q27 don't cover. Ordered by (custkey, orderkey) — a
    * unique key — so every navigation is tie-free on both engines. */
  val q40 = Q("q40_window_navigation",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val grow = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") - lag("o_totalprice", 1).over(w), 2)
            .as("delta_prev"),
          round(lead("o_totalprice", 1).over(w) - col("o_totalprice"), 2)
            .as("delta_next"),
          round(first("o_totalprice").over(grow), 2).as("first_price"),
          round(nth_value(col("o_totalprice"), 3).over(grow), 2).as("third_price"))
        .filter(col("o_custkey") % 20 === 0)
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(o_totalprice - lag(o_totalprice, 1) OVER w, 2) AS delta_prev,
             round(lead(o_totalprice, 1) OVER w - o_totalprice, 2) AS delta_next,
             round(first_value(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS first_price,
             round(nth_value(o_totalprice, 3) OVER
               (PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS third_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      QUALIFY o_custkey % 20 = 0
      ORDER BY o_custkey, o_orderkey"""))

  // ---------------------------------------------------------------- q41
  /** UNPIVOT — the inverse of q25's pivot: a wide per-status metrics row
    * melts into (status, metric, value) long form, the shape feature
    * stores and metric pipelines ingest. Spark's `unpivot` is a
    * zero-shuffle Expand over the aggregate (3 output rows per input
    * row); all measures cast to a common double first, as the operator
    * requires one value type. */
  val q41 = Q("q41_unpivot",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("double").as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"),
          round(avg("o_totalprice"), 2).as("avg_price"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("n_orders"), col("total_price"), col("avg_price")),
          "metric", "value")
        .orderBy("o_orderstatus", "metric"),
    Some("""
      UNPIVOT (SELECT o_orderstatus,
                      CAST(count(*) AS DOUBLE) AS n_orders,
                      round(sum(o_totalprice), 2) AS total_price,
                      round(avg(o_totalprice), 2) AS avg_price
               FROM orders GROUP BY o_orderstatus)
      ON n_orders, total_price, avg_price
      INTO NAME metric VALUE value
      ORDER BY o_orderstatus, metric"""))

  // ---------------------------------------------------------------- q44
  /** Regression/correlation statistics — price-vs-quantity fit per return
    * flag. These are the one-pass co-moment aggregates (corr, covar,
    * regr_slope/intercept/r2) every profiling pipeline leans on; Spark and
    * DuckDB both compute them with numerically-stable streaming updates,
    * so they agree to well past the rounded digits. Single partial+final
    * hash aggregate on a 3-value key — one bounded shuffle at any scale.
    *
    * Rounding note: slope/intercept are O(1)/O(1e2) magnitudes, corr/r2
    * are in [-1,1]; 6 digits keeps both far above the engines' ulp-level
    * summation differences. */
  val q44 = Q("q44_regression_stats",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
          round(covar_samp("l_quantity", "l_extendedprice"), 2).as("covar_qty_price"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag, count(*) AS n,
             round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q45
  /** Running DISTINCT count over a window — `count(DISTINCT) OVER` is SQL
    * the planner does not support, so this is the canonical rewrite: flag
    * each part's earliest-in-time row (lag over a (part, time) sort), then
    * a cumulative sum of flags in time order. At row r the flag sum counts
    * exactly the parts whose first occurrence is ≤ r — the prefix-distinct
    * definition. Both windows partition by the SAME key (l_suppkey), so
    * the plan is ONE exchange and two in-partition sorts — no second
    * shuffle, no per-row set state; DuckDB's native windowed DISTINCT is
    * the oracle. The total order (shipdate, orderkey, linenumber) is
    * unique, so both engines see identical prefixes. */
  val q45 = Q("q45_running_distinct",
    (s, dir) => {
      val byPart = Window.partitionBy("l_suppkey")
        .orderBy("l_partkey", "l_shipdate", "l_orderkey", "l_linenumber")
      val byTime = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .select("l_suppkey", "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber")
        .withColumn("first_flag",
          when(lag("l_partkey", 1).over(byPart).isNull
            || lag("l_partkey", 1).over(byPart) =!= col("l_partkey"), 1L)
            .otherwise(0L))
        .withColumn("distinct_parts", sum("first_flag").over(byTime))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("distinct_parts"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    },
    Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             count(DISTINCT l_partkey) OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS distinct_parts
      FROM lineitem
      ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- q46
  /** Z-order data layout: range-normalize each clustering key to a
    * [[zBits]]-bit bucket, interleave the buckets into one Morton code,
    * bin rows into equal-width z-ranges ("files"), and report per-file
    * min/max key stats — the layout job that makes a 100 TB table
    * skippable on BOTH dimensions at once (a partkey-sorted layout prunes
    * partkey probes but scans everything for suppkey probes; z-order
    * keeps each file a small rectangle in (part, supp) space, so either
    * dimension's min/max stats prune).
    *
    * The per-column normalization is load-bearing, not cosmetic: raw-bit
    * interleave degrades toward a plain sort on whichever column has more
    * significant bits (TPC-H partkey has ~2× suppkey's bits, and the
    * first cut of this query measurably stopped pruning suppkey probes).
    * Scaling both columns to the same width — `(v << zBits) div (max+1)`,
    * the integer-arithmetic stand-in for the per-column range-bucketing
    * real z-order writers use — restores the balanced quadtree. After
    * normalization the z domain is exactly [0, 2^(2·zBits)), so file
    * assignment is a plain shift, no data-dependent boundary.
    *
    * Scale shape: one bounded agg for the two column maxes (a real writer
    * samples range boundaries instead), broadcast-attached; then the
    * interleave is a 40-term shift/mask expression inside whole-stage
    * codegen riding the scan, and the stats agg groups on ≤ [[zFiles]]
    * keys. ZOrderSpec pins the interleave bit math and quantifies the
    * pruning win over an insertion-order layout on both dimensions; the
    * DuckDB oracle executes the identical unrolled integer formula. */
  private val zBits = 10
  private val zFiles = 64

  /** Morton interleave of two zBits-wide values: bit i of `even` →
    * position 2i, bit i of `odd` → position 2i+1. */
  private[graft] def zOrder(even: Column, odd: Column): Column =
    (0 until zBits).map { i =>
      shiftleft(shiftright(even, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(odd, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def zOrderSql(even: String, odd: String): String =
    (0 until zBits).map { i =>
      s"((($even >> $i) & 1) << ${2 * i}) | ((($odd >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")

  val q46 = Q("q46_zorder_layout",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      val mx = li.agg(max("l_partkey").as("maxp"), max("l_suppkey").as("maxs"))
      li.crossJoin(broadcast(mx))
        .withColumn("pb", expr(s"(l_partkey * ${1 << zBits}) div (maxp + 1)"))
        .withColumn("sb", expr(s"(l_suppkey * ${1 << zBits}) div (maxs + 1)"))
        .withColumn("z", zOrder(col("pb"), col("sb")))
        .withColumn("file_id", expr(s"z div ${(1L << (2 * zBits)) / zFiles}"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("cnt"),
          min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
          min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
        .orderBy("file_id")
    },
    Some(s"""
      WITH m AS (
        SELECT max(l_partkey) AS maxp, max(l_suppkey) AS maxs FROM lineitem),
      z AS (
        SELECT l_partkey, l_suppkey,
               ${zOrderSql(
                 s"((l_partkey * ${1 << zBits}) // (m.maxp + 1))",
                 s"((l_suppkey * ${1 << zBits}) // (m.maxs + 1))")} AS z
        FROM lineitem, m)
      SELECT z // ${(1L << (2 * zBits)) / zFiles} AS file_id,
             count(*) AS cnt,
             min(l_partkey) AS min_part, max(l_partkey) AS max_part,
             min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
      FROM z
      GROUP BY 1
      ORDER BY 1"""))

  val queries: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25,
    q26, q27, q28, q29, q30, q31, q32, q33, q34, q36, q37, q38, q39, q40, q41,
    q44, q45, q46)
}
