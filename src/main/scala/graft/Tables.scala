package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. At cluster scale the
  * same paths would be directories of many part-files — `spark.read.parquet`
  * handles both identically, and every query in [[Queries]] reaches the scan
  * through here, so filter pushdown / column pruning apply at any scale.
  *
  * Every read passes through [[adapt]]: on a 100 TB lake upstream producers
  * change physical encodings without notice (round 7 proved it: `events.ts`
  * flipped TIMESTAMP(NANOS)→timestamp[us] and silently severed 15 queries;
  * the same regeneration also moved `o_orderdate`/`l_shipdate`). The loader
  * therefore dispatches on the OBSERVED schema and coerces each column to
  * the canonical type the query catalog was written against — numeric
  * widenings and timestamp re-encodings are safe and applied; anything
  * semantic (string↔numeric, unknown encodings) fails loudly instead of
  * producing silently-wrong results. Pinned by TsEncodingSpec (events.ts,
  * all three encodings) and SchemaDriftSpec (numeric/array/timestamp drift
  * on the other tables).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonical column types per table — what the catalog assumes. Integral
    * keys/counts are LONG (the only width that survives 100 TB key spaces),
    * money/measures are DOUBLE, event-time columns are TimestampType.
    * Columns not listed (or whole tables not listed) pass through as read,
    * so additive schema evolution costs nothing. */
  private val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> LongType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> LongType, "n_name" -> StringType,
      "n_regionkey" -> LongType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> LongType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> LongType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> LongType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> LongType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** Coerce one observed timestamp-family encoding to [[TimestampType]].
    * Observed encodings, each pinned by TsEncodingSpec:
    *   - epoch-nano INT64 (legacy TIMESTAMP(NANOS) surfaced as long via
    *     spark.sql.legacy.parquet.nanosAsLong, or a raw long column)
    *     → truncate to micros;
    *   - TIMESTAMP(isAdjustedToUTC=false) → Spark TimestampNTZType → cast;
    *     with the session timezone fixed to UTC (Session.scala) the cast is
    *     wall-clock-preserving, matching DuckDB's naive CAST(x AS TIMESTAMP);
    *   - TIMESTAMP(isAdjustedToUTC=true) → already TimestampType → pass;
    *   - DATE → midnight timestamp (wall-clock-preserving under UTC).
    * Anything else fails loudly rather than silently shifting times. */
  private def tsColumn(table: String, cname: String, have: DataType): Option[Column] =
    have match {
      case LongType => Some(expr(s"timestamp_micros($cname div 1000)"))
      case TimestampType => None
      case TimestampNTZType | DateType => Some(col(cname).cast(TimestampType))
      case other =>
        sys.error(s"$table.$cname has unsupported time encoding $other; " +
          "expected epoch-nano long, timestamp, timestamp_ntz, or date")
    }

  /** Back-compat shim for the events-only entry point (TsEncodingSpec). */
  private[graft] def canonicalTs(raw: DataFrame): DataFrame =
    adapt("events", raw)

  private[graft] def adapt(table: String, raw: DataFrame): DataFrame =
    canonical.get(table).fold(raw) { cols =>
      // Columns missing from the file are left to fail at analysis time
      // with a clear unresolved-column error (and partial-schema fixtures
      // stay valid); columns present are coerced or rejected here.
      val projections = cols.filter(c => raw.columns.contains(c._1))
        .flatMap { case (cname, want) =>
        val have = raw.schema(cname).dataType
        if (have == want) None
        else (have, want) match {
          case (_, TimestampType) =>
            tsColumn(table, cname, have).map(cname -> _)
          case (ByteType | ShortType | IntegerType | LongType,
                LongType | IntegerType | DoubleType) =>
            // integral → integral/double widening: value-preserving
            Some(cname -> col(cname).cast(want))
          case (FloatType | DoubleType | _: DecimalType, DoubleType) =>
            // fractional → double: value-preserving
            Some(cname -> col(cname).cast(want))
          case (ArrayType(_: NumericType, _), w @ ArrayType(_: NumericType, _)) =>
            Some(cname -> col(cname).cast(w))
          case (h, w) =>
            sys.error(s"$table.$cname arrived as $h but the catalog needs $w — " +
              "refusing to coerce across type families; fix the producer or " +
              "extend Tables.canonical")
        }
      }.toMap
      if (projections.isEmpty) raw
      else raw.withColumns(projections)
    }

  def df(spark: SparkSession, sfDir: String, name: String): DataFrame =
    adapt(name, spark.read.parquet(s"$sfDir/$name.parquet"))

  /** TPC-H money columns, per table, for the exact-decimal read path. */
  val moneyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_extendedprice", "l_discount", "l_tax"),
    "orders" -> Seq("o_totalprice"),
    "customer" -> Seq("c_acctbal"),
    "supplier" -> Seq("s_acctbal"),
    "part" -> Seq("p_retailprice"))

  /** Like [[df]], with money columns cast to DECIMAL(12,2) at the scan —
    * the exact-money option for 100 TB accounting jobs where double
    * summation error and cross-engine rounding ties (the q35 class of
    * bug) are unacceptable. TESTDATA stores these as double with 2-digit
    * values, so the cast is lossless; a production table would carry the
    * decimal type in the parquet schema and skip it. */
  def dfDecimal(spark: SparkSession, sfDir: String, name: String): DataFrame =
    moneyCols.getOrElse(name, Nil).foldLeft(df(spark, sfDir, name)) {
      (d, c) => d.withColumn(c, d(c).cast("decimal(12,2)"))
    }

  /** Register all tables as temp views named after the table (idempotent).
    * Lets catalog queries use `spark.table("lineitem")` / `spark.sql`.
    */
  def createViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => df(spark, sfDir, n).createOrReplaceTempView(n))
}
