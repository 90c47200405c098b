package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Query
import graft.core.Tables

/** Relational operator suite over the TPC-H-ish test tables.
  *
  * The reference platform has NO relational algebra (SURVEY.md §2.5) — its
  * apps impose structure inside user Python code. This module exposes the
  * full relational surface a user of the reference would otherwise hand-roll
  * in Maple/Juice scripts: scan, filter/project (pushdown), aggregation,
  * joins of every flavor, windows, top-k, set ops, rollup/cube/grouping
  * sets, scalar functions — each as a declarative Spark plan so Catalyst
  * does pushdown/pruning/join-strategy selection (SURVEY.md §4).
  *
  * Scale notes: only FIXED-cardinality dimensions (region = 5 rows,
  * nation = 25 rows at every scale factor) carry explicit `broadcast()`
  * hints. SF-proportional tables (customer/supplier/part and derived
  * per-customer aggregates) deliberately do NOT: a hard-coded hint
  * disables Spark's size check, and at 100 TB those sides are hundreds of
  * GB — a forced broadcast is a guaranteed driver/executor OOM. Unhinted,
  * AQE's runtime size check still picks BroadcastHashJoin at bench scale
  * (asserted in PlanSpec) and degrades gracefully to a shuffle join at
  * 100 TB instead of failing.
  *
  * Every aggregate double is `round`ed (2dp for money sums, 4dp for ratios)
  * in BOTH the Spark plan and the DuckDB oracle so the driver's value-hash
  * compare is not at the mercy of float summation order.
  */
object Relational {

  private def ts(lit0: String): Column = to_timestamp(lit(lit0))

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-style pricing summary: full-scan aggregate with partial
    * (map-side) aggregation; the canonical "Juice with combiner" shape. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= ts("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")), 2).as("sum_charge"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_extendedprice"), 4).as("avg_price"),
        round(avg($"l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  // ---------------------------------------------------------------- q02
  /** Filter + projection — must reach the parquet scan as PushedFilters +
    * pruned ReadSchema (verified in PlanSpec). */
  def q02FilterProject(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= ts("1997-01-01") && $"l_shipdate" < ts("1997-03-01") &&
        $"l_quantity" > 45.0)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_quantity")
  }

  // ---------------------------------------------------------------- q03
  /** Revenue by nation: fact-fact join (orders⋈lineitem, shuffle on the
    * join key) with dimension joins. Nation (25 rows always) is hinted;
    * customer is SF-proportional, so its join strategy is left to AQE's
    * runtime size check — broadcast at test scale, shuffle join at 100 TB
    * where a forced broadcast would OOM. */
  def q03RevenueByNation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
    val c  = Tables.customer(s, d)
    val n  = Tables.nation(s, d)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ---------------------------------------------------------------- q04
  /** Order-priority check: left-semi join (EXISTS) then aggregate. */
  def q04OrderPrioritySemi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o  = Tables.orders(s, d)
    val li = Tables.lineitem(s, d).filter($"l_quantity" >= 48.0)
      .select($"l_orderkey")
    o.join(li, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  // ---------------------------------------------------------------- q05
  /** Top-k: global order-by with deterministic tie-break + limit.
    * Spark plans this as TakeOrderedAndProject — no full sort at scale. */
  def q05TopOrders(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 2).as("o_totalprice"))
  }

  // ---------------------------------------------------------------- q06
  /** TPC-H Q6-style forecast revenue: highly selective scan-aggregate,
    * single output row; everything pushes to the scan. */
  def q06ForecastRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1997-01-01") &&
        $"l_discount" >= 0.03 && $"l_discount" <= 0.07 && $"l_quantity" < 24.0)
      .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  // ---------------------------------------------------------------- q07
  /** Window ranking: latest 3 orders per customer (row_number over
    * partitioned window; deterministic via orderkey tie-break). */
  def q07LatestOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"rn")
  }

  /** Same semantics as q07 through the custom TopKPerKey whole-operator
    * (LogicalPlan + Strategy + bounded-heap ExecNode — no per-group sort,
    * no Window). Shares q07's oracle: the point is plan-shape change with
    * value-identical output. */
  def q07bTopKCustom(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    org.apache.spark.sql.graft.GraftFunctions.register(s) // installs strategy; idempotent
    org.apache.spark.sql.graft.TopKOps.topKPerKey(
        Tables.orders(s, d),
        keys = Seq($"o_custkey"),
        orderBy = Seq($"o_orderdate".desc, $"o_orderkey".desc),
        k = 3, rankName = "rn")
      .select($"o_custkey", $"o_orderkey", $"rn")
  }

  // ---------------------------------------------------------------- q08
  /** Running aggregate window: cumulative event value per user. */
  def q08RunningSum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("running_value", round(sum($"value").over(w), 2))
      .select($"event_id", $"user_id", $"running_value")
  }

  // ---------------------------------------------------------------- q09
  /** Distinct: dedup of the (partkey, suppkey) pairs — hash aggregate,
    * map-side partial dedup before shuffle. */
  def q09DistinctPartSupp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).select($"l_partkey", $"l_suppkey").distinct()
  }

  // ---------------------------------------------------------------- q10
  /** Set operations: customers ordering in both 1995 and 1996 (INTERSECT),
    * minus those with any low-value order (EXCEPT). */
  def q10SetOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val y95 = o.filter($"o_orderdate" >= ts("1995-01-01") && $"o_orderdate" < ts("1996-01-01"))
      .select($"o_custkey")
    val y96 = o.filter($"o_orderdate" >= ts("1996-01-01") && $"o_orderdate" < ts("1997-01-01"))
      .select($"o_custkey")
    val low = o.filter($"o_totalprice" < 5000.0).select($"o_custkey")
    y95.intersect(y96).except(low)
  }

  // ---------------------------------------------------------------- q11
  /** ROLLUP: hierarchical subtotals; NULL grouping slots normalized to
    * 'ALL' so the oracle compare is unambiguous. */
  def q11Rollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n_rows")
  }

  // ---------------------------------------------------------------- q12
  /** CUBE over order status × priority. */
  def q12Cube(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(round(sum($"o_totalprice"), 2).as("sum_price"), count(lit(1)).as("n_orders"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("orderstatus"),
        coalesce($"o_orderpriority", lit("ALL")).as("orderpriority"),
        $"sum_price", $"n_orders")
  }

  // ---------------------------------------------------------------- q13
  /** Anti join: customers with no high-value order (NOT EXISTS). The
    * predicate keeps the result non-empty at every SF — every customer has
    * *some* order in this data, so the unconditioned variant is vacuous. */
  def q13CustomersWithoutOrders(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter($"o_totalprice" > 300000.0)
      .select($"o_custkey")
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  // ---------------------------------------------------------------- q14
  /** Join + aggregate + HAVING: suppliers above a revenue threshold.
    * Supplier is SF-proportional — no broadcast hint; AQE sizes the join. */
  def q14SupplierRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, d)
      .groupBy($"l_suppkey")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("total_revenue"))
      .filter($"total_revenue" > 1000.0)
    rev.join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
  }

  // ---------------------------------------------------------------- q15
  /** Conditional aggregation by month: CASE WHEN inside SUM, grouped on a
    * date-truncated key (the standard incremental-ETL shape). */
  def q15MonthlyReturns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy(to_date(date_trunc("month", $"l_shipdate")).as("ship_month"))
      .agg(
        round(sum(when($"l_returnflag" === "R", $"l_extendedprice").otherwise(0.0)), 2).as("returned_value"),
        round(sum(when($"l_returnflag" =!= "R", $"l_extendedprice").otherwise(0.0)), 2).as("kept_value"),
        count(lit(1)).as("n_items"))
  }

  // ---------------------------------------------------------------- q16
  /** GROUPING SETS — distinct aggregation granularities in one pass. */
  def q16GroupingSets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    li.createOrReplaceTempView("graft_q16_lineitem")
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(cast(l_linenumber AS STRING), 'ALL') AS linenumber,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM graft_q16_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linenumber), ())
        |""".stripMargin)
  }

  // ---------------------------------------------------------------- q17
  /** Scalar function soup: string/date/math functions evaluated per row —
    * all codegen'd builtins, no UDFs (SURVEY.md §2.5). */
  def q17ScalarFunctions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d).select(
      $"p_partkey",
      upper($"p_name").as("name_upper"),
      substring($"p_name", 1, 4).as("name_prefix"),
      length($"p_name").as("name_len"),
      concat_ws("/", $"p_brand", $"p_type").as("brand_type"),
      ($"p_partkey" % 7).as("key_mod"),
      round(abs($"p_retailprice" - 1000.0), 2).as("price_dist"),
      when($"p_size" >= 25, "large").when($"p_size" >= 10, "medium")
        .otherwise("small").as("size_class"))
  }

  // ---------------------------------------------------------------- q18
  /** Correlated-subquery shape: orders 50% above their customer's average
    * (decorrelated as aggregate + join back). The aggregate's cardinality
    * is |customer| — SF-proportional, so no broadcast hint: AQE broadcasts
    * it at bench scale and falls back to a shuffle join at 100 TB. */
  def q18AboveAverageOrders(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val avgs = o.groupBy($"o_custkey".as("a_custkey"))
      .agg(avg($"o_totalprice").as("avg_price"))
    o.join(avgs, $"o_custkey" === $"a_custkey")
      .filter($"o_totalprice" > $"avg_price" * 1.5)
      .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 2).as("o_totalprice"))
  }

  // ---------------------------------------------------------------- q19
  /** Five-table star join (TPC-H Q5 shape): region-filtered revenue where
    * the supplier and customer share a nation. Fixed dims (nation/region)
    * are hinted; supplier/customer are SF-proportional and left to AQE —
    * broadcast at bench scale, shuffle join at 100 TB. Only
    * lineitem⋈orders always shuffles. */
  def q19RegionalRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
    val c  = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val n  = Tables.nation(s, d)
    val r  = Tables.region(s, d).filter($"r_name".isin("ASIA", "AMERICA"))
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(su, $"l_suppkey" === $"s_suppkey")
      .join(c, $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
  }

  // ---------------------------------------------------------------- q20
  /** Tumbling-window event aggregation (batch form of the streaming query
    * in graft.streaming): 1-hour buckets per event type. Window start is
    * emitted as epoch seconds to keep the oracle timezone-proof. */
  def q20EventWindows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .select(unix_timestamp($"w.start").as("window_start"),
        $"event_type", $"n_events", $"sum_value")
  }

  // ---------------------------------------------------------------- q21
  /** Sessionization in batch: 30-minute-gap sessions via lag + running
    * conditional count (the mapGroupsWithState analog, SQL-expressible). */
  def q21Sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val withGap = Tables.events(s, d)
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1).otherwise(0))
    withGap
      .withColumn("session_id",
        sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("session_value"))
  }

  // ---------------------------------------------------------------- q22
  /** Semi-structured: extract a JSON field from the events `props` column
    * and aggregate it (get_json_object is codegen'd; no UDF). */
  def q22JsonExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), count($"k").as("n_with_k"),
        round(avg($"k"), 4).as("avg_k"))
  }

  // ---------------------------------------------------------------- q23
  /** Typed semi-structured parse: from_json with an explicit schema (the
    * structured counterpart of q22's path extraction). */
  def q23FromJsonTyped(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id",
        from_json($"props", org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_val"))
  }

  // ---------------------------------------------------------------- q24
  /** Date/time arithmetic: datediff, month bucketing, quarter/dow
    * extraction — dialect-parity-checked against DuckDB. */
  def q24DateArithmetic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).select(
      $"o_orderkey",
      year($"o_orderdate").as("order_year"),
      quarter($"o_orderdate").as("order_quarter"),
      month($"o_orderdate").as("order_month"),
      dayofweek($"o_orderdate").as("order_dow"),
      datediff(to_date(lit("2002-01-01")), to_date($"o_orderdate")).as("days_to_2002"),
      to_date(add_months($"o_orderdate", 3)).as("plus_quarter"),
      last_day($"o_orderdate").as("month_end"))
  }

  // ---------------------------------------------------------------- q25
  /** Sketch aggregation: HyperLogLog++ distinct estimate next to the
    * exact count. Estimators differ across engines → rows-only for the
    * approx value; SketchSpec bounds its error against the exact count.
    * The exact-count twin is what the oracle checks (q25 exact only).
    *
    * Both aggregates run over the distinct (flag, partkey) pairs. Next to
    * `countDistinct`, Spark's single-distinct plan would carry the HLL
    * buffer (411 longs at rsd 0.02) through both aggregation levels in
    * every (flag, partkey) group. The rows are the same: HLL++ registers
    * are a max over the inserted values, so duplicates leave them as they
    * are, and `count` over distinct non-null keys is `countDistinct`. */
  def q25ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_partkey").distinct()
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
        count($"l_partkey").as("exact_parts"))
  }

  // ---------------------------------------------------------------- q26
  /** Pivot: event value sums per user-bucket × event_type — Spark's
    * `pivot` with explicit pivot values (explicit values keep the plan a
    * single pass: Spark skips the extra distinct-collection job, and the
    * output schema is static — the only form that scales). The DuckDB
    * oracle uses conditional aggregation, the dialect-neutral spelling of
    * the same plan. */
  def q26Pivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("user_bucket", ($"user_id" % 10).cast("int"))
      .groupBy($"user_bucket")
      .pivot("event_type", Seq("click", "view", "purchase", "error"))
      .agg(round(sum($"value"), 2))
  }

  // ---------------------------------------------------------------- q27
  /** Percentile profile: exact interpolated p25/p50/p95 of order totals
    * per order priority (Spark `percentile` = DuckDB `quantile_cont`,
    * both exact linear interpolation — parity-checked by the oracle).
    * Exact percentiles sort within each group under the hood; at 100 TB
    * swap to `approx_percentile` (KLL-style sketch, rows-only check). */
  def q27Percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.95)"), 2).as("p95"),
        count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------- q28
  /** RANGE interval window frame: trailing 30-day spend per customer —
    * the time-based sliding frame (vs q08's ROWS frame). RANGE frames
    * include value peers, so same-day orders always see the same total
    * and the result is deterministic under any tie order. */
  def q28RangeFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).select(
      $"o_orderkey", $"o_custkey", $"o_orderdate",
      round(expr(
        "sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate " +
          "RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)"), 2)
        .as("trailing_30d_spend"))
  }

  /** Shared with the stream_* gates, which must return the same rows. */
  val q20EventWindowsOracle: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
      | event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  val q21SessionizeOracle: String =
    """WITH gaps AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sess AS (
      |  SELECT user_id, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM gaps)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       round(sum(value), 2) AS session_value
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** Each relational query with its DuckDB-dialect oracle, value-identical
    * to the Spark plan (same aliases, same rounding, same casts). */
  val registry: Seq[Query] = Seq(
    Query("q01_pricing_summary", q01PricingSummary _,
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    Query("q02_filter_project", q02FilterProject _,
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-03-01'
        |  AND l_quantity > 45.0""".stripMargin),
    Query("q03_revenue_by_nation", q03RevenueByNation _,
      """SELECT n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),
    Query("q04_order_priority_semi", q04OrderPrioritySemi _,
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48.0)
        |GROUP BY o_orderpriority""".stripMargin),
    Query("q05_top_orders", q05TopOrders _,
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders ORDER BY orders.o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Query("q06_forecast_revenue", q06ForecastRevenue _,
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin),
    Query("q07_latest_orders_window", q07LatestOrdersPerCustomer _,
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin),
    Query("q07b_topk_custom", q07bTopKCustom _,
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin),
    Query("q08_running_sum_window", q08RunningSum _,
      """SELECT event_id, user_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
        |FROM events""".stripMargin),
    Query("q09_distinct_partsupp", q09DistinctPartSupp _,
      "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"),
    Query("q10_set_ops", q10SetOps _,
      """(SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        | INTERSECT
        | SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice < 5000.0""".stripMargin),
    Query("q11_rollup", q11Rollup _,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    Query("q12_cube", q12Cube _,
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |       coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |       round(sum(o_totalprice), 2) AS sum_price, count(*) AS n_orders
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),
    Query("q13_anti_join", q13CustomersWithoutOrders _,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin),
    Query("q14_supplier_revenue_having", q14SupplierRevenue _,
      """SELECT s_suppkey, s_name, total_revenue FROM (
        |  SELECT l_suppkey, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
        |  FROM lineitem GROUP BY l_suppkey HAVING total_revenue > 1000.0) r
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin),
    Query("q15_monthly_returns", q15MonthlyReturns _,
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        | round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END), 2) AS returned_value,
        | round(sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0.0 END), 2) AS kept_value,
        | count(*) AS n_items
        |FROM lineitem GROUP BY 1""".stripMargin),
    Query("q16_grouping_sets", q16GroupingSets _,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(CAST(l_linenumber AS VARCHAR), 'ALL') AS linenumber,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linenumber), ())""".stripMargin),
    Query("q17_scalar_functions", q17ScalarFunctions _,
      """SELECT p_partkey,
        | upper(p_name) AS name_upper,
        | substr(p_name, 1, 4) AS name_prefix,
        | length(p_name) AS name_len,
        | concat_ws('/', p_brand, p_type) AS brand_type,
        | p_partkey % 7 AS key_mod,
        | round(abs(p_retailprice - 1000.0), 2) AS price_dist,
        | CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'medium'
        |      ELSE 'small' END AS size_class
        |FROM part""".stripMargin),
    Query("q18_above_avg_orders", q18AboveAverageOrders _,
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders JOIN (SELECT o_custkey AS a_custkey, avg(o_totalprice) AS avg_price
        |                  FROM orders GROUP BY o_custkey) a
        |  ON o_custkey = a_custkey
        |WHERE o_totalprice > avg_price * 1.5""".stripMargin),
    Query("q19_regional_revenue", q19RegionalRevenue _,
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'AMERICA')
        |GROUP BY r_name, n_name""".stripMargin),
    Query("q20_event_windows", q20EventWindows _, q20EventWindowsOracle),
    Query("q21_sessionize", q21Sessionize _, q21SessionizeOracle),
    Query("q22_json_extract", q22JsonExtract _,
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(json_extract_string(props, '$.k')) AS n_with_k,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin),
    Query("q23_from_json_typed", q23FromJsonTyped _,
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events""".stripMargin),
    Query("q24_date_arithmetic", q24DateArithmetic _,
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INTEGER) AS order_year,
        | CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
        | CAST(month(o_orderdate) AS INTEGER) AS order_month,
        | CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
        | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_quarter,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders""".stripMargin),
    // HLL estimators differ across engines: rows-only; SketchSpec bounds
    // the estimate against the exact count instead
    Query.rowsOnly("q25_approx_distinct", q25ApproxDistinct _),
    Query("q26_pivot", q26Pivot _,
      """SELECT CAST(user_id % 10 AS INT) AS user_bucket,
        | round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        | round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        | round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error
        |FROM events GROUP BY 1""".stripMargin),
    Query("q27_percentiles", q27Percentiles _,
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        | round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        | round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
        | count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin),
    Query("q28_range_frame", q28RangeFrame _,
      """SELECT o_orderkey, o_custkey, o_orderdate,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW), 2)
        |   AS trailing_30d_spend
        |FROM orders""".stripMargin),
  )
}
