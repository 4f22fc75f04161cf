package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Standard relational coverage over the fixture star schema (SURVEY §5.2):
  * scans, filters, projections, equi/semi/anti joins, hash aggregation,
  * rollup, windows, top-k, set ops. The reference itself only ever runs one
  * big table (SURVEY §2.5) — this surface is what makes the engine a
  * general analytics library rather than a single-purpose job.
  *
  * Scale notes (100 TB): every query below shuffles only on its aggregation
  * or join keys; dimension tables (region, nation, supplier) are broadcast —
  * AQE handles the rest at runtime. All double aggregates are rounded in
  * both Spark and oracle SQL so the hash compare is fp-order-insensitive.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "q1_pricing_summary" -> q1PricingSummary,
    "q2_top_orders" -> q2TopOrders,
    "q3_revenue_by_nation" -> q3RevenueByNation,
    "q4_ship_filter_agg" -> q4ShipFilterAgg,
    "q5_supplier_recent_lines" -> q5SupplierRecentLines,
    "q6_customers_without_orders" -> q6CustomersWithoutOrders,
    "q7_late_ship_priority" -> q7LateShipPriority,
    "q8_rollup_quantity" -> q8RollupQuantity,
    "q9_segment_stats" -> q9SegmentStats,
    "q10_running_order_total" -> q10RunningOrderTotal,
    "q11_nationkeys_union" -> q11NationkeysUnion,
    "q12_brand_type_shapes" -> q12BrandTypeShapes,
    "q13_monthly_revenue" -> q13MonthlyRevenue,
    "q16_quantity_percentiles" -> q16QuantityPercentiles,
    "q16b_approx_percentiles" -> q16bApproxPercentiles,
    "q14_top_customer_per_nation" -> q14TopCustomerPerNation,
    "q15_order_size_classes" -> q15OrderSizeClasses,
    "q17_cube_quantity" -> q17CubeQuantity,
    "q18_nationkeys_except" -> q18NationkeysExcept,
    "q19_above_brand_avg" -> q19AboveBrandAvg,
    "q20_grouping_sets" -> q20GroupingSets,
    "q21_pivot" -> q21Pivot,
    "q22_approx_distinct" -> q22ApproxDistinct,
    "q23_custkeys_intersect" -> q23CustkeysIntersect
  )

  /** TPC-H Q1 shape: single-table scan + hash agg with partial aggregation;
    * filter and the 6-column projection both push into the parquet scan.
    */
  def q1PricingSummary: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Global top-k: TakeOrderedAndProject — no full sort, no shuffle of the
    * whole table; deterministic via the orderkey tiebreak.
    */
  def q2TopOrders: Q = (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))
      .orderBy(col("total").desc, col("o_orderkey"))
      .limit(10)

  /** 4-way join: lineitem⋈orders (big-big, shuffle on orderkey) then
    * customer, then broadcast nation — classic star-join shape.
    */
  def q3RevenueByNation: Q = (s, dir) =>
    q3Core(Tables.lineitem(s, dir), Tables.orders(s, dir),
      Tables.customer(s, dir), Tables.nation(s, dir))

  /** The q3 plan over caller-supplied inputs: BUCKETED lineitem/orders
    * tables run the same plan, the co-located-join mitigation of the
    * big-big shuffle (measured at x100, SCALE.md round 7).
    */
  def q3Core(li: DataFrame, o: DataFrame, c: DataFrame,
      n: DataFrame): DataFrame =
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"))

  /** TPC-H Q6 shape: pure filter + scalar agg; every predicate is
    * parquet-pushable (PushedFilters shows range + range + range).
    */
  def q4ShipFilterAgg: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Window ranking: first 3 shipped lines per supplier. One shuffle on
    * l_suppkey; full tiebreak chain keeps row_number deterministic.
    */
  def q5SupplierRecentLines: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
        col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** Left anti join (NOT EXISTS): customers with no urgent orders — the
    * filter on the right side keeps the anti-join non-degenerate at every
    * scale factor.
    */
  def q6CustomersWithoutOrders: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q4 shape: left semi join (EXISTS) with a non-equi component —
    * orders having at least one line shipped after the order date.
    */
  def q7LateShipPriority: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Rollup (grouping sets): subtotals per returnflag and grand total. */
  def q8RollupQuantity: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Per-segment stats incl. distinct count — exercises partial+final agg
    * with a distinct (expand) path.
    */
  def q9SegmentStats: Q = (s, dir) =>
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        round(avg(col("c_acctbal")), 2).as("avg_bal"),
        round(min(col("c_acctbal")), 2).as("min_bal"),
        round(max(col("c_acctbal")), 2).as("max_bal"),
        countDistinct(col("c_nationkey")).as("n_nations"))
      .orderBy(col("c_mktsegment"))

  /** Running (cumulative) aggregate per customer over order dates —
    * window frame unboundedPreceding..currentRow.
    */
  def q10RunningOrderTotal: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Set op: distinct union of customer and supplier nation keys. */
  def q11NationkeysUnion: Q = (s, dir) => {
    val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
    val sup = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
    c.union(sup).distinct().orderBy(col("nationkey"))
  }

  /** String ops + grouping: brand/type histogram with LIKE filter. */
  def q12BrandTypeShapes: Q = (s, dir) =>
    Tables.part(s, dir)
      .filter(col("p_type").isin("PROMO", "STANDARD", "ECONOMY"))
      .filter(col("p_brand").like("Brand#1%"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_parts"),
        round(avg(col("p_retailprice")), 2).as("avg_price"),
        round(avg(col("p_size")), 2).as("avg_size"))
      .orderBy(col("p_brand"), col("p_type"))

  /** Time-series rollup + analytic lag: monthly revenue with
    * month-over-month delta (agg → window over the aggregated frame).
    *
    * The unpartitioned window (WindowExec "No Partition Defined" warning)
    * is deliberate and scale-safe: its input is the POST-aggregation
    * monthly frame, whose row count is bounded by the calendar span of
    * the data (one row per month — ~80 rows over the 7-year TPC-H range),
    * not by data volume. A 100× fact-table scale-up changes the rows
    * flowing INTO the groupBy, never the rows flowing into the window.
    */
  def q13MonthlyRevenue: Q = (s, dir) => {
    val w = Window.orderBy(col("month"))
    Tables.orders(s, dir)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")),
        "yyyy-MM").as("month"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
      .withColumn("mom",
        round(col("revenue") - lag(col("revenue"), 1).over(w), 2))
      .orderBy(col("month"))
  }

  /** Per-group top-1 with a dimension join: each nation's biggest customer
    * by total order value.
    */
  def q14TopCustomerPerNation: Q = (s, dir) => {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("spend").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .join(spend, col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("n_name"), col("c_custkey"), col("spend"))
      .orderBy(col("n_name"))
  }

  /** Exact percentiles (continuous interpolation — Spark `percentile` and
    * DuckDB `quantile_cont` share the (1−d)·lo + d·hi definition).
    *
    * Exactness is the point of this query (oracle parity needs the same
    * deterministic definition on both engines); it pays a per-group sort.
    * At 100 TB the production form is `approx_percentile` (t-digest —
    * mergeable partial sketches, one pass, no sort), a drop-in swap on the
    * same grouped frame; the exact form stays as its accuracy oracle at
    * verify scale.
    */
  def q16QuantityPercentiles: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // BOTH quantity percentiles from ONE buffer (r21): the
        // array-percentages form keeps a single per-group value
        // histogram where two scalar `percentile` aggregates each
        // buffered the full column — same exact interpolation, half
        // the aggregation state
        percentile(col("l_quantity"), array(lit(0.5), lit(0.9)))
          .as("qp"),
        // price rides an integer-cent scale: a median of even-count 2dp
        // money lands EXACTLY on x.xx5, where the two engines' ulp-apart
        // interpolations round to different cents. Cents are exact
        // doubles (< 2^53), their midpoint is an exact .5, and both
        // engines round .5 away from zero — edge eliminated, value
        // identical
        (round(percentile(round(col("l_extendedprice") * 100, 0),
          lit(0.5)), 0) / 100).as("p50_price"))
      .select(col("l_returnflag"),
        round(element_at(col("qp"), 1), 4).as("p50_qty"),
        round(element_at(col("qp"), 2), 4).as("p90_qty"),
        col("p50_price"))
      .orderBy(col("l_returnflag"))

  /** The 100 TB percentile form made executable: t-digest-style
    * `percentile_approx` (mergeable partial sketches, one pass, no
    * per-group sort) checked against the exact interpolated percentile
    * IN THE SAME PLAN. Emits `abs(approx − exact) ≤ tol` as a
    * deterministic boolean — the sketch's rank-error guarantee holds
    * under any partial-merge order, so the boolean is stable even though
    * the raw approx value need not be.
    *
    * Tolerance: l_quantity is integral 1..50; approx returns a real data
    * value while exact interpolates between adjacent ones, so the gap is
    * ≤ 1 + (rank error ≈ N/accuracy mapped through the value CDF) « 2.
    */
  def q16bApproxPercentiles: Q = (s, dir) => {
    // one exact buffer and one t-digest for BOTH percentiles (r21,
    // same array-form move as q16): the scalar form kept 2 exact
    // value histograms + 2 sketches per group; values and the emitted
    // booleans are unchanged (identical interpolation/sketch, just
    // queried at two percentages)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), array(lit(0.5), lit(0.9)))
          .as("ex"),
        percentile_approx(col("l_quantity"),
          array(lit(0.5), lit(0.9)), lit(10000)).as("ap"))
      .select(col("l_returnflag"),
        round(element_at(col("ex"), 1), 4).as("p50_exact"),
        round(element_at(col("ex"), 2), 4).as("p90_exact"),
        (abs(element_at(col("ap"), 1) - element_at(col("ex"), 1)) <= 2.0)
          .as("p50_within"),
        (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2)) <= 2.0)
          .as("p90_within"))
      .orderBy(col("l_returnflag"))
  }

  /** The 100 TB cardinality form made executable, on the q16b pattern:
    * HyperLogLog++ `approx_count_distinct` (fixed-size mergeable register
    * sketches — one pass, no per-group distinct shuffle) checked against
    * exact `count(distinct)` IN THE SAME PLAN, emitting
    * `|approx − exact| / exact ≤ 5%` as a deterministic boolean. The
    * sketch hashes values with a fixed seed and merges registers by max,
    * so the estimate is partitioning-independent — the boolean is stable
    * under any cluster layout. rsd = 2%, so the 5% acceptance bound holds
    * with wide margin; exact legs stay as the verify-scale oracle.
    */
  def q22ApproxDistinct: Q = (s, dir) => {
    // The one-aggregate form planned BADLY: two exact count(distinct)s
    // force the Expand-based multi-distinct rewrite (3 rows per input
    // row), and Spark evaluates the non-distinct approx sketches in the
    // SAME first-stage aggregate — keyed by (flag, partkey, suppkey,
    // gid), i.e. one pair of multi-KB HLL++ register buffers PER
    // DISTINCT KEY VALUE, merged afterwards (plan-audited r21: 2.9–3.6 s
    // at sf0.1, nearly all in that sketch-per-group hash aggregate).
    // Split instead: the sketches ride ONE plain pass (fixed-size
    // mergeable registers, 3 groups — the actual 100 TB shape this
    // query exists to demonstrate), the exact legs keep the Expand
    // dedup but now carry no buffers, and a 3-row join reassembles.
    // The HLL++ estimate hashes values with a fixed seed and merges
    // registers by max, so it is identical under any grouping — the
    // emitted booleans are bit-for-bit the one-aggregate form's
    // (oracle-verified, same DuckDB twin).
    val li = Tables.lineitem(s, dir)
    val approxLeg = li.groupBy(col("l_returnflag")).agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("apd_parts"),
      approx_count_distinct(col("l_suppkey"), 0.02).as("apd_supps"))
    def within(apd: Column, ex: Column): Column =
      abs(apd - ex.cast("double")) / ex.cast("double") <= 0.05
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"))
      .join(approxLeg, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        col("exact_parts"),
        within(col("apd_parts"), col("exact_parts")).as("parts_within"),
        col("exact_supps"),
        within(col("apd_supps"), col("exact_supps")).as("supps_within"))
      .orderBy(col("l_returnflag"))
  }

  /** CASE-expression bucketing: order-size histogram. */
  def q15OrderSizeClasses: Q = (s, dir) =>
    Tables.orders(s, dir)
      .select(
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .otherwise("large").as("size_class"))
      .groupBy(col("size_class"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("size_class"))

  /** CUBE (all grouping-set combinations). */
  def q17CubeQuantity: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** GROUPING SETS — the asymmetric grouping variant rollup (q8) and cube
    * (q17) can't express: per-returnflag totals, per-linestatus totals,
    * and the grand total, WITHOUT the (flag, status) cross combination.
    * Same one-shuffle Expand-based plan as rollup/cube — each input row
    * fans out to its grouping sets before the partial aggregation.
    */
  def q20GroupingSets: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Pivot value list — declared, not discovered: passing explicit values
    * to `pivot` skips the extra distinct-collection job Spark otherwise
    * runs, the difference between one pass and two over a 100 TB fact
    * table.
    */
  val OrderPriorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** PIVOT: yearly revenue spread across order priorities as columns.
    * Compiles to ONE hash aggregate over the fact table (pivot_first
    * partials per priority) — same single-shuffle shape as the DuckDB
    * twin's conditional-aggregation CASE columns.
    */
  def q21Pivot: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .pivot("o_orderpriority", OrderPriorities)
      .agg(round(sum(col("o_totalprice")), 2))
      .orderBy(col("o_year"))

  /** EXCEPT (set difference): nations with customers but no suppliers. */
  def q18NationkeysExcept: Q = (s, dir) =>
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .except(
        Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  /** INTERSECT (the third set op next to q11's UNION and q18's EXCEPT):
    * customers who placed an urgent order AND a high-value order. Spark
    * plans it as a left-semi aggregate join — distinct on each side,
    * shuffle on the key, no cross product.
    */
  def q23CustkeysIntersect: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
      .intersect(
        o.where(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("custkey")))
      .orderBy(col("custkey"))
  }

  /** Correlated scalar subquery: parts priced above 1.05× their brand's
    * average. Written as SQL ON PURPOSE — this exercises Catalyst's
    * decorrelation (RewriteCorrelatedScalarSubquery turns the per-row
    * subquery into a brand-level aggregate joined back; the plan shows
    * one aggregate + one join, NOT a subquery per row). The fp threshold
    * is safe for oracle parity: engines' avg() differs by ulps, and no
    * fixture price sits within ~1e-10 of its brand threshold.
    */
  def q19AboveBrandAvg: Q = (s, dir) => {
    Tables.part(s, dir).createOrReplaceTempView("graft_part")
    s.sql(
      """SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
        |FROM graft_part p
        |WHERE p_retailprice > 1.05 * (
        |  SELECT avg(p2.p_retailprice) FROM graft_part p2
        |  WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin)
  }

  /** DuckDB twins — same names, same column aliases, same rounding. */
  def oracles: Map[String, String] = Map(
    "q19_above_brand_avg" ->
      """SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
        |FROM part p
        |WHERE p_retailprice > 1.05 * (
        |  SELECT avg(p2.p_retailprice) FROM part p2
        |  WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        | round(avg(l_quantity), 2) AS avg_qty,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_top_orders" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total
        |FROM orders ORDER BY total DESC, o_orderkey LIMIT 10""".stripMargin,
    "q3_revenue_by_nation" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q4_ship_filter_agg" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07""".stripMargin,
    "q5_supplier_recent_lines" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, ship_day FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin,
    "q6_customers_without_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q7_late_ship_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q8_rollup_quantity" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_lines
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q9_segment_stats" ->
      """SELECT c_mktsegment,
        | round(avg(c_acctbal), 2) AS avg_bal,
        | round(min(c_acctbal), 2) AS min_bal,
        | round(max(c_acctbal), 2) AS max_bal,
        | count(DISTINCT c_nationkey) AS n_nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q10_running_order_total" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |   AS running_total
        |FROM orders WHERE o_custkey < 20
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q11_nationkeys_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q12_brand_type_shapes" ->
      """SELECT p_brand, p_type, count(*) AS n_parts,
        | round(avg(p_retailprice), 2) AS avg_price,
        | round(avg(p_size), 2) AS avg_size
        |FROM part
        |WHERE p_type IN ('PROMO','STANDARD','ECONOMY')
        |  AND p_brand LIKE 'Brand#1%'
        |GROUP BY p_brand, p_type ORDER BY p_brand, p_type""".stripMargin,
    "q13_monthly_revenue" ->
      """WITH m AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
        |      AS month,
        |    round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  round(revenue - lag(revenue) OVER (ORDER BY month), 2) AS mom
        |FROM m ORDER BY month""".stripMargin,
    "q16_quantity_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(quantile_cont(round(l_extendedprice * 100, 0), 0.5), 0)
        |    / 100 AS p50_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the oracle predicts the within-tolerance booleans (the sketch's
    // rank-error bound makes them deterministically true) and recomputes
    // the exact legs; DuckDB has no twin of Spark's percentile_approx
    "q16b_approx_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_exact,
        |  true AS p50_within, true AS p90_within
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q14_top_customer_per_nation" ->
      """WITH spend AS (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT n_name, c_custkey, spend FROM (
        |  SELECT n_name, c_custkey, spend,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY spend DESC, c_custkey) AS rn
        |  FROM customer
        |  JOIN spend ON c_custkey = o_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |WHERE rn = 1 ORDER BY n_name""".stripMargin,
    "q15_order_size_classes" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |  WHEN o_totalprice < 150000 THEN 'medium'
        |  ELSE 'large' END AS size_class, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY size_class""".stripMargin,
    "q17_cube_quantity" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_lines
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q18_nationkeys_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q20_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q21_pivot" -> {
      val cells = OrderPriorities.map(p =>
        s"""  round(sum(CASE WHEN o_orderpriority = '$p'
           |    THEN o_totalprice END), 2) AS "$p"""".stripMargin)
        .mkString(",\n")
      s"""SELECT year(o_orderdate)::INT AS o_year,
         |$cells
         |FROM orders
         |GROUP BY o_year ORDER BY o_year""".stripMargin
    },
    // exact legs recomputed; the within-bound booleans are deterministic
    // (HLL++ rsd 2% vs a 5% acceptance bound) — DuckDB has no twin of
    // Spark's sketch, so the bound IS the cross-engine contract
    "q22_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey)::BIGINT AS exact_parts,
        |  true AS parts_within,
        |  count(DISTINCT l_suppkey)::BIGINT AS exact_supps,
        |  true AS supps_within
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q23_custkeys_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY custkey""".stripMargin
  )
}
