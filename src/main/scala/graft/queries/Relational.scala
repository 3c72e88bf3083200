package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Headline relational queries over the TPC-H-ish testdata, written
  * DataFrame-first so Catalyst plans them (pushdown, partial aggregation,
  * broadcast joins for the small dimensions).
  *
  * Numeric policy for oracle parity: double-typed measures are cast to
  * exact DECIMAL before SUM/AVG so the aggregate is associative — the
  * result no longer depends on partition/merge order, which makes the
  * value bit-identical between Spark (any parallelism) and single-threaded
  * DuckDB. The final value is cast back to double on both sides.
  */
object Relational {

  /** Exact, order-independent sum of a double measure. Its DECIMAL(28,6)
    * buffer holds sums up to 10^22; an (18,2) buffer would overflow past
    * 10^16 (NULL with ANSI off, an error with ANSI on). */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")
  private def davg(c: Column): Column =
    (sum(c.cast(DecimalType(18, 6))) / count(c)).cast("double")

  /** The 100 TB production form of ANALYZE-style profiling: identical
    * statistics to `q_profile` but NDV via HLL++
    * (`approx_count_distinct`, Heule et al. '13) instead of exact
    * `COUNT(DISTINCT)`. The exact multi-distinct plans through Expand
    * (one input replica per distinct column — 4× the scan rows into the
    * first shuffle) and shuffles near-corpus-sized distinct sets on
    * high-cardinality columns like l_extendedprice; the HLL aggregate is
    * single-pass, fixed-memory and MERGEABLE, so map-side partials ship
    * a few KB per partition and the plan has NO Expand (plan-gated in
    * PlanRegressionSpec). This is the shape real warehouses' ANALYZE
    * uses for NDV. */
  def profileApprox(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.02): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}_n"),
      sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
      approx_count_distinct(col(c), rsd).as(s"${c}_ndv"),
      min(col(c)).cast("double").as(s"${c}_min"),
      max(col(c)).cast("double").as(s"${c}_max"),
      dsum(col(c)).as(s"${c}_sum")) }
    val stackExpr = s"stack(${cols.size}, " + cols.map(c =>
      s"'$c', ${c}_n, ${c}_nulls, ${c}_ndv, ${c}_min, ${c}_max, " +
        s"${c}_sum").mkString(", ") +
      ") as (col_name, n, n_nulls, ndv_approx, min_v, max_v, sum_v)"
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(stackExpr))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-flavored pricing summary: single scan of lineitem, partial
    // (map-side) aggregation then 2-key final agg — no join, one shuffle
    // whose cardinality is the tiny group count. Scales linearly.
    "q1_pricing_summary" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Join + group-by: orders (fact) joined to customer (dim). customer is
    // small relative to orders at every SF → broadcast, no shuffle of the
    // fact side for the join; the only shuffle is the final group-by.
    "q3_segment_revenue" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // 5-way star join: all dimensions broadcast; lineitem never shuffles
    // until the final 1-key aggregation.
    "q5_nation_revenue" -> ((s, dir) => {
      val region = Tables.load(s, dir, "region")
      val nation = Tables.load(s, dir, "nation")
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(cust),
          ord("o_custkey") === cust("c_custkey") &&
          cust("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Filter + projection: predicate and column pruning both reach the
    // parquet scan (PushedFilters / 3-column ReadSchema).
    "q_filter_project" -> ((s, dir) => {
      Tables.load(s, dir, "part")
        .filter(col("p_size") >= 30 && col("p_brand") === "Brand#23")
        .select(col("p_partkey"), col("p_name"),
          (col("p_retailprice") * lit(0.9)).as("discounted"))
        .orderBy(col("p_partkey"))
    }),

    // Global aggregate (no GROUP BY) — partial agg per partition then a
    // single-row final combine; no full shuffle.
    "q_global_agg" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"),
          davg(col("o_totalprice")).as("avg_price"),
          countDistinct(col("o_custkey")).as("n_customers"))
    }),

    // ANALYZE-style column profiling: the statistics sweep a warehouse
    // runs for its optimizer — non-null count, null count, NDV, min,
    // max, decimal-exact sum for four numeric columns, computed in ONE
    // corpus pass (Spark's Expand handles the multi-distinct), then
    // unpivoted via stack() to a row per column. At 100 TB this is the
    // same single-scan shape ANALYZE TABLE uses; nothing is per-column
    // rescanned.
    "q_profile" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { c => Seq(
        count(col(c)).as(s"${c}_n"),
        sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_ndv"),
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max"),
        dsum(col(c)).as(s"${c}_sum")) }
      val stackExpr = s"stack(${cols.size}, " + cols.map(c =>
        s"'$c', ${c}_n, ${c}_nulls, ${c}_ndv, ${c}_min, ${c}_max, " +
          s"${c}_sum").mkString(", ") +
        ") as (col_name, n, n_nulls, ndv, min_v, max_v, sum_v)"
      li.agg(aggs.head, aggs.tail: _*)
        .select(expr(stackExpr))
        .orderBy(col("col_name"))
    }),

    // Approximate ANALYZE (the scale path for q_profile): production
    // statistics from [[profileApprox]] (HLL++ NDV, no Expand), joined
    // to the exact NDVs as the accuracy harness — same gate pattern as
    // Sketches.distinctWithHll: the oracle fixes the exact side and
    // asserts the tolerance flag; HLL register state is engine-internal
    // but deterministic for a dataset, so the flag is stable. rsd 2%,
    // gate 5% leaves real margin.
    "q_profile_approx" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val approx = profileApprox(li, cols, rsd = 0.02)
      val exactAggs = cols.map(c => countDistinct(col(c)).as(s"${c}_ndv"))
      val exactStack = s"stack(${cols.size}, " + cols.map(c =>
        s"'$c', ${c}_ndv").mkString(", ") + ") as (col_name, ndv)"
      val exact = li.agg(exactAggs.head, exactAggs.tail: _*)
        .select(expr(exactStack))
      approx.join(broadcast(exact), "col_name")
        .select(col("col_name"), col("n"), col("n_nulls"), col("ndv"),
          col("min_v"), col("max_v"), col("sum_v"),
          (abs(col("ndv_approx") - col("ndv")) <= lit(0.05) * col("ndv"))
            .cast("bigint").as("within_tol"))
        .orderBy(col("col_name"))
    }),

    // DISTINCT projection (shuffle on the distinct key set only).
    "q_distinct" -> ((s, dir) => {
      Tables.load(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment")).distinct()
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    // CASE WHEN + conditional aggregation.
    "q_case_agg" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(lit(0))).as("finished_total"))
        .orderBy(col("o_orderpriority"))
    }),

    // Window functions: top-2 orders per customer by price. Single shuffle
    // on the partition key; rank prune immediately after.
    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // Left join + null handling: customers with their order counts,
    // including customers with no orders.
    "q_left_join" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    // Semi + anti joins (EXISTS / NOT EXISTS): no payload from the right
    // side crosses the network, only the key set.
    "q_semi_anti" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders").select(col("o_custkey"))
      val withOrders = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("kind"), col("n"))
      val withoutOrders = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("without_orders").as("kind"), col("n"))
      withOrders.union(withoutOrders).orderBy(col("kind"))
    }),

    // Set ops: UNION / INTERSECT / EXCEPT (capability the reference lists
    // as unsupported; free on Spark).
    "q_set_ops" -> ((s, dir) => {
      val ord = Tables.load(s, dir, "orders")
      val a = ord.filter(col("o_totalprice") > 100000).select(col("o_custkey"))
      val b = ord.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      a.intersect(b).withColumn("op", lit("intersect"))
        .union(a.except(b).withColumn("op", lit("except")))
        .orderBy(col("op"), col("o_custkey"))
    }),

    // Grouping sets via rollup — multi-level aggregate in one pass.
    "q_rollup" -> ((s, dir) => {
      val nation = Tables.load(s, dir, "nation")
      val cust = Tables.load(s, dir, "customer")
      cust.join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
    }),

    // Correlated-style aggregation via self-join on a derived aggregate:
    // customers whose account balance is above their nation's average.
    "q_above_avg" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val natAvg = cust.groupBy(col("c_nationkey").as("nk"))
        .agg(davg(col("c_acctbal")).as("nation_avg"))
      cust.join(broadcast(natAvg), col("c_nationkey") === col("nk"))
        .filter(col("c_acctbal") > col("nation_avg"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_above"))
        .orderBy(col("c_nationkey"))
    }),

    // Theta (non-equi, range) join kept deliberately small on both sides:
    // nation x region cross-style comparison. Range joins at scale need
    // either a broadcast nested-loop (small side) or binning; here the
    // small side broadcasts.
    "q_theta_join" -> ((s, dir) => {
      val n1 = Tables.load(s, dir, "nation").select(
        col("n_nationkey").as("a_key"), col("n_regionkey").as("a_region"))
      val n2 = Tables.load(s, dir, "nation").select(
        col("n_nationkey").as("b_key"), col("n_regionkey").as("b_region"))
      n1.join(broadcast(n2),
          col("a_region") === col("b_region") && col("a_key") < col("b_key"))
        .groupBy(col("a_region"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("a_region"))
    }),

    // TPC-H Q4 shape: EXISTS → left-semi join (only keys shuffle).
    "q4_exists" -> ((s, dir) => {
      val ord = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_discount") > 0.09).select(col("l_orderkey"))
      ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q7 shape: nation-pair trade volume; both nation dims broadcast
    // twice under different aliases.
    "q7_nation_pairs" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val sup = Tables.load(s, dir, "supplier")
      val n1 = Tables.load(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val n2 = Tables.load(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n1), cust("c_nationkey") === col("c_nk"))
        .join(broadcast(n2), sup("s_nationkey") === col("s_nk"))
        .filter(col("cust_nation").isin("NATION_1", "NATION_2") &&
          col("supp_nation").isin("NATION_1", "NATION_2") &&
          col("cust_nation") =!= col("supp_nation"))
        .groupBy(col("cust_nation"), col("supp_nation"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
        .orderBy(col("cust_nation"), col("supp_nation"))
    }),

    // TPC-H Q10 shape: top customers by returned-item revenue.
    "q10_returned" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q14 shape: conditional revenue share (case inside both sums).
    // The PROMO% test is hoisted into the BUILD side projection (the q12
    // date-hoist pattern): the broadcast relation carries one precomputed
    // boolean per part instead of the p_type string — the LIKE runs once
    // per part row, not once per probed lineitem row, and the broadcast
    // itself narrows. The volume product is bound once pre-agg so both
    // sums read the same attribute. Values identical: LIKE on a NULL
    // p_type yields NULL, which the when() routes to 0 either way, and
    // the double product feeding dsum's decimal cast is unchanged.
    "q14_promo" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val part = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_type").like("PROMO%").as("__promo"))
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .select(col("__promo"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("__vol"))
        .agg((dsum(when(col("__promo"), col("__vol")).otherwise(lit(0))) /
          dsum(col("__vol")) * 100)
          .as("promo_pct"))
    }),

    // TPC-H Q18 shape: large orders via HAVING, join back for detail.
    "q18_big_orders" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val big = li.groupBy(col("l_orderkey").as("big_ok"))
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 200)
      ord.join(big, ord("o_orderkey") === col("big_ok"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    }),

    // TPC-H Q19 shape: OR-of-ANDs predicate — Catalyst pushes the common
    // conjuncts and keeps the disjunction evaluable in one scan pass.
    "q19_or_pushdown" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val part = Tables.load(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) &&
            col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
            col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) &&
            col("p_size").between(1, 15)))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q6 shape: pure scan-side filter + global agg — predicate
    // pushdown carries every conjunct to the parquet reader; no shuffle
    // beyond the single-row combine.
    "q6_forecast_revenue" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q8 shape: national market share inside a region by order year.
    // All five dimensions broadcast; lineitem is the only shuffled side,
    // and only for the final per-year aggregate.
    "q8_market_share" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val sup = Tables.load(s, dir, "supplier")
      val nation = Tables.load(s, dir, "nation")
      val n1 = nation.select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
      val n2 = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val amer = Tables.load(s, dir, "region").filter(col("r_name") === "AMERICA")
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n1), cust("c_nationkey") === col("c_nk"))
        .join(broadcast(amer), col("c_rk") === col("r_regionkey"))
        .join(broadcast(n2), sup("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((dsum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0))) /
          dsum(vol)).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q12 shape (reshaped: no l_shipmode/l_commitdate in this
    // corpus): late shipments — shipped >60 days after order date —
    // bucketed by priority class per return flag.
    "q12_late_shipments" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // the +60d due date is hoisted into the BUILD side projection so
      // the broadcast relation carries it precomputed — the interval
      // add runs once per orders row, not once per joined lineitem row
      // (values identical: timestamp arithmetic is deterministic)
      val ord = Tables.load(s, dir, "orders")
        .withColumn("__o_due",
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey") &&
          col("l_shipdate") > col("__o_due"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
            .otherwise(1)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // TPC-H Q13 shape: customer order-count distribution — left join so
    // zero-order customers appear, two cascaded aggregations.
    "q13_order_distribution" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders")
        .filter(!col("o_orderpriority").like("5%"))
      val counts = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      counts.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 shape: top supplier by windowed revenue — the max is a
    // 1-row broadcast joined back (no driver collect, no second scan of
    // the revenue aggregate thanks to plan reuse).
    "q15_top_supplier" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      val rev = li
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_rev"))
      val maxRev = rev.agg(max(col("total_rev")).as("mr"))
      rev.join(broadcast(maxRev), col("total_rev") === col("mr"))
        .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
        .orderBy(col("s_suppkey"))
    }),

    // Date/time functions over the events table.
    "q_events_by_day" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("day"), col("event_type"))
    }),

    // Time-series gap fill + LOCF: the resample primitive every metrics
    // pipeline needs — a dense (event_type × day) grid over the span,
    // zero-filled counts, and last-observation-carried-forward values.
    // Scale shape: the daily aggregate is ONE keyed shuffle of the
    // events; the grid is a broadcast cross of two tiny driver-free
    // frames (day span × distinct types); the LOCF window shuffles only
    // the grid (|days|×|types| rows, trivial at any corpus size).
    "q_gapfill" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("day_value"))
      val days = ev.agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("d"))
      val types = ev.select(col("event_type")).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      days.crossJoin(broadcast(types))
        .join(daily, Seq("event_type", "d"), "left")
        .select(col("event_type"),
          date_format(col("d"), "yyyy-MM-dd").as("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          round(coalesce(col("day_value"), lit(0.0)), 6).as("day_value"),
          round(last(col("day_value"), ignoreNulls = true).over(w), 6)
            .as("locf_value"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Batch sessionization over the events stream — the gaps-and-islands
    // window classic (the batch complement of the stateful streaming
    // st_sessions): a session breaks when a user's inter-event gap
    // exceeds 30 minutes. All arithmetic is integer epoch seconds, so
    // every session boundary and span is bit-identical to the oracle's.
    // Scale shape: both windows and both aggregations are keyed by
    // user_id — ONE shuffle, reused end to end; nothing global.
    "q_sessionize" -> ((s, dir) => {
      // order by the exact nanosecond value (ts is µs-truncated; a
      // same-microsecond pair would order differently than the oracle's
      // ns-precision TIMESTAMP otherwise), event_id as total tiebreak
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_nanos"), col("event_id"))
      val sess = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts_nanos"),
          // `div`, not `/`: epoch-ns ≈ 1.7e18 > 2^53 — a double divide
          // would lose the exact second near boundaries
          expr("ts_nanos div 1000000000").as("sec"))
        .withColumn("__prev", lag(col("sec"), 1).over(byUser))
        .withColumn("__new",
          when(col("__prev").isNull || col("sec") - col("__prev") > 1800, 1L)
            .otherwise(0L))
        .withColumn("sess", sum(col("__new")).over(byUser))
      sess.groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("sec")) - min(col("sec"))).as("span_s"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_session_events"),
          sum(col("span_s")).as("total_span_s"))
        .orderBy(col("user_id"))
    }),

    // Sequential-pattern funnel over events: per user, earliest view →
    // first click strictly after it → first purchase strictly after
    // that. Stage times are exact ns integers, so stage membership is
    // bit-identical to the oracle. Scale shape: three user-keyed
    // min-aggregates (map-side partial) chained by user-keyed equi
    // joins — the same single shuffle key end to end; the one-row
    // stage counts ride broadcast crossJoins.
    "q_funnel" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts_nanos"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_nanos")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_nanos") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts_nanos")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_nanos") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts_nanos")).as("t3"))
      e.agg(count_distinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(v.agg(count(lit(1)).as("n_viewed"))))
        .crossJoin(broadcast(c.agg(count(lit(1)).as("n_clicked_after"))))
        .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchased_after"))))
    }),

    // Rolling 7-day per-user window over events — the RANGE-frame
    // (time-interval) window family, distinct from fq_window's ROWS
    // frames: each event sees the count and value-sum of its user's
    // trailing week. Frame bounds are exact integer epoch seconds
    // (ts_nanos div 1e9) and the value sum is an exact DECIMAL
    // aggregation, so frame membership and sums are bit-identical to
    // the oracle regardless of peer order. Scale shape: ONE shuffle
    // keyed user_id; the range frame is a per-partition sliding
    // accumulator, not a per-row rescan.
    "q_rolling_7d" -> ((s, dir) => {
      // Two GROWING frames instead of one sliding frame (r20): Spark
      // evaluates a moving [-604800, 0] range frame by re-aggregating
      // the whole frame every time it slides — O(rows × frame size) —
      // while unbounded-preceding frames accumulate incrementally in
      // O(rows). sec is an exact integer, so rows with sec ≤ cur−604801
      // are EXACTLY the rows outside [cur−604800, cur], and the decimal
      // sums are exact, so cum − old is bit-identical to the framed sum
      // (an empty old frame sums to NULL → coalesce to exact 0).
      val wCum = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(Window.unboundedPreceding, 0L)
      val wOld = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(Window.unboundedPreceding, -604801L)
      val vq = col("value").cast(DecimalType(18, 6))
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          expr("ts_nanos div 1000000000").as("sec"))
        .withColumn("n_7d",
          count(lit(1)).over(wCum) - count(lit(1)).over(wOld))
        .withColumn("val_7d",
          (sum(vq).over(wCum) -
            coalesce(sum(vq).over(wOld), lit(0).cast(DecimalType(18, 6))))
            .cast("double"))
        .select(col("event_id"), col("user_id"), col("n_7d"),
          round(col("val_7d"), 6).as("val_7d"))
        .orderBy(col("event_id"))
    }),

    // First-order Markov transitions of the per-user event-type
    // sequence: global bigram counts and the row-normalized transition
    // probability — the path-mining complement of q_funnel (which fixes
    // one path; this surfaces all of them). Sequence order is the exact
    // (ts_nanos, event_id) total order, so every bigram is
    // deterministic; p is a single integer÷integer divide. Scale shape:
    // lag() rides a user-keyed window (one shuffle), the bigram count
    // is a 25-row grid, and the normalizing sum is a window over it.
    "q_transitions" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_nanos"), col("event_id"))
      val wPrev = Window.partitionBy(col("prev"))
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts_nanos"),
          col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("curr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") / sum(col("n")).over(wPrev), 6))
        .orderBy(col("prev"), col("curr"))
    }),

    // Pairwise Pearson correlation matrix over the lineitem measures —
    // the feature-selection / data-profiling staple. ONE aggregation
    // pass computes every moment (n, Σx, Σx², Σxy for all 6 pairs) as
    // EXACT decimal sums — order-independent, so the double-precision
    // correlations are bit-identical to the oracle's — then the 6 pair
    // rows unfold from the single moment row with explode (driver-free).
    // At 100 TB this is the textbook single-pass moment sketch: the
    // shuffle carries one 15-number row per partition, nothing else.
    "q_corr_matrix" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // DECIMAL(8,2), not (18,6): the four measures are money/ratio
      // columns that are exact 2-dp values under 10^6, so the (8,2)
      // quantization is numerically IDENTICAL to (18,6) (and to the
      // oracle's (19,6)) — but the products stay at precision 17 ≤ 18,
      // inside Spark's compact long-backed Decimal representation,
      // instead of (38,12) which forces JavaBigDecimal allocation per
      // row per aggregate. The sums are exact either way; the doubles
      // cast from them are bit-identical. The plain sums go through
      // dsum: SUM over (8,2) would keep an (18,2) buffer, which
      // overflows past 10^16.
      val e = Tables.load(s, dir, "lineitem").select(
        cols.map(c => col(c).cast(DecimalType(8, 2)).as(c)): _*)
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val moments = e.agg(
        count(lit(1)).as("n"),
        (cols.map(c => dsum(col(c)).as(s"sx_$c")) ++
         cols.map(c => sum(col(c) * col(c)).cast("double").as(s"sxx_$c")) ++
         pairs.map { case (a, b) =>
           sum(col(a) * col(b)).cast("double").as(s"sxy_${a}_$b") }): _*)
      val pairStructs = pairs.map { case (a, b) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          ((col("n") * col(s"sxy_${a}_$b") - col(s"sx_$a") * col(s"sx_$b")) /
            sqrt((col("n") * col(s"sxx_$a") - col(s"sx_$a") * col(s"sx_$a")) *
              (col("n") * col(s"sxx_$b") - col(s"sx_$b") * col(s"sx_$b"))))
            .as("r"))
      }
      moments.select(explode(array(pairStructs: _*)).as("p"))
        .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
          round(col("p.r"), 6).as("r"))
        .orderBy(col("col_a"), col("col_b"))
    }),

    // Snapshot delta detection (the CDC primitive an incremental
    // pipeline recompute needs: touch only what changed). Two corpus
    // versions are derived deterministically from `documents` (every
    // 7th doc deleted, every 5th edited, every 11th re-added under a
    // new id), then classified by ONE full-outer join keyed doc_id with
    // a null-safe text compare — one shuffle, no content hashing needed
    // (comparing text directly is exact; at 100 TB you'd compare stored
    // fingerprints instead, same join shape). id_sum is an int64-safe
    // audit checksum of each class's membership.
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val o = docs.select(col("doc_id"), col("text").as("t_old"))
      val n = newSnap.select(col("doc_id"), col("text").as("t_new"))
      o.join(n, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("t_old").isNull, lit("added"))
            .when(col("t_new").isNull, lit("deleted"))
            .when(col("t_old") === col("t_new"), lit("unchanged"))
            .otherwise(lit("changed")).as("change"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("change"))
    }),

    // Distribution-outlier census per event_type: mean/σ from EXACT
    // decimal sums (Σv, Σv² as DECIMAL — order-independent, so the
    // double-precision mean/σ are bit-identical to the oracle's), then
    // one broadcast join back to flag |v−mean| > 3σ. Two passes over
    // events, both keyed aggregations; the stats table is 5 rows.
    "q_anomaly" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), col("value"),
          // (8,2) is lossless for `value` (2-dp, verified at 3 SFs) and
          // keeps vq*vq at (17,4), in the compact long-backed Decimal;
          // sx goes through dsum, whose buffer holds past 10^16
          col("value").cast(DecimalType(8, 2)).as("vq"))
      val stats = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("vq")).as("sx"),
          sum(col("vq") * col("vq")).cast("double").as("sxx"))
        .withColumn("mean", col("sx") / col("n"))
        .withColumn("sigma",
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)))
      e.join(broadcast(stats), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          sum(when(abs(col("value") - col("mean")) > lit(3.0) * col("sigma"), 1L)
            .otherwise(0L)).as("n_outliers"),
          round(max(col("mean")), 6).as("mean"),
          round(max(col("sigma")), 6).as("sigma"))
        .orderBy(col("event_type"))
    }),

    // Cohort retention over events: users grouped by first-seen epoch
    // day, distinct active users per (cohort, day-offset) for the first
    // week. Days are exact integer `ts_nanos div 86400e9` — no timezone
    // or DST arithmetic anywhere, so both engines agree bit-for-bit.
    // Scale shape: first-seen is one user-keyed min-aggregate; the
    // activity join is user-keyed equi; the (cohort, offset) aggregate
    // is a tiny grid.
    "q_retention" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), expr("ts_nanos div 86400000000000").as("day"))
      val first = e.groupBy(col("user_id")).agg(min(col("day")).as("day0"))
      e.join(first, "user_id")
        .select(col("user_id"), col("day0"), (col("day") - col("day0")).as("offset"))
        .filter(col("offset") <= 7)
        .groupBy(col("day0"), col("offset"))
        .agg(count_distinct(col("user_id")).as("n_active"))
        .orderBy(col("day0"), col("offset"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) / COUNT(l_discount) AS DOUBLE) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_segment_revenue" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_filter_project" ->
      """SELECT p_partkey, p_name, p_retailprice * 0.9 AS discounted
        |FROM part WHERE p_size >= 30 AND p_brand = 'Brand#23'
        |ORDER BY p_partkey""".stripMargin,
    "q_global_agg" ->
      """SELECT COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) / COUNT(o_totalprice) AS DOUBLE) AS avg_price,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q_profile" -> (Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax").map { c =>
        s"""SELECT '$c' AS col_name, COUNT($c) AS n,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  COUNT(DISTINCT $c) AS ndv,
           |  CAST(MIN($c) AS DOUBLE) AS min_v,
           |  CAST(MAX($c) AS DOUBLE) AS max_v,
           |  CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"),
    // exact side reproduced; the HLL tolerance flag asserted (register
    // state is engine-internal — the 2%-rsd estimate within 5% is the gate)
    "q_profile_approx" -> (Seq("l_quantity", "l_extendedprice",
        "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name, COUNT($c) AS n,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  COUNT(DISTINCT $c) AS ndv,
           |  CAST(MIN($c) AS DOUBLE) AS min_v,
           |  CAST(MAX($c) AS DOUBLE) AS max_v,
           |  CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
           |  CAST(1 AS BIGINT) AS within_tol
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"),
    "q_case_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS finished_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "q_left_join" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_semi_anti" ->
      """SELECT 'with_orders' AS kind, COUNT(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS kind, COUNT(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY kind""".stripMargin,
    "q_set_ops" ->
      """SELECT o_custkey, 'intersect' AS op FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t1
        |UNION ALL
        |SELECT o_custkey, 'except' AS op FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t2
        |ORDER BY op, o_custkey""".stripMargin,
    "q_rollup" ->
      """SELECT n_name, c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,
    "q_above_avg" ->
      """SELECT c_nationkey, COUNT(*) AS n_above
        |FROM customer
        |JOIN (SELECT c_nationkey AS nk,
        |        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) / COUNT(c_acctbal) AS DOUBLE) AS nation_avg
        |      FROM customer GROUP BY c_nationkey) t ON c_nationkey = nk
        |WHERE c_acctbal > nation_avg
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_theta_join" ->
      """SELECT a.n_regionkey AS a_region, COUNT(*) AS n_pairs
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        |GROUP BY a.n_regionkey ORDER BY a_region""".stripMargin,
    "q4_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q7_nation_pairs" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name != n2.n_name
        |GROUP BY 1, 2 ORDER BY cust_nation, supp_nation""".stripMargin,
    "q10_returned" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo" ->
      """SELECT CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |  * 100 AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
    "q18_big_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, total_qty FROM orders
        |JOIN (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 200) t
        |  ON o_orderkey = l_orderkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,
    "q19_or_pushdown" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(date_part('year', o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'AMERICA'
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q12_late_shipments" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT * FROM orders WHERE o_orderpriority NOT LIKE '5%') o
        |    ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-07-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_events_by_day" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // dense grid via generate_series; LOCF via IGNORE NULLS last_value
    "q_gapfill" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        |  FROM events),
        |days AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |    AS d FROM span),
        |grid AS (
        |  SELECT t.event_type, d.d
        |  FROM days d CROSS JOIN (SELECT DISTINCT event_type FROM events) t)
        |SELECT g.event_type, strftime(g.d, '%Y-%m-%d') AS day,
        |  coalesce(n, 0) AS n,
        |  round(coalesce(day_value, 0), 6) AS day_value,
        |  round(last_value(day_value IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS locf_value
        |FROM grid g LEFT JOIN daily ON g.event_type = daily.event_type
        |  AND g.d = daily.d
        |ORDER BY g.event_type, day""".stripMargin,
    // epoch_ns // 1e9 mirrors Spark's `ts_nanos div 1000000000` exactly
    // (integer division, positive epochs — no float anywhere); ordering
    // is the full ns value + event_id on both sides
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    epoch_ns(ts) // 1000000000 AS sec,
        |    lag(epoch_ns(ts) // 1000000000) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |n AS (
        |  SELECT user_id, event_id, ts, sec,
        |    CASE WHEN prev IS NULL OR sec - prev > 1800
        |      THEN 1 ELSE 0 END AS newsess
        |  FROM e),
        |s AS (
        |  SELECT user_id, sec,
        |    sum(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS sess
        |  FROM n),
        |per AS (
        |  SELECT user_id, sess, count(*) AS n_events,
        |    max(sec) - min(sec) AS span_s
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(max(n_events) AS BIGINT) AS max_session_events,
        |  CAST(sum(span_s) AS BIGINT) AS total_span_s
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS tn FROM events),
        |v AS (
        |  SELECT user_id, min(tn) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(tn) AS t2 FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND tn > t1 GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(tn) AS t3 FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND tn > t2 GROUP BY e.user_id)
        |SELECT
        |  (SELECT count(DISTINCT user_id) FROM e) AS n_users,
        |  (SELECT count(*) FROM v) AS n_viewed,
        |  (SELECT count(*) FROM c) AS n_clicked_after,
        |  (SELECT count(*) FROM p) AS n_purchased_after""".stripMargin,
    "q_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS day0 FROM e GROUP BY user_id)
        |SELECT day0, day - day0 AS "offset",
        |  count(DISTINCT e.user_id) AS n_active
        |FROM e JOIN f USING (user_id)
        |WHERE day - day0 <= 7
        |GROUP BY day0, day - day0 ORDER BY day0, "offset"""".stripMargin,
    "q_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val momentSelects =
        cols.map(c => s"CAST(SUM($c) AS DOUBLE) AS sx_$c") ++
        cols.map(c => s"CAST(SUM($c * $c) AS DOUBLE) AS sxx_$c") ++
        pairs.map { case (a, b) =>
          s"CAST(SUM($a * $b) AS DOUBLE) AS sxy_${a}_$b" }
      val pairRows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  round((n * sxy_${a}_$b - sx_$a * sx_$b)
           |    / sqrt((n * sxx_$a - sx_$a * sx_$a)
           |         * (n * sxx_$b - sx_$b * sx_$b)), 6) AS r FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      // DECIMAL(19,6), not (18,6): DuckDB multiplies 18-digit decimals
      // in their int64 physical type and overflows on the squares; 19
      // digits forces the int128 path. The VALUES are identical 6-dp
      // quantizations either way, so Spark's (18,6) side still matches.
      s"""WITH e AS (SELECT
         |  ${cols.map(c => s"CAST($c AS DECIMAL(19,6)) AS $c").mkString(", ")}
         |  FROM lineitem),
         |m AS (SELECT count(*) AS n, ${momentSelects.mkString(", ")} FROM e)
         |$pairRows
         |ORDER BY col_a, col_b""".stripMargin
    },
    "q_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
        |j AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'deleted'
        |         WHEN o.text = n.text THEN 'unchanged'
        |         ELSE 'changed' END AS change
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT change, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM j GROUP BY change ORDER BY change""".stripMargin,
    "q_anomaly" ->
      """WITH e AS (
        |  SELECT event_type, value, CAST(value AS DECIMAL(18,6)) AS vq
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(vq) AS DOUBLE) AS sx,
        |    CAST(SUM(vq * vq) AS DOUBLE) AS sxx
        |  FROM e GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, sx / n AS mean,
        |    sqrt((sxx - sx * sx / n) / (n - 1)) AS sigma
        |  FROM s)
        |SELECT m.event_type, m.n,
        |  CAST(sum(CASE WHEN abs(e.value - m.mean) > 3.0 * m.sigma
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(m.mean, 6) AS mean, round(m.sigma, 6) AS sigma
        |FROM e JOIN m USING (event_type)
        |GROUP BY m.event_type, m.n, m.mean, m.sigma
        |ORDER BY m.event_type""".stripMargin,
    "q_rolling_7d" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    epoch_ns(ts) // 1000000000 AS sec
        |  FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS n_7d,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 6)
        |    AS val_7d
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS curr,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY epoch_ns(ts), event_id) AS prev
        |  FROM events),
        |big AS (
        |  SELECT prev, curr, count(*) AS n FROM seq
        |  WHERE prev IS NOT NULL GROUP BY prev, curr)
        |SELECT prev, curr, n,
        |  round(n / sum(n) OVER (PARTITION BY prev), 6) AS p
        |FROM big ORDER BY prev, curr""".stripMargin
  )
}
