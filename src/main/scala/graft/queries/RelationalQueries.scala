package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.queries.QueryKit.dsum

/** Group B (SURVEY.md §2b): the upstream relational surface a Flink 1.12 SQL
  * job feeds into the reference sink — joins, aggregates, windows, set ops,
  * scalar functions (README.md:6-11 usage is `INSERT INTO sink SELECT …
  * GROUP BY …`). All pure DataFrame/SparkSQL; Catalyst owns the plan.
  *
  * Oracle-determinism conventions used throughout:
  *  - every query ends in a total ORDER BY, mirrored in the SQL (with
  *    NULLS FIRST to match Spark's asc default);
  *  - double aggregations route through DECIMAL(18,2) so both engines sum
  *    exactly and emit the identical DOUBLE;
  *  - timestamps surface as epoch millis (unix_millis / epoch_ms).
  */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_filter_project" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // order by every output column for a total, engine-stable order.
        .orderBy("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")),

    "q_inner_join" -> ((s, dir) =>
      Tables(s, dir, "orders").join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")),

    "q_left_join" -> ((s, dir) =>
      Tables(s, dir, "customer").join(Tables(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)),

    "q_semi_join" -> ((s, dir) =>
      Tables(s, dir, "customer").join(Tables(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Customers with no pending ('P') order: every customer has *some*
    // order at sf>=0.01, so anti-join against the unfiltered table would
    // be vacuously empty — filter the build side to keep the test sharp.
    "q_anti_join" -> ((s, dir) =>
      Tables(s, dir, "customer").join(
          Tables(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Small dimension explicitly broadcast: no shuffle of the fact table.
    "q_broadcast_join" -> ((s, dir) =>
      Tables(s, dir, "lineitem").join(broadcast(Tables(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("p_brand")),

    // Non-equi theta join (acctbal band); tiny supplier side is broadcast
    // so the nested-loop join streams customer exactly once.
    "q_range_join" -> ((s, dir) =>
      Tables(s, dir, "customer").join(broadcast(Tables(s, dir, "supplier")),
          col("c_acctbal") >= col("s_acctbal") - 100 &&
          col("c_acctbal") <= col("s_acctbal") + 100)
        .groupBy("s_suppkey").agg(count(lit(1)).as("n"))
        .orderBy("s_suppkey")),

    // 4-way star join; dims broadcast, single shuffle for the final agg.
    "q_multiway_join" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .join(broadcast(Tables(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("r_name")),

    // TPC-H Q1 shape — the README's canonical sink feed.
    "q_hash_agg" -> ((s, dir) => {
      val d = DecimalType(18, 2)
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(d) *
              (lit(1).cast(d) - col("l_discount").cast(d)))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast(d)).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_distinct_agg" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),

    // HLL sketch, made hash-verifiable (r9 verdict #7): the estimate
    // itself is engine-specific, but its ERROR BOUND is not — emit the
    // exact distinct count plus a boolean asserting the HLL estimate
    // sits within 3x the configured rsd (0.05 -> 15%; Spark's HLL++ is
    // deterministic for a given input, and ApproxDistinctSpec pins the
    // much tighter observed error). The oracle computes the same exact
    // counts and asserts TRUE — an estimator drifting out of bound is a
    // hash mismatch, not an unverifiable row.
    "q_approx_distinct" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.05).as("approx"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")).cast("double") <=
            lit(0.15) * col("exact_parts")).as("hll_within_bound"))
        .orderBy("l_returnflag")),

    "q_rollup" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q_cube" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM graft_lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |  (l_returnflag), ())
          |ORDER BY l_returnflag ASC NULLS FIRST,
          |  l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // Top-3 orders per customer (ranking window).
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),

    // Cumulative frame; DECIMAL accumulator keeps the running sum exact.
    "q_window_running_sum" -> ((s, dir) => {
      // (shipdate, orderkey, linenumber) collides once at sf0.1 with
      // different quantities — quantity+price make the order total up to
      // full-duplicate rows, whose running values coincide either way
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "lineitem")
        .withColumn("running_qty",
          sum(col("l_quantity").cast(DecimalType(18, 2))).over(w)
            .cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("running_qty"), col("l_shipdate"), col("l_quantity"),
          col("l_extendedprice"))
        // mirror the window's own total order exactly
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice")
        .drop("l_shipdate", "l_quantity", "l_extendedprice")
    }),

    // first_value/last_value over a running frame per user.
    "q_window_first_last" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          first(col("value")).over(w).as("first_value"),
          last(col("value")).over(w).as("last_value"))
        .orderBy("event_id")
    }),

    // Value-based RANGE frame: per user, sum of values in the trailing
    // hour of event time (peers enter by value, not row position — so the
    // result is order-tie-proof by construction).
    "q_window_range_frame" -> ((s, dir) => {
      val hourUs = 3600L * 1000 * 1000
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"))
        .rangeBetween(-hourUs, 0)
      Tables(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("trailing_hour_sum",
          sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
        .select("event_id", "user_id", "trailing_hour_sum")
        .orderBy("event_id")
    }),

    "q_window_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, dir, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .select("event_id", "user_id", "value", "prev_value", "next_value")
        .orderBy("event_id")
    }),

    // Global top-k: Catalyst plans TakeOrderedAndProject, no full sort.
    "q_sort_limit" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_totalprice")),

    "q_union_all" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .select(col("c_custkey").as("id"), lit("customer").as("src"))
        .unionAll(Tables(s, dir, "supplier")
          .select(col("s_suppkey").as("id"), lit("supplier").as("src")))
        .orderBy("id", "src")),

    "q_intersect" -> ((s, dir) =>
      Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("okey"))
        .intersect(Tables(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("okey")))
        .orderBy("okey")),

    // Open orders that never shipped a returned line (non-empty subsets on
    // both sides; part EXCEPT lineitem.partkey is vacuously empty at sf0.01).
    "q_except" -> ((s, dir) =>
      Tables(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey").as("okey"))
        .except(Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("okey")))
        .orderBy("okey")),

    "q_string_funcs" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_name")).as("uname"),
          substring(col("c_name"), 1, 8).as("prefix"),
          concat(col("c_mktsegment"), lit(":"), col("c_name")).as("tagged"),
          length(col("c_name")).as("name_len"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"))
        .filter(col("c_name").like("%1%"))
        .orderBy("c_custkey")),

    "q_date_funcs" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          unix_millis(date_trunc("month", col("o_orderdate")))
            .as("month_start_ms"),
          datediff(col("o_orderdate").cast("date"),
            lit("1995-01-01").cast("date")).as("days_since"))
        .orderBy("o_orderkey")),

    "q_math_funcs" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_disc"),
          floor(col("l_extendedprice")).as("floor_price"),
          ceil(col("l_extendedprice")).as("ceil_price"),
          sqrt(col("l_extendedprice")).as("sqrt_price"),
          (col("l_quantity") % 7).as("qty_mod"))
        .orderBy("l_orderkey", "l_linenumber", "sqrt_price", "abs_disc",
          "qty_mod")),

    // CASE WHEN routing — the same conditional shape as the sign/flag
    // injection in ChangelogOps (R10/R11).
    "q_case_expr" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("band",
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("high"))
        .groupBy("o_orderstatus", "band").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus", "band")),

    // Tumbling 1h event-time window (batch emulation of the stream agg).
    "q_tumbling_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
        .select(unix_millis(col("w.start")).as("window_start_ms"),
          col("n"), col("sum_value"))
        .orderBy("window_start_ms")),

    // Sliding 1h window every 30m: each event lands in two windows.
    "q_sliding_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
        .select(unix_millis(col("w.start")).as("window_start_ms"),
          col("n"), col("sum_value"))
        .orderBy("window_start_ms")),

    // Skew-safe two-phase (salted) aggregation: events.user_id has only
    // ~15-150 distinct values, so a single-phase groupBy funnels entire
    // hot keys through single tasks at scale. Salting fans each key into
    // 8 sub-aggregates first; the result is provably identical to the
    // plain GROUP BY (which is exactly what the oracle runs).
    "q_salted_agg" -> ((s, dir) => {
      val d = DecimalType(18, 2)
      Tables(s, dir, "events")
        .withColumn("salt", pmod(col("event_id"), lit(8)))
        .groupBy("user_id", "salt")
        .agg(sum(col("value").cast(d)).as("part_sum"),
          count(lit(1)).as("part_n"))
        .groupBy("user_id")
        .agg(sum(col("part_sum")).cast("double").as("sum_value"),
          sum(col("part_n")).as("n"))
        .orderBy("user_id")
    }),

    // GROUP BY + HAVING (post-aggregation predicate).
    "q_having" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .filter(col("n_orders") > 12)
        .orderBy("o_custkey")),

    // Null-handling scalar functions over outer-join padding.
    "q_null_funcs" -> ((s, dir) =>
      Tables(s, dir, "customer").join(
          Tables(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
          sum(coalesce(col("o_totalprice"), lit(0)).cast(DecimalType(18, 2)))
            .cast("double").as("sum_or_zero"),
          count(col("o_orderkey")).as("n_matched"),
          max(when(col("o_orderkey").isNull, 1).otherwise(0))
            .as("had_unmatched"))
        .orderBy("c_custkey")),

    // Explicit cartesian product of two small dims.
    "q_cross_join" -> ((s, dir) =>
      Tables(s, dir, "region").crossJoin(Tables(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")),

    // JSON extraction from the events props payload, aggregated.
    "q_json_funcs" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"),
          (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // Distribution window functions: quartile, percent rank, cume dist
    // ((rank-1)/(n-1) and rank/n are exact int divisions in doubles).
    "q_window_ntile" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"))
        .orderBy("o_orderstatus", "pct_rank", "o_orderkey")
    }),

    "q_union_distinct" -> ((s, dir) =>
      Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("ck"))
        .union(Tables(s, dir, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("ck")))
        .distinct()
        .orderBy("ck")),

    // Pivot: one column per priority bucket (explicit value list so the
    // output schema is static), counts per order status.
    "q_pivot" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .count()
        .na.fill(0L)
        .withColumnsRenamed(Map("1-URGENT" -> "p1", "2-HIGH" -> "p2",
          "3-MEDIUM" -> "p3", "4-NOT SPECIFIED" -> "p4", "5-LOW" -> "p5"))
        .orderBy("o_orderstatus")),

    // Scalar subquery: orders above the global average price.
    "q_scalar_subquery" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("graft_orders_ss")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM graft_orders_ss
          |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS
          |  DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM graft_orders_ss)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // Correlated subquery: each customer's count of above-their-own-average
    // orders (decorrelated by Catalyst into a join + aggregate).
    "q_correlated_subquery" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("graft_orders_cs")
      s.sql(
        """SELECT o1.o_custkey, COUNT(*) AS n_above
          |FROM graft_orders_cs o1
          |WHERE o1.o_totalprice > (
          |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
          |    AS DOUBLE) / COUNT(*)
          |  FROM graft_orders_cs o2 WHERE o2.o_custkey = o1.o_custkey)
          |GROUP BY o1.o_custkey
          |ORDER BY o1.o_custkey""".stripMargin)
    }),

    // Exact median over an integer column: even-count interpolation
    // (a+b)/2 is FP-exact for 52-bit ints, so engines agree bitwise.
    "q_percentile" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy("lang")
        .agg(median(col("n_chars")).as("median_chars"),
          count(lit(1)).as("n"))
        .orderBy("lang")),

    // Session windows via gap detection (30 min), batch-expressed:
    // lag + cumulative boundary count — the standard sessionization idiom.
    "q_session_gap" -> ((s, dir) => {
      val byTime = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000 * 1000
      Tables(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTime))
        .withColumn("is_new",
          (col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > gapUs).cast("int"))
        .withColumn("session_id", sum(col("is_new")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .orderBy("user_id", "session_id")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice""".stripMargin,

    "q_inner_join" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_left_join" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "q_broadcast_join" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_range_join" ->
      """SELECT s_suppkey, COUNT(*) AS n
        |FROM customer JOIN supplier
        |  ON c_acctbal >= s_acctbal - 100 AND c_acctbal <= s_acctbal + 100
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,

    "q_multiway_join" ->
      """SELECT r_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_hash_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |    AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_distinct_agg" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS hll_within_bound
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |HAVING COUNT(*) > 0
        |ORDER BY l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |HAVING COUNT(*) > 0
        |ORDER BY l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |HAVING COUNT(*) > 0
        |ORDER BY l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin,

    "q_window_rank" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders
        |)
        |SELECT o_custkey, rn, o_orderkey, o_totalprice FROM r
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_window_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |      l_extendedprice
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |  l_quantity, l_extendedprice""".stripMargin,

    "q_window_first_last" ->
      """SELECT event_id, user_id,
        |  FIRST_VALUE(value) OVER w AS first_value,
        |  LAST_VALUE(value) OVER w AS last_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_window_range_frame" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS trailing_hour_sum
        |FROM events ORDER BY event_id""".stripMargin,

    "q_window_lag_lead" ->
      """SELECT event_id, user_id, value,
        |  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS prev_value,
        |  LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS next_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "q_union_all" ->
      """SELECT c_custkey AS id, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS src FROM supplier
        |ORDER BY id, src""".stripMargin,

    "q_intersect" ->
      """SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY okey""".stripMargin,

    "q_except" ->
      """SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY okey""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey, UPPER(c_name) AS uname,
        |  SUBSTRING(c_name, 1, 8) AS prefix,
        |  c_mktsegment || ':' || c_name AS tagged,
        |  LENGTH(c_name) AS name_len,
        |  REGEXP_REPLACE(c_name, '[0-9]', '#', 'g') AS masked
        |FROM customer WHERE c_name LIKE '%1%'
        |ORDER BY c_custkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(YEAR(o_orderdate) AS INT) AS y,
        |  CAST(MONTH(o_orderdate) AS INT) AS m,
        |  CAST(DAY(o_orderdate) AS INT) AS d,
        |  epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
        |  CAST(datediff('day', DATE '1995-01-01',
        |    CAST(o_orderdate AS DATE)) AS INT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  ABS(l_discount - 0.05) AS abs_disc,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_price,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_price,
        |  SQRT(l_extendedprice) AS sqrt_price,
        |  l_quantity % 7 AS qty_mod
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, sqrt_price,
        |  abs_disc, qty_mod""".stripMargin,

    "q_case_expr" ->
      """SELECT o_orderstatus,
        |  CASE WHEN o_totalprice < 50000 THEN 'low'
        |       WHEN o_totalprice < 150000 THEN 'mid'
        |       ELSE 'high' END AS band,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1, 2
        |ORDER BY o_orderstatus, band""".stripMargin,

    "q_tumbling_window" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY window_start_ms""".stripMargin,

    "q_sliding_window" ->
      """WITH assigned AS (
        |  SELECT (epoch_ms(ts) // 1800000) * 1800000 AS window_start_ms,
        |    value FROM events
        |  UNION ALL
        |  SELECT (epoch_ms(ts) // 1800000) * 1800000 - 1800000, value
        |  FROM events
        |)
        |SELECT window_start_ms, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM assigned GROUP BY window_start_ms
        |ORDER BY window_start_ms""".stripMargin,

    "q_salted_agg" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12
        |ORDER BY o_custkey""".stripMargin,

    "q_null_funcs" ->
      """SELECT c_custkey,
        |  CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS sum_or_zero,
        |  COUNT(o_orderkey) AS n_matched,
        |  MAX(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS had_unmatched
        |FROM customer LEFT JOIN
        |  (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS DOUBLE) / COUNT(*) AS avg_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_window_ntile" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderstatus, pct_rank, o_orderkey""".stripMargin,

    "q_union_distinct" ->
      """SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY ck""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS
        |  DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_correlated_subquery" ->
      """SELECT o1.o_custkey, COUNT(*) AS n_above
        |FROM orders o1
        |WHERE o1.o_totalprice > (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / COUNT(*)
        |  FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)
        |GROUP BY o1.o_custkey
        |ORDER BY o1.o_custkey""".stripMargin,

    "q_percentile" ->
      """SELECT lang, median(n_chars) AS median_chars, COUNT(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_session_gap" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_us IS NULL
        |         OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0
        |    END AS is_new, event_id
        |  FROM g
        |), sessions AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
  )
}
