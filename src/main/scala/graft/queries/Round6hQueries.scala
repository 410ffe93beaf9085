package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6h batch: logistics / fulfillment profiles over the order
  * book — the operational-latency views a supply-chain team reads.
  *
  *  - q_ship_delay_bands: order-to-ship latency histogram (join +
  *    banded counts with share)
  *  - q_priority_latency: latency sufficient-stats per order priority
  *  - q_nation_trade_flows: bilateral revenue matrix supplier-nation x
  *    customer-nation in exact cents
  *  - q_open_order_aging: age buckets of still-open orders against the
  *    data's own max-date anchor (no wall-clock dependence)
  *
  * All money/latency sums are exact BIGINT (cents / days); each ratio
  * is one mirrored double division at the end.
  */
object Round6hQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Order-to-ship latency bands. lineitem joins orders on the
    // high-cardinality order key (shuffle scales), delay in whole days
    // from date arithmetic, then a 4-bucket histogram with share —
    // the fulfillment SLA chart.
    "q_ship_delay_bands" -> ((s, dir) => {
      val delays = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
        .join(Tables(s, dir, "orders")
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .select(datediff(col("sd"), col("od")).cast("long").as("delay"))
      val banded = delays.withColumn("band",
        when(col("delay") <= 7L, "a_week")
          .when(col("delay") <= 30L, "b_month")
          .when(col("delay") <= 90L, "c_quarter")
          .otherwise("d_slow"))
      val tot = delays.agg(count(lit(1)).as("n_lines"))
      banded.groupBy("band").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .withColumn("share", col("n").cast("double") / col("n_lines"))
        .select("band", "n", "n_lines", "share")
        .orderBy("band")
    }),

    // Latency sufficient statistics per order priority: exact integer
    // day sums, min/max, one avg division. Single join + 5-group agg.
    "q_priority_latency" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
        .join(Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            to_date(col("o_orderdate")).as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("sd"), col("od")).cast("long").as("delay"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum("delay").as("sum_delay_days"),
          min("delay").as("min_delay"),
          max("delay").as("max_delay"))
        .withColumn("avg_delay",
          col("sum_delay_days").cast("double") / col("n_lines"))
        .orderBy("o_orderpriority")),

    // Bilateral trade matrix: revenue cents flowing from supplier
    // nation to customer nation. Dimensions (nation, supplier) are
    // broadcast; the lineitem-orders and orders-customer joins shuffle
    // on their high-cardinality keys. Revenue quantized to exact cents
    // before the sum so the matrix hashes bit-identically.
    "q_nation_trade_flows" -> ((s, dir) => {
      val nat = Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100.0).cast("long").as("rev_cents"))
      val supp = broadcast(Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val custSide = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("o_orderkey"), col("n_name").as("cust_nation"))
      li.join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(custSide, col("l_orderkey") === col("o_orderkey"))
        .groupBy("supp_nation", "cust_nation")
        .agg(count(lit(1)).as("n_lines"), sum("rev_cents").as("rev_cents"))
        .orderBy("supp_nation", "cust_nation")
    }),

    // Open-order aging: orders still in status 'O' aged against the
    // dataset's own max order date (a broadcast 1-row aggregate — the
    // query is reproducible, no wall clock). Buckets are the working-
    // capital review bands.
    "q_open_order_aging" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_orderstatus"), to_date(col("o_orderdate")).as("od"))
      val anchor = broadcast(o.agg(max("od").as("anchor")))
      o.filter(col("o_orderstatus") === "O")
        .crossJoin(anchor)
        .select(datediff(col("anchor"), col("od")).cast("long").as("age"))
        .withColumn("bucket",
          when(col("age") <= 180L, "a_0_180")
            .when(col("age") <= 365L, "b_181_365")
            .when(col("age") <= 730L, "c_366_730")
            .otherwise("d_731_plus"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          min("age").as("min_age"),
          max("age").as("max_age"))
        .orderBy("bucket")
    }))

  val oracle: Map[String, String] = Map(

    "q_ship_delay_bands" ->
      """WITH d AS (
        |  SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
        |    CAST(l.l_shipdate AS DATE)) AS BIGINT) AS delay
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), banded AS (
        |  SELECT CASE WHEN delay <= 7 THEN 'a_week'
        |    WHEN delay <= 30 THEN 'b_month'
        |    WHEN delay <= 90 THEN 'c_quarter'
        |    ELSE 'd_slow' END AS band
        |  FROM d
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lines FROM d)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n, tot.n_lines,
        |  CAST(COUNT(*) AS DOUBLE) / tot.n_lines AS share
        |FROM banded, tot GROUP BY band, tot.n_lines
        |ORDER BY band""".stripMargin,

    "q_priority_latency" ->
      """WITH d AS (
        |  SELECT o.o_orderpriority,
        |    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) AS BIGINT) AS delay
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(delay) AS BIGINT) AS sum_delay_days,
        |  CAST(MIN(delay) AS BIGINT) AS min_delay,
        |  CAST(MAX(delay) AS BIGINT) AS max_delay,
        |  CAST(CAST(SUM(delay) AS BIGINT) AS DOUBLE) / COUNT(*)
        |    AS avg_delay
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_nation_trade_flows" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount)
        |    * 100.0) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_open_order_aging" ->
      """WITH o AS (
        |  SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS od
        |  FROM orders
        |), anchor AS (SELECT MAX(od) AS anchor FROM o),
        |aged AS (
        |  SELECT CAST(date_diff('day', od, anchor.anchor) AS BIGINT)
        |    AS age
        |  FROM o, anchor WHERE o_orderstatus = 'O'
        |)
        |SELECT CASE WHEN age <= 180 THEN 'a_0_180'
        |    WHEN age <= 365 THEN 'b_181_365'
        |    WHEN age <= 730 THEN 'c_366_730'
        |    ELSE 'd_731_plus' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(MIN(age) AS BIGINT) AS min_age,
        |  CAST(MAX(age) AS BIGINT) AS max_age
        |FROM aged GROUP BY 1 ORDER BY 1""".stripMargin)
}
