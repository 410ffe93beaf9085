package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6e batch: SQL-surface completions.
  *
  *  - q_lateral_sql: correlated LATERAL join (per-order aggregate
  *    subquery in the FROM clause — Spark decorrelates it; the oracle
  *    runs the identical LATERAL SQL)
  *  - q_relational_division: the FORALL operator (orders whose EVERY
  *    line item is in 'F' status) via count-equality
  *  - q_topn_with_ties: top-3 spenders per nation WITH TIES, computed
  *    scale-safe — a bounded TopKAggregator derives the per-nation
  *    rank-3 threshold and a value filter keeps the tied rows, instead
  *    of a RANK() window over 25 nation-partitions (single-task sorts
  *    at 100×); the oracle IS the RANK() form, proving equivalence
  *  - q_attribution_models: first-touch vs last-touch purchase credit
  *    per click-day (the model-comparison ledger marketing reads)
  */
object Round6eQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Correlated LATERAL: per-order line stats computed by a lateral
    // aggregate subquery. Catalyst decorrelates this into a join +
    // aggregate — the point of the query is that the LATERAL surface
    // exists and plans without a per-row subquery execution.
    "q_lateral_sql" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
      Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""SELECT o.o_orderkey, o.o_totalprice, l.max_qty, l.n_lines
              FROM v_orders o, LATERAL (
                SELECT MAX(l_quantity) AS max_qty,
                  COUNT(*) AS n_lines
                FROM v_lineitem WHERE l_orderkey = o.o_orderkey) l
              WHERE o.o_orderkey < 100
              ORDER BY o.o_orderkey""")
    }),

    // Relational division (FORALL): orders where every line item has
    // linestatus 'F', per order status — the classic division encoded
    // as count(*) = count(condition), one combine aggregate per order
    // then a per-status rollup.
    "q_relational_division" -> ((s, dir) => {
      val perOrder = Tables(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_linestatus") === "F", 1L).otherwise(0L))
            .as("n_f"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .join(perOrder, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("n_lines") === col("n_f"), 1L).otherwise(0L))
            .as("n_all_f"))
        .withColumn("share_all_f",
          col("n_all_f").cast("double") / col("n_orders"))
        .orderBy("o_orderstatus")
    }),

    // Top-3 spenders per nation WITH TIES. RANK() ≤ 3 is equivalent to
    // cents ≥ the 3rd row's value under (cents DESC, custkey) — so the
    // bounded 3-entry TopKAggregator (map-side combine, 3 rows per
    // nation per partition crossing the shuffle) finds each nation's
    // threshold and a broadcast value-filter keeps the tied rows. No
    // window over the 25-value nation key anywhere.
    "q_topn_with_ties" -> ((s, dir) => {
      val rev = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      val nat = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val spend = rev.join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"), col("o_custkey").as("custkey"),
          col("cents"))
      val top3 = udaf(new graft.functions.TopKAggregator(3))
      // the aggregator keeps the k LARGEST scores under (score DESC,
      // id ASC); the 3rd buffer entry is the rank-3 row's value (exact:
      // cents < 2^53 in double)
      val thresholds = spend
        .groupBy("n_name")
        .agg(top3(col("cents").cast("double"), col("custkey"))
          .as("top"))
        .select(col("n_name").as("thr_nation"),
          element_at(col("top"), least(size(col("top")), lit(3)))
            .getField("score").cast("long").as("thr_cents"))
      spend.join(broadcast(thresholds),
          col("n_name") === col("thr_nation"))
        .filter(col("cents") >= col("thr_cents"))
        .select("n_name", "custkey", "cents")
        .orderBy(col("n_name"), col("cents").desc, col("custkey"))
    }),

    // Attribution model comparison: each purchase credits its full
    // cents value to the day of the user's FIRST-touch click (earliest
    // click in the prior-7-day window) vs the LAST-touch click; the
    // daily ledgers of both models land side by side. Clicks pair to
    // purchases through a per-user interval join; first/last pick via
    // an integer (seconds, event_id) encoding — enc = sec·2^32 + id
    // stays under 2^63 for any realistic clock, and min/max over it is
    // the lexicographic (time, id) pick; micros would overflow the
    // encoding, so ties within one second break on event_id by
    // definition.
    "q_attribution_models" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"),
          unix_micros(col("ts")).as("cus"), col("event_id").as("cid"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("pid"),
          unix_micros(col("ts")).as("pus"),
          floor(col("value") * 100.0).cast("long").as("cents"))
      val window7 = 7L * 86400000000L
      val paired = purchases.join(clicks,
        col("cu") === col("pu") && col("cus") <= col("pus") &&
          col("cus") >= col("pus") - window7)
      val enc = call_function("div", col("cus"), lit(1000000L)) *
        lit(4294967296L) + col("cid")
      val picks = paired.groupBy("pid")
        .agg(max(col("cents")).as("cents"),
          min(enc).as("first_enc"), max(enc).as("last_enc"))
        .select(col("cents"),
          call_function("div",
            call_function("div", col("first_enc"), lit(4294967296L)),
            lit(86400L)).as("ft_day"),
          call_function("div",
            call_function("div", col("last_enc"), lit(4294967296L)),
            lit(86400L)).as("lt_day"))
      val ft = picks.groupBy(col("ft_day").as("day"))
        .agg(count(lit(1)).as("ft_purchases"),
          sum("cents").as("ft_cents"))
      val lt = picks.groupBy(col("lt_day").as("day"))
        .agg(count(lit(1)).as("lt_purchases"),
          sum("cents").as("lt_cents"))
      ft.join(lt, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("ft_purchases"), lit(0L)).as("ft_purchases"),
          coalesce(col("ft_cents"), lit(0L)).as("ft_cents"),
          coalesce(col("lt_purchases"), lit(0L)).as("lt_purchases"),
          coalesce(col("lt_cents"), lit(0L)).as("lt_cents"))
        .orderBy("day")
    }))

  val oracle: Map[String, String] = Map(

    "q_lateral_sql" ->
      """SELECT o.o_orderkey, o.o_totalprice, l.max_qty, l.n_lines
        |FROM orders o, LATERAL (
        |  SELECT MAX(l_quantity) AS max_qty,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem WHERE l_orderkey = o.o_orderkey) l
        |WHERE o.o_orderkey < 100
        |ORDER BY o.o_orderkey""".stripMargin,

    "q_relational_division" ->
      """WITH po AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_f
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN po.n_lines = po.n_f THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_all_f,
        |  CAST(CAST(SUM(CASE WHEN po.n_lines = po.n_f THEN 1 ELSE 0
        |    END) AS BIGINT) AS DOUBLE) / COUNT(*) AS share_all_f
        |FROM orders o JOIN po ON o.o_orderkey = po.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_topn_with_ties" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), spend AS (
        |  SELECT n.n_name, c.c_custkey AS custkey, rev.cents
        |  FROM rev
        |  JOIN customer c ON rev.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |), ranked AS (
        |  SELECT *, RANK() OVER (PARTITION BY n_name
        |    ORDER BY cents DESC) AS rk
        |  FROM spend
        |)
        |SELECT n_name, custkey, cents
        |FROM ranked WHERE rk <= 3
        |ORDER BY n_name, cents DESC, custkey""".stripMargin,

    "q_attribution_models" ->
      """WITH clicks AS (
        |  SELECT user_id AS cu, epoch_us(ts) AS cus, event_id AS cid
        |  FROM events WHERE event_type = 'click'
        |), purchases AS (
        |  SELECT user_id AS pu, event_id AS pid, epoch_us(ts) AS pus,
        |    CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'
        |), paired AS (
        |  SELECT p.pid, p.cents,
        |    (c.cus // 1000000) * 4294967296 + c.cid AS enc
        |  FROM purchases p JOIN clicks c ON c.cu = p.pu
        |    AND c.cus <= p.pus AND c.cus >= p.pus - 604800000000
        |), picks AS (
        |  SELECT pid, CAST(MAX(cents) AS BIGINT) AS cents,
        |    (CAST(MIN(enc) AS BIGINT) // 4294967296) // 86400
        |      AS ft_day,
        |    (CAST(MAX(enc) AS BIGINT) // 4294967296) // 86400
        |      AS lt_day
        |  FROM paired GROUP BY 1
        |), ft AS (
        |  SELECT ft_day AS day, CAST(COUNT(*) AS BIGINT) AS ft_purchases,
        |    CAST(SUM(cents) AS BIGINT) AS ft_cents
        |  FROM picks GROUP BY 1
        |), lt AS (
        |  SELECT lt_day AS day, CAST(COUNT(*) AS BIGINT) AS lt_purchases,
        |    CAST(SUM(cents) AS BIGINT) AS lt_cents
        |  FROM picks GROUP BY 1
        |)
        |SELECT COALESCE(ft.day, lt.day) AS day,
        |  COALESCE(ft.ft_purchases, 0) AS ft_purchases,
        |  COALESCE(ft.ft_cents, 0) AS ft_cents,
        |  COALESCE(lt.lt_purchases, 0) AS lt_purchases,
        |  COALESCE(lt.lt_cents, 0) AS lt_cents
        |FROM ft FULL OUTER JOIN lt ON ft.day = lt.day
        |ORDER BY day""".stripMargin)
}
