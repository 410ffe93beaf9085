package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-8 thirtieth batch: fraud / operational-risk audits — the
  * anomaly screens a payments-shaped warehouse runs nightly.
  *
  *  - q_duplicate_payment: double-charge screen — order pairs with
  *    the same (customer, amount) within 7 days: pair count, same-day
  *    subset, distinct orders implicated, exposure. The join keys on
  *    (custkey, totalprice) so candidate groups are tiny; never an
  *    amount-only or customer-only blowup.
  *  - q_round_amount_bias: round-number bias per return flag — share
  *    of whole-dollar and whole-hundred-dollar line amounts vs the
  *    1% / 0.01% uniform-cents expectation (fabricated figures
  *    over-select round numbers; Benford's cousin, and the companion
  *    to q_benford_audit). Cents come from DECIMAL(18,2)*100 — exact
  *    integers, never double modulo.
  *  - q_velocity_flags: burst screen — each user's max event count in
  *    any sliding 60-second window (per-user range frame over epoch
  *    seconds), plus how many users exceed 2x / 3x. The rate-limit /
  *    bot heuristic over arrival data.
  */
object Round8adQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_duplicate_payment" -> ((s, dir) => {
      val o = graft.CacheScope.retain(Tables(s, dir, "orders")
        .select(col("o_custkey").as("ck"), col("o_totalprice").as("amt"),
          col("o_orderkey").as("ok"), col("o_orderdate").as("d")))
      val pairs = o.as("a").join(o.as("b"),
          col("a.ck") === col("b.ck") && col("a.amt") === col("b.amt") &&
            col("a.ok") < col("b.ok") &&
            abs(datediff(col("b.d"), col("a.d"))) <= 7)
      val flagged = pairs
        .select(explode(array(
          struct(col("a.ok").as("ok"), col("a.amt").as("amt2")),
          struct(col("b.ok").as("ok"), col("b.amt").as("amt2"))))
          .as("e"))
        .select(col("e.ok").as("ok"), col("e.amt2").as("amt2"))
      val pairStats = pairs.agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("a.d") === col("b.d"), 1L).otherwise(0L)),
          lit(0L)).as("n_same_day_pairs"))
      val orderStats = flagged.select("ok", "amt2").distinct()
        .agg(count(lit(1)).as("n_orders_flagged"),
          coalesce(sum(col("amt2").cast(dec)).cast("double"), lit(0.0))
            .as("exposure"))
      pairStats.crossJoin(broadcast(orderStats))
        .select(col("n_pairs"), col("n_same_day_pairs"),
          col("n_orders_flagged"), col("exposure"))
    }),

    "q_round_amount_bias" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(col("l_returnflag"),
          (col("l_extendedprice").cast(dec) * 100).cast("long")
            .as("cents"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") % 100 === 0, 1L).otherwise(0L))
            .as("n_whole_dollar"),
          sum(when(col("cents") % 10000 === 0, 1L).otherwise(0L))
            .as("n_whole_hundred"))
        .select(col("l_returnflag"), col("n"), col("n_whole_dollar"),
          col("n_whole_hundred"),
          (col("n_whole_dollar").cast("double") /
            col("n").cast("double")).as("whole_dollar_share"),
          (col("n_whole_dollar").cast("double") /
            col("n").cast("double") / lit(0.01)).as("bias_ratio"))
        .orderBy("l_returnflag")
    }),

    "q_velocity_flags" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 1000000").as("sec"))
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-59, Window.currentRow)
      val bursts = ev.withColumn("burst", count(lit(1)).over(w))
        .groupBy("user_id").agg(max("burst").as("max_burst"))
      bursts.agg(count(lit(1)).as("n_users"),
          max("max_burst").as("max_burst_overall"),
          sum(when(col("max_burst") >= 2, 1L).otherwise(0L))
            .as("n_users_burst_ge_2"),
          sum(when(col("max_burst") >= 3, 1L).otherwise(0L))
            .as("n_users_burst_ge_3"))
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_duplicate_payment" ->
      """WITH o AS (
        |  SELECT o_custkey AS ck, o_totalprice AS amt,
        |    o_orderkey AS ok, o_orderdate AS d
        |  FROM orders
        |), pairs AS (
        |  SELECT a.ok AS ok1, a.d AS d1, b.ok AS ok2, b.d AS d2,
        |    a.amt AS amt
        |  FROM o a JOIN o b
        |    ON a.ck = b.ck AND a.amt = b.amt AND a.ok < b.ok
        |    AND abs(date_diff('day', a.d, b.d)) <= 7
        |), ps AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(COALESCE(SUM(CASE WHEN d1 = d2 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_same_day_pairs
        |  FROM pairs
        |), fl AS (
        |  SELECT DISTINCT ok, amt FROM (
        |    SELECT ok1 AS ok, amt FROM pairs
        |    UNION ALL SELECT ok2, amt FROM pairs
        |  )
        |), os AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_flagged,
        |    COALESCE(CAST(SUM(CAST(amt AS DECIMAL(18,2))) AS DOUBLE),
        |      0.0) AS exposure
        |  FROM fl
        |)
        |SELECT ps.n_pairs AS n_pairs,
        |  ps.n_same_day_pairs AS n_same_day_pairs,
        |  os.n_orders_flagged AS n_orders_flagged,
        |  os.exposure AS exposure
        |FROM ps, os""".stripMargin,

    "q_round_amount_bias" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_whole_dollar,
        |  CAST(SUM(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_whole_hundred,
        |  CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS whole_dollar_share,
        |  CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 0.01 AS bias_ratio
        |FROM (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS cents
        |  FROM lineitem
        |)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_velocity_flags" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 1000000 AS sec
        |  FROM events
        |), bursts AS (
        |  SELECT user_id, CAST(MAX(burst) AS BIGINT) AS max_burst
        |  FROM (
        |    SELECT user_id, CAST(COUNT(*) OVER (
        |      PARTITION BY user_id ORDER BY sec
        |      RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS burst
        |    FROM ev
        |  ) GROUP BY user_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MAX(max_burst) AS BIGINT) AS max_burst_overall,
        |  CAST(SUM(CASE WHEN max_burst >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_users_burst_ge_2,
        |  CAST(SUM(CASE WHEN max_burst >= 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_users_burst_ge_3
        |FROM bursts""".stripMargin,
  )
}
