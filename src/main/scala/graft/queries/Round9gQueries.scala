package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 seventh batch: the Selinger join-order layer — cost-based
  * planning AS QUERIES, over the 5-relation TPC-H chain
  * customer—orders—lineitem—part / lineitem—supplier. The engine
  * already audits single joins (q_join_size_audit, q_sketch_join_size,
  * q_cardinality_model_eval); this batch runs the full classic DP and
  * validates its cost model against ground truth.
  *
  * Relation bits: C=1, O=2, L=4, P=8, S=16. Join edges with textbook
  * selectivity 1/max(ndv_left, ndv_right): C–O on custkey, O–L on
  * orderkey, L–P on partkey, L–S on suppkey. est(S) folds in a FIXED
  * written order (cards by bit order, then edges C-O, O-L, L-P, L-S) so
  * the double DAG is identical in both engines.
  *
  *  - q_join_order_dp: exact Selinger DP over all 31 connected
  *    subsets (bushy splits allowed), dp(S) = min over cross-edge
  *    splits of cost(S1)+cost(S2)+est(S); reports the optimum vs the
  *    naive left-deep chain C⋈O⋈L⋈P⋈S — the "how much does planning
  *    buy" number.
  *  - q_cost_model_validate: est vs TRUE cardinality (the joins
  *    actually run) for the 5 chain prefixes, with q-error — the
  *    model-trust audit every optimizer needs.
  *  - q_join_graph_stats: per-edge ndv on both sides, containment
  *    ratio, and key-skew factor — the statistics input the DP
  *    consumes, as a 4-row table.
  *
  * Scale posture: statistics come from one aggregate per relation
  * (count + countDistinct, map-side partials); the DP itself runs on
  * 31-row frames. q_cost_model_validate's truth arm is one pass per
  * prefix over co-partitioned keys — the audit a planner runs on a
  * sample at 100 TB, exact here.
  */
object Round9gQueries {

  /** One-row stats frame: cardinalities + per-edge max-ndv. */
  private def stats(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").agg(
      count(lit(1)).as("n_c"), countDistinct("c_custkey").as("ndv_c_ck"))
    val o = Tables(s, dir, "orders").agg(
      count(lit(1)).as("n_o"), countDistinct("o_custkey").as("ndv_o_ck"),
      countDistinct("o_orderkey").as("ndv_o_ok"))
    val l = Tables(s, dir, "lineitem").agg(
      count(lit(1)).as("n_l"), countDistinct("l_orderkey").as("ndv_l_ok"),
      countDistinct("l_partkey").as("ndv_l_pk"),
      countDistinct("l_suppkey").as("ndv_l_sk"))
    val p = Tables(s, dir, "part").agg(
      count(lit(1)).as("n_p"), countDistinct("p_partkey").as("ndv_p_pk"))
    val su = Tables(s, dir, "supplier").agg(
      count(lit(1)).as("n_s"), countDistinct("s_suppkey").as("ndv_s_sk"))
    c.crossJoin(broadcast(o)).crossJoin(broadcast(l))
      .crossJoin(broadcast(p)).crossJoin(broadcast(su))
      .select(col("*"),
        greatest(col("ndv_c_ck"), col("ndv_o_ck")).as("e_co"),
        greatest(col("ndv_o_ok"), col("ndv_l_ok")).as("e_ol"),
        greatest(col("ndv_l_pk"), col("ndv_p_pk")).as("e_lp"),
        greatest(col("ndv_l_sk"), col("ndv_s_sk")).as("e_ls"))
  }

  /** est(mask) for all 31 subsets: fixed-order fold, mirrored in SQL. */
  private def estFrame(s: SparkSession, dir: String): DataFrame = {
    val masks = s.range(1, 32).select(col("id").cast("int").as("m"))
    def bit(m: Column, b: Int): Column = (m.bitwiseAND(lit(b)) === b)
    // try_divide chain: EMPTY base tables zero the per-edge NDVs — the
    // affected subset estimates go NULL (DuckDB's x/0) and NULL
    // propagates identically through the DP sums and MIN on both engines
    def tdiv(a: Column, b: Column): Column = try_divide(a, b)
    masks.crossJoin(broadcast(stats(s, dir)))
      .select(col("m"),
        tdiv(tdiv(tdiv(tdiv(lit(1.0)
          * when(bit(col("m"), 1), col("n_c").cast("double")).otherwise(1.0)
          * when(bit(col("m"), 2), col("n_o").cast("double")).otherwise(1.0)
          * when(bit(col("m"), 4), col("n_l").cast("double")).otherwise(1.0)
          * when(bit(col("m"), 8), col("n_p").cast("double")).otherwise(1.0)
          * when(bit(col("m"), 16), col("n_s").cast("double")).otherwise(1.0),
          when(bit(col("m"), 3), col("e_co").cast("double")).otherwise(1.0)),
          when(bit(col("m"), 6), col("e_ol").cast("double")).otherwise(1.0)),
          when(bit(col("m"), 12), col("e_lp").cast("double")).otherwise(1.0)),
          when(bit(col("m"), 20), col("e_ls").cast("double")).otherwise(1.0))
          .as("est"))
  }

  /** Does a join edge cross the (a, b) subset pair? */
  private def edgeCross(am: Column, bm: Column): Column = {
    def has(m: Column, b: Int): Column = m.bitwiseAND(lit(b)) > 0
    // C-O, O-L, L-P, L-S — either direction
    (has(am, 1) && has(bm, 2)) || (has(am, 2) && has(bm, 1)) ||
      (has(am, 2) && has(bm, 4)) || (has(am, 4) && has(bm, 2)) ||
      (has(am, 4) && has(bm, 8)) || (has(am, 8) && has(bm, 4)) ||
      (has(am, 4) && has(bm, 16)) || (has(am, 16) && has(bm, 4))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_join_order_dp" -> ((s, dir) => {
      val est = graft.CacheScope.retain(estFrame(s, dir))
      val dp1 = est.filter(col("m").isin(1, 2, 4, 8, 16))
        .select(col("m"), lit(0.0).as("cost"))
      // dp(S) = min over cross-edge splits; sizes 2..5 build from
      // smaller sizes — bushy allowed (dp2xdp2 feeds dp4, dp2xdp3 dp5)
      // broadcast the right dp side: the non-equi split join is over
      // <=31-row frames, and a bare theta join plans as a
      // CartesianProduct (the suite's contracts pin cartesian=0)
      def combine(a: DataFrame, b: DataFrame): DataFrame =
        a.as("a").join(broadcast(b.as("b")),
            (col("a.m").bitwiseAND(col("b.m")) === 0) &&
              edgeCross(col("a.m"), col("b.m")))
          .select(col("a.m").bitwiseOR(col("b.m")).as("m"),
            (col("a.cost") + col("b.cost")).as("split_cost"))
          .join(est, "m")
          .select(col("m"), (col("split_cost") + col("est")).as("cost"))
      def best(d: DataFrame): DataFrame =
        d.groupBy("m").agg(min("cost").as("cost"))
      val dp2 = best(combine(dp1, dp1)).transform(graft.CacheScope.retain)
      val dp3 = best(combine(dp1, dp2)).transform(graft.CacheScope.retain)
      val dp4 = best(combine(dp1, dp3).unionAll(combine(dp2, dp2)))
        .transform(graft.CacheScope.retain)
      val dp5 = best(combine(dp1, dp4).unionAll(combine(dp2, dp3)))
      // naive left-deep chain C⋈O⋈L⋈P⋈S: cost = est(CO)+est(COL)+
      // est(COLP)+est(COLPS), in that written order
      val leftDeep = est.filter(col("m").isin(3, 7, 15, 31))
        .agg(sum("est").as("leftdeep_cost"))
      dp5.filter(col("m") === 31)
        .select(col("cost").as("opt_cost"))
        .crossJoin(broadcast(leftDeep))
        .crossJoin(broadcast(est.agg(count(lit(1)).as("n_subsets"))))
        .select(col("n_subsets"), col("opt_cost"), col("leftdeep_cost"),
          try_divide(col("leftdeep_cost"), col("opt_cost"))
            .as("planning_gain"))
    }),

    "q_cost_model_validate" -> ((s, dir) => {
      val est = graft.CacheScope.retain(estFrame(s, dir))
      val c = Tables(s, dir, "customer").select(col("c_custkey"))
      val o = Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val p = Tables(s, dir, "part").select(col("p_partkey"))
      val su = Tables(s, dir, "supplier").select(col("s_suppkey"))
      val co = c.join(o, col("c_custkey") === col("o_custkey"))
        .transform(graft.CacheScope.retain)
      val col3 = co.join(l, col("o_orderkey") === col("l_orderkey"))
        .transform(graft.CacheScope.retain)
      val col4 = col3.join(p, col("l_partkey") === col("p_partkey"))
        .transform(graft.CacheScope.retain)
      val truths = Seq(
        (1, c), (3, co), (7, col3), (15, col4),
        (31, col4.join(su, col("l_suppkey") === col("s_suppkey"))))
      val truthDf = truths.map { case (m, df) =>
        df.agg(count(lit(1)).as("true_rows")).select(lit(m).as("m"),
          col("true_rows"))
      }.reduce(_ unionAll _)
      truthDf.join(est, "m")
        .select(col("m"), col("true_rows"), col("est"),
          greatest(
            try_divide(col("est"), col("true_rows").cast("double")),
            try_divide(col("true_rows").cast("double"), col("est")))
            .as("q_error"))
        .orderBy("m")
    }),

    "q_join_graph_stats" -> ((s, dir) => {
      def side(df: DataFrame, key: String, edge: String, role: String) =
        df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("ndv"), sum("cnt").as("n"),
            max("cnt").as("max_per_key"))
          // ndv > 0 mirrors the oracle's grouped shape: an EMPTY table
          // contributes no row, not a row of NULL stats
          .filter(col("ndv") > 0)
          .select(lit(edge).as("edge"), lit(role).as("side"), col("ndv"),
            col("n"), col("max_per_key"),
            (col("max_per_key").cast("double") *
              col("ndv").cast("double") / col("n").cast("double"))
              .as("skew_factor"))
      side(Tables(s, dir, "customer"), "c_custkey", "c_o", "left")
        .unionAll(side(Tables(s, dir, "orders"), "o_custkey", "c_o", "right"))
        .unionAll(side(Tables(s, dir, "orders"), "o_orderkey", "o_l", "left"))
        .unionAll(
          side(Tables(s, dir, "lineitem"), "l_orderkey", "o_l", "right"))
        .unionAll(side(Tables(s, dir, "lineitem"), "l_partkey", "l_p", "left"))
        .unionAll(side(Tables(s, dir, "part"), "p_partkey", "l_p", "right"))
        .unionAll(side(Tables(s, dir, "lineitem"), "l_suppkey", "l_s", "left"))
        .unionAll(side(Tables(s, dir, "supplier"), "s_suppkey", "l_s", "right"))
        .orderBy("edge", "side")
    }))

  /** Stats + est CTEs shared by the oracle SQL. */
  private val estCte =
    """WITH st AS (
      |  SELECT
      |    (SELECT COUNT(*) FROM customer) AS n_c,
      |    (SELECT COUNT(*) FROM orders) AS n_o,
      |    (SELECT COUNT(*) FROM lineitem) AS n_l,
      |    (SELECT COUNT(*) FROM part) AS n_p,
      |    (SELECT COUNT(*) FROM supplier) AS n_s,
      |    GREATEST((SELECT COUNT(DISTINCT c_custkey) FROM customer),
      |      (SELECT COUNT(DISTINCT o_custkey) FROM orders)) AS e_co,
      |    GREATEST((SELECT COUNT(DISTINCT o_orderkey) FROM orders),
      |      (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)) AS e_ol,
      |    GREATEST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
      |      (SELECT COUNT(DISTINCT p_partkey) FROM part)) AS e_lp,
      |    GREATEST((SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
      |      (SELECT COUNT(DISTINCT s_suppkey) FROM supplier)) AS e_ls
      |), est AS (
      |  SELECT m,
      |    1.0
      |    * (CASE WHEN (m & 1) = 1 THEN CAST(n_c AS DOUBLE) ELSE 1.0 END)
      |    * (CASE WHEN (m & 2) = 2 THEN CAST(n_o AS DOUBLE) ELSE 1.0 END)
      |    * (CASE WHEN (m & 4) = 4 THEN CAST(n_l AS DOUBLE) ELSE 1.0 END)
      |    * (CASE WHEN (m & 8) = 8 THEN CAST(n_p AS DOUBLE) ELSE 1.0 END)
      |    * (CASE WHEN (m & 16) = 16 THEN CAST(n_s AS DOUBLE) ELSE 1.0 END)
      |    / (CASE WHEN (m & 3) = 3 THEN CAST(e_co AS DOUBLE) ELSE 1.0 END)
      |    / (CASE WHEN (m & 6) = 6 THEN CAST(e_ol AS DOUBLE) ELSE 1.0 END)
      |    / (CASE WHEN (m & 12) = 12 THEN CAST(e_lp AS DOUBLE) ELSE 1.0 END)
      |    / (CASE WHEN (m & 20) = 20 THEN CAST(e_ls AS DOUBLE) ELSE 1.0 END)
      |    AS est
      |  FROM range(1, 32) r(m), st
      |)""".stripMargin

  private val edgeCrossSql =
    """(((a.m & 1) > 0 AND (b.m & 2) > 0) OR ((a.m & 2) > 0 AND (b.m & 1) > 0)
      | OR ((a.m & 2) > 0 AND (b.m & 4) > 0) OR ((a.m & 4) > 0 AND (b.m & 2) > 0)
      | OR ((a.m & 4) > 0 AND (b.m & 8) > 0) OR ((a.m & 8) > 0 AND (b.m & 4) > 0)
      | OR ((a.m & 4) > 0 AND (b.m & 16) > 0) OR ((a.m & 16) > 0 AND (b.m & 4) > 0))"""
      .stripMargin.replace("\n", "")

  private def combineSql(a: String, b: String): String =
    s"""SELECT q.m, MIN(q.split_cost + est.est) AS cost FROM (
       |    SELECT (a.m | b.m) AS m, a.cost + b.cost AS split_cost
       |    FROM $a a JOIN $b b
       |      ON (a.m & b.m) = 0 AND $edgeCrossSql) q
       |  JOIN est ON est.m = q.m GROUP BY q.m""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_join_order_dp" -> (estCte +
      s""", dp1 AS (
         |  SELECT m, 0.0 AS cost FROM est WHERE m IN (1, 2, 4, 8, 16)
         |), dp2 AS (
         |  ${combineSql("dp1", "dp1")}
         |), dp3 AS (
         |  ${combineSql("dp1", "dp2")}
         |), dp4 AS (
         |  SELECT m, MIN(cost) AS cost FROM (
         |    ${combineSql("dp1", "dp3")}
         |    UNION ALL
         |    ${combineSql("dp2", "dp2")}) GROUP BY m
         |), dp5 AS (
         |  SELECT m, MIN(cost) AS cost FROM (
         |    ${combineSql("dp1", "dp4")}
         |    UNION ALL
         |    ${combineSql("dp2", "dp3")}) GROUP BY m
         |)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM est) AS n_subsets,
         |  (SELECT cost FROM dp5 WHERE m = 31) AS opt_cost,
         |  (SELECT SUM(est) FROM est WHERE m IN (3, 7, 15, 31))
         |    AS leftdeep_cost,
         |  (SELECT SUM(est) FROM est WHERE m IN (3, 7, 15, 31))
         |    / (SELECT cost FROM dp5 WHERE m = 31) AS planning_gain""".stripMargin),

    "q_cost_model_validate" -> (estCte +
      """, truth AS (
        |  SELECT 1 AS m, CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
        |    AS true_rows
        |  UNION ALL SELECT 3, (SELECT COUNT(*) FROM customer
        |    JOIN orders ON c_custkey = o_custkey)
        |  UNION ALL SELECT 7, (SELECT COUNT(*) FROM customer
        |    JOIN orders ON c_custkey = o_custkey
        |    JOIN lineitem ON o_orderkey = l_orderkey)
        |  UNION ALL SELECT 15, (SELECT COUNT(*) FROM customer
        |    JOIN orders ON c_custkey = o_custkey
        |    JOIN lineitem ON o_orderkey = l_orderkey
        |    JOIN part ON l_partkey = p_partkey)
        |  UNION ALL SELECT 31, (SELECT COUNT(*) FROM customer
        |    JOIN orders ON c_custkey = o_custkey
        |    JOIN lineitem ON o_orderkey = l_orderkey
        |    JOIN part ON l_partkey = p_partkey
        |    JOIN supplier ON l_suppkey = s_suppkey)
        |)
        |SELECT t.m, t.true_rows, e.est,
        |  GREATEST(e.est / CAST(t.true_rows AS DOUBLE),
        |    CAST(t.true_rows AS DOUBLE) / e.est) AS q_error
        |FROM truth t JOIN est e ON t.m = e.m ORDER BY t.m""".stripMargin),

    "q_join_graph_stats" ->
      """WITH sides AS (
        |  SELECT 'c_o' AS edge, 'left' AS side, c_custkey AS k
        |  FROM customer
        |  UNION ALL SELECT 'c_o', 'right', o_custkey FROM orders
        |  UNION ALL SELECT 'o_l', 'left', o_orderkey FROM orders
        |  UNION ALL SELECT 'o_l', 'right', l_orderkey FROM lineitem
        |  UNION ALL SELECT 'l_p', 'left', l_partkey FROM lineitem
        |  UNION ALL SELECT 'l_p', 'right', p_partkey FROM part
        |  UNION ALL SELECT 'l_s', 'left', l_suppkey FROM lineitem
        |  UNION ALL SELECT 'l_s', 'right', s_suppkey FROM supplier
        |), per_key AS (
        |  SELECT edge, side, k, COUNT(*) AS cnt
        |  FROM sides GROUP BY edge, side, k
        |)
        |SELECT edge, side, CAST(COUNT(*) AS BIGINT) AS ndv,
        |  CAST(SUM(cnt) AS BIGINT) AS n,
        |  CAST(MAX(cnt) AS BIGINT) AS max_per_key,
        |  CAST(MAX(cnt) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
        |    / CAST(SUM(cnt) AS DOUBLE) AS skew_factor
        |FROM per_key GROUP BY edge, side ORDER BY edge, side""".stripMargin)
}
