package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.{d, dec}

/** Round-12 third batch: the remaining ClickHouse-analog statistics a
  * migrating analyst still reaches for — rank tests, association
  * coefficients, greedy sequence counting, and interval concurrency.
  *
  *  - q_mann_whitney_u: CH `mannWhitneyUTest` between the md5 A/B user
  *    arms on purchase values — midranks with ties as EXACT integers
  *    (2·midrank = 2F + c + 1 per distinct value), tie-corrected
  *    variance from exact integer sufficient statistics, ONE mirrored
  *    IEEE tree for z. The rank table is a distinct-VALUE frame (the
  *    cents price grid), never a per-row sort.
  *  - q_spearman_rho: CH `rankCorr` — Spearman ρ between per-customer
  *    order count and total spend. Doubled midranks keep everything
  *    integral; moment sums ride DECIMAL(38,0) so n·Σxy − ΣxΣy is
  *    exact, then one string-routed double division/sqrt.
  *  - q_sequence_count_greedy: CH `sequenceCount('(?1).*(?2)')` in the
  *    non-overlapping greedy sense — the maximum number of disjoint
  *    (view, later purchase) pairs per user, by the min-cut identity
  *    m = min over positions k of (views ≤ k) + (purchases > k),
  *    one cumulative window per user, no sequential matcher.
  *  - q_max_intersections: CH `maxIntersections` — the peak number of
  *    concurrently-open 5-minute sessions per start day: ±1 boundary
  *    sweep with the total (t, delta, event_id) order (ends sort
  *    before starts at a shared instant — intervals are half-open).
  *  - q_contingency_coef: CH `contingency` + `cramersVBiasCorrected`
  *    over the priority×status table — the q_cramers_v chi² fold, then
  *    C = sqrt(chi²/(chi²+n)), φ², and the Bergsma bias-corrected V,
  *    every double from exact integers in written order.
  */
object Round12cQueries {

  /** Written-order fold of `term` over rows sorted by `key` (the
    * cross-engine-deterministic float sum for handful-sized term sets).
    */
  private def sortedSum(key: Column, term: Column): Column =
    aggregate(array_sort(collect_list(struct(key.as("k"), term.as("t")))),
      lit(0.0), (acc, x) => acc + x.getField("t"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_mann_whitney_u" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .withColumn("g",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            0L).otherwise(1L))
        .withColumn("v", col("value").cast(dec))
      // per distinct VALUE: pooled count c, arm-A count a — the rank
      // table is price-grid-sized, so the cumulative window below runs
      // over a vocabulary frame, never the observation stream
      val byVal = ev.groupBy("v").agg(count(lit(1)).as("c"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("a"))
      val wv = Window.orderBy("v")
      val ranked = byVal.withColumn("f",
        coalesce(sum(col("c")).over(wv.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      // 2·midrank of value v = 2F + c + 1 (exact integer); tie term c³−c
      val stats = ranked.agg(
        sum(col("a")).as("n1"),
        sum(col("c") - col("a")).as("n2"),
        sum(col("c")).as("n"),
        sum(col("a") * (lit(2) * col("f") + col("c") + 1)).as("two_r1"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties_t"))
      stats
        .withColumn("two_u1",
          col("two_r1") - col("n1") * (col("n1") + 1))
        .withColumn("big",
          (col("n") + 1) * col("n") * (col("n") - 1) - col("ties_t"))
        .select(col("n1"), col("n2"), col("two_u1"), col("ties_t"),
          when(col("n1") > 0 && col("n2") > 0 && col("big") > 0,
            (col("two_u1").cast("double") -
              col("n1").cast("double") * col("n2").cast("double")) /
              (lit(2.0) * sqrt(col("n1").cast("double") *
                col("n2").cast("double") * col("big").cast("double") /
                (lit(12.0) * col("n").cast("double") *
                  (col("n").cast("double") - lit(1.0))))))
            .as("z"))
    }),

    "q_spearman_rho" -> ((s, dir) => {
      val per = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("x"),
          sum(col("o_totalprice").cast(dec)).as("y"))
      // doubled midranks per distinct value of each variable
      def ranks(df: DataFrame, c: String): DataFrame = {
        val byVal = df.groupBy(c).agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(c)
        byVal.withColumn("f", coalesce(sum(col("cnt")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col(c), (lit(2) * col("f") + col("cnt") + 1)
            .as(s"r_$c"))
      }
      val dec38 = DecimalType(38, 0)
      val withRanks = per
        .join(ranks(per, "x"), "x")
        .join(ranks(per, "y"), "y")
        .select(col("r_x").cast(dec38).as("rx"),
          col("r_y").cast(dec38).as("ry"))
      val m = withRanks.agg(count(lit(1)).cast(dec38).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("ry")).cast(dec38).as("sxy"),
        sum(col("rx") * col("rx")).cast(dec38).as("sxx"),
        sum(col("ry") * col("ry")).cast(dec38).as("syy"))
      m.withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast(dec38))
        .withColumn("fx", (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast(dec38))
        .withColumn("fy", (col("n") * col("syy") - col("sy") * col("sy"))
          .cast(dec38))
        .select(col("n").cast("long").as("n_customers"),
          when(col("fx") > 0 && col("fy") > 0,
            d(col("num")) / sqrt(d(col("fx")) * d(col("fy"))))
            .as("spearman_rho"),
          d(col("fx")).as("rank_var_x"), d(col("fy")).as("rank_var_y"))
    }),

    "q_sequence_count_greedy" -> ((s, dir) => {
      val vp = Tables(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val cum = vp
        .withColumn("ca", sum(when(col("event_type") === "view", 1L)
          .otherwise(0L)).over(w))
        .withColumn("cb", sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).over(w))
      // min-cut identity: max disjoint (view, later purchase) pairs =
      // min over cut positions k of views(<=k) + purchases(>k); the
      // k = 0 cut is the bare purchase total
      val perUser = cum.groupBy("user_id").agg(
        max(col("ca")).as("ta"), max(col("cb")).as("tb"),
        min(col("ca") - col("cb")).as("min_diff"))
      val scored = perUser
        .withColumn("m", least(col("tb"), col("min_diff") + col("tb")))
      scored.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("m") > 0, 1L).otherwise(0L)).as("users_with_match"),
        sum(col("m")).as("total_matches"),
        max(col("m")).as("max_matches"),
        // greedy <= min(total A, total B) per user — provable bound
        (sum(col("m")) <= sum(least(col("ta"), col("tb"))))
          .as("bound_holds"))
    }),

    "q_max_intersections" -> ((s, dir) => {
      val ses = Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .select(to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val bounds = ses.select(col("day"), col("event_id"),
        explode(array(
          struct(col("us").as("t"), lit(1L).as("delta")),
          struct((col("us") + 300000000L).as("t"),
            lit(-1L).as("delta")))).as("b"))
        .select(col("day"), col("b.t").as("t"), col("b.delta").as("delta"),
          col("event_id"))
      // ends sort before starts at a shared instant (delta -1 < +1):
      // half-open [s, s+300s) sessions that touch do not overlap. The
      // running max inside a (t, delta) tie group is permutation-
      // invariant, so the event_id tail of the order is only for a
      // total (deterministic) sort, not for semantics.
      val w = Window.partitionBy("day").orderBy("t", "delta", "event_id")
      bounds.withColumn("open", sum(col("delta")).over(w))
        .groupBy("day")
        .agg((count(lit(1)) / 2).cast("long").as("n_sessions"),
          max(col("open")).as("max_concurrent"))
        .orderBy("day")
    }),

    "q_contingency_coef" -> ((s, dir) => {
      val cells = graft.CacheScope.retain(Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("p"),
          col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("c")))
      val rows = cells.groupBy("p").agg(sum(col("c")).as("r"))
      val cols = cells.groupBy("st").agg(sum(col("c")).as("cc"))
      val nR = cells.agg(sum(col("c")).as("n"),
        countDistinct(col("p")).as("np"),
        countDistinct(col("st")).as("nst"))
      val chi2F = cells.join(rows, "p").join(cols, "st")
        .crossJoin(broadcast(nR))
        .withColumn("e", (col("r") * col("cc")).cast("double")
          / col("n").cast("double"))
        .withColumn("term",
          (col("c").cast("double") - col("e")) *
            (col("c").cast("double") - col("e")) / col("e"))
        .agg(sortedSum(struct(col("p"), col("st")), col("term"))
          .as("chi2"))
      chi2F.crossJoin(broadcast(nR))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("phi2", col("chi2") / col("nd"))
        // Bergsma bias correction: φ²⁺ = max(0, φ² − (r−1)(c−1)/(n−1)),
        // r⁺ = r − (r−1)²/(n−1), c⁺ = c − (c−1)²/(n−1)
        .withColumn("phi2p", greatest(lit(0.0), col("phi2") -
          ((col("np") - 1) * (col("nst") - 1)).cast("double") /
            (col("nd") - lit(1.0))))
        .withColumn("rp", col("np").cast("double") -
          ((col("np") - 1) * (col("np") - 1)).cast("double") /
            (col("nd") - lit(1.0)))
        .withColumn("cp", col("nst").cast("double") -
          ((col("nst") - 1) * (col("nst") - 1)).cast("double") /
            (col("nd") - lit(1.0)))
        .select(col("n"), col("chi2"),
          when(col("nd") > 0,
            sqrt(col("chi2") / (col("chi2") + col("nd"))))
            .as("contingency_c"),
          when(col("nd") > 0, col("phi2")).as("phi2"),
          when(col("nd") > 1 && least(col("rp"), col("cp")) > 1,
            sqrt(col("phi2p") / (least(col("rp"), col("cp")) - lit(1.0))))
            .as("cramers_v_bias_corrected"))
    }))

  val oracle: Map[String, String] = Map(

    "q_mann_whitney_u" ->
      """WITH ev AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 0 ELSE 1 END AS g
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |), by_val AS (
        |  SELECT v, COUNT(*) AS c,
        |    SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS a
        |  FROM ev GROUP BY v
        |), ranked AS (
        |  SELECT *, COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS f
        |  FROM by_val
        |), stats AS (
        |  SELECT CAST(SUM(a) AS BIGINT) AS n1,
        |    CAST(SUM(c - a) AS BIGINT) AS n2,
        |    CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(a * (2 * f + c + 1)) AS BIGINT) AS two_r1,
        |    CAST(SUM(c * c * c - c) AS BIGINT) AS ties_t
        |  FROM ranked
        |), u AS (
        |  SELECT *, two_r1 - n1 * (n1 + 1) AS two_u1,
        |    (n + 1) * n * (n - 1) - ties_t AS big
        |  FROM stats
        |)
        |SELECT n1, n2, CAST(two_u1 AS BIGINT) AS two_u1, ties_t,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND big > 0 THEN
        |    (CAST(two_u1 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |      * CAST(big AS DOUBLE)
        |      / (12.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
        |  END AS z
        |FROM u""".stripMargin,

    "q_spearman_rho" ->
      """WITH per AS (
        |  SELECT o_custkey, COUNT(*) AS x,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM orders GROUP BY 1
        |), rx_t AS (
        |  SELECT x, 2 * COALESCE(SUM(cnt) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS r_x
        |  FROM (SELECT x, COUNT(*) AS cnt FROM per GROUP BY x)
        |), ry_t AS (
        |  SELECT y, 2 * COALESCE(SUM(cnt) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS r_y
        |  FROM (SELECT y, COUNT(*) AS cnt FROM per GROUP BY y)
        |), wr AS (
        |  -- HUGEINT moment sums (DuckDB's exact 128-bit path; a
        |  -- DECIMAL(38,0) x DECIMAL(38,0) would exceed max width)
        |  SELECT CAST(r_x AS HUGEINT) AS rx, CAST(r_y AS HUGEINT) AS ry
        |  FROM per JOIN rx_t USING (x) JOIN ry_t USING (y)
        |), m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(rx) AS sx, SUM(ry) AS sy,
        |    SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx,
        |    SUM(ry * ry) AS syy
        |  FROM wr
        |), f AS (
        |  SELECT CAST(n AS BIGINT) AS n_customers,
        |    n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS fx,
        |    n * syy - sy * sy AS fy
        |  FROM m
        |)
        |SELECT n_customers,
        |  CASE WHEN fx > 0 AND fy > 0 THEN
        |    CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    / sqrt(CAST(CAST(fx AS VARCHAR) AS DOUBLE)
        |      * CAST(CAST(fy AS VARCHAR) AS DOUBLE))
        |  END AS spearman_rho,
        |  CAST(CAST(fx AS VARCHAR) AS DOUBLE) AS rank_var_x,
        |  CAST(CAST(fy AS VARCHAR) AS DOUBLE) AS rank_var_y
        |FROM f""".stripMargin,

    "q_sequence_count_greedy" ->
      """WITH vp AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |), cum AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER w AS ca,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER w AS cb
        |  FROM vp
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), per_user AS (
        |  SELECT user_id, MAX(ca) AS ta, MAX(cb) AS tb,
        |    MIN(ca - cb) AS min_diff
        |  FROM cum GROUP BY 1
        |), scored AS (
        |  SELECT *, LEAST(tb, min_diff + tb) AS m FROM per_user
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS users_with_match,
        |  CAST(SUM(m) AS BIGINT) AS total_matches,
        |  CAST(MAX(m) AS BIGINT) AS max_matches,
        |  SUM(m) <= SUM(LEAST(ta, tb)) AS bound_holds
        |FROM scored""".stripMargin,

    "q_max_intersections" ->
      """WITH ses AS (
        |  SELECT CAST(ts AS DATE) AS day, epoch_us(ts) AS us, event_id
        |  FROM events WHERE ts IS NOT NULL
        |), bounds AS (
        |  SELECT day, us AS t, 1 AS delta, event_id FROM ses
        |  UNION ALL
        |  SELECT day, us + 300000000 AS t, -1 AS delta, event_id FROM ses
        |), swept AS (
        |  SELECT day, SUM(delta) OVER (PARTITION BY day
        |    ORDER BY t, delta, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM bounds
        |)
        |SELECT day, CAST(COUNT(*) // 2 AS BIGINT) AS n_sessions,
        |  CAST(MAX(open) AS BIGINT) AS max_concurrent
        |FROM swept GROUP BY day ORDER BY day""".stripMargin,

    "q_contingency_coef" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS p, o_orderstatus AS st, COUNT(*) AS c
        |  FROM orders GROUP BY 1, 2
        |), rows_t AS (SELECT p, SUM(c) AS r FROM cells GROUP BY p),
        |cols_t AS (SELECT st, SUM(c) AS cc FROM cells GROUP BY st),
        |n_t AS (
        |  SELECT SUM(c) AS n, COUNT(DISTINCT p) AS np,
        |    COUNT(DISTINCT st) AS nst
        |  FROM cells
        |), chi AS (
        |  SELECT list_reduce(
        |    [CAST(0.0 AS DOUBLE)] || COALESCE(list(
        |      (CAST(c AS DOUBLE) -
        |        CAST(r * cc AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(c AS DOUBLE) -
        |        CAST(r * cc AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(r * cc AS DOUBLE) / CAST(n AS DOUBLE))
        |      ORDER BY p, st), []),
        |    (a, b) -> a + b) AS chi2
        |  FROM cells JOIN rows_t USING (p) JOIN cols_t USING (st), n_t
        |), fin AS (
        |  SELECT n_t.n, chi.chi2, CAST(n_t.n AS DOUBLE) AS nd,
        |    chi.chi2 / CAST(n_t.n AS DOUBLE) AS phi2,
        |    GREATEST(0.0, chi.chi2 / CAST(n_t.n AS DOUBLE) -
        |      CAST((n_t.np - 1) * (n_t.nst - 1) AS DOUBLE)
        |        / (CAST(n_t.n AS DOUBLE) - 1.0)) AS phi2p,
        |    CAST(n_t.np AS DOUBLE) -
        |      CAST((n_t.np - 1) * (n_t.np - 1) AS DOUBLE)
        |        / (CAST(n_t.n AS DOUBLE) - 1.0) AS rp,
        |    CAST(n_t.nst AS DOUBLE) -
        |      CAST((n_t.nst - 1) * (n_t.nst - 1) AS DOUBLE)
        |        / (CAST(n_t.n AS DOUBLE) - 1.0) AS cp
        |  FROM chi, n_t
        |)
        |SELECT CAST(n AS BIGINT) AS n, chi2,
        |  CASE WHEN nd > 0 THEN sqrt(chi2 / (chi2 + nd)) END
        |    AS contingency_c,
        |  CASE WHEN nd > 0 THEN phi2 END AS phi2,
        |  CASE WHEN nd > 1 AND LEAST(rp, cp) > 1 THEN
        |    sqrt(phi2p / (LEAST(rp, cp) - 1.0)) END
        |    AS cramers_v_bias_corrected
        |FROM fin""".stripMargin)
}
