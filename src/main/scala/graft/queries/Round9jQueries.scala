package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-9 tenth batch: survey-sampling design — the statistical layer
  * behind every "sample 0.1% of 100 TB and estimate" decision. The
  * engine has the sampling EXECUTORS (split/stratified/reservoir/
  * importance/Gumbel); this batch adds the DESIGNERS that choose and
  * audit the plans:
  *
  *  - q_neyman_allocation: optimal per-stratum sample sizes n_h ∝
  *    N_h·σ_h for a 1000-row budget over the 5 order-priority strata,
  *    vs proportional allocation (σ from exact decimal sufficient
  *    stats; the cross-strata normalizer folds the 5 named stratum
  *    terms in WRITTEN order, never through a float aggregate).
  *  - q_design_effect: estimator variances under SRS / proportional /
  *    Neyman at n=1000 and the design effects — how much stratification
  *    buys, as one auditable row.
  *  - q_horvitz_thompson: PPS (π ∝ price, 16..1024 of 1024 quantized)
  *    estimate of the ORDER COUNT via Σ1/π over an md5-coin sample;
  *    the inverse-probability mass sums in exact integer micro-units
  *    (1024e6 div k), so the estimate is bitwise cross-engine.
  *
  * Scale posture: sufficient stats are one map-side-combined aggregate;
  * the designers run on 5-row / 1-row frames; the HT sample arm is one
  * scan with a deterministic coin — nothing shuffles more than the
  * stratum table.
  */
object Round9jQueries {

  private val priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Per-stratum exact sufficient stats with the string-route double
    * boundary (the CORRECTNESS_sf0001 class): n, s, ss -> sigma.
    */
  private def strata(s: SparkSession, dir: String): DataFrame = {
    val p = col("o_totalprice").cast(dec)
    Tables(s, dir, "orders").groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_h"),
        sum(p).cast("string").cast("double").as("s_h"),
        sum(p * p).cast("string").cast("double").as("ss_h"))
      .withColumn("var_h",
        (col("n_h").cast("double") * col("ss_h") - col("s_h") * col("s_h"))
          / (col("n_h").cast("double") * (col("n_h").cast("double") - 1.0)))
      .withColumn("sigma_h", sqrt(col("var_h")))
  }

  /** One row with the 5 stratum (N·σ) and (N·σ²) terms as NAMED columns
    * plus their written-order sums — the fixed-order cross-strata fold.
    */
  private def normalizers(st: DataFrame): DataFrame = {
    def term(i: Int): Column =
      max(when(col("o_orderpriority") === priorities(i),
        col("n_h").cast("double") * col("sigma_h")))
    def term2(i: Int): Column =
      max(when(col("o_orderpriority") === priorities(i),
        col("n_h").cast("double") * col("var_h")))
    st.agg(
        term(0).as("w0"), term(1).as("w1"), term(2).as("w2"),
        term(3).as("w3"), term(4).as("w4"),
        term2(0).as("v0"), term2(1).as("v1"), term2(2).as("v2"),
        term2(3).as("v3"), term2(4).as("v4"),
        sum("n_h").as("n_total"))
      .withColumn("w_sum",
        col("w0") + col("w1") + col("w2") + col("w3") + col("w4"))
      .withColumn("v_sum",
        col("v0") + col("v1") + col("v2") + col("v3") + col("v4"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_neyman_allocation" -> ((s, dir) => {
      val st = graft.CacheScope.retain(strata(s, dir))
      st.crossJoin(broadcast(normalizers(st)))
        .select(col("o_orderpriority"), col("n_h"), col("sigma_h"),
          floor(lit(1000.0) * col("n_h").cast("double") * col("sigma_h")
            / col("w_sum")).cast("long").as("neyman_n"),
          floor(lit(1000.0) * col("n_h").cast("double")
            / col("n_total").cast("double")).cast("long").as("prop_n"))
        .orderBy("o_orderpriority")
    }),

    "q_design_effect" -> ((s, dir) => {
      val p = col("o_totalprice").cast(dec)
      val global = Tables(s, dir, "orders").agg(
          count(lit(1)).as("n"),
          sum(p).cast("string").cast("double").as("s"),
          sum(p * p).cast("string").cast("double").as("ss"))
        .withColumn("var_all",
          (col("n").cast("double") * col("ss") - col("s") * col("s"))
            / (col("n").cast("double") * (col("n").cast("double") - 1.0)))
      val nm = normalizers(strata(s, dir))
      global.crossJoin(broadcast(nm))
        .select(col("n"),
          (col("var_all") / 1000.0).as("v_srs"),
          (col("v_sum") / col("n_total").cast("double") / 1000.0)
            .as("v_prop"),
          (col("w_sum") / col("n_total").cast("double"))
            .as("mean_nsigma"))
        .withColumn("v_neyman",
          col("mean_nsigma") * col("mean_nsigma") / 1000.0)
        .select(col("n"), col("v_srs"), col("v_prop"), col("v_neyman"),
          (col("v_prop") / col("v_srs")).as("deff_prop"),
          (col("v_neyman") / col("v_srs")).as("deff_neyman"))
    }),

    "q_horvitz_thompson" -> ((s, dir) => {
      // pi_i = k_i/1024 with k = clamp(floor(price/500), 16, 1024):
      // bigger orders are (near-)certainly sampled, small ones rarely
      val o = Tables(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice").cast(dec).as("price"))
        .withColumn("k", least(lit(1024L), greatest(lit(16L),
          floor(col("price").cast("double") / 500.0).cast("long"))))
        .withColumn("coin", pmod(
          conv(substring(md5(concat(lit("ht"),
            col("o_orderkey").cast("string"))), 1, 8), 16, 10).cast("long"),
          lit(1024L)))
        .withColumn("sampled", col("coin") < col("k"))
      o.agg(
          count(lit(1)).as("n_pop"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
          // Sigma 1/pi in exact integer micro-units: 1024e6 div k
          sum(when(col("sampled"),
            call_function("div", lit(1024000000L), col("k")))
            .otherwise(0L)).as("inv_micro"))
        .select(col("n_pop"), col("n_sampled"),
          (col("inv_micro").cast("double") / 1000000.0).as("n_hat"))
        .withColumn("rel_err",
          abs(col("n_hat") - col("n_pop").cast("double"))
            / col("n_pop").cast("double"))
    }))

  /** Shared oracle CTEs: per-stratum stats + the fixed-order fold. */
  private val strataCte =
    """WITH st AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_h,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
      |      AS DOUBLE) AS s_h,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
      |      * CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
      |      AS ss_h
      |  FROM orders GROUP BY o_orderpriority
      |), stv AS (
      |  SELECT o_orderpriority, n_h, s_h, ss_h,
      |    (CAST(n_h AS DOUBLE) * ss_h - s_h * s_h)
      |      / (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1.0)) AS var_h,
      |    sqrt((CAST(n_h AS DOUBLE) * ss_h - s_h * s_h)
      |      / (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1.0)))
      |      AS sigma_h
      |  FROM st
      |), nm AS (
      |  SELECT
      |    MAX(CASE WHEN o_orderpriority = '1-URGENT'
      |      THEN CAST(n_h AS DOUBLE) * sigma_h END) AS w0,
      |    MAX(CASE WHEN o_orderpriority = '2-HIGH'
      |      THEN CAST(n_h AS DOUBLE) * sigma_h END) AS w1,
      |    MAX(CASE WHEN o_orderpriority = '3-MEDIUM'
      |      THEN CAST(n_h AS DOUBLE) * sigma_h END) AS w2,
      |    MAX(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
      |      THEN CAST(n_h AS DOUBLE) * sigma_h END) AS w3,
      |    MAX(CASE WHEN o_orderpriority = '5-LOW'
      |      THEN CAST(n_h AS DOUBLE) * sigma_h END) AS w4,
      |    MAX(CASE WHEN o_orderpriority = '1-URGENT'
      |      THEN CAST(n_h AS DOUBLE) * var_h END) AS v0,
      |    MAX(CASE WHEN o_orderpriority = '2-HIGH'
      |      THEN CAST(n_h AS DOUBLE) * var_h END) AS v1,
      |    MAX(CASE WHEN o_orderpriority = '3-MEDIUM'
      |      THEN CAST(n_h AS DOUBLE) * var_h END) AS v2,
      |    MAX(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
      |      THEN CAST(n_h AS DOUBLE) * var_h END) AS v3,
      |    MAX(CASE WHEN o_orderpriority = '5-LOW'
      |      THEN CAST(n_h AS DOUBLE) * var_h END) AS v4,
      |    CAST(SUM(n_h) AS BIGINT) AS n_total
      |  FROM stv
      |), nms AS (
      |  SELECT *, w0 + w1 + w2 + w3 + w4 AS w_sum,
      |    v0 + v1 + v2 + v3 + v4 AS v_sum
      |  FROM nm
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_neyman_allocation" -> (strataCte +
      """
        |SELECT o_orderpriority, n_h, sigma_h,
        |  CAST(FLOOR(1000.0 * CAST(n_h AS DOUBLE) * sigma_h / w_sum)
        |    AS BIGINT) AS neyman_n,
        |  CAST(FLOOR(1000.0 * CAST(n_h AS DOUBLE)
        |    / CAST(n_total AS DOUBLE)) AS BIGINT) AS prop_n
        |FROM stv, nms ORDER BY o_orderpriority""".stripMargin),

    "q_design_effect" -> (strataCte +
      """, g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
        |      AS DOUBLE) AS s,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
        |      * CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |      AS ss
        |  FROM orders
        |), gv AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * ss - s * s)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_all
        |  FROM g
        |)
        |SELECT n, var_all / 1000.0 AS v_srs,
        |  v_sum / CAST(n_total AS DOUBLE) / 1000.0 AS v_prop,
        |  (w_sum / CAST(n_total AS DOUBLE))
        |    * (w_sum / CAST(n_total AS DOUBLE)) / 1000.0 AS v_neyman,
        |  (v_sum / CAST(n_total AS DOUBLE) / 1000.0) / (var_all / 1000.0)
        |    AS deff_prop,
        |  ((w_sum / CAST(n_total AS DOUBLE))
        |    * (w_sum / CAST(n_total AS DOUBLE)) / 1000.0)
        |    / (var_all / 1000.0) AS deff_neyman
        |FROM gv, nms""".stripMargin),

    "q_horvitz_thompson" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders
        |), k AS (
        |  SELECT o_orderkey,
        |    LEAST(1024, GREATEST(16,
        |      CAST(FLOOR(CAST(price AS DOUBLE) / 500.0) AS BIGINT))) AS k,
        |    CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(
        |      string_split_regex(
        |        substring(md5('ht' || CAST(o_orderkey AS VARCHAR)), 1, 8),
        |        ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (acc, v) -> acc * 16 + v) AS BIGINT) % 1024 AS coin
        |  FROM o
        |), flagged AS (
        |  SELECT k, coin < k AS sampled FROM k
        |), agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
        |    CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sampled,
        |    CAST(SUM(CASE WHEN sampled THEN 1024000000 // k ELSE 0 END)
        |      AS BIGINT) AS inv_micro
        |  FROM flagged
        |)
        |SELECT n_pop, n_sampled,
        |  CAST(inv_micro AS DOUBLE) / 1000000.0 AS n_hat,
        |  abs(CAST(inv_micro AS DOUBLE) / 1000000.0 - CAST(n_pop AS DOUBLE))
        |    / CAST(n_pop AS DOUBLE) AS rel_err
        |FROM agg""".stripMargin)
}
