package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch r: observational causal inference by caliper
  * matching — 1-nearest-neighbor (with replacement) covariate matching,
  * the matched-pair ATT estimate, and the covariate-balance audit
  * (standardized mean difference before vs after) that justifies it.
  * Treatment = BUILDING-segment customers, covariate = account balance,
  * outcome = total order spend.
  *
  * Determinism: the covariate is snapped to integer CENTS through
  * DECIMAL(18,2) once, so every gap, mean, and variance is integer
  * arithmetic until one final VARCHAR-routed division (and one IEEE
  * sqrt for the SMD denominator). Nearest-neighbor selection is a
  * row_number over the TOTAL (|gap|, control key) order.
  *
  * Scale posture: candidate generation is the engine's banded
  * decomposition — controls bucketed by the caliper width, treated
  * exploded to ±1 buckets, hash equi-join + residual |gap| ≤ caliper —
  * never treated × control. The argmin window partitions by the
  * treated key. This is q_bucketed_range_join's shape applied to the
  * matching problem (and what BandJoinRewrite would do to the naive
  * formulation mechanically).
  *
  *  - q_caliper_match: match-rate summary (treated, matched, distinct
  *    controls used, exact gap mass).
  *  - q_matched_att: ATT over matched pairs vs the naive unmatched
  *    difference of means.
  *  - q_match_balance: covariate SMD before vs after matching — the
  *    balance table a reviewer reads first.
  */
object Round10rQueries {

  private val CaliperCents = 1000L // $10
  private val Shift = 100000L      // acctbal >= -$994.28 -> nonneg cents

  /** Units: (custkey, treated flag, covariate cents, outcome cents). */
  private def units(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(col("c_custkey").as("k"),
        (col("c_mktsegment") === "BUILDING").as("treated"),
        (col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("long").as("x"))
    val spend = Tables(s, dir, "orders")
      .groupBy(col("o_custkey").as("k"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("y"))
    c.join(spend, Seq("k"), "left")
      .select(col("k"), col("treated"), col("x"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** Matched pairs: per treated unit, the nearest control within the
    * caliper (ties: smaller control key), via ±1-bucket candidates.
    */
  private def pairs(u: DataFrame): DataFrame = {
    val treated = u.filter(col("treated"))
      .select(col("k").as("tk"), col("x").as("tx"), col("y").as("ty"))
      .withColumn("b0", expr(s"(tx + $Shift) div $CaliperCents"))
      .withColumn("b", explode(array(col("b0") - 1, col("b0"),
        col("b0") + 1)))
    val control = u.filter(!col("treated"))
      .select(col("k").as("ck"), col("x").as("cx"), col("y").as("cy"))
      .withColumn("b", expr(s"(cx + $Shift) div $CaliperCents"))
    val cand = treated.join(control, Seq("b"))
      .withColumn("adx", abs(col("tx") - col("cx")))
      .filter(col("adx") <= CaliperCents)
    val w = Window.partitionBy("tk").orderBy(col("adx"), col("ck"))
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("tk", "tx", "ty", "ck", "cx", "cy", "adx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_caliper_match" -> ((s, dir) => {
      val u = graft.CacheScope.retain(units(s, dir))
      val p = pairs(u)
      val nT = u.filter(col("treated")).agg(count(lit(1)).as("n_treated"))
      p.agg(count(lit(1)).as("n_matched"),
          countDistinct(col("ck")).as("n_controls_used"),
          coalesce(sum(col("adx")), lit(0L)).as("gap_mass_cents"))
        .crossJoin(broadcast(nT))
        .withColumn("match_rate", expr("try_divide(n_matched, n_treated)"))
        .withColumn("mean_gap_cents",
          expr("try_divide(gap_mass_cents, n_matched)"))
        .select("n_treated", "n_matched", "n_controls_used",
          "gap_mass_cents", "match_rate", "mean_gap_cents")
    }),

    "q_matched_att" -> ((s, dir) => {
      val u = graft.CacheScope.retain(units(s, dir))
      val p = pairs(u)
      val att = p.agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("ty") - col("cy")), lit(0L)).as("dy_cents"))
      val naive = u.agg(
        coalesce(sum(when(col("treated"), col("y"))), lit(0L)).as("sy_t"),
        count(when(col("treated"), lit(1))).as("n_t"),
        coalesce(sum(when(!col("treated"), col("y"))), lit(0L)).as("sy_c"),
        count(when(!col("treated"), lit(1))).as("n_c"))
      att.crossJoin(broadcast(naive))
        .withColumn("att_cents", expr("try_divide(dy_cents, n_pairs)"))
        .withColumn("naive_diff_cents",
          expr("try_divide(sy_t, n_t) - try_divide(sy_c, n_c)"))
        .select("n_pairs", "dy_cents", "att_cents", "naive_diff_cents")
    }),

    "q_match_balance" -> ((s, dir) => {
      val u = graft.CacheScope.retain(units(s, dir))
      val p = pairs(u)
      // sufficient stats per arm, before (all units) and after (the
      // matched pairs, controls with multiplicity)
      def stats(df: DataFrame, xc: String, stage: String, arm: String) =
        df.agg(count(lit(1)).as("n"),
          coalesce(sum(col(xc)), lit(0L)).as("s"),
          coalesce(sum(col(xc) * col(xc)).cast("decimal(38,0)"),
            lit(0).cast("decimal(38,0)")).as("ssq"))
          .select(lit(stage).as("stage"), lit(arm).as("arm"),
            col("n"), col("s"), col("ssq"))
      val four = Seq(
        stats(u.filter(col("treated")), "x", "before", "treated"),
        stats(u.filter(!col("treated")), "x", "before", "control"),
        stats(p, "tx", "after", "treated"),
        stats(p, "cx", "after", "control")).reduce(_ unionByName _)
      // mean and variance from exact integers; SMD joins the two arms
      val m = four
        .withColumn("mean", expr("try_divide(s, n)"))
        // n = 0 guarded explicitly: Spark double/0.0 is IEEE Inf/NaN
        // while DuckDB x/0.0 is NULL — the when() mirrors DuckDB
        .withColumn("var", when(col("n") > 0, expr(
          "CAST(CAST(n * ssq - CAST(s AS DECIMAL(38,0)) " +
            "* CAST(s AS DECIMAL(38,0)) AS STRING) AS DOUBLE) / " +
            "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE))")))
      val tArm = m.filter(col("arm") === "treated")
        .select(col("stage"), col("n").as("n_t"), col("mean").as("mean_t"),
          col("var").as("var_t"))
      val cArm = m.filter(col("arm") === "control")
        .select(col("stage"), col("n").as("n_c"), col("mean").as("mean_c"),
          col("var").as("var_c"))
      tArm.join(cArm, Seq("stage"))
        // zero pooled variance -> NULL (DuckDB's x/0.0), not NaN
        .withColumn("smd",
          when(sqrt((col("var_t") + col("var_c")) / lit(2.0)) > 0,
            (col("mean_t") - col("mean_c"))
              / sqrt((col("var_t") + col("var_c")) / lit(2.0))))
        .select("stage", "n_t", "n_c", "mean_t", "mean_c", "var_t",
          "var_c", "smd")
        .orderBy("stage")
    }))

  private val baseSql =
    s"""units AS (
       |  SELECT c.c_custkey AS k,
       |    c.c_mktsegment = 'BUILDING' AS treated,
       |    CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
       |    COALESCE(o.y, 0) AS y
       |  FROM customer c LEFT JOIN (
       |    SELECT o_custkey,
       |      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
       |        AS BIGINT) AS y
       |    FROM orders GROUP BY 1
       |  ) o ON c.c_custkey = o.o_custkey
       |), cand AS (
       |  SELECT t.k AS tk, t.x AS tx, t.y AS ty,
       |    c.k AS ck, c.x AS cx, c.y AS cy,
       |    abs(t.x - c.x) AS adx
       |  FROM units t JOIN units c
       |    ON c.treated = FALSE AND t.treated = TRUE
       |    AND ((c.x + $Shift) // $CaliperCents)
       |      BETWEEN ((t.x + $Shift) // $CaliperCents) - 1
       |          AND ((t.x + $Shift) // $CaliperCents) + 1
       |    AND abs(t.x - c.x) <= $CaliperCents
       |), pairs AS (
       |  SELECT * FROM (
       |    SELECT cand.*, row_number() OVER (PARTITION BY tk
       |      ORDER BY adx, ck) AS rn
       |    FROM cand
       |  ) WHERE rn = 1
       |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_caliper_match" ->
      s"""WITH $baseSql
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM units WHERE treated)
         |    AS n_treated,
         |  CAST(COUNT(*) AS BIGINT) AS n_matched,
         |  CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_controls_used,
         |  CAST(COALESCE(SUM(adx), 0) AS BIGINT) AS gap_mass_cents,
         |  COUNT(*) / NULLIF((SELECT COUNT(*) FROM units WHERE treated), 0)
         |    AS match_rate,
         |  COALESCE(SUM(adx), 0) / NULLIF(COUNT(*), 0) AS mean_gap_cents
         |FROM pairs""".stripMargin,

    "q_matched_att" ->
      s"""WITH $baseSql, att AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(COALESCE(SUM(ty - cy), 0) AS BIGINT) AS dy_cents
         |  FROM pairs
         |), naive AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN treated THEN y END), 0)
         |      AS BIGINT) AS sy_t,
         |    CAST(COUNT(CASE WHEN treated THEN 1 END) AS BIGINT) AS n_t,
         |    CAST(COALESCE(SUM(CASE WHEN NOT treated THEN y END), 0)
         |      AS BIGINT) AS sy_c,
         |    CAST(COUNT(CASE WHEN NOT treated THEN 1 END) AS BIGINT)
         |      AS n_c
         |  FROM units
         |)
         |SELECT n_pairs, dy_cents,
         |  dy_cents / NULLIF(n_pairs, 0) AS att_cents,
         |  sy_t / NULLIF(n_t, 0) - sy_c / NULLIF(n_c, 0)
         |    AS naive_diff_cents
         |FROM att CROSS JOIN naive""".stripMargin,

    "q_match_balance" ->
      s"""WITH $baseSql, four AS (
         |  SELECT 'before' AS stage, 'treated' AS arm,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(x), 0) AS BIGINT) AS s,
         |    CAST(COALESCE(SUM(CAST(x AS HUGEINT) * x), 0)
         |      AS DECIMAL(38,0)) AS ssq
         |  FROM units WHERE treated
         |  UNION ALL
         |  SELECT 'before', 'control', CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(x), 0) AS BIGINT),
         |    CAST(COALESCE(SUM(CAST(x AS HUGEINT) * x), 0)
         |      AS DECIMAL(38,0))
         |  FROM units WHERE NOT treated
         |  UNION ALL
         |  SELECT 'after', 'treated', CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(tx), 0) AS BIGINT),
         |    CAST(COALESCE(SUM(CAST(tx AS HUGEINT) * tx), 0)
         |      AS DECIMAL(38,0))
         |  FROM pairs
         |  UNION ALL
         |  SELECT 'after', 'control', CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(cx), 0) AS BIGINT),
         |    CAST(COALESCE(SUM(CAST(cx AS HUGEINT) * cx), 0)
         |      AS DECIMAL(38,0))
         |  FROM pairs
         |), m AS (
         |  SELECT stage, arm, n, s, ssq,
         |    s / NULLIF(n, 0) AS mean,
         |    CAST(CAST(n * ssq - CAST(s AS DECIMAL(38,0))
         |        * CAST(s AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
         |      / NULLIF(CAST(n AS DOUBLE) * CAST(n AS DOUBLE), 0)
         |      AS var
         |  FROM four
         |)
         |SELECT t.stage, t.n AS n_t, c.n AS n_c,
         |  t.mean AS mean_t, c.mean AS mean_c,
         |  t.var AS var_t, c.var AS var_c,
         |  (t.mean - c.mean) / sqrt((t.var + c.var) / 2.0) AS smd
         |FROM m t JOIN m c ON t.stage = c.stage
         |  AND t.arm = 'treated' AND c.arm = 'control'
         |ORDER BY t.stage""".stripMargin)
}
