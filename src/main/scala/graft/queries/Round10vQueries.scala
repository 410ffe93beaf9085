package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch v: randomization inference — the permutation test
  * that closes the experimentation family (CUPED, DiD placebo, power
  * analysis, SRM, uplift in earlier batches). Instead of assuming a
  * variance formula, the null distribution is CONSTRUCTED: the
  * treatment labels are re-drawn K = 20 times by independent md5
  * coins, the statistic recomputed under each relabeling, and the
  * p-value read off as the exact rank of the observed statistic —
  * (1 + #{|placebo| ≥ |observed|}) / (1 + K), the standard
  * finite-sample-valid estimator.
  *
  * Everything is exact: outcomes in integer cents, every mean one
  * try_divide of exact integers, placebo diffs compared as doubles
  * that both engines derive from identical integer quotients. The
  * K relabelings are built by ONE explode over a 20-row literal spine
  * — a single pass over the per-user frame, never K jobs.
  *
  * Scale posture: the per-user reduction is the only data-sized pass;
  * the relabeled cells are (K+1)×2 rows. At 100 TB the explode
  * multiplies the USER frame (already aggregated) by K, not the event
  * log.
  *
  *  - q_randomization_test: observed treated-vs-control spend diff +
  *    exact permutation p-value from 20 placebo relabelings.
  *  - q_placebo_distribution: the full (k, diff) null distribution —
  *    the auditable artifact behind the p-value.
  *  - q_perm_test_strata: the same protocol stratified (relabeling
  *    within activity stratum, stratum-size-weighted diff) — the
  *    design-respecting variant for stratified experiments.
  */
object Round10vQueries {

  private val K = 20

  /** md5-coin in {0,1} from a salted user key. Salt 0 is the REAL
    * assignment (matches batch 10s's unsalted coin semantics via a
    * distinct prefix so this batch's experiment is self-contained).
    */
  private def coin(salt: Column, user: Column): Column =
    pmod(conv(substring(md5(concat(salt.cast("string"), lit(":"),
      user.cast("string"))), 1, 8), 16, 10).cast("long"), lit(2L))

  /** Per-user outcome frame: total event value in cents. */
  private def perUser(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy("user_id")
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("long").as("y"),
        count(lit(1)).as("n_events"))

  /** (k, arm, n, sy) cells for k = 0 (real) .. K (placebos). */
  private def cells(s: SparkSession, dir: String): DataFrame = {
    val spine = {
      import s.implicits._
      (0 to K).map(k => Tuple1(k)).toDF("k")
    }
    perUser(s, dir)
      .crossJoin(broadcast(spine))
      .withColumn("arm", coin(col("k"), col("user_id")))
      .groupBy("k", "arm")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("y")), lit(0L)).as("sy"))
  }

  /** Per-k diff of arm means from the cell table. */
  private def diffs(c: DataFrame): DataFrame = {
    val tArm = c.filter(col("arm") === 1)
      .select(col("k"), col("n").as("n_t"), col("sy").as("sy_t"))
    val cArm = c.filter(col("arm") === 0)
      .select(col("k"), col("n").as("n_c"), col("sy").as("sy_c"))
    tArm.join(cArm, Seq("k"))
      .withColumn("diff",
        expr("try_divide(sy_t, n_t) - try_divide(sy_c, n_c)"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_randomization_test" -> ((s, dir) => {
      val d = graft.CacheScope.retain(diffs(cells(s, dir)))
      // 1-row AGGREGATE (not a filter projection): on degenerate input
      // with no k = 0 row (empty events / single-arm data) this still
      // yields one NULL-valued row, matching the oracle's scalar
      // subqueries — a bare filter would collapse the output to 0 rows
      val obs = d.filter(col("k") === 0)
        .agg(max(col("diff")).as("observed"),
          max(col("n_t")).as("n_t"), max(col("n_c")).as("n_c"))
      val placebo = d.filter(col("k") > 0)
        .crossJoin(broadcast(obs.select("observed")))
        .agg(count(lit(1)).as("n_placebos"),
          coalesce(sum((abs(col("diff")) >= abs(col("observed")))
            .cast("long")), lit(0L)).as("n_extreme"))
      obs.crossJoin(broadcast(placebo))
        .withColumn("p_value",
          expr("try_divide(1 + n_extreme, 1 + n_placebos)"))
        .select("observed", "n_t", "n_c", "n_placebos", "n_extreme",
          "p_value")
    }),

    "q_placebo_distribution" -> ((s, dir) => {
      diffs(cells(s, dir))
        .select("k", "n_t", "n_c", "diff")
        .orderBy("k")
    }),

    "q_perm_test_strata" -> ((s, dir) => {
      val spine = {
        import s.implicits._
        (0 to K).map(k => Tuple1(k)).toDF("k")
      }
      val u = perUser(s, dir)
        .withColumn("stratum",
          when(col("n_events") <= 60, 0)
            .when(col("n_events") <= 66, 1)
            .when(col("n_events") <= 73, 2)
            .otherwise(3))
      val cell = u.crossJoin(broadcast(spine))
        .withColumn("arm", coin(col("k"), col("user_id")))
        .groupBy("k", "stratum", "arm")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("y")), lit(0L)).as("sy"))
      val tArm = cell.filter(col("arm") === 1)
        .select(col("k"), col("stratum"), col("n").as("n_t"),
          col("sy").as("sy_t"))
      val cArm = cell.filter(col("arm") === 0)
        .select(col("k"), col("stratum"), col("n").as("n_c"),
          col("sy").as("sy_c"))
      // stratum-weighted diff: sum_h w_h * diff_h with w_h = n_h / N,
      // folded as exact integers before the single division per term:
      // (n_h * diff_h) summed then / N would re-order floats — instead
      // emit the per-stratum terms and weight by EXACT integer n_h,
      // summing k-wise over the FIXED 4-stratum alphabet as named
      // columns (written-order, both engines)
      val byStratum = tArm.join(cArm, Seq("k", "stratum"))
        .withColumn("diff_h",
          expr("try_divide(sy_t, n_t) - try_divide(sy_c, n_c)"))
        .withColumn("n_h", col("n_t") + col("n_c"))
      val wide = byStratum.groupBy("k")
        .agg(
          sum(when(col("stratum") === 0, col("diff_h") * col("n_h")))
            .as("t0"),
          sum(when(col("stratum") === 1, col("diff_h") * col("n_h")))
            .as("t1"),
          sum(when(col("stratum") === 2, col("diff_h") * col("n_h")))
            .as("t2"),
          sum(when(col("stratum") === 3, col("diff_h") * col("n_h")))
            .as("t3"),
          sum(col("n_h")).as("n_total"))
        .withColumn("wdiff",
          (coalesce(col("t0"), lit(0.0)) + coalesce(col("t1"), lit(0.0))
            + coalesce(col("t2"), lit(0.0))
            + coalesce(col("t3"), lit(0.0)))
            / col("n_total").cast("double"))
      val obs = wide.filter(col("k") === 0)
        .select(col("wdiff").as("observed"))
      wide.filter(col("k") > 0)
        .crossJoin(broadcast(obs))
        .agg(max(col("observed")).as("observed"),
          count(lit(1)).as("n_placebos"),
          coalesce(sum((abs(col("wdiff")) >= abs(col("observed")))
            .cast("long")), lit(0L)).as("n_extreme"))
        .withColumn("p_value",
          expr("try_divide(1 + n_extreme, 1 + n_placebos)"))
        .select("observed", "n_placebos", "n_extreme", "p_value")
    }))

  private def coinSql(salt: String, user: String): String =
    s"""CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(
       |      string_split_regex(substring(md5(
       |        CAST($salt AS VARCHAR) || ':' || CAST($user AS VARCHAR)
       |      ), 1, 8), ''),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
       |      (acc, v) -> acc * 16 + v) % 2 AS BIGINT)""".stripMargin

  private val baseSql =
    s"""pu AS (
       |  SELECT user_id,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1
       |), spine AS (
       |  SELECT range AS k FROM range(0, ${K + 1})
       |), labeled AS (
       |  SELECT s.k, pu.user_id, pu.y, pu.n_events,
       |    ${coinSql("s.k", "pu.user_id")} AS arm
       |  FROM pu CROSS JOIN spine s
       |), cells AS (
       |  SELECT k, arm, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COALESCE(SUM(y), 0) AS BIGINT) AS sy
       |  FROM labeled GROUP BY 1, 2
       |), diffs AS (
       |  SELECT t.k, t.n AS n_t, c.n AS n_c,
       |    t.sy / NULLIF(t.n, 0) - c.sy / NULLIF(c.n, 0) AS diff
       |  FROM (SELECT * FROM cells WHERE arm = 1) t
       |  JOIN (SELECT * FROM cells WHERE arm = 0) c ON t.k = c.k
       |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_randomization_test" ->
      s"""WITH $baseSql
         |SELECT
         |  (SELECT diff FROM diffs WHERE k = 0) AS observed,
         |  (SELECT n_t FROM diffs WHERE k = 0) AS n_t,
         |  (SELECT n_c FROM diffs WHERE k = 0) AS n_c,
         |  CAST(COUNT(*) AS BIGINT) AS n_placebos,
         |  CAST(COALESCE(SUM(CASE WHEN abs(diff) >=
         |    abs((SELECT diff FROM diffs WHERE k = 0))
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extreme,
         |  (1 + COALESCE(SUM(CASE WHEN abs(diff) >=
         |    abs((SELECT diff FROM diffs WHERE k = 0))
         |    THEN 1 ELSE 0 END), 0)) / NULLIF(1 + COUNT(*), 0) AS p_value
         |FROM diffs WHERE k > 0""".stripMargin,

    "q_placebo_distribution" ->
      s"""WITH $baseSql
         |SELECT k, n_t, n_c, diff FROM diffs ORDER BY k""".stripMargin,

    "q_perm_test_strata" ->
      s"""WITH $baseSql, su AS (
         |  SELECT user_id, y,
         |    CASE WHEN n_events <= 60 THEN 0 WHEN n_events <= 66 THEN 1
         |      WHEN n_events <= 73 THEN 2 ELSE 3 END AS stratum
         |  FROM pu
         |), slabeled AS (
         |  SELECT s.k, su.user_id, su.y, su.stratum,
         |    ${coinSql("s.k", "su.user_id")} AS arm
         |  FROM su CROSS JOIN spine s
         |), scells AS (
         |  SELECT k, stratum, arm, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(y), 0) AS BIGINT) AS sy
         |  FROM slabeled GROUP BY 1, 2, 3
         |), sdiffs AS (
         |  SELECT t.k, t.stratum,
         |    t.sy / NULLIF(t.n, 0) - c.sy / NULLIF(c.n, 0) AS diff_h,
         |    t.n + c.n AS n_h
         |  FROM (SELECT * FROM scells WHERE arm = 1) t
         |  JOIN (SELECT * FROM scells WHERE arm = 0) c
         |    ON t.k = c.k AND t.stratum = c.stratum
         |), wide AS (
         |  SELECT k,
         |    (COALESCE(SUM(CASE WHEN stratum = 0
         |        THEN diff_h * n_h END), 0.0)
         |     + COALESCE(SUM(CASE WHEN stratum = 1
         |        THEN diff_h * n_h END), 0.0)
         |     + COALESCE(SUM(CASE WHEN stratum = 2
         |        THEN diff_h * n_h END), 0.0)
         |     + COALESCE(SUM(CASE WHEN stratum = 3
         |        THEN diff_h * n_h END), 0.0))
         |      / CAST(SUM(n_h) AS DOUBLE) AS wdiff
         |  FROM sdiffs GROUP BY k
         |)
         |SELECT
         |  (SELECT wdiff FROM wide WHERE k = 0) AS observed,
         |  CAST(COUNT(*) AS BIGINT) AS n_placebos,
         |  CAST(COALESCE(SUM(CASE WHEN abs(wdiff) >=
         |    abs((SELECT wdiff FROM wide WHERE k = 0))
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extreme,
         |  (1 + COALESCE(SUM(CASE WHEN abs(wdiff) >=
         |    abs((SELECT wdiff FROM wide WHERE k = 0))
         |    THEN 1 ELSE 0 END), 0)) / NULLIF(1 + COUNT(*), 0) AS p_value
         |FROM wide WHERE k > 0""".stripMargin)
}
