package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 second batch: multiple-testing governance — the statistical
  * layer a platform runs when it screens MANY hypotheses at once
  * (per-brand anomaly tests here; per-experiment metrics, per-feature
  * drift tests in production). A warehouse that fires 25 tests nightly
  * at α=0.10 sees ~2.5 false alarms a night without correction; these
  * are the three standard corrections, all computed from one shared
  * per-brand p-value frame.
  *
  * The p-values are EXACT cross-engine doubles: each brand's 3-cell
  * return-flag mix gets a chi-square goodness-of-fit statistic against
  * the global mix (df = 2), whose survival function is closed-form
  * p = e^(−χ²/2) — evaluated as 1/dexp(χ²/2) through DetMath's
  * bitwise-mirrored exp DAG (dexp needs a nonnegative argument). The
  * three cell terms are pivoted into COLUMNS and summed in written
  * order, never through a float aggregate whose combine order could
  * differ between engines. χ²/2 is clamped at 40 (p floors at e⁻⁴⁰;
  * every correction decision is unaffected that deep in the tail, and
  * dexp's shiftleft stays inside a long).
  *
  *  - q_chi2_brand_fdr: the per-brand table — χ², p, p-rank, and the
  *    Benjamini–Hochberg step-up rejection at α=0.10.
  *  - q_multiple_testing_compare: Bonferroni vs Holm step-down vs BH
  *    rejection counts on the same p-values (provably monotone:
  *    bonf ≤ holm ≤ bh — the spec pins it).
  *  - q_storey_pi0: Storey's null-proportion estimate
  *    π̂₀ = #{p>λ}/((1−λ)m) at λ=0.5 and the estimated FDP at the
  *    uncorrected 0.05 threshold.
  *
  * Scale posture: the scan aggregates per PARTKEY before the part join
  * (map-side combine shrinks 600k lineitem rows to the part-key domain,
  * co-partitioned join, re-aggregate to 25 brands); every correction
  * then runs on the m=25-row frame — window ranks over a bounded
  * hypothesis table, not the corpus.
  */
object Round9bQueries {

  /** Per-brand (nA, nN, nR, n) + global counts, chi2, p — shared by all
    * three queries.
    */
  private def pFrame(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DetMath.dexp
    val perPart = Tables(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("cA"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cN"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cR"))
    val perBrand = perPart
      .join(Tables(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(sum("cA").as("nA"), sum("cN").as("nN"), sum("cR").as("nR"))
      .withColumn("n", col("nA") + col("nN") + col("nR"))
    val globals = broadcast(perBrand.agg(
      sum("nA").as("gA"), sum("nN").as("gN"), sum("nR").as("gR"),
      sum("n").as("g")))
    def term(o: Column, gi: Column): Column = {
      val e = col("n").cast("double") *
        (gi.cast("double") / col("g").cast("double"))
      (o.cast("double") - e) * (o.cast("double") - e) / e
    }
    val chi2 = term(col("nA"), col("gA")) +
      term(col("nN"), col("gN")) + term(col("nR"), col("gR"))
    perBrand.crossJoin(globals)
      .withColumn("chi2", chi2)
      .withColumn("p", lit(1.0) / dexp(least(col("chi2") * lit(0.5), lit(40.0))))
      .select("p_brand", "n", "chi2", "p")
  }

  /** rank by (p, brand) — a deterministic total order; m alongside. */
  private def ranked(s: SparkSession, dir: String): DataFrame = {
    val f = pFrame(s, dir)
    f.withColumn("rank",
        row_number().over(Window.orderBy(col("p"), col("p_brand"))).cast("long"))
      .crossJoin(broadcast(f.agg(count(lit(1)).as("m"))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_chi2_brand_fdr" -> ((s, dir) => {
      val r = graft.CacheScope.retain(ranked(s, dir))
      // BH step-up: k* = max rank with p <= rank/m * alpha; reject all
      // ranks <= k*
      val kStar = broadcast(r.agg(coalesce(max(when(
        col("p") <= col("rank").cast("double") / col("m").cast("double")
          * lit(0.1), col("rank"))), lit(0L)).as("k_star")))
      r.crossJoin(kStar)
        .select(col("p_brand"), col("n"), col("chi2"), col("p"),
          col("rank"),
          (col("rank") <= col("k_star")).as("bh_rejected"))
        .orderBy("p_brand")
    }),

    "q_multiple_testing_compare" -> ((s, dir) => {
      val r = graft.CacheScope.retain(ranked(s, dir))
      // Holm step-down: reject ranks below the FIRST failure of
      // p(k) <= alpha/(m-k+1)
      val firstFail = r.agg(min(when(
        col("p") > lit(0.1) / (col("m") - col("rank") + lit(1L)).cast("double"),
        col("rank"))).as("first_fail"),
        max(col("m")).as("m_"))
      val bh = r.agg(coalesce(max(when(
        col("p") <= col("rank").cast("double") / col("m").cast("double")
          * lit(0.1), col("rank"))), lit(0L)).as("n_bh"))
      val bonf = r.agg(sum(when(
        col("p") <= lit(0.1) / col("m").cast("double"), 1L)
        .otherwise(0L)).as("n_bonferroni"))
      bonf.crossJoin(broadcast(firstFail)).crossJoin(broadcast(bh))
        .select(col("m_").as("m"), col("n_bonferroni"),
          (coalesce(col("first_fail"), col("m_") + 1L) - 1L).as("n_holm"),
          col("n_bh"))
    }),

    "q_storey_pi0" -> ((s, dir) => {
      val f = pFrame(s, dir)
      f.agg(
          count(lit(1)).as("m"),
          sum(when(col("p") > 0.5, 1L).otherwise(0L)).as("n_p_gt_half"),
          sum(when(col("p") <= 0.05, 1L).otherwise(0L)).as("n_sig_05"))
        .select(col("m"), col("n_p_gt_half"), col("n_sig_05"),
          (lit(2.0) * col("n_p_gt_half").cast("double") /
            col("m").cast("double")).as("pi0_hat"),
          (lit(2.0) * col("n_p_gt_half").cast("double") /
            col("m").cast("double") * col("m").cast("double") * lit(0.05) /
            greatest(col("n_sig_05"), lit(1L)).cast("double"))
            .as("fdp_est_05"))
    }))

  import graft.functions.DetMath.expCtesSql

  /** Shared oracle CTE: per-brand counts -> chi2 -> p via the mirrored
    * dexp DAG. Emits CTE `pv` with (p_brand, n, chi2, p).
    */
  private val pCte =
    s"""WITH per_part AS (
       |  SELECT l_partkey,
       |    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS cA,
       |    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS cN,
       |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS cR
       |  FROM lineitem GROUP BY l_partkey
       |), per_brand AS (
       |  SELECT p_brand, CAST(SUM(cA) AS BIGINT) AS nA,
       |    CAST(SUM(cN) AS BIGINT) AS nN, CAST(SUM(cR) AS BIGINT) AS nR,
       |    CAST(SUM(cA) + SUM(cN) + SUM(cR) AS BIGINT) AS n
       |  FROM per_part JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_brand
       |), globals AS (
       |  SELECT CAST(SUM(nA) AS BIGINT) AS gA, CAST(SUM(nN) AS BIGINT) AS gN,
       |    CAST(SUM(nR) AS BIGINT) AS gR, CAST(SUM(n) AS BIGINT) AS g
       |  FROM per_brand
       |), chi AS (
       |  SELECT p_brand, n,
       |    (CAST(nA AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(gA AS DOUBLE) / CAST(g AS DOUBLE)))
       |      * (CAST(nA AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(gA AS DOUBLE) / CAST(g AS DOUBLE)))
       |      / (CAST(n AS DOUBLE) * (CAST(gA AS DOUBLE) / CAST(g AS DOUBLE)))
       |    + (CAST(nN AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(gN AS DOUBLE) / CAST(g AS DOUBLE)))
       |      * (CAST(nN AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(gN AS DOUBLE) / CAST(g AS DOUBLE)))
       |      / (CAST(n AS DOUBLE) * (CAST(gN AS DOUBLE) / CAST(g AS DOUBLE)))
       |    + (CAST(nR AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(gR AS DOUBLE) / CAST(g AS DOUBLE)))
       |      * (CAST(nR AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(gR AS DOUBLE) / CAST(g AS DOUBLE)))
       |      / (CAST(n AS DOUBLE) * (CAST(gR AS DOUBLE) / CAST(g AS DOUBLE)))
       |    AS chi2
       |  FROM per_brand, globals
       |), ${expCtesSql("ex", "chi", "p_brand, n, chi2",
             "least(chi2 * 0.5, 40.0)", "ev")},
       |pv AS (
       |  SELECT p_brand, n, chi2, 1.0 / ev AS p FROM ex
       |), rk AS (
       |  SELECT p_brand, n, chi2, p,
       |    CAST(row_number() OVER (ORDER BY p, p_brand) AS BIGINT) AS rank,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS m
       |  FROM pv
       |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_chi2_brand_fdr" -> (pCte +
      """
        |SELECT p_brand, n, chi2, p, rank,
        |  rank <= (SELECT COALESCE(MAX(CASE WHEN p <= CAST(rank AS DOUBLE)
        |    / CAST(m AS DOUBLE) * 0.1 THEN rank END), 0) FROM rk)
        |    AS bh_rejected
        |FROM rk ORDER BY p_brand""".stripMargin),

    "q_multiple_testing_compare" -> (pCte +
      """
        |SELECT MAX(m) AS m,
        |  CAST(SUM(CASE WHEN p <= 0.1 / CAST(m AS DOUBLE) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bonferroni,
        |  COALESCE(MIN(CASE WHEN p > 0.1 / CAST(m - rank + 1 AS DOUBLE)
        |    THEN rank END), MAX(m) + 1) - 1 AS n_holm,
        |  (SELECT COALESCE(MAX(CASE WHEN p <= CAST(rank AS DOUBLE)
        |    / CAST(m AS DOUBLE) * 0.1 THEN rank END), 0) FROM rk) AS n_bh
        |FROM rk""".stripMargin),

    "q_storey_pi0" -> (pCte +
      """
        |SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |  CAST(SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_p_gt_half,
        |  CAST(SUM(CASE WHEN p <= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sig_05,
        |  2.0 * CAST(SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS pi0_hat,
        |  2.0 * CAST(SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) * 0.05
        |    / CAST(GREATEST(SUM(CASE WHEN p <= 0.05 THEN 1 ELSE 0 END), 1)
        |      AS DOUBLE) AS fdp_est_05
        |FROM pv""".stripMargin))
}
