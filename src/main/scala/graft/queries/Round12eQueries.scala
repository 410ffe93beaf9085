package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.{d, dec}

/** Round-12 fifth batch: the remaining ClickHouse statistical-test
  * functions — distribution comparison and regression fitting — closing
  * the tail behind welchTTest/mannWhitney/cramersV from r11/r12.
  *
  *  - q_ks_test: CH `kolmogorovSmirnovTest` — the two-sample
  *    Kolmogorov–Smirnov D between 'F' and 'O' order totalprice
  *    distributions. D's sup runs over EVERY distinct value, so the
  *    empirical-CDF difference is computed as EXACT integers:
  *    |c1·n2 − c2·n1| (cross-multiplied cumulative counts — no
  *    per-value division, no float accumulation), maximized, then ONE
  *    double division D = max/(n1·n2) plus the scaled statistic
  *    λ = √(n1·n2/(n1+n2))·D as a mirrored IEEE tree. The cumulative
  *    counts use a TWO-LEVEL prefix sum (per-1000-wide price bucket
  *    partials → tiny bucket-offset window → within-bucket window), so
  *    no window ever sees more than one bucket's rows — the distributed
  *    prefix-sum shape that survives 100 TB, where a bare
  *    Window.orderBy(value) would serialize the corpus through one
  *    partition. (The bucket CATALOG is bounded by the price domain,
  *    ~600 rows, independent of row count.)
  *  - q_simple_linreg: CH `simpleLinearRegression(x, y)` — least-squares
  *    slope/intercept (+ r², which CH exposes as `corr`²) of
  *    l_extendedprice on l_quantity. Sufficient statistics (n, Σx, Σy,
  *    Σxy, Σx², Σy²) are EXACT decimals pivoted into named columns; the
  *    normal-equation arithmetic is one mirrored IEEE tree over
  *    string-routed operands, so slope/intercept/r² match DuckDB
  *    bitwise. Zero-variance x (degenerate fixture: all quantities
  *    equal) guards the slope NULL exactly where DuckDB's NULLIF would.
  *  - q_mean_ztest: CH `meanZTest(pop_var_x, pop_var_y, conf)` — the
  *    known-variance two-sample z on purchase values between weekday
  *    and weekend cohorts (a DIFFERENT split than q_welch_ttest's md5
  *    arms, so the two keys cannot shadow each other's bugs). Population
  *    variances are the caller-supplied parameters (CH's signature), so
  *    the only data-dependent floats are the two means; z and the 95%
  *    CI bounds are a mirrored tree.
  */
object Round12eQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_ks_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderstatus").isin("F", "O"))
        .select(col("o_totalprice").cast(dec).as("v"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("g1"),
          when(col("o_orderstatus") === "O", 1L).otherwise(0L).as("g2"))
      // per-distinct-value group counts, keyed by a bounded price bucket
      // (width 1000 over the fixed TPC-H price domain — the catalog stays
      // a few hundred rows at ANY corpus size)
      val perV = ord.groupBy(col("v"))
        .agg(sum(col("g1")).as("c1"), sum(col("g2")).as("c2"))
        .withColumn("b", expr("CAST(v AS BIGINT) div 1000"))
      // level 1: per-bucket partials; window over the BUCKET CATALOG only
      val offs = perV.groupBy("b")
        .agg(sum(col("c1")).as("b1"), sum(col("c2")).as("b2"))
        .withColumn("off1", coalesce(sum(col("b1")).over(
          Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("off2", coalesce(sum(col("b2")).over(
          Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("b", "off1", "off2")
      // level 2: within-bucket running sums, shifted by the bucket offset
      val wB = Window.partitionBy("b").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = perV.join(broadcast(offs), "b")
        .withColumn("cum1", col("off1") + sum(col("c1")).over(wB))
        .withColumn("cum2", col("off2") + sum(col("c2")).over(wB))
      val tot = ord.agg(sum(col("g1")).as("n1"), sum(col("g2")).as("n2"))
      cum.crossJoin(broadcast(tot))
        .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
          .as("dnum"), max(col("n1")).as("n1"), max(col("n2")).as("n2"))
        .withColumn("d_stat",
          when(col("n1") > 0 && col("n2") > 0,
            col("dnum").cast("double") /
              (col("n1") * col("n2")).cast("double")))
        .withColumn("lambda",
          when(col("n1") > 0 && col("n2") > 0,
            sqrt((col("n1") * col("n2")).cast("double") /
              (col("n1") + col("n2")).cast("double")) * col("d_stat")))
        .select(col("n1"), col("n2"), col("dnum"), col("d_stat"),
          col("lambda"))
    }),

    "q_simple_linreg" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_quantity").cast(dec).as("x"),
          col("l_extendedprice").cast(dec).as("y"))
      val stats = li.agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DecimalType(28, 2)).as("sx"),
        sum(col("y")).cast(DecimalType(28, 2)).as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4)).as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4)).as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4)).as("syy"))
      stats
        .withColumn("nd", col("n").cast("double"))
        .withColumn("cov_n", col("nd") * d(col("sxy"))
          - d(col("sx")) * d(col("sy")))
        .withColumn("var_x", col("nd") * d(col("sxx"))
          - d(col("sx")) * d(col("sx")))
        .withColumn("var_y", col("nd") * d(col("syy"))
          - d(col("sy")) * d(col("sy")))
        .withColumn("slope",
          when(col("var_x") > 0, col("cov_n") / col("var_x")))
        .withColumn("intercept",
          when(col("var_x") > 0,
            d(col("sy")) / col("nd") - col("slope")
              * (d(col("sx")) / col("nd"))))
        .withColumn("r2",
          when(col("var_x") > 0 && col("var_y") > 0,
            col("cov_n") * col("cov_n") / (col("var_x") * col("var_y"))))
        .select(col("n"), col("slope"), col("intercept"), col("r2"))
    }),

    "q_mean_ztest" -> ((s, dir) => {
      // CH meanZTest(pop_var_x, pop_var_y, conf): variances are CALLER
      // parameters, not estimated — fixed literals here (conf = 0.95)
      val varX = 2000000.0
      val varY = 2000000.0
      val ev = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase" &&
          col("value").isNotNull && col("ts").isNotNull)
        .withColumn("g",
          when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L))
        .withColumn("v", col("value").cast(dec))
      val stats = ev.agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === 0, col("v"))).cast(DecimalType(28, 2))
          .as("s1"),
        sum(when(col("g") === 1, col("v"))).cast(DecimalType(28, 2))
          .as("s2"))
      stats
        .withColumn("m1", when(col("n1") > 0, d(col("s1")) / col("n1")))
        .withColumn("m2", when(col("n2") > 0, d(col("s2")) / col("n2")))
        .withColumn("se",
          when(col("n1") > 0 && col("n2") > 0,
            sqrt(lit(varX) / col("n1") + lit(varY) / col("n2"))))
        .withColumn("z_stat",
          when(col("se") > 0, (col("m1") - col("m2")) / col("se")))
        .select(col("n1"), col("n2"),
          (col("m1") - col("m2")).as("mean_diff"), col("z_stat"),
          (col("m1") - col("m2") - lit(1.959963984540054) * col("se"))
            .as("ci_lo"),
          (col("m1") - col("m2") + lit(1.959963984540054) * col("se"))
            .as("ci_hi"))
    }))

  val oracle: Map[String, String] = Map(

    "q_ks_test" ->
      """WITH ord AS (
        |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g1,
        |    CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS g2
        |  FROM orders WHERE o_orderstatus IN ('F', 'O')
        |), per_v AS (
        |  SELECT v, SUM(g1) AS c1, SUM(g2) AS c2
        |  FROM ord GROUP BY v
        |), cum AS (
        |  SELECT v,
        |    SUM(c1) OVER (ORDER BY v) AS cum1,
        |    SUM(c2) OVER (ORDER BY v) AS cum2
        |  FROM per_v
        |), tot AS (
        |  SELECT SUM(g1) AS n1, SUM(g2) AS n2 FROM ord
        |), agg AS (
        |  SELECT MAX(ABS(cum1 * t.n2 - cum2 * t.n1)) AS dnum,
        |    MAX(t.n1) AS n1, MAX(t.n2) AS n2
        |  FROM cum, tot t
        |)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(dnum AS BIGINT) AS dnum,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(dnum AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) END AS d_stat,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    sqrt(CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |      * (CAST(dnum AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
        |  END AS lambda
        |FROM agg""".stripMargin,

    "q_simple_linreg" ->
      """WITH li AS (
        |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem
        |), stats AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS DECIMAL(28,2)) AS sx,
        |    CAST(SUM(y) AS DECIMAL(28,2)) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS syy
        |  FROM li
        |), m AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
        |    CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |        * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS cov_n,
        |    CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |        * CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS var_x,
        |    CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
        |        * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS var_y
        |  FROM stats
        |), fit AS (
        |  SELECT n, nd, syd, sxd, cov_n, var_x, var_y,
        |    CASE WHEN var_x > 0 THEN cov_n / var_x END AS slope
        |  FROM m
        |)
        |SELECT CAST(n AS BIGINT) AS n, slope,
        |  CASE WHEN var_x > 0 THEN syd / nd - slope * (sxd / nd)
        |    END AS intercept,
        |  CASE WHEN var_x > 0 AND var_y > 0 THEN
        |    cov_n * cov_n / (var_x * var_y) END AS r2
        |FROM fit""".stripMargin,

    "q_mean_ztest" ->
      """WITH ev AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS g
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |    AND ts IS NOT NULL
        |), stats AS (
        |  SELECT
        |    SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n2,
        |    CAST(SUM(CASE WHEN g = 0 THEN v END) AS DECIMAL(28,2)) AS s1,
        |    CAST(SUM(CASE WHEN g = 1 THEN v END) AS DECIMAL(28,2)) AS s2
        |  FROM ev
        |), m AS (
        |  SELECT n1, n2,
        |    CASE WHEN n1 > 0 THEN
        |      CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n1 END AS m1,
        |    CASE WHEN n2 > 0 THEN
        |      CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n2 END AS m2,
        |    CASE WHEN n1 > 0 AND n2 > 0 THEN
        |      sqrt(2000000.0 / n1 + 2000000.0 / n2) END AS se
        |  FROM stats
        |)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  m1 - m2 AS mean_diff,
        |  CASE WHEN se > 0 THEN (m1 - m2) / se END AS z_stat,
        |  m1 - m2 - 1.959963984540054 * se AS ci_lo,
        |  m1 - m2 + 1.959963984540054 * se AS ci_hi
        |FROM m""".stripMargin)
}
