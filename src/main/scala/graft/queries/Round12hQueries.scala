package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.{d, dec}

/** Round-12 eighth batch: the ClickHouse variance-decomposition /
  * regression aggregates still open after 12g.
  *
  *  - q_anova_f: CH `analysisOfVariance` — one-way ANOVA F of
  *    l_extendedprice across the three returnflag groups. Per-group
  *    Σx/Σx² are EXACT decimals; the only order-sensitive float sum
  *    (Σ_g s_g²/n_g over the group catalog) is a WRITTEN-ORDER fold
  *    over the flag-sorted 3-row frame, mirrored by DuckDB
  *    `list_reduce(... ORDER BY flag)` — so SSB/SSW/F are one
  *    deterministic IEEE tree on both engines.
  *  - q_levene_bf: Brown–Forsythe homogeneity-of-variance test — the
  *    same ANOVA machinery applied to |x − median_g|. Group medians are
  *    the LOWER median picked from a cumulative window over the
  *    per-group distinct-value grid (never a per-row sort), and the
  *    absolute deviations stay exact decimal.
  *  - q_corr_matrix: CH `corrMatrix` over (discount, price, quantity,
  *    tax) — all 4 variances and 6 covariances from ONE scan's exact
  *    decimal sufficient statistics, unpivoted to the 6 ordered pairs.
  *  - q_gd_linreg: CH `stochasticLinearRegression` analog, made
  *    deterministic: full-batch gradient descent on mean-CENTERED
  *    sufficient statistics (the centered MSE gradient is a closed form
  *    of vxx/vxy, so 8 GD steps are a scalar recurrence folded over an
  *    8-element array — ZERO extra passes over the data; the intercept
  *    is closed-form my − w·mx at any w). The closed-form OLS solution
  *    and both MSEs ride along; the spec pins mse_ols ≤ mse_gd (OLS is
  *    the minimizer). The fold accumulator is deliberately a SINGLE
  *    double: DuckDB's list_reduce evaluates cross-field reads of a
  *    struct accumulator inconsistently across steps (old-value on the
  *    first application, new-value after), so a coupled (w, b) struct
  *    recurrence is not portable — centering removes the coupling.
  *
  * 100 TB posture: every key is a single-scan map-side-combinable
  * aggregation to a ≤|groups| frame (plus, for q_levene_bf, one
  * per-group grid window and one 3-row broadcast join); the GD loop
  * never touches the corpus again after the sufficient statistics.
  */
object Round12hQueries {

  /** Exact per-group sufficient statistics of a decimal(18,2) column. */
  private def groupStats(df: DataFrame): DataFrame =
    df.groupBy("flag").agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast(DecimalType(28, 2)).as("sx"),
      sum((col("x") * col("x")).cast(DecimalType(38, 4)))
        .cast(DecimalType(38, 4)).as("sxx"))

  /** One-way ANOVA from per-group exact stats: the cross-group float
    * sum Σ s_g²/n_g is a flag-ordered fold (bitwise-mirrorable); SSB =
    * Σ s_g²/n_g − S²/N, SSW = ΣΣx² − Σ s_g²/n_g.
    */
  private def anovaFrom(stats: DataFrame): DataFrame =
    stats
      .withColumn("term",
        d(col("sx")) * d(col("sx")) / col("n").cast("double"))
      .agg(
        count(lit(1)).as("k"),
        sum(col("n")).as("n"),
        sum(col("sx")).cast(DecimalType(38, 2)).as("s"),
        sum(col("sxx")).cast(DecimalType(38, 4)).as("ss"),
        aggregate(array_sort(collect_list(struct(col("flag"), col("term")))),
          lit(0.0), (a, x) => a + x.getField("term")).as("t"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("kd", col("k").cast("double"))
      .withColumn("ss_between", col("t") - d(col("s")) * d(col("s")) / col("nd"))
      .withColumn("ss_within", d(col("ss")) - col("t"))
      .withColumn("f_stat",
        when(col("ss_within") > 0 && col("n") > col("k"),
          (col("ss_between") / (col("kd") - 1.0))
            / (col("ss_within") / (col("nd") - col("kd")))))
      .withColumn("eta_sq",
        when(col("ss_between") + col("ss_within") > 0,
          col("ss_between") / (col("ss_between") + col("ss_within"))))
      .select(col("k"), col("n"), col("ss_between"), col("ss_within"),
        col("f_stat"), col("eta_sq"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_anova_f" -> ((s, dir) => {
      // r12: spread() after the 1-row-group scan — the partial decimal
      // aggregate otherwise runs on a single scan task (guide §2.5)
      val li = PipelineQueries.spread(s, Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").cast(dec).as("x")))
      anovaFrom(groupStats(li))
    }),

    "q_levene_bf" -> ((s, dir) => {
      // retained: li feeds THREE consumers (group totals, the median
      // grid, and the deviation scan) — without the retain each one
      // re-ran the scan + spread exchange (guide §1.2)
      val li = graft.CacheScope.retain(
        PipelineQueries.spread(s, Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            col("l_extendedprice").cast(dec).as("x")))) // spread: q_anova_f
      val tot = li.groupBy("flag").agg(count(lit(1)).as("gn"))
      // lower median off the per-group distinct-value grid: the window
      // input is |distinct x per group|, never the corpus row count
      val grid = li.groupBy("flag", "x").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy("flag").orderBy("x")
            .rowsBetween(Window.unboundedPreceding, 0)))
      val med = grid.join(broadcast(tot), "flag")
        .filter(col("cum") >= expr("(gn + 1) div 2"))
        .groupBy("flag").agg(min(col("x")).as("m"))
      val z = li.join(broadcast(med), "flag")
        .select(col("flag"), abs(col("x") - col("m")).cast(dec).as("x"))
      anovaFrom(groupStats(z))
        .withColumnRenamed("f_stat", "f_bf")
    }),

    "q_corr_matrix" -> ((s, dir) => {
      val li = PipelineQueries.spread(s, Tables(s, dir, "lineitem").select(
        col("l_discount").cast(DecimalType(4, 2)).as("vd"),
        col("l_extendedprice").cast(dec).as("vp"),
        col("l_quantity").cast(dec).as("vq"),
        col("l_tax").cast(DecimalType(4, 2)).as("vt"))) // spread: q_anova_f
      def cross(a: String, b: String): Column =
        sum((col(a) * col(b)).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4))
      val stats = li.agg(
        count(lit(1)).as("n"),
        sum(col("vd")).cast(DecimalType(28, 2)).as("sd"),
        sum(col("vp")).cast(DecimalType(38, 2)).as("sp"),
        sum(col("vq")).cast(DecimalType(38, 2)).as("sq"),
        sum(col("vt")).cast(DecimalType(28, 2)).as("st"),
        cross("vd", "vd").as("sdd"), cross("vp", "vp").as("spp"),
        cross("vq", "vq").as("sqq"), cross("vt", "vt").as("stt"),
        cross("vd", "vp").as("sdp"), cross("vd", "vq").as("sdq"),
        cross("vd", "vt").as("sdt"), cross("vp", "vq").as("spq"),
        cross("vp", "vt").as("spt"), cross("vq", "vt").as("sqt"))
        .withColumn("nd", col("n").cast("double"))
      def mean(sc: String): Column = d(col(sc)) / col("nd")
      def variance(ss: String, sc: String): Column =
        d(col(ss)) / col("nd") - mean(sc) * mean(sc)
      def cov(sab: String, sa: String, sb: String): Column =
        d(col(sab)) / col("nd") - mean(sa) * mean(sb)
      val withV = stats
        .withColumn("var_d", variance("sdd", "sd"))
        .withColumn("var_p", variance("spp", "sp"))
        .withColumn("var_q", variance("sqq", "sq"))
        .withColumn("var_t", variance("stt", "st"))
      def corrC(sab: String, sa: String, sb: String,
          va: String, vb: String): Column =
        when(col(va) > 0 && col(vb) > 0,
          cov(sab, sa, sb) / sqrt(col(va) * col(vb)))
      val pairs = withV.select(col("n"), explode(array(
        struct(lit("discount").as("m1"), lit("price").as("m2"),
          corrC("sdp", "sd", "sp", "var_d", "var_p").as("corr")),
        struct(lit("discount").as("m1"), lit("quantity").as("m2"),
          corrC("sdq", "sd", "sq", "var_d", "var_q").as("corr")),
        struct(lit("discount").as("m1"), lit("tax").as("m2"),
          corrC("sdt", "sd", "st", "var_d", "var_t").as("corr")),
        struct(lit("price").as("m1"), lit("quantity").as("m2"),
          corrC("spq", "sp", "sq", "var_p", "var_q").as("corr")),
        struct(lit("price").as("m1"), lit("tax").as("m2"),
          corrC("spt", "sp", "st", "var_p", "var_t").as("corr")),
        struct(lit("quantity").as("m1"), lit("tax").as("m2"),
          corrC("sqt", "sq", "st", "var_q", "var_t").as("corr"))))
        .as("pr"))
      pairs.select(col("pr.m1").as("m1"), col("pr.m2").as("m2"),
          col("n"), col("pr.corr").as("corr"))
        .orderBy("m1", "m2")
    }),

    "q_gd_linreg" -> ((s, dir) => {
      // NO spread here (measured): the single 6-sum decimal aggregate
      // reads 0.52 s on the raw 1-task scan vs 0.98 s behind a
      // round-robin exchange of the two decimal columns — the shuffle
      // write+read costs more than the lost scan parallelism (guide §1)
      val li = Tables(s, dir, "lineitem").select(
        col("l_quantity").cast(dec).as("x"),
        col("l_extendedprice").cast(dec).as("y"))
      val stats = li.agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DecimalType(28, 2)).as("sx"),
        sum(col("y")).cast(DecimalType(38, 2)).as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4)).as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4)).as("sxy"),
        sum((col("y") * col("y")).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4)).as("syy"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("mx", d(col("sx")) / col("nd"))
        .withColumn("my", d(col("sy")) / col("nd"))
        .withColumn("mxx", d(col("sxx")) / col("nd"))
        .withColumn("mxy", d(col("sxy")) / col("nd"))
        .withColumn("myy", d(col("syy")) / col("nd"))
        .withColumn("vxx", col("mxx") - col("mx") * col("mx"))
        .withColumn("vxy", col("mxy") - col("mx") * col("my"))
        .withColumn("vyy", col("myy") - col("my") * col("my"))
      // centered MSE(w) = vyy − 2·w·vxy + w²·vxx; gradient 2(w·vxx − vxy)
      // (the 2 is absorbed into the 0.002 step constant)
      val gd = stats.withColumn("w_gd",
        aggregate(array_repeat(lit(0), 8), lit(0.0),
          (a, _) => a - lit(0.002) * (a * col("vxx") - col("vxy"))))
      def mse(w: Column): Column =
        col("vyy") - lit(2.0) * w * col("vxy") + w * w * col("vxx")
      gd
        .withColumn("b_gd", col("my") - col("w_gd") * col("mx"))
        .withColumn("w_ols", when(col("vxx") > 0,
          col("vxy") / col("vxx")))
        .withColumn("b_ols", col("my") - col("w_ols") * col("mx"))
        .withColumn("mse_gd", mse(col("w_gd")))
        .withColumn("mse_ols", mse(col("w_ols")))
        .select(col("n"), col("w_gd"), col("b_gd"), col("w_ols"),
          col("b_ols"), col("mse_gd"), col("mse_ols"))
    }))

  private val anovaSql =
    """, g AS (
      |  SELECT flag, COUNT(*) AS n,
      |    CAST(SUM(x) AS DECIMAL(28,2)) AS sx,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxx
      |  FROM li GROUP BY flag
      |), terms AS (
      |  SELECT flag, n, sx, sxx,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(sx AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS term
      |  FROM g
      |), agg AS (
      |  SELECT COUNT(*) AS k, SUM(n) AS n,
      |    CAST(SUM(sx) AS DECIMAL(38,2)) AS s,
      |    CAST(SUM(sxx) AS DECIMAL(38,4)) AS ss,
      |    list_reduce([CAST(0.0 AS DOUBLE)] ||
      |      COALESCE(list(term ORDER BY flag), []),
      |      (a, x) -> a + x) AS t
      |  FROM terms
      |), m AS (
      |  SELECT k, n, CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
      |    t - CAST(CAST(s AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(s AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS ssb,
      |    CAST(CAST(ss AS VARCHAR) AS DOUBLE) - t AS ssw
      |  FROM agg
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_anova_f" ->
      ("""WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x
        |  FROM lineitem
        |)""".stripMargin + anovaSql +
        """
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  ssb AS ss_between, ssw AS ss_within,
        |  CASE WHEN ssw > 0 AND n > k THEN
        |    (ssb / (kd - 1.0)) / (ssw / (nd - kd)) END AS f_stat,
        |  CASE WHEN ssb + ssw > 0 THEN ssb / (ssb + ssw) END AS eta_sq
        |FROM m""".stripMargin),

    "q_levene_bf" ->
      ("""WITH raw AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x
        |  FROM lineitem
        |), tot AS (
        |  SELECT flag, COUNT(*) AS gn FROM raw GROUP BY flag
        |), grid AS (
        |  SELECT flag, x, SUM(c) OVER (PARTITION BY flag ORDER BY x)
        |    AS cum
        |  FROM (SELECT flag, x, COUNT(*) AS c FROM raw GROUP BY flag, x)
        |), med AS (
        |  SELECT g.flag, MIN(g.x) AS m
        |  FROM grid g JOIN tot t ON g.flag = t.flag
        |  WHERE g.cum >= (t.gn + 1) // 2
        |  GROUP BY g.flag
        |), li AS (
        |  SELECT r.flag, CAST(abs(r.x - m.m) AS DECIMAL(18,2)) AS x
        |  FROM raw r JOIN med m ON r.flag = m.flag
        |)""".stripMargin + anovaSql +
        """
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  ssb AS ss_between, ssw AS ss_within,
        |  CASE WHEN ssw > 0 AND n > k THEN
        |    (ssb / (kd - 1.0)) / (ssw / (nd - kd)) END AS f_bf,
        |  CASE WHEN ssb + ssw > 0 THEN ssb / (ssb + ssw) END AS eta_sq
        |FROM m""".stripMargin),

    "q_corr_matrix" ->
      """WITH li AS (
        |  SELECT CAST(l_discount AS DECIMAL(4,2)) AS vd,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS vp,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS vq,
        |    CAST(l_tax AS DECIMAL(4,2)) AS vt
        |  FROM lineitem
        |), stats AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(vd) AS DECIMAL(28,2)) AS sd,
        |    CAST(SUM(vp) AS DECIMAL(38,2)) AS sp,
        |    CAST(SUM(vq) AS DECIMAL(38,2)) AS sq,
        |    CAST(SUM(vt) AS DECIMAL(28,2)) AS st,
        |    CAST(SUM(CAST(vd * vd AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sdd,
        |    CAST(SUM(CAST(vp * vp AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS spp,
        |    CAST(SUM(CAST(vq * vq AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sqq,
        |    CAST(SUM(CAST(vt * vt AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS stt,
        |    CAST(SUM(CAST(vd * vp AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sdp,
        |    CAST(SUM(CAST(vd * vq AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sdq,
        |    CAST(SUM(CAST(vd * vt AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sdt,
        |    CAST(SUM(CAST(vp * vq AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS spq,
        |    CAST(SUM(CAST(vp * vt AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS spt,
        |    CAST(SUM(CAST(vq * vt AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sqt
        |  FROM li
        |), m AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sd AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS md,
        |    CAST(CAST(sp AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mp,
        |    CAST(CAST(sq AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mq,
        |    CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mt,
        |    CAST(CAST(sdd AS VARCHAR) AS DOUBLE) AS sddd,
        |    CAST(CAST(spp AS VARCHAR) AS DOUBLE) AS sppd,
        |    CAST(CAST(sqq AS VARCHAR) AS DOUBLE) AS sqqd,
        |    CAST(CAST(stt AS VARCHAR) AS DOUBLE) AS sttd,
        |    CAST(CAST(sdp AS VARCHAR) AS DOUBLE) AS sdpd,
        |    CAST(CAST(sdq AS VARCHAR) AS DOUBLE) AS sdqd,
        |    CAST(CAST(sdt AS VARCHAR) AS DOUBLE) AS sdtd,
        |    CAST(CAST(spq AS VARCHAR) AS DOUBLE) AS spqd,
        |    CAST(CAST(spt AS VARCHAR) AS DOUBLE) AS sptd,
        |    CAST(CAST(sqt AS VARCHAR) AS DOUBLE) AS sqtd
        |  FROM stats
        |), v AS (
        |  SELECT *,
        |    sddd / nd - md * md AS var_d,
        |    sppd / nd - mp * mp AS var_p,
        |    sqqd / nd - mq * mq AS var_q,
        |    sttd / nd - mt * mt AS var_t
        |  FROM m
        |)
        |SELECT m1, m2, CAST(n AS BIGINT) AS n, corr FROM (
        |  SELECT 'discount' AS m1, 'price' AS m2, n,
        |    CASE WHEN var_d > 0 AND var_p > 0 THEN
        |      (sdpd / nd - md * mp) / sqrt(var_d * var_p) END AS corr
        |  FROM v
        |  UNION ALL SELECT 'discount', 'quantity', n,
        |    CASE WHEN var_d > 0 AND var_q > 0 THEN
        |      (sdqd / nd - md * mq) / sqrt(var_d * var_q) END FROM v
        |  UNION ALL SELECT 'discount', 'tax', n,
        |    CASE WHEN var_d > 0 AND var_t > 0 THEN
        |      (sdtd / nd - md * mt) / sqrt(var_d * var_t) END FROM v
        |  UNION ALL SELECT 'price', 'quantity', n,
        |    CASE WHEN var_p > 0 AND var_q > 0 THEN
        |      (spqd / nd - mp * mq) / sqrt(var_p * var_q) END FROM v
        |  UNION ALL SELECT 'price', 'tax', n,
        |    CASE WHEN var_p > 0 AND var_t > 0 THEN
        |      (sptd / nd - mp * mt) / sqrt(var_p * var_t) END FROM v
        |  UNION ALL SELECT 'quantity', 'tax', n,
        |    CASE WHEN var_q > 0 AND var_t > 0 THEN
        |      (sqtd / nd - mq * mt) / sqrt(var_q * var_t) END FROM v
        |) ORDER BY m1, m2""".stripMargin,

    "q_gd_linreg" ->
      """WITH li AS (
        |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem
        |), stats AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS DECIMAL(28,2)) AS sx,
        |    CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxx,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxy,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS syy
        |  FROM li
        |), m AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS my,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mxx,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mxy,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS myy
        |  FROM stats
        |), v AS (
        |  SELECT *, mxx - mx * mx AS vxx, mxy - mx * my AS vxy,
        |    myy - my * my AS vyy
        |  FROM m
        |), gd AS (
        |  SELECT *,
        |    list_reduce(
        |      [CAST(0.0 AS DOUBLE)] ||
        |        list_transform(range(8), i -> CAST(0.0 AS DOUBLE)),
        |      (a, x) -> a - 0.002 * (a * vxx - vxy)) AS w_gd
        |  FROM v
        |), ols AS (
        |  SELECT *,
        |    CASE WHEN vxx > 0 THEN vxy / vxx END AS w_ols
        |  FROM gd
        |)
        |SELECT CAST(n AS BIGINT) AS n, w_gd,
        |  my - w_gd * mx AS b_gd, w_ols,
        |  my - w_ols * mx AS b_ols,
        |  vyy - 2.0 * w_gd * vxy + w_gd * w_gd * vxx AS mse_gd,
        |  vyy - 2.0 * w_ols * vxy + w_ols * w_ols * vxx AS mse_ols
        |FROM ols""".stripMargin)
}
