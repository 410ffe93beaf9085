package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.{d, dec}

/** Round-12 seventh batch: the ClickHouse moment/association aggregates
  * still missing after 12e — higher central moments and weighted means.
  *
  *  - q_moments: CH `skewPop`/`skewSamp`/`kurtPop`/`kurtSamp` on
  *    l_discount. Raw power sums Σx..Σx⁴ are EXACT decimals (scale
  *    2·k per power, widths chosen so no sum can overflow at bench
  *    scale); central moments come from the raw-moment expansion as ONE
  *    mirrored IEEE tree over string-routed operands — bitwise equal to
  *    DuckDB. Degenerate guards (n < 2, zero variance) mirror NULLIF.
  *  - q_covar_corr: CH `covarPop`/`covarSamp`/`corr` between discount
  *    and extendedprice PER RETURNFLAG — the grouped form (1-row-per-
  *    group sufficient statistics, so the group count never touches
  *    float order). Same exact-sums-then-one-tree discipline.
  *  - q_avg_weighted: CH `avgWeighted(price, quantity)` per returnflag
  *    + the unweighted mean and the weighted:unweighted ratio. Σ(w·x)
  *    and Σw are exact decimals; ONE division each.
  *
  * All three are single-scan, map-side-combinable aggregations — the
  * 100 TB plan is one partial-agg shuffle of a handful of decimal
  * columns per group, no row ever leaves its partition unreduced.
  */
object Round12gQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_moments" -> ((s, dir) => {
      // r12: the sf parquet is one row group => a 1-task scan; the
      // partial decimal aggregate ran serially (guide §2.5 unsplittable
      // input -> repartition right after the read). spread() is a
      // ~10 MB round-robin exchange that unlocks all cores.
      val li = PipelineQueries.spread(s, Tables(s, dir, "lineitem")
        .select(col("l_discount").cast(DecimalType(4, 2)).as("x")))
      // exact raw power sums: x ∈ [0, 1] with scale 2 ⇒ x² scale 4,
      // x³ scale 6, x⁴ scale 8 — all exact decimal products
      val stats = li.agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DecimalType(28, 2)).as("s1"),
        sum((col("x") * col("x")).cast(DecimalType(18, 4)))
          .cast(DecimalType(28, 4)).as("s2"),
        sum((col("x") * col("x") * col("x")).cast(DecimalType(18, 6)))
          .cast(DecimalType(28, 6)).as("s3"),
        sum((col("x") * col("x") * col("x") * col("x"))
          .cast(DecimalType(18, 8))).cast(DecimalType(28, 8)).as("s4"))
      stats
        .withColumn("nd", col("n").cast("double"))
        .withColumn("m", d(col("s1")) / col("nd"))
        .withColumn("m2",
          d(col("s2")) / col("nd") - col("m") * col("m"))
        .withColumn("m3",
          d(col("s3")) / col("nd")
            - lit(3.0) * col("m") * (d(col("s2")) / col("nd"))
            + lit(2.0) * col("m") * col("m") * col("m"))
        .withColumn("m4",
          d(col("s4")) / col("nd")
            - lit(4.0) * col("m") * (d(col("s3")) / col("nd"))
            + lit(6.0) * col("m") * col("m") * (d(col("s2")) / col("nd"))
            - lit(3.0) * col("m") * col("m") * col("m") * col("m"))
        .withColumn("skew_pop",
          when(col("m2") > 0, col("m3") / sqrt(col("m2") * col("m2")
            * col("m2"))))
        .withColumn("kurt_pop",
          when(col("m2") > 0, col("m4") / (col("m2") * col("m2"))))
        .withColumn("var_samp",
          when(col("n") > 1, col("m2") * col("nd") / (col("nd") - 1.0)))
        .select(col("n"), col("m").as("mean"), col("m2").as("var_pop"),
          col("var_samp"), col("skew_pop"), col("kurt_pop"))
    }),

    "q_covar_corr" -> ((s, dir) => {
      val li = PipelineQueries.spread(s, Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_discount").cast(DecimalType(4, 2)).as("x"),
          col("l_extendedprice").cast(dec).as("y"))) // spread: see q_moments
      val stats = li.groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DecimalType(28, 2)).as("sx"),
        sum(col("y")).cast(DecimalType(28, 2)).as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(28, 4)))
          .cast(DecimalType(38, 4)).as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(18, 4)))
          .cast(DecimalType(28, 4)).as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(38, 4)))
          .cast(DecimalType(38, 4)).as("syy"))
      stats
        .withColumn("nd", col("n").cast("double"))
        .withColumn("cov_pop",
          (d(col("sxy")) - d(col("sx")) * d(col("sy")) / col("nd"))
            / col("nd"))
        .withColumn("cov_samp",
          when(col("n") > 1,
            (d(col("sxy")) - d(col("sx")) * d(col("sy")) / col("nd"))
              / (col("nd") - 1.0)))
        .withColumn("vx",
          d(col("sxx")) / col("nd")
            - (d(col("sx")) / col("nd")) * (d(col("sx")) / col("nd")))
        .withColumn("vy",
          d(col("syy")) / col("nd")
            - (d(col("sy")) / col("nd")) * (d(col("sy")) / col("nd")))
        .withColumn("corr",
          when(col("vx") > 0 && col("vy") > 0,
            col("cov_pop") / sqrt(col("vx") * col("vy"))))
        .select(col("flag"), col("n"), col("cov_pop"), col("cov_samp"),
          col("corr"))
        .orderBy("flag")
    }),

    "q_avg_weighted" -> ((s, dir) => {
      val li = PipelineQueries.spread(s, Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").cast(dec).as("x"),
          col("l_quantity").cast(dec).as("w"))) // spread: see q_moments
      li.groupBy("flag").agg(
          count(lit(1)).as("n"),
          sum((col("w") * col("x")).cast(DecimalType(38, 4)))
            .cast(DecimalType(38, 4)).as("swx"),
          sum(col("w")).cast(DecimalType(28, 2)).as("sw"),
          sum(col("x")).cast(DecimalType(28, 2)).as("sx"))
        .withColumn("avg_weighted",
          when(d(col("sw")) > 0, d(col("swx")) / d(col("sw"))))
        .withColumn("avg_plain", d(col("sx")) / col("n").cast("double"))
        .withColumn("ratio",
          when(col("avg_plain") > 0,
            col("avg_weighted") / col("avg_plain")))
        .select(col("flag"), col("n"), col("avg_weighted"),
          col("avg_plain"), col("ratio"))
        .orderBy("flag")
    }))

  val oracle: Map[String, String] = Map(

    "q_moments" ->
      """WITH li AS (
        |  SELECT CAST(l_discount AS DECIMAL(4,2)) AS x FROM lineitem
        |), stats AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS DECIMAL(28,2)) AS s1,
        |    CAST(SUM(CAST(x * x AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS s2,
        |    CAST(SUM(CAST(x * x * x AS DECIMAL(18,6))) AS DECIMAL(28,6))
        |      AS s3,
        |    CAST(SUM(CAST(x * x * x * x AS DECIMAL(18,8)))
        |      AS DECIMAL(28,8)) AS s4
        |  FROM li
        |), m AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d,
        |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS s3d,
        |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS s4d
        |  FROM stats
        |), cm AS (
        |  SELECT n, nd, mu,
        |    s2d / nd - mu * mu AS m2,
        |    s3d / nd - 3.0 * mu * (s2d / nd) + 2.0 * mu * mu * mu AS m3,
        |    s4d / nd - 4.0 * mu * (s3d / nd)
        |      + 6.0 * mu * mu * (s2d / nd) - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m
        |)
        |SELECT CAST(n AS BIGINT) AS n, mu AS mean, m2 AS var_pop,
        |  CASE WHEN n > 1 THEN m2 * nd / (nd - 1.0) END AS var_samp,
        |  CASE WHEN m2 > 0 THEN m3 / sqrt(m2 * m2 * m2) END AS skew_pop,
        |  CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurt_pop
        |FROM cm""".stripMargin,

    "q_covar_corr" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(l_discount AS DECIMAL(4,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem
        |), stats AS (
        |  SELECT flag, COUNT(*) AS n,
        |    CAST(SUM(x) AS DECIMAL(28,2)) AS sx,
        |    CAST(SUM(y) AS DECIMAL(28,2)) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS syy
        |  FROM li GROUP BY flag
        |), m AS (
        |  SELECT flag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd
        |  FROM stats
        |), cm AS (
        |  SELECT flag, n, nd,
        |    (sxyd - sxd * syd / nd) / nd AS cov_pop,
        |    CASE WHEN n > 1 THEN (sxyd - sxd * syd / nd) / (nd - 1.0)
        |      END AS cov_samp,
        |    sxxd / nd - (sxd / nd) * (sxd / nd) AS vx,
        |    syyd / nd - (syd / nd) * (syd / nd) AS vy
        |  FROM m
        |)
        |SELECT flag, CAST(n AS BIGINT) AS n, cov_pop, cov_samp,
        |  CASE WHEN vx > 0 AND vy > 0 THEN cov_pop / sqrt(vx * vy)
        |    END AS corr
        |FROM cm ORDER BY flag""".stripMargin,

    "q_avg_weighted" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS w
        |  FROM lineitem
        |), stats AS (
        |  SELECT flag, COUNT(*) AS n,
        |    CAST(SUM(CAST(w * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS swx,
        |    CAST(SUM(w) AS DECIMAL(28,2)) AS sw,
        |    CAST(SUM(x) AS DECIMAL(28,2)) AS sx
        |  FROM li GROUP BY flag
        |), m AS (
        |  SELECT flag, n,
        |    CASE WHEN CAST(CAST(sw AS VARCHAR) AS DOUBLE) > 0 THEN
        |      CAST(CAST(swx AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(sw AS VARCHAR) AS DOUBLE) END AS avg_weighted,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS avg_plain
        |  FROM stats
        |)
        |SELECT flag, CAST(n AS BIGINT) AS n, avg_weighted, avg_plain,
        |  CASE WHEN avg_plain > 0 THEN avg_weighted / avg_plain
        |    END AS ratio
        |FROM m ORDER BY flag""".stripMargin)
}
