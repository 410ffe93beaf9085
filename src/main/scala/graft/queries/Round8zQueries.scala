package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{dec, md5Head, md5HeadSql}

/** Round-8 twenty-sixth batch: the experimentation-platform layer —
  * variance reduction, test sizing, and the panel-data estimator.
  *
  *  - q_cuped: CUPED variance reduction (Deng et al.): theta =
  *    cov(X,Y)/var(X) with pre-period covariate X = account balance
  *    and metric Y = customer order spend; reports theta, corr, and
  *    the variance-reduction factor 1-rho^2 an A/B platform gains by
  *    adjusting. All moments come from EXACT DECIMAL sums (the data
  *    is 2-decimal money), so no fold ordering is needed at all —
  *    the moment route that scales without collect_list.
  *  - q_power_analysis: required per-arm n to detect a {1,2,5}%
  *    absolute lift in the urgent-order rate at alpha=.05 / power .8:
  *    n = (z_a + z_b)^2 * 2 p(1-p) / delta^2, z constants as shared
  *    literals. The "how long must this test run" table.
  *  - q_did_estimator: difference-in-differences over an md5-assigned
  *    treatment split and the early/late date halves: the 2x2 cell
  *    means of order value and the DiD effect (zero in expectation
  *    here — the placebo audit an experimentation pipeline runs to
  *    validate its assignment machinery).
  *
  * Determinism: every mean/second-moment rides DECIMAL(18,2+) exact
  * sums cast to double only inside the final one-row arithmetic DAG,
  * which the oracle mirrors verbatim.
  */
object Round8zQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_cuped" -> ((s, dir) => {
      val y = Tables(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(dec)).as("y"))
      // re-narrow the per-customer sum to (18,2): second moments of the
      // wide sum type would exceed decimal-38 and the two engines
      // degrade precision differently there
      val xy = Tables(s, dir, "customer")
        .join(y, col("c_custkey") === col("o_custkey"))
        .select(col("c_acctbal").cast(dec).as("x"),
          col("y").cast(dec).as("y"))
      // decimal -> string -> double: correctly-rounded on both engines
      // (DuckDB's direct decimal cast mis-rounds 1 ulp at sf0.001)
      val m = xy.agg(count(lit(1)).as("n"),
        sum("x").cast("string").cast("double").as("sx"),
        sum("y").cast("string").cast("double").as("sy"),
        sum(col("x") * col("x")).cast("string").cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("string").cast("double").as("syy"),
        sum(col("x") * col("y")).cast("string").cast("double").as("sxy"))
      m.select(col("n"),
          (col("sxy") - col("sx") * col("sy") / col("n").cast("double"))
            .as("cov_xy"),
          (col("sxx") - col("sx") * col("sx") / col("n").cast("double"))
            .as("var_x"),
          (col("syy") - col("sy") * col("sy") / col("n").cast("double"))
            .as("var_y"))
        // try_divide: a single-customer (or constant-covariate) sample
        // has zero variance — theta/rho2 undefined (NULL, DuckDB's x/0)
        .select(col("n"), col("cov_xy"), col("var_x"), col("var_y"),
          try_divide(col("cov_xy"), col("var_x")).as("theta"),
          try_divide(col("cov_xy") * col("cov_xy"),
            col("var_x") * col("var_y")).as("rho2"))
        .select(col("n"), col("theta"), col("rho2"),
          (lit(1.0) - col("rho2")).as("var_reduction_factor"))
    }),

    // z_{.975} and z_{.80} as shared literal constants (the test's
    // modeling inputs, not computed quantities)
    "q_power_analysis" -> ((s, dir) => {
      val p = Tables(s, dir, "orders").agg(
        count(lit(1)).as("n_orders"),
        (sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("p"))
      val deltas = broadcast(s.range(3).select(
        element_at(array(lit(0.01), lit(0.02), lit(0.05)),
          (col("id") + 1).cast("int")).as("delta")))
      p.crossJoin(deltas)
        .select(col("delta"), col("n_orders"), col("p"),
          (col("p") * (lit(1.0) - col("p"))).as("sigma2"))
        .select(col("delta"), col("n_orders"), col("p"), col("sigma2"),
          ceil(lit(7.848879734349088) * lit(2.0) *
            col("sigma2") / (col("delta") * col("delta")))
            .cast("long").as("n_per_arm"))
        .orderBy("delta")
    }),

    "q_did_estimator" -> ((s, dir) => {
      val bounds = broadcast(Tables(s, dir, "orders")
        .agg(min("o_orderdate").as("dmin"), max("o_orderdate").as("dmax")))
      val cells = Tables(s, dir, "orders").crossJoin(bounds)
        .select(
          when(md5Head(concat(lit("arm:"),
            col("o_custkey").cast("string"))) % 2 === 0, "treat")
            .otherwise("control").as("arm"),
          when(lit(2) * datediff(col("o_orderdate"), col("dmin")) <=
            datediff(col("dmax"), col("dmin")), "pre")
            .otherwise("post").as("period"),
          col("o_totalprice"))
        .groupBy("arm", "period")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).as("s"))
        .select(col("arm"), col("period"), col("n"),
          (col("s").cast("double") / col("n").cast("double"))
            .as("mean_value"))
      // GLOBAL aggregate, not groupBy(lit(1)): a literal group over an
      // EMPTY frame has zero groups, but the oracle's ungrouped
      // aggregate emits its one row of NULLs either way
      val wide = cells
        .agg(
          min(when(col("arm") === "treat" && col("period") === "pre",
            col("mean_value"))).as("t_pre"),
          min(when(col("arm") === "treat" && col("period") === "post",
            col("mean_value"))).as("t_post"),
          min(when(col("arm") === "control" && col("period") === "pre",
            col("mean_value"))).as("c_pre"),
          min(when(col("arm") === "control" && col("period") === "post",
            col("mean_value"))).as("c_post"))
      wide.select(col("t_pre"), col("t_post"), col("c_pre"),
        col("c_post"),
        ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
          .as("did_effect"))
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_cuped" ->
      """WITH y AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM orders GROUP BY o_custkey
        |), xy AS (
        |  SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS x,
        |    CAST(y.y AS DECIMAL(18,2)) AS y
        |  FROM customer JOIN y ON c_custkey = o_custkey
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
        |    CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM xy
        |), c AS (
        |  SELECT n,
        |    sxy - sx * sy / CAST(n AS DOUBLE) AS cov_xy,
        |    sxx - sx * sx / CAST(n AS DOUBLE) AS var_x,
        |    syy - sy * sy / CAST(n AS DOUBLE) AS var_y
        |  FROM m
        |), r AS (
        |  SELECT n, cov_xy / var_x AS theta,
        |    cov_xy * cov_xy / (var_x * var_y) AS rho2
        |  FROM c
        |)
        |SELECT n, theta, rho2, 1.0 - rho2 AS var_reduction_factor
        |FROM r""".stripMargin,

    "q_power_analysis" ->
      """WITH pr AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
        |      ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p
        |  FROM orders
        |), d AS (SELECT unnest([CAST(0.01 AS DOUBLE),
        |    CAST(0.02 AS DOUBLE), CAST(0.05 AS DOUBLE)]) AS delta)
        |SELECT d.delta AS delta, pr.n_orders AS n_orders, pr.p AS p,
        |  pr.p * (1.0 - pr.p) AS sigma2,
        |  CAST(ceil(7.848879734349088 * 2.0 * (pr.p * (1.0 - pr.p)) /
        |    (d.delta * d.delta)) AS BIGINT) AS n_per_arm
        |FROM pr CROSS JOIN d
        |ORDER BY delta""".stripMargin,

    "q_did_estimator" ->
      s"""WITH b AS (
         |  SELECT MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax
         |  FROM orders
         |), cells AS (
         |  SELECT CASE WHEN ${md5HeadSql(
             "'arm:' || CAST(o_custkey AS VARCHAR)")} % 2 = 0
         |      THEN 'treat' ELSE 'control' END AS arm,
         |    CASE WHEN 2 * date_diff('day', b.dmin, o_orderdate)
         |      <= date_diff('day', b.dmin, b.dmax)
         |      THEN 'pre' ELSE 'post' END AS period,
         |    o_totalprice
         |  FROM orders, b
         |), agg AS (
         |  SELECT arm, period, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
         |  FROM cells GROUP BY arm, period
         |), mv AS (
         |  SELECT arm, period,
         |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_value
         |  FROM agg
         |), wide AS (
         |  SELECT
         |    MIN(CASE WHEN arm = 'treat' AND period = 'pre'
         |      THEN mean_value END) AS t_pre,
         |    MIN(CASE WHEN arm = 'treat' AND period = 'post'
         |      THEN mean_value END) AS t_post,
         |    MIN(CASE WHEN arm = 'control' AND period = 'pre'
         |      THEN mean_value END) AS c_pre,
         |    MIN(CASE WHEN arm = 'control' AND period = 'post'
         |      THEN mean_value END) AS c_post
         |  FROM mv
         |)
         |SELECT t_pre, t_post, c_pre, c_post,
         |  (t_post - t_pre) - (c_post - c_pre) AS did_effect
         |FROM wide""".stripMargin,
  )
}
