package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold

/** Round-8 eighteenth batch: rank-based nonparametric tests — the
  * distribution-free layer a data-quality / experiment-analysis stack
  * needs when normality can't be assumed.
  *
  *  - q_mann_whitney: Mann-Whitney U (Wilcoxon rank-sum) between the
  *    'R' and 'N' return-flag populations on l_quantity, with the
  *    mid-rank tie convention and the tie-corrected normal-approx
  *    variance. No global rank is ever computed: l_quantity's domain
  *    is ~50 distinct values, so the test reduces to per-value group
  *    counts (one combine shuffle over the domain) plus a
  *    domain-bounded below-count self-join — the 100 TB formulation.
  *  - q_theil_sen: Theil-Sen robust trend of daily revenue over the
  *    first 64 days — median of all pairwise slopes, then the median
  *    residual intercept. The series is day-domain-bounded (<= 64
  *    points, <= 2016 slopes), derived by one combine aggregate over
  *    orders; the slope median is exact (sorted middle), not an
  *    approximate percentile.
  *  - q_kendall_tau: Kendall tau-b between daily order volume and
  *    daily urgent-order count on the same 64-day frame — concordant /
  *    discordant / tied pair census via the bounded day×day join,
  *    tie-adjusted denominator. sqrt is IEEE-correctly-rounded in both
  *    engines, so tau_b hash-matches bitwise.
  *
  * Determinism: everything is integer counting until the final
  * one-row arithmetic (identical operation DAG both engines); the
  * only double folds (daily revenue, slope/residual medians) ride
  * the sortedFold / list_reduce(ORDER BY) pairing.
  */
object Round8rQueries {

  /** Daily (d, y=revenue, x=n_orders, u=n_urgent) frame for the first
    * 64 days of the orders table — the shared series both trend
    * queries consume. One scan, one combine aggregate keyed by day.
    */
  private def dailyFrame(s: SparkSession, dir: String): DataFrame = {
    val start = broadcast(Tables(s, dir, "orders")
      .agg(min("o_orderdate").as("d0")))
    Tables(s, dir, "orders").crossJoin(start)
      .select(datediff(col("o_orderdate"), col("d0")).cast("long").as("d"),
        col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .filter(col("d") < 64)
      .groupBy("d")
      .agg(
        sortedFold(collect_list(struct(col("o_orderkey"),
          col("o_totalprice"))), "o_totalprice").as("y"),
        count(lit(1)).as("x"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("u"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // U statistic from per-value counts: U_A = sum ca*(cumB + cb/2),
    // kept integral as 2*U until the final division. The below-count
    // runs as a broadcast self-join over the ~50-value quantity
    // domain — never a global sort/rank over the fact table.
    "q_mann_whitney" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "N"))
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("v"))
      val cnts = graft.CacheScope.retain(li.groupBy("v").agg(
        sum(when(col("g") === "R", 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === "N", 1L).otherwise(0L)).as("cb")))
      val cum = cnts.as("a")
        .join(broadcast(cnts.as("b")), col("b.v") < col("a.v"), "left")
        .groupBy(col("a.v").as("v"), col("a.ca").as("ca"),
          col("a.cb").as("cb"))
        .agg(coalesce(sum(col("b.ca")), lit(0L)).as("cuma"),
          coalesce(sum(col("b.cb")), lit(0L)).as("cumb"))
      cum.agg(
          sum("ca").as("na"), sum("cb").as("nb"),
          sum(col("ca") * (lit(2L) * col("cumb") + col("cb"))).as("t2ua"),
          sum(col("cb") * (lit(2L) * col("cuma") + col("ca"))).as("t2ub"),
          sum((col("ca") + col("cb")) * (col("ca") + col("cb")) *
            (col("ca") + col("cb")) - (col("ca") + col("cb"))).as("tt"))
        .select(
          col("na").as("n_a"), col("nb").as("n_b"),
          (col("t2ua").cast("double") / lit(2.0)).as("u_a"),
          (col("t2ub").cast("double") / lit(2.0)).as("u_b"),
          col("tt").as("tie_cubes"),
          ((col("na") * col("nb")).cast("double") / lit(2.0)).as("mu_u"),
          ((col("na") * col("nb")).cast("double") / lit(12.0) *
            ((col("na") + col("nb") + 1).cast("double") -
              col("tt").cast("double") /
                ((col("na") + col("nb")).cast("double") *
                  (col("na") + col("nb") - 1).cast("double"))))
            .as("sigma2_u"))
    }),

    // Median-of-pairwise-slopes with exact middle extraction; the
    // residual median reuses the fitted slope via a one-row broadcast.
    "q_theil_sen" -> ((s, dir) => {
      val days = graft.CacheScope.retain(
        dailyFrame(s, dir).select(col("d"), col("y")))
      val slopes = days.as("a").crossJoin(broadcast(days.as("b")))
        .filter(col("b.d") > col("a.d"))
        .select(((col("b.y") - col("a.y")) /
          (col("b.d") - col("a.d")).cast("double")).as("sl"))
      val slope = slopes
        .agg(count(lit(1)).as("n_pairs"),
          array_sort(collect_list(col("sl"))).as("sls"))
        .select(col("n_pairs"),
          // the n_pairs = 0 guard: a single-day series has no pair
          // slopes — element_at(sls, 0) would raise INVALID_INDEX_OF_ZERO
          // under ANSI where DuckDB's list[0] is NULL
          when(col("n_pairs") === 0, lit(null).cast("double"))
            .when(col("n_pairs") % 2 === 0,
              (element_at(col("sls"), (col("n_pairs") / 2).cast("int")) +
                element_at(col("sls"),
                  (col("n_pairs") / 2 + 1).cast("int"))) / lit(2.0))
            .otherwise(element_at(col("sls"),
              ((col("n_pairs") + 1) / 2).cast("int"))).as("slope"))
      days.crossJoin(broadcast(slope))
        .select(col("n_pairs"), col("slope"),
          (col("y") - col("slope") * col("d").cast("double")).as("r"))
        .groupBy("n_pairs", "slope")
        .agg(count(lit(1)).as("n_days"),
          array_sort(collect_list(col("r"))).as("rs"))
        .select(col("n_days"), col("n_pairs"), col("slope"),
          // size guard: a NULL slope (single-day series) nulls every
          // residual, and collect_list DROPS nulls — rs is then shorter
          // than n_days and the median index runs off the end; DuckDB's
          // list() keeps the NULLs and indexes to NULL, so NULL here too
          when(size(col("rs")) < col("n_days").cast("int"),
            lit(null).cast("double"))
            .when(col("n_days") % 2 === 0,
              (element_at(col("rs"), (col("n_days") / 2).cast("int")) +
                element_at(col("rs"),
                  (col("n_days") / 2 + 1).cast("int"))) / lit(2.0))
            .otherwise(element_at(col("rs"),
              ((col("n_days") + 1) / 2).cast("int"))).as("intercept"))
    }),

    // Pair census over the bounded day×day frame; tau-b's tie
    // adjustment uses pair counts straight from the census (a pair
    // tied on BOTH series lands in both tie counts, per tau-b).
    "q_kendall_tau" -> ((s, dir) => {
      val days = graft.CacheScope.retain(
        dailyFrame(s, dir).select(col("d"), col("x"), col("u")))
      val pairs = days.as("a").crossJoin(broadcast(days.as("b")))
        .filter(col("b.d") > col("a.d"))
        .select(
          when(col("b.x") > col("a.x"), 1)
            .when(col("b.x") < col("a.x"), -1).otherwise(0).as("dx"),
          when(col("b.u") > col("a.u"), 1)
            .when(col("b.u") < col("a.u"), -1).otherwise(0).as("dy"))
      val census = pairs.agg(
        count(lit(1)).as("n0"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("conc"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("disc"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tiex"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("tiey"))
      days.agg(count(lit(1)).as("n_days"))
        .crossJoin(broadcast(census))
        .select(col("n_days"), col("n0").as("n_pairs"),
          col("conc").as("concordant"), col("disc").as("discordant"),
          col("tiex").as("tie_x_pairs"), col("tiey").as("tie_y_pairs"),
          ((col("conc") - col("disc")).cast("double") /
            sqrt((col("n0") - col("tiex")).cast("double") *
              (col("n0") - col("tiey")).cast("double"))).as("tau_b"))
    }),
  )

  private val dailySql =
    """d0 AS (SELECT MIN(o_orderdate) AS d0 FROM orders),
      |daily AS (
      |  SELECT CAST(date_diff('day', d0.d0, o_orderdate) AS BIGINT) AS d,
      |    list_reduce([CAST(0 AS DOUBLE)] ||
      |      list(o_totalprice ORDER BY o_orderkey), (a, q) -> a + q) AS y,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
      |      END) AS BIGINT) AS u
      |  FROM orders, d0
      |  WHERE CAST(date_diff('day', d0.d0, o_orderdate) AS BIGINT) < 64
      |  GROUP BY 1
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_mann_whitney" ->
      """WITH li AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
        |), cnts AS (
        |  SELECT v,
        |    CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM li GROUP BY v
        |), cum AS (
        |  SELECT a.v AS v, a.ca AS ca, a.cb AS cb,
        |    CAST(COALESCE(SUM(b.ca), 0) AS BIGINT) AS cuma,
        |    CAST(COALESCE(SUM(b.cb), 0) AS BIGINT) AS cumb
        |  FROM cnts a LEFT JOIN cnts b ON b.v < a.v
        |  GROUP BY a.v, a.ca, a.cb
        |), agg AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb,
        |    CAST(SUM(ca * (2 * cumb + cb)) AS BIGINT) AS t2ua,
        |    CAST(SUM(cb * (2 * cuma + ca)) AS BIGINT) AS t2ub,
        |    CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
        |      AS BIGINT) AS tt
        |  FROM cum
        |)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(t2ua AS DOUBLE) / 2.0 AS u_a,
        |  CAST(t2ub AS DOUBLE) / 2.0 AS u_b,
        |  tt AS tie_cubes,
        |  CAST(na * nb AS DOUBLE) / 2.0 AS mu_u,
        |  CAST(na * nb AS DOUBLE) / 12.0 *
        |    (CAST(na + nb + 1 AS DOUBLE) - CAST(tt AS DOUBLE) /
        |      (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE)))
        |    AS sigma2_u
        |FROM agg""".stripMargin,

    "q_theil_sen" ->
      s"""WITH $dailySql, slopes AS (
         |  SELECT (b.y - a.y) / CAST(b.d - a.d AS DOUBLE) AS sl
         |  FROM daily a JOIN daily b ON b.d > a.d
         |), sl AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    list_sort(list(sl)) AS sls
         |  FROM slopes
         |), slope AS (
         |  SELECT n_pairs,
         |    CASE WHEN n_pairs % 2 = 0
         |      THEN (sls[CAST(n_pairs / 2 AS INT)] +
         |        sls[CAST(n_pairs / 2 + 1 AS INT)]) / 2.0
         |      ELSE sls[CAST((n_pairs + 1) / 2 AS INT)] END AS slope
         |  FROM sl
         |), resid AS (
         |  SELECT s.n_pairs AS n_pairs, s.slope AS slope,
         |    daily.y - s.slope * CAST(daily.d AS DOUBLE) AS r
         |  FROM daily, slope s
         |), res AS (
         |  SELECT n_pairs, slope, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    list_sort(list(r)) AS rs
         |  FROM resid GROUP BY n_pairs, slope
         |)
         |SELECT n_days, n_pairs, slope,
         |  CASE WHEN n_days % 2 = 0
         |    THEN (rs[CAST(n_days / 2 AS INT)] +
         |      rs[CAST(n_days / 2 + 1 AS INT)]) / 2.0
         |    ELSE rs[CAST((n_days + 1) / 2 AS INT)] END AS intercept
         |FROM res""".stripMargin,

    "q_kendall_tau" ->
      s"""WITH $dailySql, pairs AS (
         |  SELECT
         |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0
         |      END AS dx,
         |    CASE WHEN b.u > a.u THEN 1 WHEN b.u < a.u THEN -1 ELSE 0
         |      END AS dy
         |  FROM daily a JOIN daily b ON b.d > a.d
         |), census AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS conc,
         |    CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS disc,
         |    CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS tiex,
         |    CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS tiey
         |  FROM pairs
         |), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
         |SELECT nd.n_days AS n_days, c.n0 AS n_pairs,
         |  c.conc AS concordant, c.disc AS discordant,
         |  c.tiex AS tie_x_pairs, c.tiey AS tie_y_pairs,
         |  CAST(c.conc - c.disc AS DOUBLE) /
         |    sqrt(CAST(c.n0 - c.tiex AS DOUBLE) *
         |      CAST(c.n0 - c.tiey AS DOUBLE)) AS tau_b
         |FROM nd, census c""".stripMargin,
  )
}
