package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 tenth batch: materialized-view / rollup workload planning —
  * the warehouse-operator loop that decides WHICH aggregates to
  * materialize for a known query workload (the MV-selection greedy of
  * Harinarayan/Rajaraman/Ullman's cube paper, on measured cardinalities
  * instead of assumed ones).
  *
  * The candidate views are grouping-key sets over lineitem; their row
  * counts are MEASURED (one multi-countDistinct scan), the workload and
  * the covers(view, query) relation are fixed metadata literals, and
  * the greedy itself runs as windows over the bounded views x queries
  * frame (48 rows) — three unrolled rounds, argmax by (benefit DESC,
  * view ASC), never a driver-side loop.
  *
  *  - q_mv_selection_greedy: the 3 picks with marginal benefit
  *    (benefit = saved rows x query frequency over still-uncovered
  *    queries).
  *  - q_workload_coverage: per workload query — which round covered it
  *    (0 = never) and the best serving view's size.
  *  - q_rollup_cost_model: actual vs attribute-independence-estimated
  *    cardinality for the rollup lattice levels (the estimator a cube
  *    planner would use, scored against truth).
  */
object Round10fQueries {

  // candidate views and the workload (frequencies) — fixed metadata
  private val ViewNames = Seq("v_flag", "v_status", "v_fs", "v_part",
    "v_supp", "v_month")
  private val Workload: Seq[(String, Long)] = Seq(
    "w_flag" -> 10L, "w_status" -> 8L, "w_fs" -> 6L, "w_part" -> 4L,
    "w_supp" -> 4L, "w_month" -> 5L, "w_flag_month" -> 3L, "w_total" -> 2L)
  /** covers(view, query): view keys are a superset of query keys. */
  private val Covers: Seq[(String, String)] = Seq(
    "v_flag" -> "w_flag", "v_fs" -> "w_flag",
    "v_status" -> "w_status", "v_fs" -> "w_status",
    "v_fs" -> "w_fs",
    "v_part" -> "w_part",
    "v_supp" -> "w_supp",
    "v_month" -> "w_month") ++ ViewNames.map(_ -> "w_total")

  /** (view, vrows) measured + n_rows: one scan, then a literal unpivot. */
  private def viewSizes(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_linestatus").as("status"), col("l_partkey").as("part"),
        col("l_suppkey").as("supp"),
        date_trunc("month", col("l_shipdate")).as("month"))
    val sizes = li.agg(
      countDistinct(col("flag")).as("r_flag"),
      countDistinct(col("status")).as("r_status"),
      countDistinct(col("flag"), col("status")).as("r_fs"),
      countDistinct(col("part")).as("r_part"),
      countDistinct(col("supp")).as("r_supp"),
      countDistinct(col("month")).as("r_month"),
      count(lit(1)).as("n_rows"))
    ViewNames.map { v =>
      sizes.select(lit(v).as("view_name"),
        col("r_" + v.stripPrefix("v_")).as("vrows"), col("n_rows"))
    }.reduce(_ unionByName _)
  }

  /** The greedy state after 3 rounds: picks (round, view, marginal
    * benefit). All frames are bounded metadata x the 6-row sizes table.
    */
  private def greedy(s: SparkSession, dir: String): DataFrame = {
    val sizes = graft.CacheScope.retain(viewSizes(s, dir))
    val wl = {
      import s.implicits._
      Workload.toDF("q", "f")
    }
    val cov = {
      import s.implicits._
      Covers.toDF("view_name", "q")
    }
    // benefit rows: (view, q, gain = f * (n_rows - vrows))
    val gains = graft.CacheScope.retain(
      cov.join(broadcast(wl), "q").join(broadcast(sizes), "view_name")
        .select(col("view_name"), col("q"),
          (col("f") * (col("n_rows") - col("vrows"))).as("gain")))
    val byBen = Window.orderBy(col("ben").desc, col("view_name").asc)
    def pick(open: DataFrame, round: Int): (DataFrame, DataFrame) = {
      val chosen = open.groupBy("view_name").agg(sum(col("gain")).as("ben"))
        .withColumn("rn", row_number().over(byBen))
        .filter(col("rn") === 1)
        .select(lit(round).as("pick_round"), col("view_name"),
          col("ben").as("marginal_benefit"))
      val covered = open.join(broadcast(chosen.select("view_name")), "view_name")
        .select("q").distinct()
      val remaining = open.join(broadcast(covered), Seq("q"), "left_anti")
      (chosen, remaining)
    }
    val (p1, o1) = pick(gains, 1)
    val (p2, o2) = pick(o1, 2)
    val (p3, _) = pick(o2, 3)
    p1.unionByName(p2).unionByName(p3)
  }

  // ---- DuckDB mirrors ----------------------------------------------

  private def metaSql: String = {
    val wl = Workload.map { case (q, f) => s"('$q', $f)" }.mkString(", ")
    val cv = Covers.map { case (v, q) => s"('$v', '$q')" }.mkString(", ")
    val unpiv = ViewNames.map(v =>
      s"SELECT '$v' AS view_name, r_${v.stripPrefix("v_")} AS vrows, n_rows " +
        "FROM sizes").mkString("\nUNION ALL\n")
    s"""sizes AS (
       |  SELECT
       |    CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS r_flag,
       |    CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS r_status,
       |    CAST(COUNT(DISTINCT (l_returnflag, l_linestatus)) AS BIGINT)
       |      AS r_fs,
       |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS r_part,
       |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS r_supp,
       |    CAST(COUNT(DISTINCT date_trunc('month', l_shipdate)) AS BIGINT)
       |      AS r_month,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM lineitem
       |), vs AS (
       |  $unpiv
       |), wl AS (SELECT * FROM (VALUES $wl) AS t(q, f)),
       |cov AS (SELECT * FROM (VALUES $cv) AS t(view_name, q)),
       |gains AS (
       |  SELECT c.view_name, c.q, CAST(w.f * (v.n_rows - v.vrows) AS BIGINT)
       |    AS gain
       |  FROM cov c JOIN wl w ON c.q = w.q JOIN vs v ON c.view_name = v.view_name
       |)""".stripMargin
  }

  private def greedySql: String = {
    def round(i: Int, from: String): String =
      s"""b$i AS (
         |  SELECT view_name, CAST(SUM(gain) AS BIGINT) AS ben
         |  FROM $from GROUP BY view_name
         |), p$i AS (
         |  SELECT $i AS pick_round, view_name, ben AS marginal_benefit FROM (
         |    SELECT view_name, ben,
         |      ROW_NUMBER() OVER (ORDER BY ben DESC, view_name ASC) AS rn
         |    FROM b$i) WHERE rn = 1
         |), open$i AS (
         |  SELECT g.* FROM $from g
         |  WHERE g.q NOT IN (
         |    SELECT q FROM $from WHERE view_name IN (SELECT view_name FROM p$i))
         |)""".stripMargin
    s"""${round(1, "gains")}, ${round(2, "open1")}, ${round(3, "open2")},
       |picks AS (
       |  SELECT * FROM p1 UNION ALL SELECT * FROM p2
       |  UNION ALL SELECT * FROM p3
       |)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_mv_selection_greedy" -> ((s, dir) =>
      greedy(s, dir).orderBy("pick_round")),

    "q_workload_coverage" -> ((s, dir) => {
      val picks = graft.CacheScope.retain(greedy(s, dir))
      val cov = {
        import s.implicits._
        Covers.toDF("view_name", "q")
      }
      val wl = {
        import s.implicits._
        Workload.toDF("q", "f")
      }
      val sizes = viewSizes(s, dir)
      val served = cov.join(broadcast(picks), "view_name")
        .join(broadcast(sizes.select("view_name", "vrows")), "view_name")
        .groupBy("q")
        .agg(min(col("pick_round")).as("covered_round"),
          min(col("vrows")).as("best_view_rows"))
      wl.join(served, Seq("q"), "left")
        .select(col("q").as("workload_query"), col("f").as("freq"),
          coalesce(col("covered_round"), lit(0)).as("covered_round"),
          col("best_view_rows"))
        .orderBy("workload_query")
    }),

    "q_rollup_cost_model" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_linestatus").as("status"),
          date_trunc("month", col("l_shipdate")).as("month"))
      val sz = li.agg(
        countDistinct(col("flag")).as("d_flag"),
        countDistinct(col("status")).as("d_status"),
        countDistinct(col("month")).as("d_month"),
        countDistinct(col("flag"), col("status")).as("a_fs"),
        countDistinct(col("flag"), col("status"), col("month")).as("a_fsm"),
        count(lit(1)).as("n"))
      // rollup lattice: (), (flag), (flag,status), (flag,status,month);
      // independence estimate = capped product of attribute counts
      def row(g: String, actual: org.apache.spark.sql.Column,
              est: org.apache.spark.sql.Column) =
        sz.select(lit(g).as("grouping_set"), actual.as("actual_groups"),
          least(est, col("n")).as("independence_est"))
      row("()", lit(1L), lit(1L))
        .unionByName(row("(flag)", col("d_flag"), col("d_flag")))
        .unionByName(row("(flag,status)", col("a_fs"),
          col("d_flag") * col("d_status")))
        .unionByName(row("(flag,status,month)", col("a_fsm"),
          col("d_flag") * col("d_status") * col("d_month")))
        // try_divide: on an EMPTY table the capped estimates are 0 —
        // the ratio is NULL (DuckDB's x/0)
        .withColumn("underestimate_ratio",
          try_divide(col("actual_groups").cast("double"),
            col("independence_est").cast("double")))
        .orderBy("grouping_set")
    }))

  val oracle: Map[String, String] = Map(

    "q_mv_selection_greedy" ->
      s"""WITH $metaSql, $greedySql
         |SELECT pick_round, view_name, marginal_benefit FROM picks
         |ORDER BY pick_round""".stripMargin,

    "q_workload_coverage" ->
      s"""WITH $metaSql, $greedySql,
         |served AS (
         |  SELECT c.q, MIN(p.pick_round) AS covered_round,
         |    MIN(v.vrows) AS best_view_rows
         |  FROM cov c JOIN picks p ON c.view_name = p.view_name
         |  JOIN vs v ON c.view_name = v.view_name
         |  GROUP BY c.q
         |)
         |SELECT w.q AS workload_query, w.f AS freq,
         |  COALESCE(s.covered_round, 0) AS covered_round,
         |  s.best_view_rows
         |FROM wl w LEFT JOIN served s ON w.q = s.q
         |ORDER BY workload_query""".stripMargin,

    "q_rollup_cost_model" ->
      """WITH sz AS (
        |  SELECT
        |    CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS d_flag,
        |    CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS d_status,
        |    CAST(COUNT(DISTINCT date_trunc('month', l_shipdate)) AS BIGINT)
        |      AS d_month,
        |    CAST(COUNT(DISTINCT (l_returnflag, l_linestatus)) AS BIGINT)
        |      AS a_fs,
        |    CAST(COUNT(DISTINCT (l_returnflag, l_linestatus,
        |      date_trunc('month', l_shipdate))) AS BIGINT) AS a_fsm,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem
        |), rows_ AS (
        |  SELECT '()' AS grouping_set, CAST(1 AS BIGINT) AS actual_groups,
        |    LEAST(CAST(1 AS BIGINT), n) AS independence_est FROM sz
        |  UNION ALL SELECT '(flag)', d_flag, LEAST(d_flag, n) FROM sz
        |  UNION ALL SELECT '(flag,status)', a_fs,
        |    LEAST(d_flag * d_status, n) FROM sz
        |  UNION ALL SELECT '(flag,status,month)', a_fsm,
        |    LEAST(d_flag * d_status * d_month, n) FROM sz
        |)
        |SELECT grouping_set, actual_groups, independence_est,
        |  CAST(actual_groups AS DOUBLE) / CAST(independence_est AS DOUBLE)
        |    AS underestimate_ratio
        |FROM rows_ ORDER BY grouping_set""".stripMargin)
}
