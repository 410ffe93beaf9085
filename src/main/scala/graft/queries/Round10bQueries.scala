package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 second batch: ClickHouse behavioral combinators, part IV —
  * retention(), the windowFunnel window-sensitivity sweep, and
  * uniqUpTo(N). (CH refs: AggregateFunctions/parametric-functions;
  * reference sink users run these against the tables this engine's sink
  * writes — SURVEY §0.)
  *
  *  - q_retention_cohorts: CH retention(cond1..condN) — per user the
  *    flag chain r1 = active on the corpus's first day, r_i = r1 AND
  *    active on day0+{1,7}; aggregated to retained counts + rates.
  *    One distinct-day frame, one broadcast of the 1-row day0, one
  *    user-keyed aggregate — no per-day shuffles.
  *  - q_window_funnel_sweep: the q_window_funnel level histogram at
  *    window = 30 m / 1 h / 2 h — the sensitivity curve that tells an
  *    analyst whether a funnel is window-robust. Three best-anchor
  *    funnels (same plan as q_window_funnel) unioned with a window_sec
  *    key.
  *  - q_uniq_upto: CH uniqUpTo(N) per hour-of-day: exact distinct users
  *    capped at N+1 (N=50) — the "many" sentinel that keeps a
  *    cardinality dashboard bounded; emitted with the cap flag.
  */
object Round10bQueries {

  /** Best-anchor windowFunnel levels per user for SEVERAL windows in
    * ONE pass (r12, guide §1.2/§2.4): the sweep used to build the whole
    * anchor×click join + anchor×purchase join + per-user aggregate
    * chain three times — once per window — and union the results. The
    * window parameter only appears inside the min(when(...)) aggregate
    * conditions, so all three windows ride the SAME two joins as
    * side-by-side aggregate columns (one row per (user, t1) after the
    * first groupBy, exactly as before, so the per-window t2/t3 minima
    * are unchanged). Emits (window_sec, level) via one explode — one
    * row per user per window, user_id dropped by the final select
    * (ADVICE r12: a per-user consumer would need to re-add it).
    */
  private def funnelLevelsSweep(s: SparkSession, dir: String,
                                windowsSec: Seq[Long]): DataFrame = {
    val ws = windowsSec.map(sec => sec -> sec * 1000000L)
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val anchors = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("t1"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"))
    val withClick = anchors.join(clicks, Seq("user_id"), "left")
      .groupBy("user_id", "t1")
      .agg(ws.map { case (sec, us) =>
        min(when(col("c_us") > col("t1") &&
          col("c_us") <= col("t1") + lit(us), col("c_us"))).as(s"t2_$sec")
      }.head, ws.tail.map { case (sec, us) =>
        min(when(col("c_us") > col("t1") &&
          col("c_us") <= col("t1") + lit(us), col("c_us"))).as(s"t2_$sec")
      }: _*)
    val t2Cols = ws.map { case (sec, _) => s"t2_$sec" }
    val perAnchor = withClick.join(purchases, Seq("user_id"), "left")
      .groupBy((Seq("user_id", "t1") ++ t2Cols).map(col): _*)
      .agg(ws.map { case (sec, us) =>
        min(when(col("p_us") > col(s"t2_$sec") &&
          col("p_us") <= col("t1") + lit(us), col("p_us"))).as(s"t3_$sec")
      }.head, ws.tail.map { case (sec, us) =>
        min(when(col("p_us") > col(s"t2_$sec") &&
          col("p_us") <= col("t1") + lit(us), col("p_us"))).as(s"t3_$sec")
      }: _*)
      .select(col("user_id") +: ws.map { case (sec, _) =>
        when(col(s"t3_$sec").isNotNull, 3)
          .when(col(s"t2_$sec").isNotNull, 2).otherwise(1).as(s"lvl_$sec")
      }: _*)
    val best = perAnchor.groupBy("user_id")
      .agg(ws.map { case (sec, _) =>
        max(col(s"lvl_$sec")).as(s"best_$sec") }.head,
        ws.tail.map { case (sec, _) =>
          max(col(s"lvl_$sec")).as(s"best_$sec") }: _*)
    ev.select("user_id").distinct()
      .join(best, Seq("user_id"), "left")
      .select(explode(array(ws.map { case (sec, _) =>
        struct(lit(sec).as("window_sec"),
          coalesce(col(s"best_$sec"), lit(0)).as("level")) }: _*)).as("e"))
      .select(col("e.window_sec").as("window_sec"),
        col("e.level").as("level"))
  }

  /** The same funnel as DuckDB SQL, namespaced by `p`. */
  private def funnelSql(p: String, windowUs: Long): String =
    s"""${p}_anchors AS (
       |  SELECT user_id, us AS t1 FROM ev WHERE event_type = 'view'
       |), ${p}_wc AS (
       |  SELECT a.user_id, a.t1,
       |    MIN(CASE WHEN c.us > a.t1 AND c.us <= a.t1 + $windowUs
       |      THEN c.us END) AS t2
       |  FROM ${p}_anchors a LEFT JOIN
       |    (SELECT user_id, us FROM ev WHERE event_type = 'click') c
       |    ON a.user_id = c.user_id
       |  GROUP BY a.user_id, a.t1
       |), ${p}_pa AS (
       |  SELECT w.user_id,
       |    CASE WHEN MIN(CASE WHEN p.us > w.t2
       |        AND p.us <= w.t1 + $windowUs THEN p.us END) IS NOT NULL
       |      THEN 3 WHEN w.t2 IS NOT NULL THEN 2 ELSE 1 END AS lvl
       |  FROM ${p}_wc w LEFT JOIN
       |    (SELECT user_id, us FROM ev WHERE event_type = 'purchase') p
       |    ON w.user_id = p.user_id
       |  GROUP BY w.user_id, w.t1, w.t2
       |), ${p}_lv AS (
       |  SELECT COALESCE(b.best, 0) AS level
       |  FROM (SELECT DISTINCT user_id FROM ev) u
       |  LEFT JOIN (SELECT user_id, MAX(lvl) AS best FROM ${p}_pa
       |    GROUP BY user_id) b USING (user_id)
       |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_retention_cohorts" -> ((s, dir) => {
      val days = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val day0 = days.agg(min(col("day")).as("d0"))
      val flags = days.join(broadcast(day0))
        .groupBy("user_id")
        .agg(
          max((col("day") === col("d0")).cast("long")).as("r1"),
          max((col("day") === date_add(col("d0"), 1)).cast("long")).as("a1"),
          max((col("day") === date_add(col("d0"), 7)).cast("long")).as("a7"))
        .select(col("r1"), (col("r1") * col("a1")).as("r2"),
          (col("r1") * col("a7")).as("r3"))
      def rate(num: Column, den: Column): Column =
        when(den > 0, num.cast("double") / den.cast("double"))
      flags.agg(count(lit(1)).as("n_users"),
        sum(col("r1")).as("day0_active"),
        sum(col("r2")).as("retained_d1"),
        sum(col("r3")).as("retained_d7"))
        .select(col("n_users"), col("day0_active"),
          col("retained_d1"), col("retained_d7"),
          rate(col("retained_d1"), col("day0_active")).as("d1_rate"),
          rate(col("retained_d7"), col("day0_active")).as("d7_rate"))
    }),

    "q_window_funnel_sweep" -> ((s, dir) => {
      funnelLevelsSweep(s, dir, Seq(1800L, 3600L, 7200L))
        .groupBy("window_sec", "level").agg(count(lit(1)).as("n_users"))
        .orderBy("window_sec", "level")
    }),

    "q_uniq_upto" -> ((s, dir) => {
      val N = 50
      Tables(s, dir, "events")
        .select(hour(col("ts")).cast("long").as("h"), col("user_id"))
        .groupBy("h")
        .agg(countDistinct(col("user_id")).as("exact"))
        .select(col("h"),
          least(col("exact"), lit(N.toLong + 1)).as("uniq_upto_50"),
          (col("exact") > N).as("is_capped"))
        .orderBy("h")
    }))

  val oracle: Map[String, String] = Map(

    "q_retention_cohorts" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), d0 AS (SELECT MIN(day) AS d0 FROM days),
        |flags AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS r1,
        |    MAX(CASE WHEN day = d0 + 1 THEN 1 ELSE 0 END) AS a1,
        |    MAX(CASE WHEN day = d0 + 7 THEN 1 ELSE 0 END) AS a7
        |  FROM days, d0 GROUP BY user_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(r1) AS BIGINT) AS day0_active,
        |  CAST(SUM(r1 * a1) AS BIGINT) AS retained_d1,
        |  CAST(SUM(r1 * a7) AS BIGINT) AS retained_d7,
        |  CASE WHEN SUM(r1) > 0 THEN
        |    CAST(SUM(r1 * a1) AS DOUBLE) / CAST(SUM(r1) AS DOUBLE) END
        |    AS d1_rate,
        |  CASE WHEN SUM(r1) > 0 THEN
        |    CAST(SUM(r1 * a7) AS DOUBLE) / CAST(SUM(r1) AS DOUBLE) END
        |    AS d7_rate
        |FROM flags""".stripMargin,

    "q_window_funnel_sweep" -> {
      val blocks = Seq(1800L, 3600L, 7200L).map { sec =>
        val p = s"w$sec"
        (funnelSql(p, sec * 1000000L),
          s"""SELECT $sec AS window_sec, level,
             |  CAST(COUNT(*) AS BIGINT) AS n_users
             |FROM ${p}_lv GROUP BY level""".stripMargin)
      }
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
         |), ${blocks.map(_._1).mkString(", ")}
         |${blocks.map(_._2).mkString("", "\nUNION ALL\n", "")}
         |ORDER BY window_sec, level""".stripMargin
    },

    "q_uniq_upto" ->
      """SELECT hour(ts) AS h,
        |  LEAST(COUNT(DISTINCT user_id), 51) AS uniq_upto_50,
        |  COUNT(DISTINCT user_id) > 50 AS is_capped
        |FROM events GROUP BY hour(ts) ORDER BY h""".stripMargin)
}
