package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 batch n: exact Shapley-value marketing attribution over the
  * 4 touch channels (view/click/signup/error) preceding a user's first
  * purchase. The coalition game is the standard one (Zhao et al., "Shapley
  * Value Methods for Attribution Modeling"): v(S) = converters whose
  * touched-channel set ⊆ S; φ_c = Σ_{S ∌ c} w(|S|)·(v(S∪{c}) − v(S))
  * with w = |S|!·(k−|S|−1)!/k!.
  *
  * Exactness: with k = 4 the weight numerators are the integers
  * {6, 2, 2, 6} over 4! = 24, so φ_c·24 is an EXACT integer — the
  * engine emits that integer (and φ as one final correctly-rounded
  * division), never a float sum of fractional weights. Same rule for
  * the linear heuristic: per-converter shares 1/|set| scaled by
  * lcm(1..4) = 12 to integers.
  *
  * Scale posture: the only full-data pass is the per-user touch-set
  * reduction (groupBy user, conversion-anchored as-of semantics); the
  * game itself lives on the 16-row coalition lattice and 4-row channel
  * alphabet — metadata-sized frames joined by broadcast. At 100 TB the
  * exact-subset conversion census is one map-side-combined aggregate.
  *
  *  - q_coalition_values: the 16-row v(S) lattice (exact-subset
  *    conversions + cumulative coalition value).
  *  - q_shapley_attribution: per-channel φ·24 (exact), φ, and share;
  *    efficiency pinned by spec (Σφ·24 = 24·v(full)).
  *  - q_attribution_compare: Shapley vs last-touch vs linear — the
  *    three standard attribution rules side by side, all exact.
  */
object Round10nQueries {

  private val channels = Seq(("view", 1), ("click", 2), ("signup", 4),
    ("error", 8))

  /** Per-converter touch bitmask: channels touched strictly before the
    * user's first purchase. Converters with no prior touches carry
    * mask 0.
    */
  private def converterMasks(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("ts")).as("conv_ts"))
    val bit = channels.foldLeft(lit(0)) { case (acc, (name, b)) =>
      when(col("event_type") === name, lit(b)).otherwise(acc)
    }
    ev.filter(col("event_type") =!= "purchase")
      .join(firstPurchase, Seq("user_id"))
      .filter(col("ts") < col("conv_ts"))
      .select(col("user_id"), bit.as("bit"))
      .groupBy("user_id").agg(sum_distinct(col("bit")).as("mask"))
      // converters with zero prior touches: right side of the set
      .join(firstPurchase.select("user_id"), Seq("user_id"), "right")
      .select(col("user_id"),
        coalesce(col("mask"), lit(0L)).cast("long").as("mask"))
  }

  /** The 16-row coalition lattice with exact-subset conversion counts
    * and cumulative v(S).
    */
  private def lattice(s: SparkSession, dir: String): DataFrame = {
    val conv = converterMasks(s, dir)
      .groupBy("mask").agg(count(lit(1)).as("conv"))
    val states = s.range(16).select(col("id").as("coalition"))
    states.join(broadcast(conv),
        expr("(mask & coalition) = mask"), "left")
      .groupBy("coalition")
      .agg(coalesce(sum(when(col("mask") === col("coalition"),
          col("conv"))), lit(0L)).as("exact_conv"),
        coalesce(sum(col("conv")), lit(0L)).as("v"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_coalition_values" -> ((s, dir) => {
      lattice(s, dir)
        .withColumn("n_channels", expr("bit_count(coalition)"))
        .select("coalition", "n_channels", "exact_conv", "v")
        .orderBy("coalition")
    }),

    "q_shapley_attribution" -> ((s, dir) => {
      val v = graft.CacheScope.retain(
        lattice(s, dir).select(col("coalition"), col("v")))
      val ch = { import s.implicits._; channels.toDF("channel", "bit") }
      // S ranges over coalitions NOT containing c; weight numerator
      // |S|!·(3−|S|)! ∈ {6,2,2,6}; φ·24 = Σ w·(v(S∪c) − v(S))
      val terms = broadcast(ch)
        .join(broadcast(v.withColumnRenamed("coalition", "s")
          .withColumnRenamed("v", "v_s")), expr("(s & bit) = 0"))
        .join(broadcast(v.withColumnRenamed("coalition", "sc")
          .withColumnRenamed("v", "v_sc")), expr("sc = (s | bit)"))
        .withColumn("w", expr(
          "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 " +
            "WHEN 2 THEN 2 ELSE 6 END"))
      terms.groupBy("channel")
        .agg(sum(col("w") * (col("v_sc") - col("v_s"))).as("phi24"))
        .withColumn("phi", col("phi24").cast("double") / lit(24.0))
        .orderBy("channel")
    }),

    "q_attribution_compare" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("ts")).as("conv_ts"))
      // retained: three consumers below (the last-touch window and the
      // two distinct-set arms) each re-ran the events scan + conversion
      // join otherwise (r13, guide §1.2)
      val touches = graft.CacheScope.retain(
        ev.filter(col("event_type") =!= "purchase")
          .join(firstPurchase, Seq("user_id"))
          .filter(col("ts") < col("conv_ts")))
      // last-touch: latest pre-conversion touch (ts, then event_id —
      // a total order) per user
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val lastTouch = touches
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("event_type").as("channel"))
        .agg(count(lit(1)).as("last_touch"))
      // linear: each touched channel of a converter gets 12/|set|.
      // |set| per user comes from a count window over the SAME distinct
      // frame instead of a groupBy + self-join of two copies of it
      // (r13, guide §2.4: the aggregation and the window are keyed the
      // same way, one shuffle serves both)
      val wSet = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
      val linear = touches.select("user_id", "event_type").distinct()
        .withColumn("n_set", count(lit(1)).over(wSet))
        .groupBy(col("event_type").as("channel"))
        .agg(sum(expr("12 div n_set")).as("linear12"))
      // shapley from the lattice
      val v = lattice(s, dir).select(col("coalition"), col("v"))
      val ch = { import s.implicits._; channels.toDF("channel", "bit") }
      val shap = broadcast(ch)
        .join(broadcast(v.withColumnRenamed("coalition", "s")
          .withColumnRenamed("v", "v_s")), expr("(s & bit) = 0"))
        .join(broadcast(v.withColumnRenamed("coalition", "sc")
          .withColumnRenamed("v", "v_sc")), expr("sc = (s | bit)"))
        .withColumn("w", expr(
          "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 " +
            "WHEN 2 THEN 2 ELSE 6 END"))
        .groupBy("channel")
        .agg(sum(col("w") * (col("v_sc") - col("v_s"))).as("phi24"))
      shap.join(lastTouch, Seq("channel"), "left")
        .join(linear, Seq("channel"), "left")
        .select(col("channel"), col("phi24"),
          coalesce(col("last_touch"), lit(0L)).as("last_touch"),
          coalesce(col("linear12"), lit(0L)).as("linear12"))
        .orderBy("channel")
    }))

  private val masksSql =
    """fp AS (
      |  SELECT user_id, min(ts) AS conv_ts FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1
      |), touch AS (
      |  SELECT e.user_id, e.event_type, e.ts, e.event_id
      |  FROM events e JOIN fp ON e.user_id = fp.user_id
      |  WHERE e.event_type <> 'purchase' AND e.ts < fp.conv_ts
      |), masks AS (
      |  SELECT fp.user_id, COALESCE(m.mask, 0) AS mask
      |  FROM fp LEFT JOIN (
      |    SELECT user_id, SUM(DISTINCT CASE event_type
      |      WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |      WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END) AS mask
      |    FROM touch GROUP BY 1
      |  ) m ON fp.user_id = m.user_id
      |), conv AS (
      |  SELECT mask, CAST(COUNT(*) AS BIGINT) AS conv FROM masks GROUP BY 1
      |), lattice AS (
      |  SELECT g.coalition,
      |    CAST(COALESCE(SUM(CASE WHEN c.mask = g.coalition
      |      THEN c.conv END), 0) AS BIGINT) AS exact_conv,
      |    CAST(COALESCE(SUM(c.conv), 0) AS BIGINT) AS v
      |  FROM (SELECT range AS coalition FROM range(16)) g
      |  LEFT JOIN conv c ON (c.mask & g.coalition) = c.mask
      |  GROUP BY 1
      |), chan AS (
      |  SELECT 'view' AS channel, 1 AS bit UNION ALL
      |  SELECT 'click', 2 UNION ALL
      |  SELECT 'signup', 4 UNION ALL
      |  SELECT 'error', 8
      |), shap AS (
      |  SELECT ch.channel,
      |    CAST(SUM((CASE bit_count(vs.coalition) WHEN 0 THEN 6
      |      WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
      |      * (vsc.v - vs.v)) AS BIGINT) AS phi24
      |  FROM chan ch
      |  JOIN lattice vs ON (vs.coalition & ch.bit) = 0
      |  JOIN lattice vsc ON vsc.coalition = (vs.coalition | ch.bit)
      |  GROUP BY 1
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_coalition_values" ->
      s"""WITH $masksSql
         |SELECT coalition, CAST(bit_count(coalition) AS INTEGER)
         |    AS n_channels,
         |  exact_conv, v
         |FROM lattice ORDER BY coalition""".stripMargin,

    "q_shapley_attribution" ->
      s"""WITH $masksSql
         |SELECT channel, phi24,
         |  CAST(phi24 AS DOUBLE) / 24.0 AS phi
         |FROM shap ORDER BY channel""".stripMargin,

    "q_attribution_compare" ->
      s"""WITH $masksSql, lt AS (
         |  SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT)
         |      AS last_touch
         |  FROM (
         |    SELECT user_id, event_type,
         |      row_number() OVER (PARTITION BY user_id
         |        ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM touch
         |  ) WHERE rn = 1 GROUP BY 1
         |), sets AS (
         |  SELECT DISTINCT user_id, event_type FROM touch
         |), sizes AS (
         |  SELECT user_id, COUNT(*) AS n_set FROM sets GROUP BY 1
         |), lin AS (
         |  SELECT s.event_type AS channel,
         |    CAST(SUM(12 // z.n_set) AS BIGINT) AS linear12
         |  FROM sets s JOIN sizes z ON s.user_id = z.user_id
         |  GROUP BY 1
         |)
         |SELECT sh.channel, sh.phi24,
         |  COALESCE(lt.last_touch, 0) AS last_touch,
         |  COALESCE(lin.linear12, 0) AS linear12
         |FROM shap sh
         |LEFT JOIN lt ON lt.channel = sh.channel
         |LEFT JOIN lin ON lin.channel = sh.channel
         |ORDER BY sh.channel""".stripMargin)
}
