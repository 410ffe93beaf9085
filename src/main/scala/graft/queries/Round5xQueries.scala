package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5x batch: model-evaluation harness — the metrics a pipeline
  * computes over its own classifiers, rankers and recommenders before
  * trusting them to route 100 TB of data.
  *
  *  - q_auc_rank: ROC AUC of a behavioral score via the tie-averaged
  *    Mann–Whitney rank-sum (all-integer numerator)
  *  - q_f1_macro: accuracy / macro-P/R/F1 of the lang_id heuristic
  *    classifier against the labeled lang column
  *  - q_calibration_bins: 10-bin reliability table for a pseudo-
  *    probability model (predicted vs observed rate per bin)
  *  - q_cum_gains: decile cumulative-gains / lift table of the
  *    purchase-propensity ranking
  *  - q_mrr_popularity: MRR@20 + hit-rate of a popularity recommender
  *    against each customer's held-out last order
  *
  * Determinism contract (same as every batch): cross-row arithmetic is
  * integer (counts, rank sums, LCM-scaled reciprocals, raw 32-bit
  * hashes); doubles appear only in final per-row mirrored IEEE
  * expression trees, and any cross-class double reduction folds over a
  * sorted list so both engines add in the same order.
  */
object Round5xQueries {

  /** Per-user behavioral features: score = click count (the "model"),
    * label = ever purchased. One combine aggregate over events.
    */
  private def userScores(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("label"))

  /** DuckDB fragment: first 8 md5 hex digits of `e` as a BIGINT in
    * [0, 2^32) — mirrors Spark's conv(substring(md5(e),1,8),16,10).
    */
  private def hexSql(e: String): String =
    s"""list_reduce([CAST(0 AS BIGINT)] || list_transform(
       |      string_split_regex(substring(md5($e), 1, 8), ''),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
       |      (acc, v) -> acc * 16 + v)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ROC AUC of the click-count score for purchase conversion, via
    // the Mann–Whitney rank-sum with tie-averaged ranks. The per-row
    // rank never materializes: rows collapse to DISTINCT SCORE groups
    // first (one combine aggregate), the cumulative window runs over
    // that bounded score domain (clicks per user — hundreds of values
    // at any corpus size, so the unpartitioned window is a few-KB
    // task, the same shape as q_ks_split's ECDF), and the whole
    // numerator stays integer: with ranks cumBefore+1..cumBefore+cnt
    // per group, 2·Σranks_pos = Σ pos·(2·cumBefore + cnt + 1), so
    // AUC = (s2 − n1·(n1+1)) / (2·n1·n0) needs exactly one double
    // division. Degenerate single-class data reports NULL.
    "q_auc_rank" -> ((s, dir) => {
      val byScore = userScores(s, dir)
        .groupBy("score")
        .agg(count(lit(1)).as("cnt"), sum("label").as("pos"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = byScore
        .withColumn("cum_before", coalesce(sum(col("cnt")).over(w), lit(0L)))
      cum.agg(
          sum(col("cnt")).as("n_users"),
          sum(col("pos")).as("n_pos"),
          sum(col("cnt") - col("pos")).as("n_neg"),
          sum(col("pos") * (lit(2L) * col("cum_before") + col("cnt") + lit(1L)))
            .as("s2"))
        .select(col("n_users"), col("n_pos"), col("n_neg"),
          when(col("n_pos") === 0L || col("n_neg") === 0L,
            lit(null).cast("double"))
            .otherwise(
              (col("s2") - col("n_pos") * (col("n_pos") + lit(1L)))
                .cast("double")
                / (lit(2.0) * col("n_pos") * col("n_neg")))
            .as("auc"))
    }),

    // Multi-class eval of the lang_id marker-word classifier against
    // the labeled lang column: accuracy plus macro precision/recall/F1
    // over the ground-truth class set (classes predicted but never
    // actual contribute to fp through the per-class join, not to the
    // macro mean — the standard convention). Per-class tp/fp/fn are
    // exact longs from two combine aggregates; per-class P/R/F1 are
    // mirrored per-row doubles (0.0 for degenerate 0/0 cells); the
    // macro means fold over the class-sorted list so both engines sum
    // the handful of doubles in the same order.
    "q_f1_macro" -> ((s, dir) => {
      val pred = PipelineQueries.queries("lang_id")(s, dir)
        .select(col("doc_id"), col("lang_guess"))
      val j = Tables(s, dir, "documents").select("doc_id", "lang")
        .join(pred, "doc_id")
        .select(col("lang").as("actual"), col("lang_guess").as("predicted"))
      val act = j.groupBy(col("actual").as("c"))
        .agg(count(lit(1)).as("n_act"),
          sum(when(col("predicted") === col("actual"), 1L).otherwise(0L))
            .as("tp"))
      val prd = j.groupBy(col("predicted").as("c"))
        .agg(count(lit(1)).as("n_pred"))
      val cls = act.join(prd, Seq("c"), "left")
        .select(col("c"), col("tp"),
          (col("n_act") - col("tp")).as("fn"),
          (coalesce(col("n_pred"), lit(0L)) - col("tp")).as("fp"))
      val f = cls
        .withColumn("p",
          when(col("tp") + col("fp") === 0L, lit(0.0))
            .otherwise(col("tp").cast("double") / (col("tp") + col("fp"))))
        .withColumn("r",
          when(col("tp") + col("fn") === 0L, lit(0.0))
            .otherwise(col("tp").cast("double") / (col("tp") + col("fn"))))
      val f1 = f.withColumn("f1",
        when(col("p") + col("r") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("p") * col("r") / (col("p") + col("r"))))
      val totals = j.agg(count(lit(1)).as("n_docs"))
      def foldSum(field: String): Column =
        aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x.getField(field))
      f1.agg(
          count(lit(1)).as("n_classes"),
          sum(col("tp")).as("tp_total"),
          sort_array(collect_list(
            struct(col("c"), col("p"), col("r"), col("f1")))).as("arr"))
        .crossJoin(broadcast(totals))
        // try_divide: an empty corpus has no classes — the macro means
        // are NULL (DuckDB's x/0)
        .select(col("n_classes"),
          try_divide(col("tp_total").cast("double"), col("n_docs"))
            .as("accuracy"),
          try_divide(foldSum("p"), col("n_classes")).as("macro_precision"),
          try_divide(foldSum("r"), col("n_classes")).as("macro_recall"),
          try_divide(foldSum("f1"), col("n_classes")).as("macro_f1"))
    }),

    // Reliability diagram data: a pseudo-probability model (md5 of the
    // event id, uniform on [0,1)) scored against the purchase outcome,
    // 10 equal-width bins. Bin ids and per-bin sums stay in the raw
    // 32-bit-hash integer domain (bin = h·10 div 2^32 — exact long
    // arithmetic); mean predicted probability and observed rate are
    // per-bin mirrored divisions, and the |confidence − accuracy| gap
    // is one IEEE subtract+abs of those two mirrored doubles. ECE is
    // NOT summed across bins (a cross-group double sum has no defined
    // order) — the per-bin table is the deliverable.
    "q_calibration_bins" -> ((s, dir) => {
      val h = conv(substring(md5(col("event_id").cast("string")), 1, 8),
        16, 10).cast("long")
      Tables(s, dir, "events")
        .select(h.as("h"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .withColumn("bin",
          call_function("div", col("h") * 10L, lit(4294967296L)).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
          sum("h").as("sum_h"))
        .withColumn("mean_pred",
          col("sum_h").cast("double") / col("n") / lit(4294967296.0))
        .withColumn("obs_rate", col("n_pos").cast("double") / col("n"))
        .withColumn("calib_gap", abs(col("mean_pred") - col("obs_rate")))
        .select("bin", "n", "n_pos", "mean_pred", "obs_rate", "calib_gap")
        .orderBy("bin")
    }),

    // Decile cumulative-gains / lift table: users ranked by score DESC
    // through GlobalRank (range-bucketed exact rank — no unpartitioned
    // row_number over the full corpus), decile = (rank−1)·10 div n,
    // then a 10-row cumulative window. gain = cumulative positives /
    // total positives; lift = gain ÷ population share — both mirrored
    // double trees over exact longs.
    "q_cum_gains" -> ((s, dir) => {
      val users = userScores(s, dir)
      val ranked = graft.operators.GlobalRank.withRank(
        users, -col("score"), col("user_id"), "rk")
      val tot = users.agg(count(lit(1)).as("n_users"),
        sum("label").as("n_pos_total"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("decile",
          call_function("div", (col("rk") - 1L) * 10L, col("n_users"))
            .cast("int"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), sum("label").as("n_pos"),
          max("n_pos_total").as("npt"))
        .withColumn("cum_pos",
          sum(col("n_pos")).over(Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, 0)))
        // try_divide: zero total positives (a corpus with no purchase
        // events) makes gain/lift NULL, matching DuckDB's x/0
        .withColumn("cum_gain",
          try_divide(col("cum_pos").cast("double"), col("npt")))
        .withColumn("lift",
          try_divide(col("cum_pos").cast("double"), col("npt")) * lit(10.0)
            / (col("decile") + 1))
        .select("decile", "n", "n_pos", "cum_pos", "cum_gain", "lift")
        .orderBy("decile")
    }),

    // Recommender eval: recommend the global top-20 most-purchased
    // parts (TakeOrdered — map-side partial top-k, never a full sort)
    // and score against each customer's HELD-OUT LAST order (per-
    // customer row_number — a high-cardinality partition key, the
    // scale-safe window class). Reciprocal ranks live in the exact
    // integer domain: rr·LCM(1..20) = 232792560 div best_rank is a
    // lossless long for every rank 1..20, so MRR needs no cross-row
    // double sum — one division at the end.
    "q_mrr_popularity" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pop = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      val top20 = pop.orderBy(col("cnt").desc, col("l_partkey")).limit(20)
        .withColumn("rank_pop",
          row_number().over(Window.orderBy(col("cnt").desc, col("l_partkey"))))
        .select("l_partkey", "rank_pop")
      val wC = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val lastOrd = Tables(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("rn", row_number().over(wC))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey")
      val perCust = lastOrd
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(top20), Seq("l_partkey"), "left")
        .groupBy("o_custkey")
        .agg(min("rank_pop").as("best_rank"))
      perCust.agg(
          count(lit(1)).as("n_customers"),
          sum(when(col("best_rank").isNotNull, 1L).otherwise(0L))
            .as("n_hits"),
          sum(coalesce(
            call_function("div", lit(232792560L), col("best_rank")),
            lit(0L))).as("rr_scaled"))
        .select(col("n_customers"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_customers")).as("hit_rate"),
          (col("rr_scaled").cast("double") / col("n_customers")
            / lit(232792560.0)).as("mrr_at_20"))
    }))

  val oracle: Map[String, String] = Map(

    "q_auc_rank" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS score,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS label
        |  FROM events GROUP BY 1
        |), g AS (
        |  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(label) AS BIGINT) AS pos
        |  FROM u GROUP BY 1
        |), c AS (
        |  SELECT *, COALESCE(CAST(SUM(cnt) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) AS cum_before
        |  FROM g
        |), a AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_users,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
        |    CAST(SUM(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS s2
        |  FROM c
        |)
        |SELECT n_users, n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |    ELSE CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
        |      / (2.0 * n_pos * n_neg) END AS auc
        |FROM a""".stripMargin,

    "q_f1_macro" -> {
      val langIdSql = PipelineQueries.oracle("lang_id")
      s"""WITH pred AS (
         |$langIdSql
         |), j AS (
         |  SELECT d.lang AS actual, p.lang_guess AS predicted
         |  FROM documents d JOIN pred p USING (doc_id)
         |), act AS (
         |  SELECT actual AS c, CAST(COUNT(*) AS BIGINT) AS n_act,
         |    CAST(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp
         |  FROM j GROUP BY 1
         |), prd AS (
         |  SELECT predicted AS c, CAST(COUNT(*) AS BIGINT) AS n_pred
         |  FROM j GROUP BY 1
         |), cls AS (
         |  SELECT act.c, act.tp, act.n_act - act.tp AS fn,
         |    COALESCE(prd.n_pred, 0) - act.tp AS fp
         |  FROM act LEFT JOIN prd USING (c)
         |), f AS (
         |  SELECT c, tp,
         |    CASE WHEN tp + fp = 0 THEN 0.0
         |      ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS p,
         |    CASE WHEN tp + fn = 0 THEN 0.0
         |      ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS r
         |  FROM cls
         |), f1t AS (
         |  SELECT c, tp, p, r,
         |    CASE WHEN p + r = 0.0 THEN 0.0
         |      ELSE 2.0 * p * r / (p + r) END AS f1
         |  FROM f
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         |  CAST(CAST(SUM(tp) AS BIGINT) AS DOUBLE)
         |    / (SELECT COUNT(*) FROM j) AS accuracy,
         |  list_reduce([0.0] || list(p ORDER BY c), (a, b) -> a + b)
         |    / COUNT(*) AS macro_precision,
         |  list_reduce([0.0] || list(r ORDER BY c), (a, b) -> a + b)
         |    / COUNT(*) AS macro_recall,
         |  list_reduce([0.0] || list(f1 ORDER BY c), (a, b) -> a + b)
         |    / COUNT(*) AS macro_f1
         |FROM f1t""".stripMargin
    },

    "q_calibration_bins" -> {
      val h = hexSql("CAST(event_id AS VARCHAR)")
      s"""WITH b AS (
         |  SELECT $h AS h,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM events
         |), g AS (
         |  SELECT CAST((h * 10) // 4294967296 AS INT) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS n_pos,
         |    CAST(SUM(h) AS BIGINT) AS sum_h
         |  FROM b GROUP BY 1
         |)
         |SELECT bin, n, n_pos,
         |  CAST(sum_h AS DOUBLE) / n / 4294967296.0 AS mean_pred,
         |  CAST(n_pos AS DOUBLE) / n AS obs_rate,
         |  ABS(CAST(sum_h AS DOUBLE) / n / 4294967296.0
         |    - CAST(n_pos AS DOUBLE) / n) AS calib_gap
         |FROM g ORDER BY bin""".stripMargin
    },

    "q_cum_gains" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS score,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS label
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, user_id)
        |    AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n_users,
        |    CAST(SUM(label) OVER () AS BIGINT) AS npt
        |  FROM u
        |), d AS (
        |  SELECT CAST(((rk - 1) * 10) // n_users AS INT) AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(label) AS BIGINT) AS n_pos,
        |    MAX(npt) AS npt
        |  FROM r GROUP BY 1
        |), c AS (
        |  SELECT *, CAST(SUM(n_pos) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_pos
        |  FROM d
        |)
        |SELECT decile, n, n_pos, cum_pos,
        |  CAST(cum_pos AS DOUBLE) / npt AS cum_gain,
        |  CAST(cum_pos AS DOUBLE) / npt * 10.0 / (decile + 1) AS lift
        |FROM c ORDER BY decile""".stripMargin,

    "q_mrr_popularity" ->
      """WITH pop AS (
        |  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
        |), top20 AS (
        |  SELECT l_partkey,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_partkey)
        |      AS BIGINT) AS rank_pop
        |  FROM pop ORDER BY cnt DESC, l_partkey LIMIT 20
        |), last_ord AS (
        |  SELECT o_custkey, o_orderkey FROM (
        |    SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM orders)
        |  WHERE rn = 1
        |), pc AS (
        |  SELECT lo.o_custkey, MIN(t.rank_pop) AS best_rank
        |  FROM last_ord lo
        |  JOIN lineitem l ON l.l_orderkey = lo.o_orderkey
        |  LEFT JOIN top20 t ON t.l_partkey = l.l_partkey
        |  GROUP BY 1
        |), a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |    CAST(SUM(CASE WHEN best_rank IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hits,
        |    CAST(SUM(COALESCE(232792560 // best_rank, 0)) AS BIGINT)
        |      AS rr_scaled
        |  FROM pc
        |)
        |SELECT n_customers, n_hits,
        |  CAST(n_hits AS DOUBLE) / n_customers AS hit_rate,
        |  CAST(rr_scaled AS DOUBLE) / n_customers / 232792560.0
        |    AS mrr_at_20
        |FROM a""".stripMargin)
}
