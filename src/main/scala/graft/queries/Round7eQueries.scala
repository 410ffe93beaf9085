package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.Tables

/** Round-7 fifth batch: optimizer-stats and matching operators.
  *
  *  - q_equi_depth_hist: 16-bucket equi-depth histogram (the
  *    optimizer-statistics histogram — equal COUNTS per bucket,
  *    data-driven boundaries; the fixed-width q_histogram's dual)
  *  - q_stats_collect: ANALYZE TABLE in one pass — per-column NDV /
  *    null count / min / max for the join keys, long format
  *  - q_mutual_best_match: mutual nearest neighbors within id-blocks
  *    (the alignment primitive: a pair survives only if each side is
  *    the other's top match)
  *  - q_decay_weighted_revenue: recency-decayed revenue with exact
  *    binary decay — cents integer-divided by 2^age_weeks, no FP in
  *    the weighting at all
  *  - dedup_affix_overlap: docs whose 3-token SUFFIX equals another
  *    doc's PREFIX — splice/continuation boilerplate that symmetric
  *    whole-doc similarity misses
  *  - q_funnel_latency: median view->click and click->purchase
  *    latency, rank-selected exact medians per step
  *
  * Determinism: integer sufficient statistics; medians are
  * rank-selected (no interpolation); every double is one mirrored
  * division or an identically-ordered IEEE expression.
  */
object Round7eQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Equi-depth (equal-height) histogram of line price in cents:
    // global rank via GlobalRank (range-bucketed, no single-partition
    // window), bucket = floor((rank-1)*16/n) — each bucket holds
    // n/16 +- 1 rows by construction, and the per-bucket min/max ARE
    // the optimizer's histogram boundaries. The fixed-width
    // q_histogram answers "how many rows in [a,b)"; this answers
    // "where do the quantile boundaries fall" — the stats an engine
    // actually keeps.
    "q_equi_depth_hist" -> ((s, dir) => {
      // li feeds the quantile probe, the rank plan, and the total-count
      // aggregate: retained so the scan + project derives once. spread
      // first (guide §2.5 input splits): the sf parquet is one row
      // group, so without it the approxQuantile pass and the bucket
      // projection run on a single task.
      val li = graft.CacheScope.retain(
        PipelineQueries.spread(s, Tables(s, dir, "lineitem"))
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("uid"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents")))
      val ranked = graft.operators.GlobalRank.withRank(
        li, col("cents"), col("uid"), "rk")
      val n = broadcast(li.agg(count(lit(1)).as("n")))
      ranked.crossJoin(n)
        .withColumn("bucket",
          floor(((col("rk") - 1) * 16).cast("double") / col("n"))
            .cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("cents").as("lo_cents"),
          max("cents").as("hi_cents"))
        .orderBy("bucket")
    }),

    // ANALYZE TABLE stats: NDV + null count + min + max for all four
    // lineitem join keys. r12 optimization (guide §2.3/§2.4): the old
    // 4-way multi-distinct aggregate planned ONE Expand×5 — 3M expanded
    // rows keyed by all four columns at once, a ~4M-distinct-group
    // shuffle of 17-column rows, all fed by the single-row-group scan
    // task. Now each column gets its own groupBy(value) arm (the
    // partial aggregate collapses to that column's NDV before its
    // exchange — ≤150k narrow rows instead of 3M wide ones), and the
    // four arms run as independent parallel branches. NDV counts
    // non-null groups (COUNT(DISTINCT) semantics); null counts sum the
    // null group's size with an otherwise(0) so a null-free column
    // yields 0, and an EMPTY input still yields NULL — both exactly the
    // oracle's SUM(CASE...). Key columns only, so min/max stay BIGINT.
    "q_stats_collect" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      def colStats(c: String): DataFrame =
        li.select(col(c)).groupBy(c).agg(count(lit(1)).as("cnt"))
          .agg(
            count(when(col(c).isNotNull, 1)).as("ndv"),
            sum(when(col(c).isNull, col("cnt")).otherwise(0L))
              .as("n_nulls"),
            min(col(c)).cast("long").as("min_v"),
            max(col(c)).cast("long").as("max_v"))
          .select(lit(c).as("col_name"), col("ndv"), col("n_nulls"),
            col("min_v"), col("max_v"))
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .map(colStats).reduce(_ unionAll _)
        .orderBy("col_name")
    }),

    // Mutual nearest neighbors within id-blocks: each vector's best
    // match (max cosine, ties to the lower id) among its block peers,
    // kept only when the choice is reciprocal. The blocked pair space
    // is n^2/B via equi-join (same contract as the pair-distance
    // histogram); reciprocity is a self-join of the per-vector best
    // rows. The output is the high-precision alignment seed set —
    // asymmetric matches are where near-dup false positives live.
    "q_mutual_best_match" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", normD(col("embedding")))
        .withColumn("g", pmod(col("vec_id"), lit(16L)))
      val pairs = e.as("a").join(e.as("b"),
          col("a.g") === col("b.g") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          (dotD(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))).as("cos"))
      val best = pairs
        .withColumn("rk", row_number().over(Window.partitionBy("src")
          .orderBy(col("cos").desc, col("dst"))))
        .filter(col("rk") === 1)
        .select("src", "dst", "cos")
      best.as("x").join(best.as("y"),
          col("x.src") === col("y.dst") && col("x.dst") === col("y.src") &&
            col("x.src") < col("x.dst"))
        .select(col("x.src").as("a_id"), col("x.dst").as("b_id"),
          col("x.cos").as("cos"))
        .orderBy("a_id")
    }),

    // Recency-decayed revenue per brand with EXACT binary decay:
    // contribution = cents div 2^age_weeks (integer shift-divide —
    // the decay weighting itself never touches FP, so any aggregation
    // order gives the identical BIGINT). Age capped at 62 so the
    // shifted divisor stays in BIGINT range; anything older
    // contributes its cents div 2^62 ~ 0 — the same answer the
    // untruncated series would give.
    "q_decay_weighted_revenue" -> ((s, dir) => {
      val part = broadcast(Tables(s, dir, "part")
        .select(col("p_partkey"), col("p_brand")))
      val li = Tables(s, dir, "lineitem")
        .select(col("l_partkey"),
          col("l_shipdate").cast("date").as("day"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents"))
      val maxd = broadcast(li.agg(max("day").as("max_d")))
      li.crossJoin(maxd)
        .withColumn("age_w", least(
          call_function("div",
            datediff(col("max_d"), col("day")).cast("long"), lit(7L)),
          lit(62L)))
        .join(part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum("cents").as("revenue_cents"),
          sum(call_function("div", col("cents"),
            call_function("shiftleft", lit(1L), col("age_w").cast("int"))))
            .as("decayed_cents"))
        .orderBy("p_brand")
    }),

    // Splice/continuation dedup: doc B starts with the exact 3 tokens
    // doc A ends with — the chunking artifact whole-doc similarity
    // dilutes away (a 500-token doc sharing a short seam scores ~0
    // Jaccard). Prefix and suffix reduce to md5 keys, so the join
    // moves 32-byte hashes, never token arrays.
    "dedup_affix_overlap" -> ((s, dir) => {
      val toks = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
      val affixed = toks.select(col("doc_id"),
        md5(concat_ws(" ", slice(col("tk"), 1, 3))).as("pre_h"),
        md5(concat_ws(" ", expr("slice(tk, size(tk) - 2, 3)"))).as("suf_h"))
      affixed.select(col("doc_id").as("a_id"), col("suf_h").as("h"))
        .join(affixed.select(col("doc_id").as("b_id"), col("pre_h").as("h")),
          "h")
        .filter(col("a_id") =!= col("b_id"))
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    // Funnel step latency: first view, first click AFTER that view,
    // first purchase AFTER that click per user (the q_funnel_steps
    // chaining), then the exact rank-selected lower-median latency
    // per step — integer micros end to end, no percentile
    // interpolation. Group rank partitions by step (2 groups) via
    // GlobalRank's range-bucketed machinery.
    "q_funnel_latency" -> ((s, dir) => {
      // ev feeds the three per-step filters: retained so the events
      // scan + timestamp projection runs once
      val ev = graft.CacheScope.retain(Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us")))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      // c feeds the purchase chain AND the latency union: retained so
      // the view->click derivation runs once
      val c = graft.CacheScope.retain(
        ev.filter(col("event_type") === "click").as("c")
          .join(v, "user_id")
          .filter(col("us") > col("v_us"))
          .groupBy("user_id", "v_us").agg(min("us").as("c_us")))
      val p = ev.filter(col("event_type") === "purchase").as("p")
        .join(c, "user_id")
        .filter(col("us") > col("c_us"))
        .groupBy("user_id", "v_us", "c_us").agg(min("us").as("p_us"))
      // lats feeds the group-rank probe, the rank plan, and the sizes
      // aggregate: retained
      val lats = graft.CacheScope.retain(
        c.select(lit("view->click").as("step"),
            col("user_id"), (col("c_us") - col("v_us")).as("lat_us"))
          .unionAll(p.select(lit("click->purchase").as("step"),
            col("user_id"), (col("p_us") - col("c_us")).as("lat_us"))))
      val ranked = graft.operators.GlobalRank.withGroupRank(
        lats, Seq("step"), col("lat_us"), col("user_id"), "rk")
      val sizes = ranked.groupBy("step").agg(count(lit(1)).as("n"))
      ranked.join(broadcast(sizes), "step")
        .groupBy("step")
        .agg(max("n").as("n_users"),
          max(when(col("rk") === call_function("div", col("n") + 1,
            lit(2L)), col("lat_us"))).as("median_lat_us"))
        .orderBy("step")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_equi_depth_hist" ->
      """WITH li AS (
        |  SELECT CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents,
        |    l_orderkey * 10 + l_linenumber AS uid
        |  FROM lineitem
        |), r AS (
        |  SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, uid) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM li
        |)
        |SELECT
        |  CAST(FLOOR(CAST((rk - 1) * 16 AS DOUBLE) / n) AS INT)
        |    AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(cents) AS BIGINT) AS lo_cents,
        |  CAST(MAX(cents) AS BIGINT) AS hi_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stats_collect" ->
      """WITH a AS (
        |  SELECT
        |    COUNT(DISTINCT l_orderkey) AS ndv1,
        |    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nn1,
        |    MIN(l_orderkey) AS mn1, MAX(l_orderkey) AS mx1,
        |    COUNT(DISTINCT l_partkey) AS ndv2,
        |    SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS nn2,
        |    MIN(l_partkey) AS mn2, MAX(l_partkey) AS mx2,
        |    COUNT(DISTINCT l_suppkey) AS ndv3,
        |    SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS nn3,
        |    MIN(l_suppkey) AS mn3, MAX(l_suppkey) AS mx3,
        |    COUNT(DISTINCT l_linenumber) AS ndv4,
        |    SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS nn4,
        |    MIN(l_linenumber) AS mn4, MAX(l_linenumber) AS mx4
        |  FROM lineitem
        |)
        |SELECT col_name, CAST(ndv AS BIGINT) AS ndv,
        |  CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(min_v AS BIGINT) AS min_v, CAST(max_v AS BIGINT) AS max_v
        |FROM (
        |  SELECT 'l_orderkey' AS col_name, ndv1 AS ndv, nn1 AS n_nulls,
        |    mn1 AS min_v, mx1 AS max_v FROM a
        |  UNION ALL SELECT 'l_partkey', ndv2, nn2, mn2, mx2 FROM a
        |  UNION ALL SELECT 'l_suppkey', ndv3, nn3, mn3, mx3 FROM a
        |  UNION ALL SELECT 'l_linenumber', ndv4, nn4, mn4, mx4 FROM a
        |) ORDER BY col_name""".stripMargin,

    "q_mutual_best_match" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    ${PipelineQueries.normSql("embedding")} AS nrm,
         |    vec_id % 16 AS g
         |  FROM embeddings
         |), pairs AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    ${PipelineQueries.dotSql("a.embedding", "b.embedding")}
         |      / (a.nrm * b.nrm) AS cos
         |  FROM e a JOIN e b ON a.g = b.g AND a.vec_id <> b.vec_id
         |), best AS (
         |  SELECT src, dst, cos FROM (
         |    SELECT src, dst, cos,
         |      ROW_NUMBER() OVER (PARTITION BY src
         |        ORDER BY cos DESC, dst) AS rk
         |    FROM pairs
         |  ) WHERE rk = 1
         |)
         |SELECT x.src AS a_id, x.dst AS b_id, x.cos AS cos
         |FROM best x JOIN best y
         |  ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst
         |ORDER BY a_id""".stripMargin,

    "q_decay_weighted_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
        |    CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        |  FROM lineitem
        |), m AS (SELECT MAX(day) AS max_d FROM li),
        |aged AS (
        |  SELECT l_partkey, cents,
        |    LEAST((max_d - day) // 7, 62) AS age_w
        |  FROM li, m
        |)
        |SELECT p_brand,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |  CAST(SUM(cents // (CAST(1 AS BIGINT) << age_w)) AS BIGINT)
        |    AS decayed_cents
        |FROM aged JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_affix_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), affixed AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(tk, 1, 3), ' ')) AS pre_h,
        |    md5(array_to_string(list_slice(tk, len(tk) - 2, len(tk)), ' '))
        |      AS suf_h
        |  FROM toks WHERE len(tk) >= 3
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM affixed a JOIN affixed b ON a.suf_h = b.pre_h
        |WHERE a.doc_id <> b.doc_id
        |ORDER BY 1, 2""".stripMargin,

    "q_funnel_latency" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT user_id, MIN(us) AS v_us FROM ev
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT ev.user_id, v_us, MIN(us) AS c_us
        |  FROM ev JOIN v ON ev.user_id = v.user_id
        |  WHERE event_type = 'click' AND us > v_us
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT ev.user_id, v_us, c_us, MIN(us) AS p_us
        |  FROM ev JOIN c ON ev.user_id = c.user_id
        |  WHERE event_type = 'purchase' AND us > c_us
        |  GROUP BY 1, 2, 3
        |), lats AS (
        |  SELECT 'view->click' AS step, user_id, c_us - v_us AS lat_us
        |  FROM c
        |  UNION ALL
        |  SELECT 'click->purchase', user_id, p_us - c_us FROM p
        |), r AS (
        |  SELECT step, lat_us,
        |    ROW_NUMBER() OVER (PARTITION BY step
        |      ORDER BY lat_us, user_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY step) AS n
        |  FROM lats
        |)
        |SELECT step, CAST(MAX(n) AS BIGINT) AS n_users,
        |  CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN lat_us END)
        |    AS BIGINT) AS median_lat_us
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)
}
