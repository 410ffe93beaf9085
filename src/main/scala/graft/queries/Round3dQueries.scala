package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-3 fourth batch: the remaining relational-surface corners —
  * multiset set operations (INTERSECT ALL / EXCEPT ALL, which keep
  * duplicate multiplicities the DISTINCT variants collapse), boolean
  * aggregates (bool_and / bool_or / count_if), the right- and
  * full-outer join directions (the left variants' mirrors, with
  * unmatched-side retention), and edit-distance near-dup detection
  * (levenshtein — an exact integer DP identical in both engines, so
  * the fuzzy-matching query still oracle-checks bitwise).
  *
  * Scale posture: set ops and boolean aggregates are partial-aggregated
  * single shuffles; the right-outer join is FORCED to sort-merge
  * (its only broadcastable build side is the fact — a shape that
  * cannot survive scale); levenshtein runs its DP on distinct names
  * only, with multiplicity-weighted pair counts.
  */
object Round3dQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // INTERSECT ALL: multiset intersection — each supplier key appears
    // min(count_A, count_B) times, the multiplicity the DISTINCT
    // variant (q_intersect) collapses. Spark plans this as an
    // aggregate-with-counts + generate, one shuffle on the value.
    "q_intersect_all" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      li.filter(col("l_returnflag") === "R").select("l_suppkey")
        .intersectAll(
          li.filter(col("l_linestatus") === "F").select("l_suppkey"))
        .orderBy("l_suppkey")
    }),

    // EXCEPT ALL: multiset difference — count_A − count_B occurrences
    // survive per key.
    "q_except_all" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      li.filter(col("l_returnflag") === "R").select("l_partkey")
        .exceptAll(
          li.filter(col("l_linestatus") === "F").select("l_partkey"))
        .orderBy("l_partkey")
    }),

    // Boolean aggregates: ALL/ANY predicates and conditional counts per
    // group — one partial-aggregated scan.
    "q_bool_agg" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
          expr("bool_or(o_totalprice > 100000)").as("any_over_100k"),
          expr("count_if(o_orderstatus = 'F')").as("n_finished"))
        .orderBy("o_orderpriority")),

    // Right-outer join: parts with no lineitem survive with count 0 —
    // the mirror of q_left_join's null padding, counted per part.
    // Forced to sort-merge: a right-outer BroadcastHashJoin can only
    // build the LEFT (fact) side, a shape that cannot exist at 100 TB —
    // the hint keeps the committed plan contract honest at scale.
    "q_right_join" -> ((s, dir) =>
      Tables(s, dir, "lineitem").hint("merge")
        .join(Tables(s, dir, "part"),
          col("l_partkey") === col("p_partkey"), "right")
        .groupBy("p_partkey")
        .agg(count(col("l_orderkey")).as("n_lines"))
        .orderBy("p_partkey")),

    // Full-outer join: customers without big orders AND big orders
    // whose customer fell outside the filtered customer set both
    // survive null-padded; the key is coalesced so no row loses its
    // identity (same rule as the streaming full-outer interval join).
    "q_full_outer_join" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      val big = Tables(s, dir, "orders")
        .filter(col("o_totalprice") > 150000)
        .select(col("o_custkey"), col("o_orderkey"))
      cust.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("cust"),
          col("c_custkey").isNotNull.cast("int").as("has_cust"),
          col("o_orderkey"))
        .orderBy(col("cust"), col("o_orderkey"))
    }),

    // Resize/letterbox planning for the multimodal decode path: each
    // payload's (synthetic, deterministic) source dimensions are scaled
    // to fit a 512×512 target with aspect preserved — all INTEGER
    // arithmetic ((h·512) div w, centered padding div 2), the plan a
    // mapPartitions image decoder executes per frame. Zero shuffles
    // except the output sort; the real decode stays stubbed (no image
    // libs in this environment) but the planning math is the
    // production shape.
    "multimodal_resize_plan" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          (pmod(col("doc_id") * 37, lit(1280)) + 64).as("src_w"),
          (pmod(col("doc_id") * 73, lit(720)) + 64).as("src_h"))
        .withColumn("scale_num", least(
          expr("(512 * 1000000) div src_w"),
          expr("(512 * 1000000) div src_h")))
        .withColumn("out_w", expr("(src_w * scale_num) div 1000000"))
        .withColumn("out_h", expr("(src_h * scale_num) div 1000000"))
        .withColumn("pad_x", expr("(512 - out_w) div 2"))
        .withColumn("pad_y", expr("(512 - out_h) div 2"))
        .select("doc_id", "src_w", "src_h", "out_w", "out_h",
          "pad_x", "pad_y")
        .orderBy("doc_id")),

    // Composite quality gate: the per-document verdict a corpus filter
    // emits — each rule evaluated from exact counts, the failure
    // reasons concatenated deterministically, keep = no failures. One
    // scan, no shuffle before the output sort.
    "quality_gate" -> ((s, dir) =>
      PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("n_distinct",
          size(array_distinct(split(col("text"), " "))))
        .withColumn("r_short", col("n_chars") < 100)
        .withColumn("r_few", col("n_tokens") < 15)
        .withColumn("r_repeat",
          col("n_distinct") * 4 < col("n_tokens")) // <25% distinct
        .withColumn("reasons", concat_ws(",",
          when(col("r_short"), lit("too_short")),
          when(col("r_few"), lit("too_few_tokens")),
          when(col("r_repeat"), lit("repetitive"))))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (!(col("r_short") || col("r_few") || col("r_repeat")))
            .as("keep"),
          col("reasons"))
        .orderBy("doc_id")),

    // Two PageRank iterations over the part co-purchase graph (parts
    // sharing an order, directed both ways), in INTEGER fixed-point
    // (scale 10⁹): contrib = rank div degree, rank' = 0.15·S +
    // (85·Σcontrib) div 100 — integer sums are exactly associative, so
    // the result is deterministic under ANY partition/aggregation
    // order, which no floating-point PageRank can claim.
    // The multigraph is pre-aggregated to WEIGHTED edges once
    // (groupBy(src,dst).count): each iteration then joins ranks onto
    // the deduped edge set and multiplies the contribution by the edge
    // weight — identical integer math (w copies of `r div deg` sum to
    // w·(r div deg)), but the per-iteration join and shuffle move the
    // distinct-pair set instead of every raw co-occurrence, and the
    // identical weighted-edge exchange is built once and reused by both
    // iterations. Degree = Σw, the multigraph out-degree.
    "graph_pagerank" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edgesW = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") =!= col("y.pk"))
        .groupBy(col("x.pk").as("src"), col("y.pk").as("dst"))
        .agg(count(lit(1)).as("w"))
      // the edge structure is REUSED by every iteration (and iterative
      // graph algorithms at any scale cache it): persist so the
      // lineitem self-join + degree aggregation runs once, not once per
      // step — both step() subtrees then read the materialized edges
      val edgesD = edgesW
        .join(edgesW.groupBy("src").agg(sum(col("w")).as("deg")), "src")
        .transform(graft.CacheScope.retain)
      // uniform seed over the part dimension (no extra edge pass;
      // parts that never co-occur contribute nothing downstream)
      val ranks0 = Tables(s, dir, "part").select(col("p_partkey").as("node"))
        .withColumn("r", lit(1000000000L))
      def step(ranks: DataFrame): DataFrame =
        edgesD.join(ranks, col("src") === col("node"))
          .select(col("dst"), (col("w") * expr("r div deg")).as("contrib"))
          .groupBy("dst")
          .agg(expr("150000000 + (85 * sum(contrib)) div 100").as("r"))
          .select(col("dst").as("node"), col("r"))
      step(step(ranks0))
        .orderBy(col("r").desc, col("node"))
        .limit(20)
    }),

    // Edit-distance near-dup: levenshtein(a, b) <= 3 within brand
    // blocks — fuzzy matching with an EXACT integer result (classic DP,
    // identical in Spark and DuckDB). The engine runs the DP only on
    // DISTINCT (brand, name) combinations and weights pair counts by
    // name multiplicity — names repeat heavily, so this is thousands of
    // distance evaluations instead of the millions the raw self-join
    // would do (the brute-force formulation IS the oracle, which
    // independently confirms the rewrite). Same-name pairs contribute
    // C(m,2) exact duplicates; cross-name pairs m_a·m_b each.
    "dedup_levenshtein" -> ((s, dir) => {
      val names = Tables(s, dir, "part")
        .groupBy(col("p_brand"), col("p_name"))
        .agg(count(lit(1)).as("m"))
      val a = names.select(col("p_brand").as("brand"),
        col("p_name").as("na"), col("m").as("ma"))
      val b = names.select(col("p_brand").as("brand_b"),
        col("p_name").as("nb"), col("m").as("mb"))
      a.join(b, col("brand") === col("brand_b") && col("na") <= col("nb"))
        .withColumn("dist", levenshtein(col("na"), col("nb")))
        .filter(col("dist") <= 3)
        .withColumn("pairs",
          when(col("na") === col("nb"),
            expr("ma * (ma - 1) div 2"))
            .otherwise(col("ma") * col("mb")))
        .filter(col("pairs") > 0) // a singleton same-name group is no pair
        .groupBy(col("brand"))
        .agg(
          sum(col("pairs")).as("n_near_pairs"),
          sum(when(col("dist") === 0, col("pairs")).otherwise(0L))
            .as("n_exact"),
          min(when(col("dist") > 0, col("dist"))).as("min_fuzzy_dist"))
        .orderBy("brand")
    })
  )

  // ---------------------------------------------------------------- oracle

  val oracle: Map[String, String] = Map(

    "q_intersect_all" ->
      """SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT ALL
        |SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F'
        |ORDER BY l_suppkey""".stripMargin,

    "q_except_all" ->
      """SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |EXCEPT ALL
        |SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'
        |ORDER BY l_partkey""".stripMargin,

    "q_bool_agg" ->
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_totalprice > 100000) AS any_over_100k,
        |  CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_right_join" ->
      """SELECT p_partkey, count(l_orderkey) AS n_lines
        |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey
        |ORDER BY p_partkey""".stripMargin,

    "q_full_outer_join" ->
      """SELECT coalesce(c_custkey, o_custkey) AS cust,
        |  CAST(c_custkey IS NOT NULL AS INT) AS has_cust,
        |  o_orderkey
        |FROM (SELECT c_custkey, c_mktsegment FROM customer
        |      WHERE c_acctbal > 0) c
        |FULL OUTER JOIN (SELECT o_custkey, o_orderkey FROM orders
        |                 WHERE o_totalprice > 150000) o
        |  ON c_custkey = o_custkey
        |ORDER BY cust, o_orderkey""".stripMargin,

    "multimodal_resize_plan" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (doc_id * 37) % 1280 + 64 AS src_w,
        |    (doc_id * 73) % 720 + 64 AS src_h
        |  FROM documents
        |),
        |sc AS (
        |  SELECT *, LEAST((512 * 1000000) // src_w,
        |                  (512 * 1000000) // src_h) AS scale_num
        |  FROM d
        |),
        |o AS (
        |  SELECT doc_id, src_w, src_h,
        |    (src_w * scale_num) // 1000000 AS out_w,
        |    (src_h * scale_num) // 1000000 AS out_h
        |  FROM sc
        |)
        |SELECT doc_id, src_w, src_h, out_w, out_h,
        |  (512 - out_w) // 2 AS pad_x,
        |  (512 - out_h) // 2 AS pad_y
        |FROM o ORDER BY doc_id""".stripMargin,

    "quality_gate" ->
      """WITH c AS (
        |  SELECT doc_id, n_chars,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct
        |  FROM documents
        |),
        |r AS (
        |  SELECT doc_id,
        |    CAST(n_tokens AS INT) AS n_tokens,
        |    CAST(n_distinct AS INT) AS n_distinct,
        |    n_chars < 100 AS r_short,
        |    n_tokens < 15 AS r_few,
        |    n_distinct * 4 < n_tokens AS r_repeat
        |  FROM c
        |)
        |SELECT doc_id, n_tokens, n_distinct,
        |  NOT (r_short OR r_few OR r_repeat) AS keep,
        |  concat_ws(',',
        |    CASE WHEN r_short THEN 'too_short' END,
        |    CASE WHEN r_few THEN 'too_few_tokens' END,
        |    CASE WHEN r_repeat THEN 'repetitive' END) AS reasons
        |FROM r ORDER BY doc_id""".stripMargin,

    "graph_pagerank" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |),
        |edges AS (
        |  SELECT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk <> y.pk
        |),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |r0 AS (
        |  SELECT p_partkey AS node, CAST(1000000000 AS BIGINT) AS r
        |  FROM part
        |),
        |s1 AS (
        |  SELECT e.dst AS node,
        |    CAST(150000000 + (85 * sum(r0.r // d.deg)) // 100 AS BIGINT)
        |      AS r
        |  FROM edges e
        |  JOIN deg d ON e.src = d.src
        |  JOIN r0 ON e.src = r0.node
        |  GROUP BY e.dst
        |),
        |s2 AS (
        |  SELECT e.dst AS node,
        |    CAST(150000000 + (85 * sum(s1.r // d.deg)) // 100 AS BIGINT)
        |      AS r
        |  FROM edges e
        |  JOIN deg d ON e.src = d.src
        |  JOIN s1 ON e.src = s1.node
        |  GROUP BY e.dst
        |)
        |SELECT node, r FROM s2
        |ORDER BY r DESC, node
        |LIMIT 20""".stripMargin,

    "dedup_levenshtein" ->
      """SELECT a.p_brand AS brand,
        |  count(*) AS n_near_pairs,
        |  CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(min(CASE WHEN levenshtein(a.p_name, b.p_name) > 0
        |    THEN levenshtein(a.p_name, b.p_name) END) AS INT)
        |    AS min_fuzzy_dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |GROUP BY a.p_brand
        |ORDER BY brand""".stripMargin
  )
}
