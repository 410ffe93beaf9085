package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.dotD
import graft.operators.GlobalRank
import graft.queries.QueryKit.dec

/** Round-3 fifth batch: passage-level intra-corpus dedup (the
  * RefinedWeb-style complement of document-level dedup — duplicated
  * SPANS inside otherwise-unique documents), the k-means M-step
  * (completing Lloyd's iteration whose E-step is
  * `embedding_kmeans_assign`), RFM customer segmentation (the classic
  * ntile-bucketed composite the reference's README feeds into its
  * sink), and the recursive-CTE surface (WITH RECURSIVE, new in
  * Spark 4 — hierarchy traversal the Flink-SQL side could not
  * express at all).
  *
  * Scale posture: passage windows travel as 128-bit md5 keys, never
  * strings; the window->doc-count join reuses the windows exchange;
  * k-means means fold in explicit per-cluster order (collect_list is
  * bounded by cluster size — at 100 TB swap for a fixed-block tree
  * reduction); the RFM quartile windows are global single-partition
  * sorts of the CUSTOMER aggregate (not the fact table) — at 100 TB
  * replace ntile with approx-quantile cutoffs broadcast back.
  */
object Round3eQueries {

  /** Deterministic IEEE dot in DuckDB, operand order mirroring dotD. */
  private def ddot(a: String, b: String): String =
    s"list_sum(list_transform(range(1,65), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Passage-level dedup audit: fraction of each document's 8-token
    // windows (stride 1) that also occur in at least one OTHER place
    // in the corpus — document-level dedup misses boilerplate spans
    // pasted into otherwise-unique docs; this is the signal used to
    // cut them. Windows are md5-hashed before the shuffle so 16-byte
    // keys travel instead of ~50-byte strings; the per-window
    // doc-count is a window aggregate over the hash partition — the
    // same shuffle a groupBy would cost, with no join back. Integer
    // counts only — exact.
    "dedup_passage" -> ((s, dir) => {
      val toks = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 8)
      val wins = toks.select(col("doc_id"),
          explode(expr("transform(sequence(1, size(tk) - 7), " +
            "i -> md5(concat_ws(' ', slice(tk, i, 8))))")).as("h"))
        .distinct()
      wins
        .withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
        .orderBy("doc_id")
    }),

    // K-means M-step (centroid update) on the E-step's assignment:
    // per-(cluster, dimension) mean of member components. The sum
    // folds left-to-right over members in vec_id order — explicitly
    // sequenced in BOTH engines, so the IEEE result is deterministic
    // under any partitioning — and the mean is one mirrored division.
    // Together with embedding_kmeans_assign this is one full Lloyd
    // iteration, the training loop of the semantic-dedup clusterer.
    "embedding_kmeans_update" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"),
          dotD(col("embedding"), col("embedding")).as("n2c")))
      val vecs = e.select(col("vec_id"), col("embedding"),
        dotD(col("embedding"), col("embedding")).as("n2v"))
      val w = Window.partitionBy("vec_id").orderBy("d2", "centroid_id")
      val assigned = vecs.crossJoin(cents)
        .select(col("vec_id"), col("embedding"), col("centroid_id"),
          (col("n2v") - lit(2.0) * dotD(col("embedding"), col("ce"))
            + col("n2c")).as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("vec_id", "centroid_id", "embedding")
      // Fixed-block tree reduction for the deterministic FP sum: fold
      // members in vec_id order WITHIN 1024-row blocks, then fold the
      // block sums in block order. Each aggregation buffer is bounded
      // (≤1024 members / ≤n/1024 block sums) instead of the r3 version's
      // collect_list of EVERY member per (cluster, dim); the oracle
      // mirrors the identical two-level association. At extreme cluster
      // sizes the same block trick recurses (blk div 1024) — one more
      // level covers 10^9 members per cluster.
      assigned
        .select(col("centroid_id"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "comp")))
        .withColumn("blk", expr("vec_id div 1024"))
        .groupBy("centroid_id", "dim", "blk")
        .agg(count(lit(1)).as("bn"),
          expr("aggregate(array_sort(collect_list(struct(vec_id, comp))), " +
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x.comp AS DOUBLE))")
            .as("bs"))
        .groupBy("centroid_id", "dim")
        .agg(sum(col("bn")).as("n"),
          expr("aggregate(array_sort(collect_list(struct(blk, bs))), " +
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.bs)").as("s"))
        .select(col("centroid_id"), col("dim"), col("n"),
          (col("s") / col("n")).as("mean_v"))
        .orderBy("centroid_id", "dim")
    }),

    // RFM segmentation: per-customer recency (days since last order),
    // frequency (order count), monetary (exact decimal revenue),
    // quartile-scored and routed to a segment — the composite
    // aggregate->window->CASE shape of a marketing mart. The r3 form
    // used three unpartitioned ntile windows (single-partition sorts of
    // the whole customer aggregate); the scores now come from
    // GlobalRank.withNtile — exact-rank range-bucketing that reproduces
    // NTILE(4) bit-for-bit with every window PARTITIONED by bucket.
    // Each score is computed on a 2-column projection and joined back
    // on custkey (co-partitioned equi-joins); descending orders pass
    // the negated metric, and every ordering carries the custkey
    // tie-break so bucket boundaries stay deterministic.
    "q_rfm_segments" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val per = o.groupBy("o_custkey").agg(
        max(col("o_orderdate").cast("date")).as("last_d"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("monetary"))
      val maxd = o.select(max(col("o_orderdate").cast("date")).as("max_d"))
      // retained: withNtiles over three metrics consumes base for the
      // quantile probe, the bucket projection, and the offset aggregate
      val base = graft.CacheScope.retain(per.crossJoin(broadcast(maxd))
        .withColumn("recency_days", datediff(col("max_d"), col("last_d")))
        .withColumn("__m_r", col("recency_days").cast("double"))
        .withColumn("__m_f", -col("freq").cast("double"))
        .withColumn("__m_m", -col("monetary")))
      GlobalRank.withNtiles(base,
          Seq("__m_r" -> "r_score", "__m_f" -> "f_score",
            "__m_m" -> "m_score"),
          col("o_custkey"), 4)
        .drop("__m_r", "__m_f", "__m_m")
        .withColumn("segment",
          when(col("r_score") === 1 && col("f_score") === 1 &&
            col("m_score") === 1, "champion")
          .when(col("r_score") === 4 && col("f_score") >= 3, "at_risk")
          .otherwise("regular"))
        .select("o_custkey", "recency_days", "freq", "monetary",
          "r_score", "f_score", "m_score", "segment")
        .orderBy("o_custkey")
    }),

    // Recursive CTE (Spark 4's WITH RECURSIVE): depth of every nation
    // in the implicit binary tree parent = floor(key / 2) — the
    // hierarchy-traversal surface (org charts, BOM explosions) that
    // iterates to a data-dependent fixed point inside one statement.
    // Each recursion level is one self-join of the frontier against
    // the (tiny, broadcastable) parent map; depth is bounded by
    // log2(|nation|).
    "q_recursive_cte" -> ((s, dir) => {
      Tables(s, dir, "nation").createOrReplaceTempView("nation_rv")
      s.sql("""
        WITH RECURSIVE tree AS (
          SELECT 0 AS node, 0 AS depth
          UNION ALL
          SELECT n.n_nationkey AS node, t.depth + 1 AS depth
          FROM nation_rv n JOIN tree t
            ON CAST(floor(n.n_nationkey / 2) AS INT) = t.node
          WHERE n.n_nationkey > 0
        )
        SELECT node, depth FROM tree ORDER BY node""")
    })
  )

  val oracle: Map[String, String] = Map(

    "dedup_passage" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), wins AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS h
        |  FROM (SELECT doc_id, tk,
        |          unnest(generate_series(1, len(tk) - 7)) AS i
        |        FROM toks WHERE len(tk) >= 8)
        |), counted AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY h) AS nd FROM wins
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_windows
        |FROM counted
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "embedding_kmeans_update" ->
      s"""WITH c AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce,
         |    ${ddot("embedding", "embedding")} AS n2c
         |  FROM embeddings WHERE vec_id < 8
         |), v AS (
         |  SELECT vec_id, embedding,
         |    ${ddot("embedding", "embedding")} AS n2v
         |  FROM embeddings
         |), d AS (
         |  SELECT vec_id, centroid_id, embedding,
         |    n2v - 2.0 * ${ddot("embedding", "ce")} + n2c AS d2
         |  FROM v, c
         |), a AS (
         |  SELECT vec_id, centroid_id, embedding FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, centroid_id) AS rn FROM d)
         |  WHERE rn = 1
         |), comps AS (
         |  SELECT centroid_id, vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    unnest(embedding) AS comp
         |  FROM a
         |), g AS (
         |  SELECT centroid_id, dim, vec_id // 1024 AS blk,
         |    CAST(count(*) AS BIGINT) AS bn,
         |    list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE),
         |        list(CAST(comp AS DOUBLE) ORDER BY vec_id)),
         |      (acc, x) -> acc + x) AS bs
         |  FROM comps GROUP BY centroid_id, dim, blk
         |), g2 AS (
         |  SELECT centroid_id, dim, CAST(sum(bn) AS BIGINT) AS n,
         |    list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE), list(bs ORDER BY blk)),
         |      (acc, x) -> acc + x) AS s
         |  FROM g GROUP BY centroid_id, dim
         |)
         |SELECT centroid_id, dim, n, s / n AS mean_v
         |FROM g2 ORDER BY centroid_id, dim""".stripMargin,

    "q_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    max(CAST(o_orderdate AS DATE)) AS last_d,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY o_custkey
        |), m AS (
        |  SELECT max(CAST(o_orderdate AS DATE)) AS max_d FROM orders
        |), scored AS (
        |  SELECT o_custkey, freq, monetary,
        |    CAST(date_diff('day', last_d, max_d) AS INT) AS recency_days
        |  FROM per, m
        |), nt AS (
        |  SELECT *,
        |    ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_score,
        |    ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
        |    ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
        |  FROM scored
        |)
        |SELECT o_custkey, recency_days, freq, monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score = 1 AND f_score = 1 AND m_score = 1
        |         THEN 'champion'
        |       WHEN r_score = 4 AND f_score >= 3 THEN 'at_risk'
        |       ELSE 'regular' END AS segment
        |FROM nt ORDER BY o_custkey""".stripMargin,

    "q_recursive_cte" ->
      """WITH RECURSIVE tree AS (
        |  SELECT 0 AS node, 0 AS depth
        |  UNION ALL
        |  SELECT n.n_nationkey AS node, t.depth + 1 AS depth
        |  FROM nation n JOIN tree t
        |    ON CAST(floor(n.n_nationkey / 2) AS INT) = t.node
        |  WHERE n.n_nationkey > 0
        |)
        |SELECT node, depth FROM tree ORDER BY node""".stripMargin
  )
}
