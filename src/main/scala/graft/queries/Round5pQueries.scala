package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5p batch: corpus distribution diagnostics — the statistical
  * audits a training-data pipeline runs between ingestion and mixing —
  * plus bounded multi-hop graph reachability.
  *
  *  - q_ks_split: two-sample Kolmogorov–Smirnov drift check between
  *    the deterministic train/holdout split (is the split unbiased?)
  *  - q_benford_audit: first-significant-digit distribution vs the
  *    Benford expectation (synthetic/fabricated-numbers smell test)
  *  - q_gini_doclen: per-source Gini concentration of document length
  *    (is one source dominated by a few giant docs?)
  *  - q_source_diversity: per-source language-mix diversity via Gini
  *    impurity (libm-free alternative to Shannon entropy)
  *  - q_bfs_hops: 3-hop frontier BFS over the co-purchase graph from
  *    a seed set (bounded reachability, the graph-sampling primitive)
  *
  * Determinism rules (see Round5Queries): integer counts + mirrored
  * single divisions; cross-group double sums fold over array_sort'ed
  * lists so the summation order is written down; no libm-dependent
  * transcendentals (ln/log10 appear only as hardcoded double literals
  * identical in both engines).
  */
object Round5pQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Two-sample KS statistic between the md5-coin train split
    // (sample_split's convention: first hex digit < 'c') and the rest,
    // over n_chars: D = max |F_a(x) - F_b(x)|. Counts collapse to one
    // row per distinct length BEFORE the cumulative window, so the
    // single-partition window runs over the bounded length domain
    // (thousands of values at any corpus size), not over documents —
    // the same shape q_value_ecdf pinned. All arithmetic is integer
    // cumsums + one mirrored division per side.
    "q_ks_split" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .withColumn("is_a",
          (substring(md5(col("doc_id").cast("string")), 1, 1) < "c")
            .cast("long"))
      val counts = docs.groupBy("n_chars").agg(
        sum(col("is_a")).as("ca"),
        sum(lit(1L) - col("is_a")).as("cb"))
      val tot = docs.agg(
        sum(col("is_a")).as("na"),
        sum(lit(1L) - col("is_a")).as("nb"))
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts
        .withColumn("cuma", sum("ca").over(w))
        .withColumn("cumb", sum("cb").over(w))
        .crossJoin(broadcast(tot))
        .select(col("na"), col("nb"),
          abs(col("cuma").cast("double") / col("na") -
            col("cumb").cast("double") / col("nb")).as("d"))
        .groupBy("na", "nb").agg(max("d").as("ks_stat"))
        .select("na", "nb", "ks_stat")
    }),

    // First-significant-digit audit of o_totalprice against Benford's
    // law. The digit comes from integral string arithmetic (floor →
    // string head), NOT double→int casts (Spark truncates, DuckDB
    // rounds); the Benford shares log10(1+1/d) are hardcoded double
    // literals so no libm log10 runs in either engine. One combine
    // aggregate to ≤9 rows + a 1-row broadcast total.
    "q_benford_audit" -> ((s, dir) => {
      val benford = Seq(
        "1" -> 0.3010299956639812, "2" -> 0.17609125905568124,
        "3" -> 0.12493873660829992, "4" -> 0.09691001300805642,
        "5" -> 0.07918124604762482, "6" -> 0.06694678963061322,
        "7" -> 0.05799194697768673, "8" -> 0.05115252244738129,
        "9" -> 0.04575749056067514)
      val expected = benford.tail.foldLeft(
        when(col("digit") === benford.head._1, lit(benford.head._2))) {
        case (acc, (d, p)) => acc.when(col("digit") === d, lit(p))
      }
      val byd = Tables(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = byd.agg(sum("n").as("total"))
      byd.crossJoin(broadcast(tot))
        .withColumn("share", col("n").cast("double") / col("total"))
        .withColumn("benford", expected)
        .withColumn("abs_dev", abs(col("share") - col("benford")))
        .select("digit", "n", "share", "benford", "abs_dev")
        .orderBy("digit")
    }),

    // Per-source Gini coefficient of document length — the
    // concentration audit (a source where 1% of docs hold 90% of the
    // bytes needs different sampling than a uniform one). Closed-form
    // from the rank sum: G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n. The
    // per-source rank comes from GlobalRank.withGroupRank (windows
    // partitioned by (source, length-range bucket)) — a bare
    // partitionBy(source) window is a |sources|-task sort of the whole
    // corpus at 100×. Equal lengths permute freely under the rank
    // without changing Σ(rank·x), so the tie-break order cannot leak
    // into the value. All sums are exact longs; divisions mirrored.
    "q_gini_doclen" -> ((s, dir) => {
      graft.operators.GlobalRank.withGroupRank(
          Tables(s, dir, "documents"), Seq("source"),
          col("n_chars"), col("doc_id"), "rk")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("tot"),
          sum(col("rk") * col("n_chars")).as("s"))
        .select(col("source"), col("n_docs"),
          ((col("s") * 2L).cast("double") /
            (col("n_docs") * col("tot")).cast("double") -
            (col("n_docs") + 1L).cast("double") /
              col("n_docs").cast("double")).as("gini"))
        .orderBy("source")
    }),

    // Per-source language-mix diversity: distinct languages, majority
    // share, and Gini impurity 1 − Σp². Impurity instead of Shannon
    // entropy because it is libm-free (pure rational arithmetic on
    // counts); the p² sum folds over the lang-sorted (lang, count)
    // list so the double addition order is pinned. Two combine
    // aggregates, ≤ |sources|·|langs| intermediate rows.
    "q_source_diversity" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          count(lit(1)).as("n_langs"),
          max("c").as("cmax"),
          sum("c").as("total"),
          array_sort(collect_list(struct(col("lang"), col("c"))))
            .as("cl"))
        .select(col("source"), col("n_langs"),
          (col("cmax").cast("double") / col("total"))
            .as("majority_share"),
          (lit(1.0) - aggregate(col("cl"), lit(0.0), (acc, x) =>
            acc + (x.getField("c").cast("double") / col("total")) *
              (x.getField("c").cast("double") / col("total"))))
            .as("gini_impurity"))
        .orderBy("source")
    }),

    // Bounded 3-hop BFS over the undirected co-purchase graph from the
    // p_partkey % 100 == 0 seed set: per hop, how many new nodes the
    // frontier reaches and the visited total — the reachability /
    // neighborhood-sampling primitive (GNN fanout, blast-radius
    // audits). Each hop is one adjacency join + distinct + anti join
    // against visited; the adjacency and each level are persisted
    // because every level is read by the next (the q_kcore_peel
    // lesson: an unpersisted chain re-derives the base self-join per
    // level; Bench/Verify clearCache() bounds the blocks' lifetime).
    "q_bfs_hops" -> ((s, dir) => {
      import org.apache.spark.storage.StorageLevel
      val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .distinct()
      val adj = pairs
        .unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
        .transform(graft.CacheScope.retain)
      var visited = Tables(s, dir, "part")
        .filter(col("p_partkey") % 100 === 0)
        .select(col("p_partkey").as("v"))
        .transform(graft.CacheScope.retain)
      var frontier = visited
      val rows = (1 to 3).map { hop =>
        val next = adj
          .join(frontier.withColumnRenamed("v", "a"), Seq("a"))
          .select(col("b").as("v")).distinct()
          .join(visited, Seq("v"), "left_anti")
          .transform(graft.CacheScope.retain)
        visited = visited.unionAll(next)
          .transform(graft.CacheScope.retain)
        frontier = next
        next.agg(count(lit(1)).as("newly_reached"))
          .crossJoin(visited.agg(count(lit(1)).as("visited_total")))
          .withColumn("hop", lit(hop))
      }
      rows.reduce(_.unionByName(_))
        .select("hop", "newly_reached", "visited_total")
        .orderBy("hop")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_ks_split" ->
      """WITH d AS (
        |  SELECT n_chars,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
        |      THEN 1 ELSE 0 END AS is_a
        |  FROM documents
        |), c AS (
        |  SELECT n_chars, CAST(SUM(is_a) AS BIGINT) AS ca,
        |    CAST(SUM(1 - is_a) AS BIGINT) AS cb
        |  FROM d GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(is_a) AS BIGINT) AS na,
        |    CAST(SUM(1 - is_a) AS BIGINT) AS nb
        |  FROM d
        |), cum AS (
        |  SELECT
        |    CAST(SUM(ca) OVER (ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
        |    CAST(SUM(cb) OVER (ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
        |  FROM c
        |)
        |SELECT t.na, t.nb,
        |  MAX(ABS(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb))
        |    AS ks_stat
        |FROM cum, t GROUP BY t.na, t.nb""".stripMargin,

    "q_benford_audit" ->
      """WITH byd AS (
        |  SELECT substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS digit,
        |    COUNT(*) AS n
        |  FROM orders GROUP BY 1
        |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM byd)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / total AS share,
        |  CAST(CASE digit
        |    WHEN '1' THEN 0.3010299956639812
        |    WHEN '2' THEN 0.17609125905568124
        |    WHEN '3' THEN 0.12493873660829992
        |    WHEN '4' THEN 0.09691001300805642
        |    WHEN '5' THEN 0.07918124604762482
        |    WHEN '6' THEN 0.06694678963061322
        |    WHEN '7' THEN 0.05799194697768673
        |    WHEN '8' THEN 0.05115252244738129
        |    WHEN '9' THEN 0.04575749056067514
        |  END AS DOUBLE) AS benford,
        |  ABS(CAST(n AS DOUBLE) / total - CAST(CASE digit
        |    WHEN '1' THEN 0.3010299956639812
        |    WHEN '2' THEN 0.17609125905568124
        |    WHEN '3' THEN 0.12493873660829992
        |    WHEN '4' THEN 0.09691001300805642
        |    WHEN '5' THEN 0.07918124604762482
        |    WHEN '6' THEN 0.06694678963061322
        |    WHEN '7' THEN 0.05799194697768673
        |    WHEN '8' THEN 0.05115252244738129
        |    WHEN '9' THEN 0.04575749056067514
        |  END AS DOUBLE)) AS abs_dev
        |FROM byd, t ORDER BY digit""".stripMargin,

    "q_gini_doclen" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS rk
        |  FROM documents
        |), g AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS tot,
        |    CAST(SUM(rk * n_chars) AS BIGINT) AS s
        |  FROM r GROUP BY 1
        |)
        |SELECT source, n_docs,
        |  CAST(s * 2 AS DOUBLE) / CAST(n_docs * tot AS DOUBLE)
        |    - CAST(n_docs + 1 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS gini
        |FROM g ORDER BY source""".stripMargin,

    "q_source_diversity" ->
      """WITH b AS (
        |  SELECT source, lang, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2
        |), p AS (
        |  SELECT source, COUNT(*) AS n_langs,
        |    CAST(MAX(c) AS BIGINT) AS cmax,
        |    CAST(SUM(c) AS BIGINT) AS total,
        |    list_sort(list(struct_pack(lang := lang, c := c))) AS cl
        |  FROM b GROUP BY 1
        |)
        |SELECT source, n_langs,
        |  CAST(cmax AS DOUBLE) / total AS majority_share,
        |  1.0 - list_reduce([CAST(0 AS DOUBLE)] || list_transform(cl,
        |    x -> (CAST(x.c AS DOUBLE) / total) *
        |         (CAST(x.c AS DOUBLE) / total)),
        |    (acc, v) -> acc + v) AS gini_impurity
        |FROM p ORDER BY source""".stripMargin,

    "q_bfs_hops" ->
      """WITH e0 AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |), adj AS (
        |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0
        |), v0 AS (
        |  SELECT p_partkey AS v FROM part WHERE p_partkey % 100 = 0
        |), f1 AS (
        |  SELECT DISTINCT adj.b AS v FROM adj JOIN v0 ON adj.a = v0.v
        |  WHERE adj.b NOT IN (SELECT v FROM v0)
        |), v1 AS (
        |  SELECT v FROM v0 UNION ALL SELECT v FROM f1
        |), f2 AS (
        |  SELECT DISTINCT adj.b AS v FROM adj JOIN f1 ON adj.a = f1.v
        |  WHERE adj.b NOT IN (SELECT v FROM v1)
        |), v2 AS (
        |  SELECT v FROM v1 UNION ALL SELECT v FROM f2
        |), f3 AS (
        |  SELECT DISTINCT adj.b AS v FROM adj JOIN f2 ON adj.a = f2.v
        |  WHERE adj.b NOT IN (SELECT v FROM v2)
        |), v3 AS (
        |  SELECT v FROM v2 UNION ALL SELECT v FROM f3
        |)
        |SELECT 1 AS hop,
        |  (SELECT COUNT(*) FROM f1) AS newly_reached,
        |  (SELECT COUNT(*) FROM v1) AS visited_total
        |UNION ALL SELECT 2,
        |  (SELECT COUNT(*) FROM f2), (SELECT COUNT(*) FROM v2)
        |UNION ALL SELECT 3,
        |  (SELECT COUNT(*) FROM f3), (SELECT COUNT(*) FROM v3)
        |ORDER BY hop""".stripMargin,
  )
}
