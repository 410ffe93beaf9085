package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5HeadSql, sortedFold}
import graft.functions.VectorFunctions.dotD

/** Round-8 seventh batch: retrieval evaluation, training-batch
  * efficiency, and membership-sketch calibration.
  *
  *  - q_ndcg_eval: NDCG@10 of the cosine similarity ranking against
  *    binary same-label relevance, per benchmark probe — the ranking
  *    metric that, unlike recall@k (ann_recall) or MRR
  *    (q_mrr_popularity), credits WHERE in the top-k the relevant
  *    vectors land. Log discounts are DetMath.dln over rank integers.
  *  - q_padding_waste: the length-bucketed batching audit — token
  *    padding wasted by batch-of-8 max-length padding under
  *    length-sorted vs arrival-order batching. The measured case for
  *    sorting (or bucketing) sequences before batching a trainer.
  *  - q_bloom_fpp_audit: build a 16384-bit, 3-hash Bloom filter over
  *    the present key set and measure the empirical false-positive
  *    rate on a disjoint probe set, alongside the fill ratio — the
  *    calibration run that says whether a runtime filter's m/k budget
  *    (q_bloom_join's shape) actually holds its advertised FPP.
  *
  * Determinism: DCG/IDCG fold dln-derived discounts in rank order;
  * padding waste and Bloom counts are pure BIGINT with mirrored final
  * divisions; batch ids come from GlobalRank (no single-partition
  * window even at audit scale).
  *
  * Scale: probes broadcast against one corpus scan; batching stats
  * move (doc, token-count) pairs only; the Bloom bit set is at most m
  * rows (broadcast), and probes join it by bit position — the filter
  * itself is mergeable across partitions by construction.
  */
object Round8gQueries {

  private val Ln2 = 0.6931471805599453

  private def md5Bucket(i: Column, k: Column, m: Int): Column =
    conv(substring(md5(concat(i.cast("string"), lit(":"),
      k.cast("string"))), 1, 8), 16, 10).cast("long") % m

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // NDCG@10 per probe, binary same-label relevance, ln-ratio
    // discounts (ln2/dln(rank+1) == 1/log2(rank+1)).
    "q_ndcg_eval" -> ((s, dir) => {
      import graft.functions.DetMath.dln
      val e = Tables(s, dir, "embeddings")
      val probes = broadcast(e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("p_id"), col("label").as("p_label"),
          col("embedding").as("pe"),
          sqrt(dotD(col("embedding"), col("embedding"))).as("np")))
      val corpus = e.filter(col("vec_id") >= 16)
        .select(col("vec_id"), col("label"), col("embedding"),
          sqrt(dotD(col("embedding"), col("embedding"))).as("nc"))
      val byP = Window.partitionBy("p_id")
        .orderBy(col("sim").desc, col("vec_id"))
      val top = corpus.crossJoin(probes)
        .select(col("p_id"), col("vec_id"),
          (col("label") === col("p_label")).cast("int").as("rel"),
          (dotD(col("embedding"), col("pe")) / (col("nc") * col("np")))
            .as("sim"))
        .withColumn("rk", row_number().over(byP))
        .filter(col("rk") <= 10)
      val scored = top.groupBy("p_id").agg(
        sum("rel").cast("long").as("n_rel_top10"),
        sortedFold(collect_list(struct(col("rk"),
          (col("rel") * (lit(Ln2) / dln(col("rk") + 1))).as("term"))),
          "term").as("dcg"))
      scored
        .select(col("p_id"), col("n_rel_top10"), col("dcg"),
          explode(sequence(lit(1), lit(10))).as("i"))
        .select(col("p_id"), col("n_rel_top10"), col("dcg"), col("i"),
          when(col("i") <= col("n_rel_top10"),
            lit(Ln2) / dln(col("i") + 1)).otherwise(lit(0.0)).as("term"))
        .groupBy("p_id", "n_rel_top10", "dcg")
        .agg(sortedFold(collect_list(struct(col("i"), col("term"))),
          "term").as("idcg"))
        .select(col("p_id").as("probe_id"), col("n_rel_top10"),
          col("dcg"), col("idcg"),
          when(col("idcg") > 0, col("dcg") / col("idcg"))
            .otherwise(lit(0.0)).as("ndcg"))
        .orderBy("probe_id")
    }),

    // Padding waste: batch-of-8 max-length padding, length-sorted vs
    // arrival order. All BIGINT token counts.
    "q_padding_waste" -> ((s, dir) => {
      val d = graft.CacheScope.retain(Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks")))
      val withBatches = graft.CacheScope.retain(
        graft.operators.GlobalRank.withRank(
          graft.operators.GlobalRank.withRank(d, col("toks"),
            col("doc_id"), "rn_s"),
          col("doc_id"), col("doc_id"), "rn_a")
        .select(col("doc_id"), col("toks"),
          ((col("rn_s") - 1) / 8).cast("long").as("sb"),
          ((col("rn_a") - 1) / 8).cast("long").as("ab")))
      def waste(b: String) = withBatches
        .withColumn("mx", max("toks").over(Window.partitionBy(b)))
        .agg(sum(col("mx") - col("toks")).cast("long").as("waste"))
      val tot = d.agg(count(lit(1)).as("n_docs"),
        sum("toks").cast("long").as("n_tokens"))
      tot.crossJoin(broadcast(waste("sb")
          .withColumnRenamed("waste", "sorted_waste")))
        .crossJoin(broadcast(waste("ab")
          .withColumnRenamed("waste", "arrival_waste")))
        .select(col("n_docs"), col("n_tokens"), col("sorted_waste"),
          col("arrival_waste"),
          (col("sorted_waste").cast("double") / col("arrival_waste"))
            .as("waste_ratio"))
    }),

    // Bloom FPP calibration: m=16384, k=3 over distinct order
    // custkeys; probes are out-of-domain shifted customer keys.
    "q_bloom_fpp_audit" -> ((s, dir) => {
      val m = 16384
      val present = graft.CacheScope.retain(Tables(s, dir, "orders")
        .select(col("o_custkey").as("k")).distinct())
      val absent = graft.CacheScope.retain(Tables(s, dir, "customer")
        .select((col("c_custkey") + 1000000).as("k")))
      val ks = explode(sequence(lit(0), lit(2))).as("i")
      val bits = graft.CacheScope.retain(present.select(col("k"), ks)
        .select(md5Bucket(col("i"), col("k"), m).as("b")).distinct())
      val hits = absent.select(col("k"), ks)
        .select(col("k"), md5Bucket(col("i"), col("k"), m).as("b"))
        .join(broadcast(bits), "b")
        .groupBy("k").agg(count(lit(1)).as("nh"))
      val nFp = hits.filter(col("nh") === 3)
        .agg(count(lit(1)).as("n_false_positive"))
      val nPresent = present.agg(count(lit(1)).as("n_present"))
      val nAbsent = absent.agg(count(lit(1)).as("n_absent"))
      val nBits = bits.agg(count(lit(1)).as("bits_set"))
      nPresent.crossJoin(broadcast(nAbsent)).crossJoin(broadcast(nBits))
        .crossJoin(broadcast(nFp))
        .select(col("n_present"), col("n_absent"), col("bits_set"),
          (col("bits_set").cast("double") / m).as("fill_ratio"),
          col("n_false_positive"),
          try_divide(col("n_false_positive").cast("double"),
            col("n_absent")).as("fpp"))
    }),
  )

  import graft.functions.DetMath.lnCtesSql

  private val dotSql = (a: String, b: String) =>
    s"list_sum(list_transform(range(1,65), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val oracle: Map[String, String] = Map(
    "q_ndcg_eval" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS p_id, label AS p_label, embedding AS pe,
         |    sqrt(${dotSql("embedding", "embedding")}) AS np
         |  FROM embeddings WHERE vec_id < 16
         |), corpus AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nc
         |  FROM embeddings WHERE vec_id >= 16
         |), ranked AS (
         |  SELECT p.p_id, c.vec_id,
         |    CAST(c.label = p.p_label AS INT) AS rel,
         |    ROW_NUMBER() OVER (PARTITION BY p.p_id
         |      ORDER BY ${dotSql("c.embedding", "p.pe")} / (c.nc * p.np)
         |        DESC, c.vec_id) AS rk
         |  FROM corpus c, probes p
         |), top0 AS (
         |  SELECT p_id, rk, rel FROM ranked WHERE rk <= 10
         |), ${lnCtesSql("top", "top0", "p_id, rk, rel", "rk + 1", "lnr")},
         |scored AS (
         |  SELECT p_id, CAST(SUM(rel) AS BIGINT) AS n_rel_top10,
         |    list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(rel * (6.931471805599453e-1 / lnr) ORDER BY rk),
         |      (a, q) -> a + q) AS dcg
         |  FROM top GROUP BY p_id
         |), igrid0 AS (
         |  SELECT s.p_id, s.n_rel_top10, s.dcg, u.i
         |  FROM scored s, unnest(range(1, 11)) u(i)
         |), ${lnCtesSql("igrid", "igrid0",
             "p_id, n_rel_top10, dcg, i", "i + 1", "lni")},
         |ideal AS (
         |  SELECT p_id, n_rel_top10, dcg,
         |    list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(CASE WHEN i <= n_rel_top10
         |        THEN 6.931471805599453e-1 / lni ELSE 0.0 END
         |        ORDER BY i), (a, q) -> a + q) AS idcg
         |  FROM igrid GROUP BY p_id, n_rel_top10, dcg
         |)
         |SELECT p_id AS probe_id, n_rel_top10, dcg, idcg,
         |  CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END AS ndcg
         |FROM ideal ORDER BY probe_id""".stripMargin,

    "q_padding_waste" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, toks,
        |    (ROW_NUMBER() OVER (ORDER BY toks, doc_id) - 1) // 8 AS sb,
        |    (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 8 AS ab
        |  FROM d
        |), sw AS (
        |  SELECT CAST(SUM(mx - toks) AS BIGINT) AS sorted_waste FROM (
        |    SELECT toks, MAX(toks) OVER (PARTITION BY sb) AS mx FROM s)
        |), aw AS (
        |  SELECT CAST(SUM(mx - toks) AS BIGINT) AS arrival_waste FROM (
        |    SELECT toks, MAX(toks) OVER (PARTITION BY ab) AS mx FROM s)
        |)
        |SELECT (SELECT COUNT(*) FROM d) AS n_docs,
        |  (SELECT CAST(SUM(toks) AS BIGINT) FROM d) AS n_tokens,
        |  sw.sorted_waste, aw.arrival_waste,
        |  CAST(sw.sorted_waste AS DOUBLE) / aw.arrival_waste
        |    AS waste_ratio
        |FROM sw, aw""".stripMargin,

    "q_bloom_fpp_audit" ->
      s"""WITH present AS (
         |  SELECT DISTINCT o_custkey AS k FROM orders
         |), absent AS (
         |  SELECT c_custkey + 1000000 AS k FROM customer
         |), bits AS (
         |  SELECT DISTINCT
         |    ${md5HeadSql("CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)")}
         |      % 16384 AS b
         |  FROM present, unnest(range(0, 3)) u(i)
         |), hits AS (
         |  SELECT a.k, CAST(COUNT(*) AS BIGINT) AS nh
         |  FROM absent a, unnest(range(0, 3)) u(i)
         |  JOIN bits ON
         |    ${md5HeadSql("CAST(i AS VARCHAR) || ':' || CAST(a.k AS VARCHAR)")}
         |      % 16384 = bits.b
         |  GROUP BY a.k
         |), fp AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_fp FROM hits WHERE nh = 3
         |)
         |SELECT (SELECT COUNT(*) FROM present) AS n_present,
         |  (SELECT COUNT(*) FROM absent) AS n_absent,
         |  (SELECT COUNT(*) FROM bits) AS bits_set,
         |  CAST((SELECT COUNT(*) FROM bits) AS DOUBLE) / 16384
         |    AS fill_ratio,
         |  (SELECT n_fp FROM fp) AS n_false_positive,
         |  CAST((SELECT n_fp FROM fp) AS DOUBLE)
         |    / (SELECT COUNT(*) FROM absent) AS fpp
         |FROM (SELECT 1)""".stripMargin,
  )
}
