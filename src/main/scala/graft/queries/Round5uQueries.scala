package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5u batch: association mining, language-model tables, and the
  * approximate-percentile surface.
  *
  *  - q_basket_lift: association-rule lift for co-purchased part pairs
  *    (market-basket analysis over order baskets)
  *  - q_ngram_lm_next: bigram next-token table — top-3 continuations
  *    per token with conditional probability (the count side of an
  *    n-gram LM)
  *  - q_approx_percentile: approximate percentiles per group, made
  *    hash-verifiable (r9 verdict #7): the estimates themselves are
  *    implementation-specific, but the RANK GUARANTEE is not —
  *    approx_percentile(x, q, acc) must return an element whose rank
  *    sits within n/acc of q*n. The query emits exact group counts
  *    plus one boolean per quantile asserting that guarantee (rank
  *    bracketed via count(< v) / count(<= v)); the oracle computes the
  *    same counts and asserts TRUE. ApproxPercentileSpec still bounds
  *    the VALUE error against the exact percentile.
  *
  * Determinism: lift and probability are single mirrored divisions
  * over exact counts; approx_percentile is deterministic for a fixed
  * input set, so the bound booleans are stable.
  */
object Round5uQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Association-rule lift over order baskets: for part pairs bought
    // together in ≥ 3 baskets, lift = n_baskets·c(a,b) / (c(a)·c(b)) —
    // >1 means the pair co-occurs more than independence predicts.
    // Top-20 by (lift, a, b). The pair source is the same orderkey
    // self-join as the co-purchase graph (join key = basket id, high
    // cardinality); supports are broadcast-sized aggregates. The
    // min-support cut (≥3) is what keeps the rule table meaningful AND
    // bounded at scale — rare pairs are noise with huge lifts.
    "q_basket_lift" -> ((s, dir) => {
      // li feeds four consumers (basket count, support table, both
      // sides of the pair self-join) and supp joins twice: retained so
      // the scan + distinct and the support aggregate derive once
      val li = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct())
      val nBaskets = li.select("l_orderkey").distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val supp = graft.CacheScope.retain(
        li.groupBy("l_partkey").agg(count(lit(1)).as("c")))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 3)
      pairs
        .join(supp.withColumnRenamed("l_partkey", "a")
          .withColumnRenamed("c", "c_a"), Seq("a"))
        .join(supp.withColumnRenamed("l_partkey", "b")
          .withColumnRenamed("c", "c_b"), Seq("b"))
        .crossJoin(broadcast(nBaskets))
        .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
          ((col("n_baskets") * col("c_ab")).cast("double") /
            (col("c_a") * col("c_b")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Bigram LM table: for each token, the top-3 next tokens by count
    // with conditional probability P(next|tok) = c(tok,next)/c(tok).
    // Adjacent-token pairs come from a doc-partitioned lead window
    // (no self-join); the rank window partitions by the first token —
    // vocabulary-cardinality keys, scales with the corpus.
    "q_ngram_lm_next" -> ((s, dir) => {
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      // bigrams feeds the unigram-count aggregate AND the ranked
      // output: retained so the corpus posexplode + lead window runs
      // once, not once per consumer
      val bigrams = graft.CacheScope.retain(Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("tok", lower(col("tok")))
        .filter(length(col("tok")) > 0)
        .withColumn("next", lead(col("tok"), 1).over(byDoc))
        .filter(col("next").isNotNull)
        .groupBy("tok", "next").agg(count(lit(1)).as("c_pair")))
      val toks = bigrams.groupBy("tok").agg(sum("c_pair").as("c_tok"))
      val rk = Window.partitionBy("tok")
        .orderBy(col("c_pair").desc, col("next"))
      bigrams.join(toks, "tok")
        .withColumn("rn", row_number().over(rk))
        .filter(col("rn") <= 3)
        .filter(col("c_tok") >= 20) // keep the table to frequent tokens (>= 20)
        .select(col("tok"), col("next"), col("c_pair"), col("c_tok"),
          col("rn"),
          (col("c_pair").cast("double") / col("c_tok")).as("p_next"))
        .orderBy("tok", "rn")
    }),

    // Approximate percentiles (p50/p90/p99 of extendedprice per
    // returnflag) via approx_percentile — the sketch the CBO and SLA
    // dashboards actually run at 100 TB (exact percentile sorts every
    // group). Hash-verified through the rank guarantee: the returned
    // value must be an actual element whose rank r satisfies
    // |r - q*n| <= n/accuracy (+1 slop for the rank-interval ends).
    // count(< v) and count(<= v) bracket r, so the boolean is
    //   count(< v) <= q*n + tol  AND  count(<= v) >= q*n - tol.
    // One broadcast of the 3-row sketch frame back onto the scan — the
    // verification pass is a second scan, not a sort.
    "q_approx_percentile" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val sk = li.groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50"),
          expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("p90"),
          expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("p99"))
      def cnt(cmp: org.apache.spark.sql.Column) =
        sum(when(cmp, 1L).otherwise(0L))
      val ranked = li.join(broadcast(sk), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          cnt(col("l_extendedprice") < col("p50")).as("lt50"),
          cnt(col("l_extendedprice") <= col("p50")).as("le50"),
          cnt(col("l_extendedprice") < col("p90")).as("lt90"),
          cnt(col("l_extendedprice") <= col("p90")).as("le90"),
          cnt(col("l_extendedprice") < col("p99")).as("lt99"),
          cnt(col("l_extendedprice") <= col("p99")).as("le99"))
      val tol = col("n").cast("double") / 1000.0 + 1.0
      def ok(q: Double, lt: String, le: String) =
        (col(lt).cast("double") <= lit(q) * col("n") + tol) &&
          (col(le).cast("double") >= lit(q) * col("n") - tol)
      ranked.select(col("l_returnflag"), col("n"),
        ok(0.5, "lt50", "le50").as("p50_in_bound"),
        ok(0.9, "lt90", "le90").as("p90_in_bound"),
        ok(0.99, "lt99", "le99").as("p99_in_bound"))
        .orderBy("l_returnflag")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_approx_percentile" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  TRUE AS p50_in_bound, TRUE AS p90_in_bound, TRUE AS p99_in_bound
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_basket_lift" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), nb AS (
        |  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li
        |), supp AS (
        |  SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1
        |), pairs AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS c_ab
        |  FROM li x JOIN li y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |)
        |SELECT a, b, c_ab, sa.c AS c_a, sb.c AS c_b,
        |  CAST(nb.n_baskets * c_ab AS DOUBLE)
        |    / CAST(sa.c * sb.c AS DOUBLE) AS lift
        |FROM pairs
        |JOIN supp sa ON sa.l_partkey = a
        |JOIN supp sb ON sb.l_partkey = b, nb
        |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin,

    "q_ngram_lm_next" ->
      """WITH toks AS (
        |  SELECT doc_id, u.pos, lower(u.term) AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      string_split(text, ' '),
        |      (x, i) -> struct_pack(pos := i, term := x))) AS u
        |    FROM documents)
        |  WHERE length(u.term) > 0
        |), bg AS (
        |  SELECT tok,
        |    LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS next
        |  FROM toks
        |), pairs AS (
        |  SELECT tok, next, COUNT(*) AS c_pair
        |  FROM bg WHERE next IS NOT NULL GROUP BY 1, 2
        |), tc AS (
        |  SELECT tok, CAST(SUM(c_pair) AS BIGINT) AS c_tok
        |  FROM pairs GROUP BY 1
        |), rk AS (
        |  SELECT p.tok, p.next, p.c_pair, t.c_tok,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p.tok
        |      ORDER BY p.c_pair DESC, p.next) AS INT) AS rn
        |  FROM pairs p JOIN tc t ON p.tok = t.tok
        |)
        |SELECT tok, next, c_pair, c_tok, rn,
        |  CAST(c_pair AS DOUBLE) / c_tok AS p_next
        |FROM rk WHERE rn <= 3 AND c_tok >= 20
        |ORDER BY tok, rn""".stripMargin,
  )
}
