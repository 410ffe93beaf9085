package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5HeadSql, sortedFold}

/** Round-8 twelfth batch: corpus information rate, tail-risk
  * estimation, and entity linkage.
  *
  *  - q_ngram_entropy_rate: the corpus conditional entropy H(c3|c1c2)
  *    in nats — sum over trigrams of p(tri) ln(cnt2/cnt3). The
  *    information-rate figure that bounds achievable compression and
  *    calibrates quality_compress_proxy against a model-based number.
  *  - q_hill_tail_index: the Hill estimator of the doc-length tail
  *    exponent from the top-50 order statistics — the principled
  *    tail-risk number behind q_pareto_8020/q_zipf_check's
  *    diagnostics; decides whether truncation policies face a
  *    power-law or a thin tail.
  *  - q_topk_shard_recall: the distributed top-k merge audit — shard
  *    the corpus 8 ways by md5, take each shard's LOCAL top-10 tokens,
  *    and measure how much of each GLOBAL top-10 token's count the
  *    merged local lists recover. Local-top-k-then-merge is the shape
  *    every "approximate top-k" implementation takes at scale; this
  *    measures exactly what it loses (a heavy hitter absent from a
  *    shard's top-10 contributes nothing to the merge).
  *
  * Determinism: entropy folds dln-count differences in trigram order;
  * Hill folds dln(x_i) - dln(x_k) in rank order; shard top-k and all
  * merge counts are integers with one mirrored recall division.
  */
object Round8lQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // H(c3|c1c2) in nats: one number from alphabet-bounded count
    // tables, fold ordered by (c1,c2,c3).
    "q_ngram_entropy_rate" -> ((s, dir) => {
      import graft.functions.DetMath.dln
      val byPos = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val chars = Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), "")).as(Seq("pos", "c1")))
        .withColumn("c2", lead("c1", 1).over(byPos))
        .withColumn("c3", lead("c1", 2).over(byPos))
        .filter(col("c3").isNotNull)
      val tric = graft.CacheScope.retain(
        chars.groupBy("c1", "c2", "c3").agg(count(lit(1)).as("cnt3")))
      val bic = tric.groupBy("c1", "c2")
        .agg(sum("cnt3").cast("long").as("cnt2"))
      val tot = broadcast(tric.agg(sum("cnt3").cast("long").as("n"),
        count(lit(1)).as("n_trigrams")))
      tric.join(broadcast(bic), Seq("c1", "c2")).crossJoin(tot)
        .select(col("n_trigrams"), col("n"),
          struct(col("c1"), col("c2"), col("c3"),
            ((col("cnt3").cast("double") / col("n")) *
              (dln(col("cnt2")) - dln(col("cnt3")))).as("term"))
            .as("st"))
        .groupBy("n_trigrams")
        .agg(max("n").as("n_positions"),
          sortedFold(collect_list(col("st")), "term")
            .as("entropy_rate_nats"))
        .select(col("n_trigrams"), col("n_positions"),
          col("entropy_rate_nats"))
    }),

    // Hill estimator, k=50: alpha = k / sum_{i<=k} (ln x_i - ln x_k).
    "q_hill_tail_index" -> ((s, dir) => {
      import graft.functions.DetMath.dln
      val ranked = graft.CacheScope.retain(
        graft.operators.GlobalRank.withRank(
          Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          -col("n_chars"), col("doc_id"), "rk")
        .filter(col("rk") <= 51))
      val xk = broadcast(ranked.filter(col("rk") === 51)
        .select(col("n_chars").as("x50")))
      // GLOBAL aggregate (not groupBy x50): a corpus under 51 docs has
      // no x_{k+1} — the oracle's ungrouped aggregate still emits one
      // row of NULLs, so this side must too; try_divide turns the
      // empty fold's 0 denominator into the same NULL
      ranked.filter(col("rk") <= 50).crossJoin(xk)
        .select(struct(col("rk"),
          (dln(col("n_chars")) - dln(col("x50"))).as("term")).as("st"),
          col("x50"))
        .agg(max(col("x50")).as("x_k"),
          sortedFold(collect_list(col("st")), "term").as("lsum"))
        .select(lit(50L).as("k"), col("x_k"),
          try_divide(lit(50), col("lsum")).as("hill_alpha"))
    }),

    // Distributed top-k merge audit: 8 md5 shards, local top-10 per
    // shard, recall of each global top-10 token's mass in the merge.
    "q_topk_shard_recall" -> ((s, dir) => {
      val shard = conv(substring(md5(concat(lit("shard"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 8
      val sc = graft.CacheScope.retain(Tables(s, dir, "documents")
        .select(shard.as("shard"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy("shard", "tok").agg(count(lit(1)).as("c")))
      val byShard = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy(col("c").desc, col("tok"))
      val localTop = sc.withColumn("rn", row_number().over(byShard))
        .filter(col("rn") <= 10)
        .select(col("shard"), col("tok"), col("c"))
      val globalC = sc.groupBy("tok").agg(sum("c").cast("long").as("gc"))
      val gtop = graft.operators.GlobalRank.withRank(globalC,
          -col("gc"), col("tok"), "rk0")
        .filter(col("rk0") <= 10)
        .select(col("rk0").cast("long").as("rk"), col("tok"), col("gc"))
      gtop.join(localTop.withColumnRenamed("tok", "ltok"),
          col("tok") === col("ltok"), "left")
        .groupBy("rk", "tok", "gc")
        .agg(count(col("shard")).as("n_shards_listing"),
          coalesce(sum("c"), lit(0L)).cast("long").as("merged_count"))
        .select(col("rk"), col("tok"), col("gc"),
          col("n_shards_listing"), col("merged_count"),
          (col("merged_count").cast("double") / col("gc"))
            .as("recall_ratio"))
        .orderBy("rk")
    }),
  )

  import graft.functions.DetMath.lnCtesSql

  val oracle: Map[String, String] = Map(
    "q_ngram_entropy_rate" ->
      s"""WITH chars AS (
         |  SELECT cs[i] AS c1, cs[i+1] AS c2, cs[i+2] AS c3
         |  FROM (SELECT string_split(text, '') AS cs FROM documents),
         |       unnest(range(1, len(cs) - 1)) AS u(i)
         |), tric0 AS (
         |  SELECT c1, c2, c3, COUNT(*) AS cnt3 FROM chars GROUP BY 1,2,3
         |), ${lnCtesSql("tric", "tric0", "c1, c2, c3, cnt3", "cnt3",
             "ln3")},
         |bic0 AS (
         |  SELECT c1, c2, CAST(SUM(cnt3) AS BIGINT) AS cnt2 FROM tric0
         |  GROUP BY 1, 2
         |), ${lnCtesSql("bic", "bic0", "c1, c2, cnt2", "cnt2", "ln2")},
         |tot AS (
         |  SELECT CAST(SUM(cnt3) AS BIGINT) AS n,
         |    COUNT(*) AS n_trigrams
         |  FROM tric0
         |)
         |SELECT tot.n_trigrams, MAX(tot.n) AS n_positions,
         |  list_reduce([CAST(0 AS DOUBLE)] || list(
         |    (CAST(t.cnt3 AS DOUBLE) / tot.n) * (b.ln2 - t.ln3)
         |    ORDER BY t.c1, t.c2, t.c3), (a, v) -> a + v)
         |    AS entropy_rate_nats
         |FROM tric t JOIN bic b ON t.c1 = b.c1 AND t.c2 = b.c2, tot
         |GROUP BY tot.n_trigrams""".stripMargin,

    "q_hill_tail_index" ->
      s"""WITH r AS (
         |  SELECT doc_id, n_chars,
         |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM documents
         |), topk0 AS (
         |  SELECT rk, n_chars FROM r WHERE rk <= 51
         |), ${lnCtesSql("topk", "topk0", "rk, n_chars", "n_chars",
             "lnx")},
         |xk AS (
         |  SELECT n_chars AS x50, lnx AS lnxk FROM topk WHERE rk = 51
         |)
         |SELECT CAST(50 AS BIGINT) AS k, MAX(xk.x50) AS x_k,
         |  50 / list_reduce([CAST(0 AS DOUBLE)] || list(
         |    t.lnx - xk.lnxk ORDER BY t.rk), (a, v) -> a + v)
         |    AS hill_alpha
         |FROM topk t, xk WHERE t.rk <= 50""".stripMargin,

    "q_topk_shard_recall" ->
      s"""WITH toks AS (
         |  SELECT ${md5HeadSql(
             "'shard' || CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |    unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), sc AS (
         |  SELECT shard, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
         |), localtop AS (
         |  SELECT shard, tok, c FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY shard
         |      ORDER BY c DESC, tok) AS rn
         |    FROM sc) WHERE rn <= 10
         |), globalc AS (
         |  SELECT tok, CAST(SUM(c) AS BIGINT) AS gc FROM sc
         |  GROUP BY tok
         |), gtop AS (
         |  SELECT tok, gc,
         |    ROW_NUMBER() OVER (ORDER BY gc DESC, tok) AS rk
         |  FROM globalc QUALIFY rk <= 10
         |)
         |SELECT g.rk, g.tok, g.gc,
         |  CAST(COUNT(l.shard) AS BIGINT) AS n_shards_listing,
         |  CAST(COALESCE(SUM(l.c), 0) AS BIGINT) AS merged_count,
         |  CAST(COALESCE(SUM(l.c), 0) AS DOUBLE) / g.gc AS recall_ratio
         |FROM gtop g LEFT JOIN localtop l ON g.tok = l.tok
         |GROUP BY g.rk, g.tok, g.gc
         |ORDER BY g.rk""".stripMargin,
  )
}
