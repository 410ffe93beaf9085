package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold

/** Round-8 twenty-third batch: language-model smoothing and stylometry
  * over the documents corpus.
  *
  *  - q_kneser_ney: interpolated Kneser-Ney bigram probabilities
  *    (discount 0.75) for the 20 most frequent bigrams — absolute
  *    discounting plus the continuation-probability backoff that made
  *    KN the standard n-gram smoother. All five ingredients (bigram
  *    count, context total, follower/predecessor type counts, bigram
  *    type total) are combine aggregates over the bigram table.
  *  - q_good_turing: Good-Turing frequency-of-frequencies table over
  *    word trigrams, r in 1..10: N_r, the smoothed r* = (r+1)N_{r+1}/N_r,
  *    and the unseen-mass estimate N_1/N — the other classical
  *    smoother, and the sanity check on the count-of-counts curve any
  *    LM pipeline eyeballs.
  *  - q_burrows_delta: Burrows' Delta authorship distance between all
  *    source pairs over the 30 highest-frequency words: z-score each
  *    source's relative word frequency, Delta = mean |z_a - z_b|.
  *    The stylometric source-fingerprint audit.
  *
  * Determinism: counts are integers; KN/GT probabilities are per-row
  * rational DAGs shared verbatim with the oracle; Burrows folds are
  * source-ordered (mean/var via mirrored E[x²]−μ² with a
  * greatest(·,0) guard) and word-ordered for the pair deltas.
  */
object Round8wQueries {

  /** Adjacent word pairs of every document, one row per occurrence.
    * Docs with fewer than 2 words are dropped BEFORE the transform:
    * Spark's sequence(1, size-1) descends when size < 2 (yielding
    * index-0/negative element_at accesses), while the oracle's
    * range(1, len) is simply empty — the filter makes both sides
    * agree on short docs instead of diverging.
    */
  private def bigrams(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
        .as("bg"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_kneser_ney" -> ((s, dir) => {
      val bg = graft.CacheScope.retain(bigrams(s, dir)
        .select(element_at(split(col("bg"), " "), 1).as("w1"),
          element_at(split(col("bg"), " "), 2).as("w2")))
      val bgCnt = graft.CacheScope.retain(bg.groupBy("w1", "w2")
        .agg(count(lit(1)).as("c")))
      val ctx = bgCnt.groupBy("w1")
        .agg(sum("c").as("c_context"), count(lit(1)).as("n_follow"))
      val prec = bgCnt.groupBy(col("w2").as("pw2"))
        .agg(count(lit(1)).as("n_precede"))
      val types = broadcast(bgCnt.agg(count(lit(1)).as("n_types")))
      bgCnt.join(broadcast(ctx), "w1")
        .join(broadcast(prec), col("w2") === col("pw2"))
        .crossJoin(types)
        .select(col("w1"), col("w2"), col("c").as("c_bigram"),
          col("c_context"), col("n_follow"), col("n_precede"),
          col("n_types"),
          (greatest(col("c").cast("double") - lit(0.75), lit(0.0)) /
            col("c_context").cast("double") +
            (lit(0.75) * col("n_follow").cast("double") /
              col("c_context").cast("double")) *
              (col("n_precede").cast("double") /
                col("n_types").cast("double"))).as("p_kn"))
        .orderBy(col("c_bigram").desc, col("w1").asc, col("w2").asc)
        .limit(20)
    }),

    // counts are over word TRIGRAMS: the synthetic vocabulary is only
    // 31 unigram types, all appearing hundreds of times — no N_1..N_10
    // classes exist at the word level, while the trigram domain has a
    // genuine Zipf tail (9.4k singletons at sf0.01)
    "q_good_turing" -> ((s, dir) => {
      // size >= 3 guard: same descending-sequence hazard as bigrams
      val uni = Tables(s, dir, "documents")
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 2), i -> concat(" +
            "element_at(ws, i), ' ', element_at(ws, i + 1), ' ', " +
            "element_at(ws, i + 2)))")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("r"))
      val nr = graft.CacheScope.retain(uni.groupBy("r")
        .agg(count(lit(1)).as("n_r")))
      val totals = broadcast(nr.agg(
        sum(col("r") * col("n_r")).as("n_tokens"),
        sum("n_r").as("n_types"),
        sum(when(col("r") === 1, col("n_r")).otherwise(0L)).as("n1")))
      nr.filter(col("r") <= 10)
        .join(broadcast(nr.select((col("r") - 1).as("rj"),
          col("n_r").as("n_next"))), col("r") === col("rj"), "left")
        .crossJoin(totals)
        .select(col("r"), col("n_r"),
          coalesce(col("n_next"), lit(0L)).as("n_next"),
          ((col("r") + 1).cast("double") *
            coalesce(col("n_next"), lit(0L)).cast("double") /
            col("n_r").cast("double")).as("r_star"),
          col("n_tokens"), col("n_types"),
          (col("n1").cast("double") / col("n_tokens").cast("double"))
            .as("p_unseen"))
        .orderBy("r")
    }),

    "q_burrows_delta" -> ((s, dir) => {
      val toks = graft.CacheScope.retain(Tables(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " "))
          .as("tok")))
      val top = broadcast(toks.groupBy("tok")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(30)
        .select(col("tok").as("w")))
      val srcTot = toks.groupBy("source")
        .agg(count(lit(1)).as("n_toks"))
      val f = graft.CacheScope.retain(srcTot
        .crossJoin(top)
        .join(toks.groupBy("source", "tok")
          .agg(count(lit(1)).as("c"))
          .withColumnRenamed("source", "cs"),
          col("source") === col("cs") && col("w") === col("tok"), "left")
        .select(col("source"), col("w"),
          (coalesce(col("c"), lit(0L)).cast("double") /
            col("n_toks").cast("double")).as("fr")))
      val stats = f.groupBy("w")
        .agg(count(lit(1)).as("ns"),
          sortedFold(collect_list(struct(col("source"), col("fr")
            .as("v"))), "v").as("sf"),
          sortedFold(collect_list(struct(col("source"),
            (col("fr") * col("fr")).as("v2"))), "v2").as("sf2"))
        .select(col("w").as("sw"),
          (col("sf") / col("ns").cast("double")).as("mu"),
          sqrt(greatest(col("sf2") / col("ns").cast("double") -
            (col("sf") / col("ns").cast("double")) *
              (col("sf") / col("ns").cast("double")), lit(0.0)))
            .as("sigma"))
      val z = graft.CacheScope.retain(f
        .join(broadcast(stats), col("w") === col("sw"))
        .select(col("source"), col("w"),
          when(col("sigma") > 0,
            (col("fr") - col("mu")) / col("sigma"))
            .otherwise(lit(0.0)).as("z")))
      z.as("a")
        .join(z.as("b"), col("a.w") === col("b.w") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_words"),
          (sortedFold(collect_list(struct(col("a.w"),
            abs(col("a.z") - col("b.z")).as("dz"))), "dz") /
            count(lit(1)).cast("double")).as("delta"))
        .orderBy("source_a", "source_b")
    }),
  )

  private val bigramSql =
    """bg AS (
      |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2
      |  FROM (
      |    SELECT unnest(list_transform(range(1, len(ws)),
      |      i -> ws[i] || ' ' || ws[i + 1])) AS b
      |    FROM (SELECT string_split(text, ' ') AS ws FROM documents)
      |  )
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_kneser_ney" ->
      s"""WITH $bigramSql, bgc AS (
         |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM bg GROUP BY w1, w2
         |), ctx AS (
         |  SELECT w1, CAST(SUM(c) AS BIGINT) AS c_context,
         |    CAST(COUNT(*) AS BIGINT) AS n_follow
         |  FROM bgc GROUP BY w1
         |), prec AS (
         |  SELECT w2 AS pw2, CAST(COUNT(*) AS BIGINT) AS n_precede
         |  FROM bgc GROUP BY w2
         |), ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM bgc)
         |SELECT bgc.w1 AS w1, bgc.w2 AS w2, bgc.c AS c_bigram,
         |  ctx.c_context AS c_context, ctx.n_follow AS n_follow,
         |  prec.n_precede AS n_precede, ty.n_types AS n_types,
         |  greatest(CAST(bgc.c AS DOUBLE) - 0.75, 0.0) /
         |    CAST(ctx.c_context AS DOUBLE) +
         |    (0.75 * CAST(ctx.n_follow AS DOUBLE) /
         |      CAST(ctx.c_context AS DOUBLE)) *
         |      (CAST(prec.n_precede AS DOUBLE) /
         |        CAST(ty.n_types AS DOUBLE)) AS p_kn
         |FROM bgc JOIN ctx ON bgc.w1 = ctx.w1
         |JOIN prec ON bgc.w2 = prec.pw2
         |CROSS JOIN ty
         |ORDER BY c_bigram DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,

    "q_good_turing" ->
      """WITH uni AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM (
        |    SELECT unnest(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
        |      AS tok
        |    FROM (SELECT string_split(text, ' ') AS ws FROM documents)
        |  ) GROUP BY tok
        |), nr AS (
        |  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM uni GROUP BY r
        |), totals AS (
        |  SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_r) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT)
        |      AS n1
        |  FROM nr
        |)
        |SELECT nr.r AS r, nr.n_r AS n_r,
        |  COALESCE(nx.n_r, 0) AS n_next,
        |  CAST(nr.r + 1 AS DOUBLE) * CAST(COALESCE(nx.n_r, 0) AS DOUBLE)
        |    / CAST(nr.n_r AS DOUBLE) AS r_star,
        |  totals.n_tokens AS n_tokens, totals.n_types AS n_types,
        |  CAST(totals.n1 AS DOUBLE) / CAST(totals.n_tokens AS DOUBLE)
        |    AS p_unseen
        |FROM nr LEFT JOIN nr nx ON nr.r = nx.r - 1
        |CROSS JOIN totals
        |WHERE nr.r <= 10
        |ORDER BY r""".stripMargin,

    "q_burrows_delta" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), top AS (
        |  SELECT tok AS w FROM (
        |    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        |    ORDER BY cnt DESC, tok ASC LIMIT 30
        |  )
        |), src_tot AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_toks
        |  FROM toks GROUP BY source
        |), sc AS (
        |  SELECT source AS cs, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY source, tok
        |), f AS (
        |  SELECT st.source AS source, top.w AS w,
        |    CAST(COALESCE(sc.c, 0) AS DOUBLE) / CAST(st.n_toks AS DOUBLE)
        |      AS fr
        |  FROM src_tot st CROSS JOIN top
        |  LEFT JOIN sc ON st.source = sc.cs AND top.w = sc.tok
        |), stats AS (
        |  SELECT w AS sw,
        |    list_reduce([CAST(0 AS DOUBLE)] || list(fr ORDER BY source),
        |      (a, q) -> a + q) / CAST(COUNT(*) AS DOUBLE) AS mu,
        |    sqrt(greatest(
        |      list_reduce([CAST(0 AS DOUBLE)] ||
        |        list(fr * fr ORDER BY source), (a, q) -> a + q) /
        |        CAST(COUNT(*) AS DOUBLE) -
        |      (list_reduce([CAST(0 AS DOUBLE)] ||
        |        list(fr ORDER BY source), (a, q) -> a + q) /
        |        CAST(COUNT(*) AS DOUBLE)) *
        |      (list_reduce([CAST(0 AS DOUBLE)] ||
        |        list(fr ORDER BY source), (a, q) -> a + q) /
        |        CAST(COUNT(*) AS DOUBLE)), 0.0)) AS sigma
        |  FROM f GROUP BY w
        |), z AS (
        |  SELECT f.source AS source, f.w AS w,
        |    CASE WHEN s.sigma > 0 THEN (f.fr - s.mu) / s.sigma
        |      ELSE 0.0 END AS z
        |  FROM f JOIN stats s ON f.w = s.sw
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  list_reduce([CAST(0 AS DOUBLE)] ||
        |    list(abs(a.z - b.z) ORDER BY a.w), (a2, q) -> a2 + q) /
        |    CAST(COUNT(*) AS DOUBLE) AS delta
        |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY source_a, source_b""".stripMargin,
  )
}
