package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold

/** Round-8 fourth batch: language-model data filtering — the CCNet-style
  * perplexity gate, distribution drift between sources, and MOSS-style
  * winnowing fingerprints.
  *
  *  - q_unigram_nll: per-doc negative log-likelihood under an add-1
  *    smoothed corpus unigram LM, summarized per source by exact rank
  *    picks (median / p90). The no-external-model stand-in for the
  *    KenLM perplexity filter every web-scale text pipeline runs:
  *    high-NLL docs are off-distribution (boilerplate, noise, wrong
  *    register) and get routed to review or down-weighting.
  *  - q_kl_sources: add-1 smoothed KL(source unigram || corpus unigram)
  *    with the single most divergent token per source — the drift score
  *    that says WHICH source deviates and WHY (q_tv_distance reports
  *    total variation; KL is the mixture-weighting loss actually used
  *    when tuning sampling temperatures).
  *  - q_winnowing_fingerprints: robust winnowing (Schleimer/Wilkerson/
  *    Aiken, the MOSS algorithm): hash every 3-token shingle with the
  *    shared polynomial hash, keep each 4-window's minimum, distinct per
  *    doc. Per-source fingerprint density plus intra-source candidate
  *    pairs sharing a fingerprint (document-frequency-capped, df<=50,
  *    so a boilerplate shingle can never fan a bucket into c^2 pairs).
  *
  * Determinism: every cross-row double sum folds over an explicitly
  * SORTED list (position order for the per-doc NLL, token order for the
  * KL sum), mirrored by DuckDB `list_reduce([0.0] || list(... ORDER BY
  * ...))` — the scheduler never chooses a summation order. Rank picks
  * (median/p90/top token) are exact row_number selections with total
  * tie-breaks; every other statistic is an integer count.
  *
  * Scale: token counts and the (31-row) vocab broadcast; the only wide
  * shuffles key on doc_id / (source, tok) / fingerprint hash — all
  * high-cardinality or bounded; winnowing's self-join buckets are
  * df-capped; the per-source rank windows partition by source, which at
  * 100 TB is the documented reduce-to-stats step (per-source doc lists
  * are never materialized, only counted and rank-picked).
  */
object Round8dQueries {

  /** Left fold of `field` over the (key-)sorted struct list — the
    * written-down summation order both engines share.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-source NLL distribution under the corpus unigram LM. The
    // per-doc sum folds in token-position order; the source summary
    // picks exact ranks (ceil(n/2), ceil(9n/10)) instead of averaging,
    // so no cross-doc double accumulation exists at all.
    "q_unigram_nll" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val cnts0 = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val cnts = broadcast(cnts0
        .withColumn("lnc", graft.functions.DetMath.dln(col("cnt") + 1)))
      val tot = broadcast(cnts0
        .agg(sum("cnt").cast("long").as("n_c"), count(lit(1)).as("v"))
        .withColumn("lnt",
          graft.functions.DetMath.dln(col("n_c") + col("v"))))
      val docNll = toks.join(cnts, "tok")
        .groupBy("doc_id", "source").agg(
          count(lit(1)).as("len"),
          array_sort(collect_list(struct(col("pos"), col("lnc"))))
            .as("ls"))
        .crossJoin(tot)
        .select(col("source"), col("doc_id"),
          ((col("len") * col("lnt") -
            aggregate(transform(col("ls"), _.getField("lnc")),
              lit(0.0), (a, v) => a + v)) / col("len")).as("nll"))
      val bySrc = Window.partitionBy("source")
      val ranked = docNll
        .withColumn("rn", row_number().over(
          bySrc.orderBy(col("nll"), col("doc_id"))))
        .withColumn("n_docs", count(lit(1)).over(bySrc))
      ranked.groupBy("source").agg(
          max("n_docs").as("n_docs"),
          min("nll").as("min_nll"),
          max(when(col("rn") ===
            ((col("n_docs") + 1) / 2).cast("long"), col("nll")))
            .as("median_nll"),
          max(when(col("rn") ===
            ((col("n_docs") * 9 + 9) / 10).cast("long"), col("nll")))
            .as("p90_nll"),
          max("nll").as("max_nll"))
        .orderBy("source")
    }),

    // Smoothed KL(source || corpus) over the full vocab (unseen tokens
    // enter at count 0 via the left join against the vocab grid) plus
    // the argmax-contribution token. The 31-term KL sum folds in token
    // order.
    "q_kl_sources" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val corpus = broadcast(toks.groupBy("tok")
        .agg(count(lit(1)).as("cnt_c")))
      val nc = broadcast(corpus.agg(sum("cnt_c").cast("long").as("n_c"),
        count(lit(1)).as("v")))
      val srctok = toks.groupBy("source", "tok")
        .agg(count(lit(1)).as("cnt_s"))
      val ns = toks.groupBy("source").agg(count(lit(1)).as("n_s"))
      val ps = (col("cnt_s") + 1).cast("double") / (col("n_s") + col("v"))
      // ln(ps/pc) decomposed into DetMath.dln of INTEGER arguments —
      // see DetMath's scaladoc for why built-in log() cannot hash-match
      // (JIT-intrinsic instability observed on exactly this query)
      import graft.functions.DetMath.dln
      val lnRatio = dln(col("cnt_s") + 1) - dln(col("n_s") + col("v")) -
        dln(col("cnt_c") + 1) + dln(col("n_c") + col("v"))
      val contrib = ns.crossJoin(corpus).crossJoin(nc)
        .join(srctok, Seq("source", "tok"), "left")
        .withColumn("cnt_s", coalesce(col("cnt_s"), lit(0L)))
        .withColumn("kl_term", ps * lnRatio)
      contrib
        .withColumn("rn", row_number().over(Window.partitionBy("source")
          .orderBy(col("kl_term").desc, col("tok"))))
        .groupBy("source").agg(
          max("n_s").as("n_tokens"),
          sortedFold(collect_list(struct(col("tok"), col("kl_term"))),
            "kl_term").as("kl"),
          max(when(col("rn") === 1, col("tok"))).as("top_tok"),
          max(when(col("rn") === 1, col("kl_term"))).as("top_contrib"))
        .orderBy("source")
    }),

    // Winnowing: 3-token shingle polynomial hashes, per-doc min of each
    // 4-window (forward frame, truncated tails dropped), distinct
    // fingerprints, df-capped candidate pairs within each source. All
    // outputs integer counts plus one mirrored division.
    "q_winnowing_fingerprints" -> ((s, dir) => {
      val docs = PipelineQueries.spread(s, Tables(s, dir, "documents"))
      val ws = split(col("text"), " ")
      // the when() guard: docs under 3 tokens produce NO shingles (a
      // start>stop Spark sequence counts DOWN, indexing off the array —
      // the adversarial 0/1/2-word docs); posexplode of NULL emits no
      // rows, matching DuckDB's empty range()
      val shingles = docs.select(col("doc_id"), col("source"),
        posexplode(when(size(ws) >= 3,
          transform(sequence(lit(0), size(ws) - 3), i =>
            concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2),
              element_at(ws, i + 3))))).as(Seq("pos", "sh")))
        .select(col("doc_id"), col("source"), col("pos"),
          call_function("graft_poly_hash", col("sh")).as("h"))
      val frame = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
      val win = graft.CacheScope.retain(shingles
        .withColumn("mh", min("h").over(frame))
        .withColumn("wn", count(lit(1)).over(frame))
        .filter(col("wn") === 4))
      val fp = graft.CacheScope.retain(
        win.select("doc_id", "source", "mh").distinct())
      val df = fp.groupBy("mh").agg(count(lit(1)).as("n_docs_h"))
      val kept = fp.join(df.filter(col("n_docs_h") <= 50), "mh")
        .select("doc_id", "source", "mh")
      val pairs = kept.as("a").join(kept.as("b"),
          col("a.mh") === col("b.mh") &&
            col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.source").as("source"), col("a.doc_id").as("a_id"),
          col("b.doc_id").as("b_id"))
        .distinct()
      val wstats = win.groupBy("source")
        .agg(count(lit(1)).as("n_windows"))
      val fstats = fp.groupBy("source").agg(
        countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_fp"))
      val pstats = pairs.groupBy("source")
        .agg(count(lit(1)).as("n_intra_pairs"))
      fstats.join(wstats, "source")
        .join(pstats, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_windows"),
          col("n_fp"),
          (col("n_fp").cast("double") / col("n_windows")).as("fp_rate"),
          coalesce(col("n_intra_pairs"), lit(0L)).as("n_intra_pairs"))
        .orderBy("source")
    }),
  )

  private def lnCtes(name: String, from: String, keep: String, x: String,
      as: String): String =
    graft.functions.DetMath.lnCtesSql(name, from, keep, x, as)

  val oracle: Map[String, String] = Map(
    "q_unigram_nll" ->
      s"""WITH toks AS (
        |  SELECT doc_id, source, i AS pos, ws[i] AS tok
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        |        FROM documents),
        |       unnest(range(1, len(ws) + 1)) AS u(i)
        |), cnts0 AS (
        |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        |), ${lnCtes("cnts", "cnts0", "tok, cnt", "cnt + 1", "lnc")},
        |tot0 AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_c, COUNT(*) AS v
        |  FROM cnts0
        |), ${lnCtes("tot", "tot0", "n_c, v", "n_c + v", "lnt")},
        |doc_nll AS (
        |  SELECT t.source, t.doc_id,
        |    (COUNT(*) * MAX(tot.lnt) -
        |      list_reduce([CAST(0 AS DOUBLE)] ||
        |        list(c.lnc ORDER BY t.pos), (acc, v) -> acc + v))
        |      / COUNT(*) AS nll
        |  FROM toks t JOIN cnts c ON t.tok = c.tok, tot
        |  GROUP BY t.doc_id, t.source
        |), ranked AS (
        |  SELECT source, doc_id, nll,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY nll, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n_docs
        |  FROM doc_nll
        |)
        |SELECT source, MAX(n_docs) AS n_docs,
        |  MIN(nll) AS min_nll,
        |  MAX(CASE WHEN rn = (n_docs + 1) // 2 THEN nll END)
        |    AS median_nll,
        |  MAX(CASE WHEN rn = (n_docs * 9 + 9) // 10 THEN nll END)
        |    AS p90_nll,
        |  MAX(nll) AS max_nll
        |FROM ranked GROUP BY source ORDER BY source""".stripMargin,

    "q_kl_sources" ->
      s"""WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), corpus AS (
        |  SELECT tok, COUNT(*) AS cnt_c FROM toks GROUP BY tok
        |), nc AS (
        |  SELECT CAST(SUM(cnt_c) AS BIGINT) AS n_c, COUNT(*) AS v
        |  FROM corpus
        |), srctok AS (
        |  SELECT source, tok, COUNT(*) AS cnt_s FROM toks GROUP BY 1, 2
        |), ns AS (
        |  SELECT source, COUNT(*) AS n_s FROM toks GROUP BY 1
        |), grid AS (
        |  SELECT ns.source, c.tok, ns.n_s, COALESCE(st.cnt_s, 0) AS cnt_s,
        |    c.cnt_c, nc.n_c, nc.v
        |  FROM ns CROSS JOIN corpus c CROSS JOIN nc
        |  LEFT JOIN srctok st ON st.source = ns.source AND st.tok = c.tok
        |),
        |${lnCtes("l1t", "grid",
             "source, tok, n_s, cnt_s, cnt_c, n_c, v", "cnt_s + 1", "l1")},
        |${lnCtes("l2t", "l1t",
             "source, tok, n_s, cnt_s, cnt_c, n_c, v, l1", "n_s + v",
             "l2")},
        |${lnCtes("l3t", "l2t",
             "source, tok, n_s, cnt_s, cnt_c, n_c, v, l1, l2",
             "cnt_c + 1", "l3")},
        |${lnCtes("l4t", "l3t",
             "source, tok, n_s, cnt_s, cnt_c, n_c, v, l1, l2, l3",
             "n_c + v", "l4")},
        |contrib AS (
        |  SELECT source, tok, n_s,
        |    (CAST(cnt_s + 1 AS DOUBLE) / (n_s + v))
        |      * (l1 - l2 - l3 + l4) AS kl_term
        |  FROM l4t
        |), ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY kl_term DESC, tok) AS rn
        |  FROM contrib
        |)
        |SELECT source, MAX(n_s) AS n_tokens,
        |  list_reduce([CAST(0 AS DOUBLE)] ||
        |    list(kl_term ORDER BY tok), (acc, v) -> acc + v) AS kl,
        |  MAX(CASE WHEN rn = 1 THEN tok END) AS top_tok,
        |  MAX(CASE WHEN rn = 1 THEN kl_term END) AS top_contrib
        |FROM ranked GROUP BY source ORDER BY source""".stripMargin,

    "q_winnowing_fingerprints" ->
      """WITH sh AS (
        |  SELECT doc_id, source, i AS pos,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(
        |      string_split(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2], ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS h
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        |        FROM documents),
        |       unnest(range(1, len(ws) - 1)) AS u(i)
        |), win AS (
        |  SELECT doc_id, source, pos,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
        |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |  FROM sh
        |), fp AS (
        |  SELECT DISTINCT doc_id, source, mh FROM win WHERE wn = 4
        |), df AS (
        |  SELECT mh, COUNT(*) AS n_docs_h FROM fp GROUP BY mh
        |), kept AS (
        |  SELECT f.doc_id, f.source, f.mh
        |  FROM fp f JOIN df ON f.mh = df.mh WHERE df.n_docs_h <= 50
        |), pairs AS (
        |  SELECT DISTINCT a.source, a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM kept a JOIN kept b
        |    ON a.mh = b.mh AND a.source = b.source
        |      AND a.doc_id < b.doc_id
        |), wstats AS (
        |  SELECT source, COUNT(*) AS n_windows FROM win WHERE wn = 4
        |  GROUP BY source
        |), fstats AS (
        |  SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
        |    COUNT(*) AS n_fp
        |  FROM fp GROUP BY source
        |), pstats AS (
        |  SELECT source, COUNT(*) AS n_intra_pairs FROM pairs
        |  GROUP BY source
        |)
        |SELECT f.source, f.n_docs, w.n_windows, f.n_fp,
        |  CAST(f.n_fp AS DOUBLE) / w.n_windows AS fp_rate,
        |  COALESCE(p.n_intra_pairs, 0) AS n_intra_pairs
        |FROM fstats f JOIN wstats w ON f.source = w.source
        |LEFT JOIN pstats p ON f.source = p.source
        |ORDER BY f.source""".stripMargin,
  )
}
