package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5HeadSql, sortedFold}

/** Round-8 eighth batch: storage-layout payoff, conditional-LM
  * scoring, and uncertainty quantification.
  *
  *  - q_zonemap_prune_sim: zone-map (block min/max) pruning simulation
  *    — for 128-row blocks under the CURRENT doc_id layout vs a
  *    length-sorted layout, how many blocks a `n_chars > 200` scan
  *    skips. The measured argument for sort-ordered ingestion that
  *    q_zorder_layout/q_range_layout make geometrically.
  *  - q_trigram_lm_nll: per-doc NLL under the corpus char-trigram
  *    conditional LM (-mean ln cnt(c1c2c3)/cnt(c1c2)) summarized per
  *    language by exact rank picks — the KenLM-shaped conditional
  *    scoring that complements q_unigram_nll's bag-of-tokens model.
  *  - q_bootstrap_ci: deterministic Poissonized bootstrap (B=100) for
  *    the per-source mean document length: md5-uniform draws through
  *    the Poisson(1) inverse-CDF ladder give integer replica weights,
  *    replica means are integer-ratio, and the 5th/95th replica ranks
  *    bound the CI. The uncertainty layer every per-source quality
  *    metric in a curation report should carry.
  *
  * Determinism: block stats, trigram counts, and bootstrap weights are
  * BIGINT; NLL folds dln-count differences in position order; CI
  * bounds and NLL quantiles are exact rank picks; the Poisson ladder
  * compares one shared md5-uniform against literal CDF constants.
  *
  * Scale: zone-map stats move one (block, max) row per block; trigram
  * and bigram tables are alphabet-bounded and broadcast; the bootstrap
  * grid is B x corpus rows of (source, weight) integers with map-side
  * combine — B is the knob, and replica aggregation shuffles B rows
  * per source.
  */
object Round8hQueries {

  /** Per-group rank-pick summary (min / ceil(n/2) / ceil(9n/10) / max)
    * over a per-row metric — the shared shape of both NLL queries.
    */
  private def rankStats(df: DataFrame, grp: String, metric: String,
      tie: String): DataFrame = {
    val byG = Window.partitionBy(grp)
    val ranked = df
      .withColumn("rn", row_number().over(
        byG.orderBy(col(metric), col(tie))))
      .withColumn("n_docs", count(lit(1)).over(byG))
    ranked.groupBy(grp).agg(
        max("n_docs").as("n_docs"),
        min(metric).as(s"min_$metric"),
        max(when(col("rn") === ((col("n_docs") + 1) / 2).cast("long"),
          col(metric))).as(s"median_$metric"),
        max(when(col("rn") === ((col("n_docs") * 9 + 9) / 10)
          .cast("long"), col(metric))).as(s"p90_$metric"),
        max(metric).as(s"max_$metric"))
      .orderBy(grp)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Zone-map pruning: block max per 128-row block, two layouts, one
    // predicate. GlobalRank supplies both orderings without a
    // single-partition window.
    "q_zonemap_prune_sim" -> ((s, dir) => {
      val d0 = Tables(s, dir, "documents").select("doc_id", "n_chars")
      val d = graft.CacheScope.retain(
        graft.operators.GlobalRank.withRank(
          graft.operators.GlobalRank.withRank(d0, col("doc_id"),
            col("doc_id"), "rn_c"),
          col("n_chars"), col("doc_id"), "rn_s")
        .select(col("doc_id"), col("n_chars"),
          ((col("rn_c") - 1) / 128).cast("long").as("cb"),
          ((col("rn_s") - 1) / 128).cast("long").as("sb")))
      def skipStats(b: String, as: String) = d.groupBy(b)
        .agg(max("n_chars").as("mx"))
        .agg(count(lit(1)).as(if (as == "skipped_current") "n_blocks"
            else "nb2"),
          sum(when(col("mx") <= 200, 1L).otherwise(0L)).as(as))
      val sel = d.agg(count(lit(1)).as("n_rows"),
        sum(when(col("n_chars") > 200, 1L).otherwise(0L)).as("n_match"))
      sel.crossJoin(broadcast(skipStats("cb", "skipped_current")))
        .crossJoin(broadcast(skipStats("sb", "skipped_sorted")))
        .select(col("n_rows"), col("n_match"), col("n_blocks"),
          col("skipped_current"), col("skipped_sorted"),
          (col("skipped_current").cast("double") / col("n_blocks"))
            .as("skip_rate_current"),
          (col("skipped_sorted").cast("double") / col("n_blocks"))
            .as("skip_rate_sorted"))
    }),

    // Char-trigram conditional LM: NLL folds (dln(cnt2) - dln(cnt3))
    // in position order; trigram/bigram tables broadcast.
    "q_trigram_lm_nll" -> ((s, dir) => {
      import graft.functions.DetMath.dln
      // r12 optimization (guide §2.4): the (c1,c2,c3) trigram stream is
      // the char array zipped with its own 1- and 2-shifted slices — all
      // PER-ROW array ops — so no per-char shuffle exists at all. The
      // old lead()-over-(doc,pos) window shuffled and sorted the entire
      // char-level stream by doc_id, TWICE (the `chars` frame feeds both
      // the trigram-count build and the scoring join, and window
      // subtrees are not exchange-reused). Plan diff: 3 Window + 3 Sort
      // + 2 char-level Exchanges → 0; only the trigram-count groupBy
      // shuffles. Deliberately NOT a per-element lambda over the array:
      // indexing the split array inside a transform lambda re-evaluates
      // split per ELEMENT once CollapseProject inlines it (measured
      // 29.6 s at sf0.1 vs 0.9 s for this shape; same class as the 87 s
      // element_at(split(...)) trap this header documented before).
      // arrays_zip pads the shorter slices with NULL, exactly like the
      // old lead() at the doc tail.
      // spread the ~1-file document scan first: with no per-char shuffle
      // left, everything downstream would otherwise run on the scan's
      // 1-2 input splits (measured: 28 s wall on 30 s task time); the
      // round-robin exchange moves 5000 doc rows and unlocks the full
      // core count (guide §2.6 idle capacity / §6 input splits)
      def cs = split(col("text"), "")
      val chars = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), col("lang"),
          posexplode(arrays_zip(cs.as("c1"),
            slice(cs, lit(2), greatest(size(cs), lit(1))).as("c2"),
            slice(cs, lit(3), greatest(size(cs), lit(1))).as("c3")))
            .as(Seq("p0", "z")))
        .select(col("doc_id"), col("lang"), (col("p0") + 1).as("pos"),
          col("z.c1").as("c1"), col("z.c2").as("c2"),
          col("z.c3").as("c3"))
        .filter(col("c3").isNotNull)
      val tric = graft.CacheScope.retain(
        chars.groupBy("c1", "c2", "c3").agg(count(lit(1)).as("cnt3")))
      val bic = tric.groupBy("c1", "c2")
        .agg(sum("cnt3").cast("long").as("cnt2"))
      // `term` is projected BEFORE the aggregate: a collect_list input
      // expression is evaluated interpreted inside Collect.update (the
      // aggregate is ObjectHashAggregate, outside whole-stage codegen),
      // and the two ~10-term dln DAGs per row dominated the old task
      // time; as a Project column they run codegen'd (guide §4)
      val scored = chars
        .join(broadcast(tric), Seq("c1", "c2", "c3"))
        .join(broadcast(bic), Seq("c1", "c2"))
        .withColumn("term", dln(col("cnt2")) - dln(col("cnt3")))
        .groupBy("doc_id", "lang").agg(
          count(lit(1)).as("n_tri"),
          sortedFold(collect_list(struct(col("pos"), col("term"))), "term")
            .as("ts"))
        .select(col("lang"), col("doc_id"),
          (col("ts") / col("n_tri")).as("nll"))
      rankStats(scored, "lang", "nll", "doc_id")
    }),

    // Poissonized bootstrap CI for mean doc length per source: B=100
    // integer-weight replicas, 5th/95th replica-rank bounds.
    "q_bootstrap_ci" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val un = conv(substring(md5(concat(lit("bs"),
        col("b").cast("string"), lit(":"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") /
        lit(4294967296.0)
      val wt = when(col("un") < 0.36787944117144233, 0L)
        .when(col("un") < 0.7357588823428847, 1L)
        .when(col("un") < 0.9196986029286058, 2L)
        .when(col("un") < 0.9810118431238462, 3L)
        .when(col("un") < 0.9963401531726563, 4L)
        .when(col("un") < 0.9994058151824183, 5L)
        .otherwise(6L)
      val reps = docs
        .select(col("source"), col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(99))).as("b"))
        .withColumn("un", un).withColumn("wt", wt)
        .groupBy("source", "b")
        .agg(sum(col("wt") * col("n_chars")).cast("long").as("sw"),
          sum("wt").cast("long").as("sn"))
        .filter(col("sn") > 0)
        .select(col("source"), col("b"),
          (col("sw").cast("double") / col("sn")).as("m"))
      val bySrc = Window.partitionBy("source")
      val ranked = reps
        .withColumn("rn", row_number().over(
          bySrc.orderBy(col("m"), col("b"))))
        .withColumn("nb", count(lit(1)).over(bySrc))
      val ci = ranked.groupBy("source").agg(
        max(when(col("rn") === ((col("nb") * 5 + 99) / 100).cast("long"),
          col("m"))).as("ci_lo"),
        max(when(col("rn") === ((col("nb") * 95 + 99) / 100)
          .cast("long"), col("m"))).as("ci_hi"))
      val point = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sx"))
      point.join(ci, "source")
        .select(col("source"), col("n_docs"),
          (col("sx").cast("double") / col("n_docs")).as("point_mean"),
          col("ci_lo"), col("ci_hi"),
          (col("ci_hi") - col("ci_lo")).as("ci_width"))
        .orderBy("source")
    }),
  )

  import graft.functions.DetMath.lnCtesSql

  val oracle: Map[String, String] = Map(
    "q_zonemap_prune_sim" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 128 AS cb,
        |    (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1) // 128
        |      AS sb
        |  FROM documents
        |), cur AS (
        |  SELECT COUNT(*) AS n_blocks,
        |    CAST(SUM(CASE WHEN mx <= 200 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS skipped_current
        |  FROM (SELECT cb, MAX(n_chars) AS mx FROM d GROUP BY cb)
        |), srt AS (
        |  SELECT CAST(SUM(CASE WHEN mx <= 200 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS skipped_sorted
        |  FROM (SELECT sb, MAX(n_chars) AS mx FROM d GROUP BY sb)
        |), sel AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN n_chars > 200 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_match
        |  FROM d
        |)
        |SELECT sel.n_rows, sel.n_match, cur.n_blocks,
        |  cur.skipped_current, srt.skipped_sorted,
        |  CAST(cur.skipped_current AS DOUBLE) / cur.n_blocks
        |    AS skip_rate_current,
        |  CAST(srt.skipped_sorted AS DOUBLE) / cur.n_blocks
        |    AS skip_rate_sorted
        |FROM cur, srt, sel""".stripMargin,

    "q_trigram_lm_nll" ->
      s"""WITH chars AS (
         |  SELECT doc_id, lang, i AS pos, cs[i] AS c1, cs[i+1] AS c2,
         |    cs[i+2] AS c3
         |  FROM (SELECT doc_id, lang, string_split(text, '') AS cs
         |        FROM documents),
         |       unnest(range(1, len(cs) - 1)) AS u(i)
         |), tric0 AS (
         |  SELECT c1, c2, c3, COUNT(*) AS cnt3 FROM chars GROUP BY 1,2,3
         |), ${lnCtesSql("tric", "tric0", "c1, c2, c3, cnt3", "cnt3",
             "ln3")},
         |bic0 AS (
         |  SELECT c1, c2, CAST(SUM(cnt3) AS BIGINT) AS cnt2 FROM tric0
         |  GROUP BY 1, 2
         |), ${lnCtesSql("bic", "bic0", "c1, c2, cnt2", "cnt2", "ln2")},
         |scored AS (
         |  SELECT ch.lang, ch.doc_id,
         |    list_reduce([CAST(0 AS DOUBLE)] ||
         |      list(b.ln2 - t.ln3 ORDER BY ch.pos), (a, q) -> a + q)
         |      / COUNT(*) AS nll
         |  FROM chars ch
         |  JOIN tric t ON ch.c1 = t.c1 AND ch.c2 = t.c2 AND ch.c3 = t.c3
         |  JOIN bic b ON ch.c1 = b.c1 AND ch.c2 = b.c2
         |  GROUP BY ch.doc_id, ch.lang
         |), ranked AS (
         |  SELECT lang, doc_id, nll,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY nll, doc_id)
         |      AS rn,
         |    COUNT(*) OVER (PARTITION BY lang) AS n_docs
         |  FROM scored
         |)
         |SELECT lang, MAX(n_docs) AS n_docs, MIN(nll) AS min_nll,
         |  MAX(CASE WHEN rn = (n_docs + 1) // 2 THEN nll END)
         |    AS median_nll,
         |  MAX(CASE WHEN rn = (9 * n_docs + 9) // 10 THEN nll END)
         |    AS p90_nll,
         |  MAX(nll) AS max_nll
         |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin,

    "q_bootstrap_ci" ->
      s"""WITH grid AS (
         |  SELECT d.source, d.doc_id, d.n_chars, u.b,
         |    ${md5HeadSql(
             "'bs' || CAST(u.b AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")}
         |      / 4294967296.0 AS un
         |  FROM documents d, unnest(range(0, 100)) u(b)
         |), w AS (
         |  SELECT source, b, n_chars,
         |    CASE WHEN un < 3.6787944117144233e-1 THEN 0
         |         WHEN un < 7.357588823428847e-1 THEN 1
         |         WHEN un < 9.196986029286058e-1 THEN 2
         |         WHEN un < 9.810118431238462e-1 THEN 3
         |         WHEN un < 9.963401531726563e-1 THEN 4
         |         WHEN un < 9.994058151824183e-1 THEN 5
         |         ELSE 6 END AS wt
         |  FROM grid
         |), reps AS (
         |  SELECT source, b, CAST(SUM(wt * n_chars) AS BIGINT) AS sw,
         |    CAST(SUM(wt) AS BIGINT) AS sn
         |  FROM w GROUP BY 1, 2
         |), means AS (
         |  SELECT source, b, CAST(sw AS DOUBLE) / sn AS m
         |  FROM reps WHERE sn > 0
         |), ranked AS (
         |  SELECT source, b, m,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY m, b) AS rn,
         |    COUNT(*) OVER (PARTITION BY source) AS nb
         |  FROM means
         |), ci AS (
         |  SELECT source,
         |    MAX(CASE WHEN rn = (nb * 5 + 99) // 100 THEN m END)
         |      AS ci_lo,
         |    MAX(CASE WHEN rn = (nb * 95 + 99) // 100 THEN m END)
         |      AS ci_hi
         |  FROM ranked GROUP BY source
         |), point AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS sx
         |  FROM documents GROUP BY source
         |)
         |SELECT p.source, p.n_docs,
         |  CAST(p.sx AS DOUBLE) / p.n_docs AS point_mean,
         |  c.ci_lo, c.ci_hi, c.ci_hi - c.ci_lo AS ci_width
         |FROM point p JOIN ci c ON p.source = c.source
         |ORDER BY p.source""".stripMargin,
  )
}
