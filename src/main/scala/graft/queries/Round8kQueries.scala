package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 eleventh batch: metric agreement, survival analysis, and
  * compressed-sketch calibration.
  *
  *  - q_spearman_metrics: Spearman rank correlation between two
  *    quality signals (doc length vs distinct-token count) — rho from
  *    INTEGER rank differences (1 - 6*sum d^2 / n(n^2-1)), the
  *    metric-agreement check run before trusting a cheap signal as a
  *    proxy for an expensive one.
  *  - q_km_survival: Kaplan-Meier survival of "time to second event"
  *    per user with right-censoring at the horizon — S(t) at four
  *    probe times via the product-limit estimator. The
  *    censoring-correct engagement curve q_cohort_retention cannot
  *    express.
  *  - q_bbit_minhash: 1-bit minhash calibration (Li/Koenig) — the
  *    2*(m/k)-1 estimator from the low bit of each of the 8 minhash
  *    permutations, error-audited against exact shingle Jaccard over
  *    all pairs of the first 50 docs. The measured cost of
  *    compressing signatures 32x before a 100 TB pairwise pass.
  *
  * Determinism: Spearman is all-integer until one mirrored division;
  * KM risk sets are integer prefix sums (block-decomposed, no
  * single-partition window at data scale) and the product-limit fold
  * multiplies factors in time order; minhash bits reuse the md5
  * string-min permutations shared with the LSH oracle.
  */
object Round8kQueries {

  private def sortedFoldMul(structs: Column, field: String): Column =
    aggregate(transform(array_sort(structs), _.getField(field)),
      lit(1.0), (acc, v) => acc * v)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Spearman rho between n_chars and distinct-token-count ranks.
    "q_spearman_metrics" -> ((s, dir) => {
      val m = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(array_distinct(split(col("text"), " "))).cast("long")
            .as("uniq"))
      val ranked = graft.CacheScope.retain(
        graft.operators.GlobalRank.withRank(
          graft.operators.GlobalRank.withRank(m, col("n_chars"),
            col("doc_id"), "r1"),
          col("uniq"), col("doc_id"), "r2"))
      ranked.agg(count(lit(1)).as("n_docs"),
          sum((col("r1") - col("r2")) * (col("r1") - col("r2")))
            .cast("long").as("sum_d2"))
        .select(col("n_docs"), col("sum_d2"),
          (lit(1) - (lit(6) * col("sum_d2")).cast("double") /
            (col("n_docs") * (col("n_docs") * col("n_docs") - 1)))
            .as("spearman_rho"))
    }),

    // Kaplan-Meier S(t) at 1h/6h/1d/3d for time-to-second-event,
    // censored at the corpus horizon. Risk sets via day-bucketed
    // block-decomposed prefix sums (integers, so the decomposition is
    // exactly the oracle's global window).
    "q_km_survival" -> ((s, dir) => {
      val byU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ue = graft.CacheScope.retain(Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("rn", row_number().over(byU))
        .filter(col("rn") <= 2))
      val horizon = broadcast(ue.agg(max("ts").as("h")))
      val f = ue.filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("t1"))
      val sec = ue.filter(col("rn") === 2)
        .select(col("user_id"), col("ts").as("t2"))
      val subj = graft.CacheScope.retain(f
        .join(sec, Seq("user_id"), "left").crossJoin(horizon)
        .select(col("user_id"),
          when(col("t2").isNotNull,
            col("t2").cast("long") - col("t1").cast("long"))
            .otherwise(col("h").cast("long") - col("t1").cast("long"))
            .as("t"),
          when(col("t2").isNotNull, 1L).otherwise(0L).as("ev")))
      val nSubj = broadcast(subj.agg(count(lit(1)).as("n_subj")))
      val times = graft.CacheScope.retain(subj.groupBy("t")
        .agg(sum("ev").cast("long").as("d"),
          count(lit(1)).as("leave_cnt"))
        .withColumn("tb", expr("t div 86400")))
      val wIn = Window.partitionBy("tb").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val btot = times.groupBy("tb")
        .agg(sum("leave_cnt").cast("long").as("bsum"))
      val boff = btot.as("a")
        .join(broadcast(btot.as("b")), col("b.tb") < col("a.tb"), "left")
        .groupBy(col("a.tb").as("tb"))
        .agg(coalesce(sum(col("b.bsum")), lit(0L)).as("boff"))
      val risk = times
        .withColumn("win", coalesce(sum("leave_cnt").over(wIn), lit(0L)))
        .join(broadcast(boff), "tb")
        .crossJoin(nSubj)
        .select(col("t"), col("d"),
          (col("n_subj") - (col("win") + col("boff"))).as("n_risk"))
        .filter(col("d") > 0)
      risk
        .crossJoin(broadcast(s.range(1).select(
          explode(array(lit(3600L), lit(21600L), lit(86400L),
            lit(259200L))).as("tp"))))
        .select(col("tp"),
          when(col("t") <= col("tp"),
            lit(1.0) - col("d").cast("double") / col("n_risk"))
            .otherwise(lit(1.0)).as("factor"),
          col("t"))
        .groupBy("tp")
        .agg(sortedFoldMul(collect_list(struct(col("t"),
          col("factor"))), "factor").as("survival"))
        .select(col("tp").as("t_seconds"), col("survival"))
        .orderBy("t_seconds")
    }),

    // 1-bit minhash error audit over all pairs of the first 50 docs:
    // 8 md5 string-min permutations (the LSH sig construction), low
    // hex bit each, estimator 2*(m/8)-1 vs exact shingle Jaccard.
    "q_bbit_minhash" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      // when() guard: docs under 3 tokens have NO 3-gram shingles (a
      // start>stop sequence counts DOWN and indexes off the array);
      // the empty array mirrors DuckDB's empty range comprehension
      val sh = when(size(ws) >= 3,
        array_distinct(transform(sequence(lit(1),
          size(ws) - 2), i => concat_ws(" ", element_at(ws, i),
          element_at(ws, i + 1), element_at(ws, i + 2)))))
        .otherwise(array().cast("array<string>"))
      val base = graft.CacheScope.retain(Tables(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), sh.as("s"))
        .select(col("doc_id"), col("s"), size(col("s")).as("sz"),
          array((0 until 8).map(j =>
            substring(array_min(transform(col("s"), x =>
              md5(concat(lit(s"$j:"), x)))), 32, 1)): _*).as("bits")))
      val a = base.select(col("doc_id").as("a_id"), col("s").as("sa"),
        col("sz").as("za"), col("bits").as("ba"))
      val b = base.select(col("doc_id").as("b_id"), col("s").as("sb"),
        col("sz").as("zb"), col("bits").as("bb"))
      val odd = (c: Column) => when(c.isin("1", "3", "5", "7", "9",
        "b", "d", "f"), 1).otherwise(0)
      val pairs = a.join(broadcast(b), col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("sa"), col("sb"))).cast("long")
            .as("inter"),
          (col("za") + col("zb")).cast("long").as("zsum"),
          aggregate(zip_with(col("ba"), col("bb"), (x, y) =>
            when(odd(x) === odd(y), 1L).otherwise(0L)),
            lit(0L), (acc, v) => acc + v).as("m"))
        // pairs of two EMPTY shingle sets have no defined Jaccard:
        // excluded on both engines (a NULL error would rank nulls-first
        // in Spark, nulls-last in DuckDB)
        .filter(col("zsum") - col("inter") > 0)
        .select(col("a_id"), col("b_id"),
          (col("inter").cast("double") /
            (col("zsum") - col("inter"))).as("jexact"),
          ((lit(2) * col("m") - 8).cast("double") / 8).as("jest"))
        .select(col("a_id"), col("b_id"),
          abs(col("jest") - col("jexact")).as("abs_err"))
      val ranked = graft.operators.GlobalRank.withRank(pairs,
        col("abs_err"), col("a_id") * 50 + col("b_id"), "rn")
      val n = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n)).groupBy().agg(
        max("n").as("n_pairs"),
        max(when(col("rn") === ((col("n") + 1) / 2).cast("long"),
          col("abs_err"))).as("median_abs_err"),
        max(when(col("rn") === ((col("n") * 9 + 9) / 10).cast("long"),
          col("abs_err"))).as("p90_abs_err"),
        max("abs_err").as("max_abs_err"))
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_spearman_metrics" ->
      """WITH m AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS uniq
        |  FROM documents
        |), r AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r1,
        |    ROW_NUMBER() OVER (ORDER BY uniq, doc_id) AS r2,
        |    COUNT(*) OVER () AS n
        |  FROM m
        |)
        |SELECT COALESCE(MAX(n), 0) AS n_docs,
        |  CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2,
        |  1 - CAST(6 * SUM((r1 - r2) * (r1 - r2)) AS DOUBLE)
        |    / (MAX(n) * (CAST(MAX(n) AS BIGINT) * MAX(n) - 1))
        |    AS spearman_rho
        |FROM r""".stripMargin,

    "q_km_survival" ->
      """WITH ue AS (
        |  SELECT user_id, ts, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn
        |  FROM events
        |), horizon AS (
        |  SELECT MAX(ts) AS h FROM ue WHERE rn <= 2
        |), subj AS (
        |  SELECT f.user_id,
        |    CASE WHEN s.ts IS NOT NULL
        |      THEN CAST(date_diff('second', f.ts, s.ts) AS BIGINT)
        |      ELSE CAST(date_diff('second', f.ts, hz.h) AS BIGINT)
        |      END AS t,
        |    CASE WHEN s.ts IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM (SELECT user_id, ts FROM ue WHERE rn = 1) f
        |  LEFT JOIN (SELECT user_id, ts FROM ue WHERE rn = 2) s
        |    USING (user_id), horizon hz
        |), times AS (
        |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS leave_cnt
        |  FROM subj GROUP BY t
        |), risk AS (
        |  SELECT t, d,
        |    (SELECT COUNT(*) FROM subj)
        |      - CAST(COALESCE(SUM(leave_cnt) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS BIGINT) AS n_risk
        |  FROM times
        |), steps AS (
        |  SELECT t, d, n_risk FROM risk WHERE d > 0
        |)
        |SELECT CAST(pts.tp AS BIGINT) AS t_seconds,
        |  list_reduce([CAST(1 AS DOUBLE)] ||
        |    list(CASE WHEN s.t <= pts.tp
        |      THEN 1.0 - CAST(s.d AS DOUBLE) / s.n_risk
        |      ELSE 1.0 END ORDER BY s.t), (a, v) -> a * v) AS survival
        |FROM steps s,
        |  (SELECT unnest([3600, 21600, 86400, 259200]) AS tp) pts
        |GROUP BY pts.tp ORDER BY t_seconds""".stripMargin,

    "q_bbit_minhash" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ws[i:i+2], ' ')
        |      for i in range(1, len(ws) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents WHERE doc_id < 50)
        |), sig AS (
        |  SELECT doc_id, s, CAST(len(s) AS BIGINT) AS sz,
        |    [substring(list_min(list_transform(s,
        |      x -> md5(CAST(j AS VARCHAR) || ':' || x))), 32, 1)
        |      FOR j IN range(0, 8)] AS bits
        |  FROM base
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
        |    a.sz + b.sz AS zsum,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(range(1, 9), i ->
        |        CASE WHEN (CASE WHEN a.bits[i] IN ('1','3','5','7','9',
        |            'b','d','f') THEN 1 ELSE 0 END)
        |          = (CASE WHEN b.bits[i] IN ('1','3','5','7','9',
        |            'b','d','f') THEN 1 ELSE 0 END)
        |          THEN 1 ELSE 0 END),
        |      (acc, v) -> acc + v) AS m
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |), errs AS (
        |  SELECT a_id, b_id,
        |    abs(CAST(2 * m - 8 AS DOUBLE) / 8
        |      - CAST(inter AS DOUBLE) / (zsum - inter)) AS abs_err
        |  FROM pairs WHERE zsum - inter > 0
        |), ranked AS (
        |  SELECT abs_err,
        |    ROW_NUMBER() OVER (ORDER BY abs_err, a_id * 50 + b_id)
        |      AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM errs
        |)
        |SELECT MAX(n) AS n_pairs,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN abs_err END)
        |    AS median_abs_err,
        |  MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN abs_err END)
        |    AS p90_abs_err,
        |  MAX(abs_err) AS max_abs_err
        |FROM ranked""".stripMargin,
  )
}
