package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-6a batch: customer dynamics and curation audits.
  *
  *  - q_decile_transition: revenue-decile mobility matrix between the
  *    1995–97 and 1998+ periods (who moved up/down)
  *  - q_ltv_cohort: cumulative revenue per first-order-month cohort by
  *    cohort age — the LTV curve data
  *  - q_discount_bands: volume/price response per discount band
  *  - q_template_detect: boilerplate detection via shared 5-word
  *    prefixes (the C4-style template filter's discovery query)
  *  - q_dedup_funnel: survivor counts under increasingly aggressive
  *    identity (raw hash → normalized hash → 16-bit SimHash)
  *
  * Money quantizes to cents before cross-row sums; deciles come from
  * GlobalRank.withNtile (range-bucketed exact rank — no global
  * window); cohort windows run over the bounded (cohort, age) domain.
  */
object Round6aQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Decile mobility: customers active in BOTH periods (pre/post
    // 1998), revenue deciles per period over that joint population
    // (decile 1 = highest revenue — metrics negated), counts per
    // (from, to) cell plus the share of the origin decile. A diagonal-
    // heavy matrix means sticky spend; mass below the diagonal means
    // churn risk. Both deciles come from ONE GlobalRank.withNtiles
    // pass (one boundary sketch, chained bucket-partitioned windows,
    // one stats broadcast) — two independent ntile passes would scan
    // and rank the population twice.
    "q_decile_transition" -> ((s, dir) => {
      val cents = floor(col("o_totalprice") * 100.0).cast("long")
      val both = Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), cents.as("cents"))
        .groupBy("o_custkey")
        .agg(sum(when(col("o_orderdate") < "1998-01-01", col("cents")))
            .as("cents1"),
          sum(when(col("o_orderdate") >= "1998-01-01", col("cents")))
            .as("cents2"))
        .filter(col("cents1").isNotNull && col("cents2").isNotNull)
        .withColumn("neg1", -col("cents1"))
        .withColumn("neg2", -col("cents2"))
        // retained: withNtiles consumes its input three times
        // (approxQuantile probe, bucket projection, offset aggregate)
        .transform(graft.CacheScope.retain)
      val ranked = graft.operators.GlobalRank.withNtiles(both,
        Seq("neg1" -> "d1", "neg2" -> "d2"), col("o_custkey"), 10)
      val cells = graft.CacheScope.retain(
        ranked.groupBy("d1", "d2").agg(count(lit(1)).as("n")))
      val rowTot = cells.groupBy("d1").agg(sum("n").as("n_from"))
      cells.join(broadcast(rowTot), "d1")
        .withColumn("row_share", col("n").cast("double") / col("n_from"))
        .select("d1", "d2", "n", "n_from", "row_share")
        .orderBy("d1", "d2")
    }),

    // LTV curve: cohort = month of the customer's first order (exact
    // min over (epoch-month, orderkey)); age = months since cohort;
    // cumulative cents per cohort over age via a window over the
    // bounded (cohort, age) domain — the per-cohort running LTV a
    // growth dashboard plots. Counts customers once per cohort.
    "q_ltv_cohort" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          (year(to_date(col("o_orderdate"))) * 12 +
            month(to_date(col("o_orderdate"))) - 1).as("em"),
          floor(col("o_totalprice") * 100.0).cast("long").as("cents"))
      val cohorts = o.groupBy("o_custkey").agg(min("em").as("cohort_em"))
      val aged = o.join(cohorts, "o_custkey")
        .withColumn("age", (col("em") - col("cohort_em")).cast("int"))
      val cSize = cohorts.groupBy("cohort_em")
        .agg(count(lit(1)).as("n_customers"))
      val byAge = aged.groupBy("cohort_em", "age")
        .agg(sum("cents").as("cents"))
      byAge
        .withColumn("cum_cents",
          sum(col("cents")).over(Window.partitionBy("cohort_em")
            .orderBy("age")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .join(broadcast(cSize), "cohort_em")
        .filter(col("age") <= 11) // first-year curve
        .select(col("cohort_em"), col("age"), col("n_customers"),
          col("cents"), col("cum_cents"),
          (col("cum_cents").cast("double") / col("n_customers"))
            .as("ltv_cents_per_customer"))
        .orderBy("cohort_em", "age")
    }),

    // Pricing response: per discount band (percentage points, exact —
    // l_discount has 11 discrete values so ROUND hits integers in both
    // engines), order-line volume, mean quantity and mean line price
    // (cents-quantized mirrored divisions).
    "q_discount_bands" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .select(round(col("l_discount") * 100.0, 0).cast("int").as("band"),
          col("l_quantity"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_quantity")).cast("long")).as("qty_units"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("avg_qty",
          col("qty_units").cast("double") / col("n_lines"))
        .withColumn("avg_line_cents",
          col("sum_cents").cast("double") / col("n_lines"))
        .orderBy("band")),

    // Boilerplate discovery: documents sharing their first 5 words are
    // template candidates. Top-20 prefixes by (doc count DESC, prefix)
    // with distinct-source spread — a prefix spanning many sources is
    // scraper boilerplate, one source is a site template.
    "q_template_detect" -> ((s, dir) => {
      val ws = graft.functions.TextFunctions.words(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          array_join(slice(ws, 1, 5), " ").as("prefix"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("n_docs").desc, col("prefix"))
        .limit(20)
    }),

    // Dedup aggressiveness funnel: survivors under raw-text identity,
    // whitespace/case-normalized identity, and 16-bit SimHash identity
    // (the same signature dedup_simhash uses: md5-nibble bit votes of
    // distinct words). Monotone non-increasing by construction; the
    // gaps between stages are the curation yield of each escalation.
    "q_dedup_funnel" -> ((s, dir) => {
      val norm = lower(regexp_replace(col("text"), "\\s+", " "))
      val d = Tables(s, dir, "documents")
      val words16 = explode(array_distinct(
        graft.functions.TextFunctions.words(col("text"))))
      val bits = d.select(col("doc_id"), words16.as("w"))
        .select(col("doc_id"),
          conv(substring(md5(col("w")), 1, 4), 16, 10).cast("int")
            .as("h16"))
      val bitCols: Seq[org.apache.spark.sql.Column] =
        (0 until 16).map(b =>
          when(shiftright(col("h16"), b).bitwiseAND(1) === 1, 1)
            .otherwise(-1).as(s"b$b"))
      val sumCols = (0 until 16).map(b => sum(col(s"b$b")).as(s"s$b"))
      val sim = bits
        .select(col("doc_id") +: bitCols: _*)
        .groupBy("doc_id")
        .agg(sumCols.head, sumCols.tail: _*)
        .select(col("doc_id"), (0 until 16).map(b =>
          when(col(s"s$b") > 0, lit(1 << b)).otherwise(lit(0)))
          .reduce(_ + _).as("simhash"))
      val counts = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_raw_distinct"),
        countDistinct(md5(norm)).as("n_norm_distinct"))
      val simCount = sim.agg(countDistinct(col("simhash"))
        .as("n_simhash_distinct"))
      counts.crossJoin(broadcast(simCount))
        .select(col("n_docs"), col("n_raw_distinct"),
          col("n_norm_distinct"), col("n_simhash_distinct"),
          try_divide(col("n_simhash_distinct").cast("double"),
            col("n_docs")).as("aggressive_survivor_rate"))
    }))

  val oracle: Map[String, String] = Map(

    "q_decile_transition" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CASE WHEN o_orderdate < '1998-01-01'
        |      THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) END)
        |      AS BIGINT) AS cents1,
        |    CAST(SUM(CASE WHEN o_orderdate >= '1998-01-01'
        |      THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) END)
        |      AS BIGINT) AS cents2
        |  FROM orders GROUP BY 1
        |), jt AS (
        |  SELECT * FROM rev
        |  WHERE cents1 IS NOT NULL AND cents2 IS NOT NULL
        |), d AS (
        |  SELECT o_custkey,
        |    CAST(NTILE(10) OVER (ORDER BY -cents1, o_custkey) AS INT)
        |      AS d1,
        |    CAST(NTILE(10) OVER (ORDER BY -cents2, o_custkey) AS INT)
        |      AS d2
        |  FROM jt
        |), cells AS (
        |  SELECT d1, d2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1, 2
        |), rt AS (
        |  SELECT d1, CAST(SUM(n) AS BIGINT) AS n_from
        |  FROM cells GROUP BY 1
        |)
        |SELECT c.d1, c.d2, c.n, rt.n_from,
        |  CAST(c.n AS DOUBLE) / rt.n_from AS row_share
        |FROM cells c JOIN rt USING (d1)
        |ORDER BY c.d1, c.d2""".stripMargin,

    "q_ltv_cohort" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(year(CAST(o_orderdate AS DATE)) * 12
        |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS em,
        |    CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
        |  FROM orders
        |), coh AS (
        |  SELECT o_custkey, CAST(MIN(em) AS BIGINT) AS cohort_em
        |  FROM o GROUP BY 1
        |), cs AS (
        |  SELECT cohort_em, CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM coh GROUP BY 1
        |), aged AS (
        |  SELECT coh.cohort_em,
        |    CAST(o.em - coh.cohort_em AS INT) AS age, o.cents
        |  FROM o JOIN coh USING (o_custkey)
        |), ba AS (
        |  SELECT cohort_em, age, CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM aged GROUP BY 1, 2
        |), cum AS (
        |  SELECT *, CAST(SUM(cents) OVER (PARTITION BY cohort_em
        |    ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM ba
        |)
        |SELECT c.cohort_em, c.age, cs.n_customers, c.cents, c.cum_cents,
        |  CAST(c.cum_cents AS DOUBLE) / cs.n_customers
        |    AS ltv_cents_per_customer
        |FROM cum c JOIN cs USING (cohort_em)
        |WHERE c.age <= 11
        |ORDER BY c.cohort_em, c.age""".stripMargin,

    "q_discount_bands" ->
      """WITH b AS (
        |  SELECT CAST(ROUND(l_discount * 100.0, 0) AS INT) AS band,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
        |    CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
        |  FROM lineitem
        |), g AS (
        |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(qty) AS BIGINT) AS qty_units,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents
        |  FROM b GROUP BY 1
        |)
        |SELECT band, n_lines, qty_units, sum_cents,
        |  CAST(qty_units AS DOUBLE) / n_lines AS avg_qty,
        |  CAST(sum_cents AS DOUBLE) / n_lines AS avg_line_cents
        |FROM g ORDER BY band""".stripMargin,

    "q_template_detect" ->
      """SELECT array_to_string(string_split(text, ' ')[1:5], ' ')
        |    AS prefix,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents
        |GROUP BY 1 ORDER BY n_docs DESC, prefix LIMIT 20""".stripMargin,

    "q_dedup_funnel" ->
      """WITH bits AS (
        |  SELECT doc_id,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(
        |      string_split_regex(substring(md5(w), 1, 4), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, v) -> a * 16 + v) AS h16
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(string_split(text, ' '))) AS w
        |        FROM documents)
        |), sim AS (
        |  SELECT doc_id, SUM(CASE WHEN (h16 // 1) % 2 = 1 THEN 1 ELSE -1 END) AS s0,
        |    SUM(CASE WHEN (h16 // 2) % 2 = 1 THEN 1 ELSE -1 END) AS s1,
        |    SUM(CASE WHEN (h16 // 4) % 2 = 1 THEN 1 ELSE -1 END) AS s2,
        |    SUM(CASE WHEN (h16 // 8) % 2 = 1 THEN 1 ELSE -1 END) AS s3,
        |    SUM(CASE WHEN (h16 // 16) % 2 = 1 THEN 1 ELSE -1 END) AS s4,
        |    SUM(CASE WHEN (h16 // 32) % 2 = 1 THEN 1 ELSE -1 END) AS s5,
        |    SUM(CASE WHEN (h16 // 64) % 2 = 1 THEN 1 ELSE -1 END) AS s6,
        |    SUM(CASE WHEN (h16 // 128) % 2 = 1 THEN 1 ELSE -1 END) AS s7,
        |    SUM(CASE WHEN (h16 // 256) % 2 = 1 THEN 1 ELSE -1 END) AS s8,
        |    SUM(CASE WHEN (h16 // 512) % 2 = 1 THEN 1 ELSE -1 END) AS s9,
        |    SUM(CASE WHEN (h16 // 1024) % 2 = 1 THEN 1 ELSE -1 END) AS s10,
        |    SUM(CASE WHEN (h16 // 2048) % 2 = 1 THEN 1 ELSE -1 END) AS s11,
        |    SUM(CASE WHEN (h16 // 4096) % 2 = 1 THEN 1 ELSE -1 END) AS s12,
        |    SUM(CASE WHEN (h16 // 8192) % 2 = 1 THEN 1 ELSE -1 END) AS s13,
        |    SUM(CASE WHEN (h16 // 16384) % 2 = 1 THEN 1 ELSE -1 END) AS s14,
        |    SUM(CASE WHEN (h16 // 32768) % 2 = 1 THEN 1 ELSE -1 END) AS s15
        |  FROM bits GROUP BY doc_id
        |), sh AS (
        |  SELECT doc_id,
        |    (CASE WHEN s0 > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s1 > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN s2 > 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN s3 > 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN s4 > 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN s5 > 0 THEN 32 ELSE 0 END)
        |    + (CASE WHEN s6 > 0 THEN 64 ELSE 0 END)
        |    + (CASE WHEN s7 > 0 THEN 128 ELSE 0 END)
        |    + (CASE WHEN s8 > 0 THEN 256 ELSE 0 END)
        |    + (CASE WHEN s9 > 0 THEN 512 ELSE 0 END)
        |    + (CASE WHEN s10 > 0 THEN 1024 ELSE 0 END)
        |    + (CASE WHEN s11 > 0 THEN 2048 ELSE 0 END)
        |    + (CASE WHEN s12 > 0 THEN 4096 ELSE 0 END)
        |    + (CASE WHEN s13 > 0 THEN 8192 ELSE 0 END)
        |    + (CASE WHEN s14 > 0 THEN 16384 ELSE 0 END)
        |    + (CASE WHEN s15 > 0 THEN 32768 ELSE 0 END) AS simhash
        |  FROM sim
        |), base AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_distinct,
        |    CAST(COUNT(DISTINCT md5(lower(regexp_replace(text, '\\s+',
        |      ' ', 'g')))) AS BIGINT) AS n_norm_distinct
        |  FROM documents
        |), sc AS (
        |  SELECT CAST(COUNT(DISTINCT simhash) AS BIGINT)
        |    AS n_simhash_distinct
        |  FROM sh
        |)
        |SELECT base.n_docs, base.n_raw_distinct, base.n_norm_distinct,
        |  sc.n_simhash_distinct,
        |  CAST(sc.n_simhash_distinct AS DOUBLE) / base.n_docs
        |    AS aggressive_survivor_rate
        |FROM base, sc""".stripMargin)
}
