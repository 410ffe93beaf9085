package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5w batch: robust statistics and metric forensics — the
  * numerically-careful analytics that close out a metrics platform.
  *
  *  - q_winsorized_mean: mean after clamping to the discrete
  *    p10/p90 (robust to the outliers MAD flags)
  *  - q_autocorr: lag-1 autocorrelation of daily volume per event type
  *    (is load bursty or mean-reverting?)
  *  - q_tv_distance: total-variation distance between each source's
  *    doc-length distribution and the corpus (libm-free drift measure)
  *  - q_revenue_bridge: period-over-period revenue decomposition into
  *    volume and rate effects per order priority (the BI bridge)
  *
  * Determinism: discrete percentiles select actual data values by
  * integer rank; means quantize through FLOOR to exact longs;
  * autocorrelation runs on all-integer sufficient statistics with one
  * mirrored IEEE tree (sqrt is correctly rounded); TV folds over
  * bucket-sorted lists.
  */
object Round5wQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Winsorized mean of event values per type: clamp to the DISCRETE
    // p10/p90 (the value AT rank ceil(q·n) — an actual data point, so
    // both engines select identically; interpolated percentiles of
    // arbitrary doubles would not mirror), then FLOOR-quantize the
    // clamped values to micro-units so the cross-row sum is exact
    // integer arithmetic. Reports raw vs winsorized mean — the outlier
    // sensitivity gap. The per-type rank comes from
    // GlobalRank.withGroupRank — a Window.partitionBy(event_type)
    // over RAW rows is a 5-task sort of everything at 100×, the exact
    // scale-killer class GlobalRank purged in r4; the group-rank form
    // partitions every window by (type, value-range bucket).
    "q_winsorized_mean" -> ((s, dir) => {
      // NULL values are excluded up front: ranking them is engine-
      // divergent (Spark windows put nulls FIRST on asc, DuckDB LAST),
      // and a NULL cannot be winsorized anyway
      // retained (r12, guide §1.2): base feeds the group-rank machinery
      // (which passes over it twice: the quantile probe and the bucket
      // window), the per-type counts, and the final clamp scan — four
      // derivations of the same scan+filter otherwise
      val base = graft.CacheScope.retain(Tables(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .filter(col("value").isNotNull))
      val ranked = graft.operators.GlobalRank.withGroupRank(
        base, Seq("event_type"), col("value"), col("event_id"), "rk")
      val ns = base.groupBy("event_type").agg(count(lit(1)).as("n"))
      val loPos = call_function("div", col("n") + 9L, lit(10L))
      val hiPos = call_function("div", col("n") * 9L + 9L, lit(10L))
      val bounds = ranked.join(broadcast(ns), "event_type")
        .filter(col("rk") === loPos || col("rk") === hiPos)
        .groupBy("event_type").agg(
          max(when(col("rk") === loPos, col("value"))).as("lo"),
          max(when(col("rk") === hiPos, col("value"))).as("hi"))
      base.join(broadcast(bounds), "event_type")
        .withColumn("clamped", least(greatest(col("value"), col("lo")),
          col("hi")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max("lo").as("p10"), max("hi").as("p90"),
          sum(floor(col("value") * 1000000.0).cast("long"))
            .as("raw_micro"),
          sum(floor(col("clamped") * 1000000.0).cast("long"))
            .as("win_micro"))
        .select(col("event_type"), col("n"), col("p10"), col("p90"),
          (col("raw_micro").cast("double") / col("n") / 1000000.0)
            .as("raw_mean"),
          (col("win_micro").cast("double") / col("n") / 1000000.0)
            .as("winsorized_mean"))
        .orderBy("event_type")
    }),

    // Lag-1 autocorrelation of the daily count series per event type:
    // consecutive observations pair via lead over the day-sorted
    // series, and Pearson r comes from ALL-INTEGER sufficient
    // statistics (counts are longs, so Σx, Σxy, Σx² are exact) through
    // one mirrored IEEE expression; degenerate (constant) series
    // report NULL. Two tiny aggregates after the per-day rollup.
    "q_autocorr" -> ((s, dir) => {
      val byType = Window.partitionBy("event_type").orderBy("day")
      val paired = Tables(s, dir, "events")
        .select(col("event_type"),
          call_function("div", unix_micros(col("ts")),
            lit(86400000000L)).as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
        .withColumn("y", lead(col("x"), 1).over(byType))
        .filter(col("y").isNotNull)
      val s2 = paired.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val varx = s2("n") * s2("sxx") - s2("sx") * s2("sx")
      val vary = s2("n") * s2("syy") - s2("sy") * s2("sy")
      s2.select(col("event_type"), col("n"),
          when(varx > 0 && vary > 0,
            (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (sqrt(varx.cast("double")) * sqrt(vary.cast("double"))))
            .as("autocorr_lag1"))
        .orderBy("event_type")
    }),

    // Total-variation distance between each source's doc-length
    // distribution (500-char buckets) and the corpus distribution:
    // TV = ½·Σ|p_b − q_b| — the libm-free drift measure (KL needs ln).
    // Every source scores against the FULL corpus bucket list
    // (source-missing buckets contribute their corpus mass), and the
    // |·| sum folds bucket-sorted. Source × bucket stays tiny —
    // |sources|·|buckets| rows.
    "q_tv_distance" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("source"),
          call_function("div", col("n_chars"), lit(500L)).as("bucket"))
      val global = docs.groupBy("bucket").agg(count(lit(1)).as("g"))
      val tot = docs.agg(count(lit(1)).as("n_total"))
      val perSrc = docs.groupBy("source", "bucket")
        .agg(count(lit(1)).as("c"))
      val srcN = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      srcN.crossJoin(broadcast(global))
        .join(perSrc, Seq("source", "bucket"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .crossJoin(broadcast(tot))
        .groupBy("source").agg(
          max("n_src").as("n_docs"),
          array_sort(collect_list(struct(col("bucket"), col("c"),
            col("g"), col("n_src"), col("n_total")))).as("bl"))
        .select(col("source"), col("n_docs"),
          (lit(0.5) * aggregate(col("bl"), lit(0.0), (acc, x) =>
            acc + abs(x.getField("c").cast("double") /
                x.getField("n_src") -
              x.getField("g").cast("double") / x.getField("n_total"))))
            .as("tv_distance"))
        .orderBy("source")
    }),

    // Revenue bridge: split orders into two halves at the median order
    // date (discrete — an actual date, identical in both engines) and
    // decompose each priority's revenue change into a VOLUME effect
    // (Δn at period-1 average rate) and a RATE effect (period-2 volume
    // at Δaverage): Δrev = Δn·avg₁ + n₂·(avg₂ − avg₁) — the identity
    // every BI bridge uses. Revenue sums route through DECIMAL(18,2)
    // (exact for 2-decimal prices); averages are mirrored single
    // divisions.
    "q_revenue_bridge" -> ((s, dir) => {
      val d = org.apache.spark.sql.types.DecimalType(18, 2)
      val o = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("priority"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("od"))
      val wD = Window.orderBy("od")
      val split = o.select("od").distinct()
        .withColumn("rk", row_number().over(wD).cast("long"))
        .withColumn("nd", count(lit(1)).over())
        .filter(col("rk") ===
          call_function("div", col("nd") + 1L, lit(2L)))
        .select(col("od").as("cut"))
      val tagged = o.crossJoin(broadcast(split))
        .withColumn("period", when(col("od") <= col("cut"), 1)
          .otherwise(2))
      val per = tagged.groupBy("priority", "period")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(d)).as("rev"))
      val p1 = per.filter(col("period") === 1)
        .select(col("priority"), col("n").as("n1"),
          col("rev").as("rev1"))
      val p2 = per.filter(col("period") === 2)
        .select(col("priority"), col("n").as("n2"),
          col("rev").as("rev2"))
      val avg1 = col("rev1").cast("double") / col("n1")
      val avg2 = col("rev2").cast("double") / col("n2")
      p1.join(p2, "priority")
        .select(col("priority"), col("n1"), col("n2"),
          col("rev1").cast("double").as("rev1"),
          col("rev2").cast("double").as("rev2"),
          ((col("n2") - col("n1")).cast("double") * avg1)
            .as("volume_effect"),
          (col("n2").cast("double") * (avg2 - avg1)).as("rate_effect"))
        .orderBy("priority")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_winsorized_mean" ->
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL
        |), b AS (
        |  SELECT event_type, MAX(n) AS n,
        |    MAX(CASE WHEN rk = (n + 9) // 10 THEN value END) AS lo,
        |    MAX(CASE WHEN rk = (n * 9 + 9) // 10 THEN value END) AS hi
        |  FROM r GROUP BY 1
        |)
        |SELECT r.event_type, COUNT(*) AS n, MAX(b.lo) AS p10,
        |  MAX(b.hi) AS p90,
        |  CAST(SUM(CAST(FLOOR(r.value * 1000000.0) AS BIGINT))
        |    AS DOUBLE) / COUNT(*) / 1000000.0 AS raw_mean,
        |  CAST(SUM(CAST(FLOOR(LEAST(GREATEST(r.value, b.lo), b.hi)
        |    * 1000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0
        |    AS winsorized_mean
        |FROM r JOIN b ON r.event_type = b.event_type
        |GROUP BY 1 ORDER BY r.event_type""".stripMargin,

    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1, 2
        |), paired AS (
        |  SELECT event_type, x,
        |    LEAD(x) OVER (PARTITION BY event_type ORDER BY day) AS y
        |  FROM daily
        |), s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM paired WHERE y IS NOT NULL GROUP BY 1
        |)
        |SELECT event_type, n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |  END AS autocorr_lag1
        |FROM s ORDER BY event_type""".stripMargin,

    "q_tv_distance" ->
      """WITH d AS (
        |  SELECT source, n_chars // 500 AS bucket FROM documents
        |), g AS (
        |  SELECT bucket, COUNT(*) AS g FROM d GROUP BY 1
        |), tot AS (SELECT COUNT(*) AS n_total FROM d),
        |ps AS (
        |  SELECT source, bucket, COUNT(*) AS c FROM d GROUP BY 1, 2
        |), sn AS (
        |  SELECT source, COUNT(*) AS n_src FROM d GROUP BY 1
        |), grid AS (
        |  SELECT sn.source, sn.n_src, g.bucket, g.g,
        |    COALESCE(ps.c, 0) AS c, tot.n_total
        |  FROM sn CROSS JOIN g
        |  LEFT JOIN ps ON ps.source = sn.source AND ps.bucket = g.bucket,
        |  tot
        |), folded AS (
        |  SELECT source, MAX(n_src) AS n_docs,
        |    list_sort(list(struct_pack(bucket := bucket, c := c, g := g,
        |      n_src := n_src, n_total := n_total))) AS bl
        |  FROM grid GROUP BY 1
        |)
        |SELECT source, n_docs,
        |  0.5 * list_reduce([CAST(0 AS DOUBLE)] || list_transform(bl,
        |    x -> ABS(CAST(x.c AS DOUBLE) / x.n_src
        |             - CAST(x.g AS DOUBLE) / x.n_total)),
        |    (acc, v) -> acc + v) AS tv_distance
        |FROM folded ORDER BY source""".stripMargin,

    "q_revenue_bridge" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS priority, o_totalprice,
        |    CAST(o_orderdate AS DATE) AS od
        |  FROM orders
        |), cut AS (
        |  SELECT od AS cut FROM (
        |    SELECT od, ROW_NUMBER() OVER (ORDER BY od) AS rk,
        |      COUNT(*) OVER () AS nd
        |    FROM (SELECT DISTINCT od FROM o))
        |  WHERE rk = (nd + 1) // 2
        |), per AS (
        |  SELECT priority,
        |    CASE WHEN od <= cut.cut THEN 1 ELSE 2 END AS period,
        |    COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM o, cut GROUP BY 1, 2
        |), p1 AS (SELECT priority, n AS n1, rev AS rev1 FROM per
        |          WHERE period = 1),
        |p2 AS (SELECT priority, n AS n2, rev AS rev2 FROM per
        |       WHERE period = 2)
        |SELECT p1.priority, n1, n2,
        |  CAST(rev1 AS DOUBLE) AS rev1, CAST(rev2 AS DOUBLE) AS rev2,
        |  CAST(n2 - n1 AS DOUBLE) * (CAST(rev1 AS DOUBLE) / n1)
        |    AS volume_effect,
        |  CAST(n2 AS DOUBLE) * (CAST(rev2 AS DOUBLE) / n2
        |    - CAST(rev1 AS DOUBLE) / n1) AS rate_effect
        |FROM p1 JOIN p2 ON p1.priority = p2.priority
        |ORDER BY p1.priority""".stripMargin,
  )
}
