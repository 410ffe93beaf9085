package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.GlobalRank
import graft.Tables

/** Round-5c batch: data-layout planning and operational monitoring —
  * the table-maintenance and alerting surface a 100 TB lakehouse runs
  * nightly: Z-order (Morton) clustering keys, exact range-partition
  * boundary planning, robust (median/MAD) outlier detection, and
  * burst alerting over per-minute event rates.
  *
  * Determinism rules (see Round5Queries): integer arithmetic wherever
  * possible (bit interleave, integral division, count comparisons);
  * the only doubles are exact data values (medians picked as order
  * statistics, never interpolated) and single exactly-rounded ops on
  * them — both engines produce bitwise-identical cells.
  */
object Round5cQueries {

  /** 16-bit Morton code: interleave the low 8 bits of x (even
    * positions) and y (odd positions). Plain integer multiply-adds so
    * the same formula is expressible in the DuckDB oracle verbatim.
    */
  private[queries] def morton8(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  private[queries] def mortonSql(x: String, y: String): String =
    (0 until 8).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)}) + " +
        s"((($y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  /** Exact per-group lower median of `v` weighted by count, computed on
    * the DISTINCT values: groupBy (g, v) first, then one cumulative
    * window over the distinct-value list. The median is the smallest v
    * with 2*cum(v) >= n — an actual data value, never an interpolation,
    * so both engines agree bitwise. Scale posture: the window sorts
    * distinct values per group, not rows — the same distinct-weighted
    * reduction dedup_levenshtein uses — and the group key partitions it.
    */
  private def groupMedian(df: DataFrame, g: String, v: String,
                          out: String): DataFrame = {
    val vc = df.groupBy(g, v).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(g).orderBy(v)
    val tot = vc.groupBy(g).agg(sum("__c").as("__n"))
    vc.withColumn("__cum", sum("__c").over(w))
      .join(broadcast(tot), g)
      .filter(col("__cum") * 2 >= col("__n"))
      .groupBy(g).agg(min(v).as(out))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Z-order clustering audit: Morton-interleave the low 8 bits of
    // (partkey, suppkey), cut the code range into 64 equal "files", and
    // report each file's bounding box over BOTH dimensions. The point
    // of the layout: every file's box is at most 32 wide per dimension
    // (high Morton bits fix the high bits of both keys), so a predicate
    // on EITHER key prunes ~7/8 of files — that is what data-skipping
    // stats buy at 100 TB. Pure integer bit arithmetic; one shuffle
    // (the 64-group aggregate), partials map-side.
    "q_zorder_layout" -> ((s, dir) => {
      val b = Tables(s, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(256L)).as("px"),
        pmod(col("l_suppkey"), lit(256L)).as("sy"))
      b.withColumn("z", morton8(col("px"), col("sy")))
        .withColumn("file_id", call_function("div", col("z"), lit(1024L)))
        .groupBy("file_id").agg(
          count(lit(1)).as("n"),
          min("px").as("min_px"), max("px").as("max_px"),
          min("sy").as("min_sy"), max("sy").as("max_sy"))
        .orderBy("file_id")
    }),

    // Range-partition boundary planning — the writer-side
    // repartitionByRange step as an auditable query: exact NTILE(16)
    // over (o_totalprice, tie o_orderkey) via GlobalRank (range-bucketed
    // distributed rank + closed-form bucket from a broadcast 1-row
    // total; no single-partition window), then per-bucket row count and
    // [lo, hi] fences. At 100 TB these fences are exactly what a
    // file-layout job writes into its partition spec; bucket sizes are
    // provably balanced (max-min <= 1 row).
    "q_range_layout" -> ((s, dir) => {
      GlobalRank.withNtile(
          Tables(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          col("o_totalprice"), col("o_orderkey"), "bucket", 16)
        .groupBy("bucket").agg(
          count(lit(1)).as("n"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        .orderBy("bucket")
    }),

    // Robust per-type outlier stats: median and MAD (median absolute
    // deviation) of event value, plus how many events sit more than
    // 3 MADs from the median — the rank-based outlier gate that, unlike
    // mean/stddev, is not dragged by the outliers it hunts. Medians are
    // exact order statistics on distinct values (groupMedian); dev =
    // abs(value - med) and the 3*mad threshold are single exactly-
    // rounded double ops, so the oracle matches bitwise. Two
    // distinct-weighted median passes + broadcast joins of tiny
    // per-type stats — nothing sorts raw rows.
    "q_mad_outliers" -> ((s, dir) => {
      val ev = Tables(s, dir, "events").select("event_type", "value")
      val med = groupMedian(ev, "event_type", "value", "med")
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = groupMedian(
        dev.select("event_type", "dev"), "event_type", "dev", "mad")
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          min("med").as("med"), min("mad").as("mad"),
          sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    }),

    // Burst alerting on per-minute event rates: count events per
    // (type, minute), compare each minute to the trailing 10-minute
    // window (RANGE frame on the minute index, so gaps in the series
    // count as zero), and alert when the rate exceeds 3x the trailing
    // average with at least 5 events. The comparison is cross-
    // multiplied (cnt*10 > trail*3) to stay in exact integer space.
    // Scale posture: pre-aggregation shrinks the stream to
    // O(types x minutes) rows BEFORE any window — the window input is
    // time-bounded, not data-bounded, at any corpus size.
    "q_event_rate_alert" -> ((s, dir) => {
      val cnt = Tables(s, dir, "events")
        .select(col("event_type"),
          call_function("div", unix_millis(col("ts")), lit(60000L))
            .as("minute_idx"))
        .groupBy("event_type", "minute_idx").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("minute_idx")
        .rangeBetween(-10, -1)
      cnt.withColumn("trail", coalesce(sum("cnt").over(w), lit(0L)))
        .withColumn("alert",
          col("cnt") * 10 > col("trail") * 3 && col("cnt") >= 5)
        .orderBy("event_type", "minute_idx")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_zorder_layout" ->
      s"""WITH b AS (
         |  SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sy
         |  FROM lineitem
         |), z AS (
         |  SELECT px, sy, ${mortonSql("px", "sy")} AS z FROM b
         |)
         |SELECT z // 1024 AS file_id, COUNT(*) AS n,
         |  MIN(px) AS min_px, MAX(px) AS max_px,
         |  MIN(sy) AS min_sy, MAX(sy) AS max_sy
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_range_layout" ->
      """WITH r AS (
        |  SELECT o_totalprice,
        |    NTILE(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders
        |)
        |SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mad_outliers" ->
      """WITH vc AS (
        |  SELECT event_type, value, COUNT(*) AS c FROM events GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY 1
        |), med AS (
        |  SELECT event_type, MIN(value) AS med FROM (
        |    SELECT event_type, value,
        |      CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY value)
        |        AS BIGINT) AS cum
        |    FROM vc) cv JOIN tot USING (event_type)
        |  WHERE cum * 2 >= n GROUP BY 1
        |), dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
        |  FROM events e JOIN med m USING (event_type)
        |), dc AS (
        |  SELECT event_type, dev, COUNT(*) AS c FROM dev GROUP BY 1, 2
        |), mad AS (
        |  SELECT event_type, MIN(dev) AS mad FROM (
        |    SELECT event_type, dev,
        |      CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY dev)
        |        AS BIGINT) AS cum
        |    FROM dc) dv JOIN tot USING (event_type)
        |  WHERE cum * 2 >= n GROUP BY 1
        |)
        |SELECT d.event_type, COUNT(*) AS n,
        |  MIN(d.med) AS med, MIN(m.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.dev > m.mad * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_event_rate_alert" ->
      """WITH c AS (
        |  SELECT event_type, epoch_ms(ts) // 60000 AS minute_idx,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, minute_idx, cnt,
        |    CAST(COALESCE(SUM(cnt) OVER (PARTITION BY event_type
        |      ORDER BY minute_idx
        |      RANGE BETWEEN 10 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS trail
        |  FROM c
        |)
        |SELECT event_type, minute_idx, cnt, trail,
        |  (cnt * 10 > trail * 3 AND cnt >= 5) AS alert
        |FROM t ORDER BY event_type, minute_idx""".stripMargin,
  )
}
