package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QueryKit.dec

/** Round-3 sixth batch: the three remaining classic TPC-H shapes —
  * Q2 (min-cost supplier: correlated min over a dimension-joined
  * bridge), Q11 (important stock: group value vs a scalar fraction of
  * the global total), Q20 (excess stock: nested semi-joins over a
  * correlated aggregate threshold). The synthetic schema has no
  * PARTSUPP table, so all three run over the part-supplier bridge
  * DERIVED from lineitem (`groupBy(l_partkey, l_suppkey)`):
  * supplycost := min(l_extendedprice), availqty := sum(l_quantity).
  * The derivation is itself the interesting part at scale — it is the
  * one fact-table shuffle all three queries share, keyed exactly the
  * way the downstream joins need it.
  *
  * Scale posture: every dimension (supplier⋈nation⋈region, filtered
  * part lists) is broadcast; the only wide shuffles are the bridge
  * groupBy on (l_partkey, l_suppkey) and Q2's window-min on
  * ps_partkey. All quantities/costs travel as DECIMAL(18,2) so the
  * DuckDB oracle matches bitwise; doubles appear only in final casts
  * and one mirrored scalar multiply (Q11's 2% threshold).
  */
object Round3fQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q2 shape: for each small part, the European supplier(s)
    // offering the minimum supply cost. The correlated MIN subquery
    // becomes a window-min over the bridge partition — one extra
    // shuffle on ps_partkey instead of a second scan + self-join.
    // Output keys (s_name unique, then p_partkey) make the top-100
    // deterministic.
    "q_tpch_q2" -> ((s, dir) => {
      val euroSupp = broadcast(
        Tables(s, dir, "supplier")
          .join(Tables(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .join(Tables(s, dir, "region").filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
      val smallParts = broadcast(Tables(s, dir, "part")
        .filter(col("p_size") <= 10)
        .select("p_partkey", "p_brand"))
      val ps = Tables(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(min(col("l_extendedprice")).as("ps_supplycost"))
      val wmin = Window.partitionBy("ps_partkey")
      ps.join(euroSupp, col("ps_suppkey") === col("s_suppkey"))
        .join(smallParts, col("ps_partkey") === col("p_partkey"))
        .withColumn("min_cost", min(col("ps_supplycost")).over(wmin))
        .filter(col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"),
          col("ps_supplycost").as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q11 shape: per-part stock value restricted to one region's
    // suppliers, kept only when above 0.15% of the global total (the
    // classic query's FRACTION scales inversely with table size; 0.15%
    // keeps ~1% of parts at sf0.01). The global total is an
    // unpartitioned window over the PER-PART aggregate — a separate
    // scalar aggregate would recompute the whole bridge subtree (no
    // exchange reuse across the self-reference), doubling the fact
    // scan; the window costs one single-partition pass over rows
    // already reduced ~1000x from the fact table. The threshold
    // comparison is the single double multiply, mirrored
    // operand-for-operand in the oracle so the boundary rows agree.
    "q_tpch_q11" -> ((s, dir) => {
      val regionSupp = broadcast(
        Tables(s, dir, "supplier")
          .join(Tables(s, dir, "nation").filter(col("n_regionkey") === 0),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey"))
      val ps = Tables(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast(dec)).as("cost"),
          sum(col("l_quantity").cast(dec)).cast(dec).as("qty"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      ps.join(regionSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey").as("ps_partkey"))
        .agg(sum(col("cost") * col("qty")).as("value"))
        .withColumn("tot", sum(col("value")).over(wAll))
        .filter(col("value").cast("double") >
          col("tot").cast("double") * 0.0015)
        .select(col("ps_partkey"),
          col("value").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("ps_partkey"))
    }),

    // TPC-H Q20 shape: suppliers sitting on excess widget stock — less
    // than 40% of their total widget quantity shipped since 1999
    // (5·recent < 2·total: all-integer decimal multiplies, exact in
    // both engines; the 40% cut sits at the population median so the
    // predicate genuinely splits suppliers). Two nested reductions
    // (part filter -> per-supplier aggregate -> supplier semi join),
    // each shrinking the key set before the next join touches it;
    // supplier⋈nation stays broadcast-sized.
    "q_tpch_q20" -> ((s, dir) => {
      val widgetParts = broadcast(Tables(s, dir, "part")
        .filter(col("p_name").like("%widget"))
        .select("p_partkey"))
      val ps = Tables(s, dir, "lineitem")
        .join(widgetParts, col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy("l_suppkey")
        .agg(sum(col("l_quantity").cast(dec)).as("qty_total"),
          sum(when(year(col("l_shipdate")) >= 1999,
              col("l_quantity").cast(dec))
            .otherwise(lit(0).cast(dec))).as("qty_recent"))
      val excess = ps.filter(col("qty_recent") * 5 < col("qty_total") * 2)
        .select("l_suppkey")
      Tables(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_name", "s_acctbal", "n_name")
        .orderBy("s_name")
    })
  )

  val oracle: Map[String, String] = Map(

    "q_tpch_q2" ->
      """WITH es AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |), ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    min(l_extendedprice) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2
        |), j AS (
        |  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name,
        |    p_partkey, p_brand
        |  FROM ps
        |  JOIN es ON ps_suppkey = s_suppkey
        |  JOIN part ON ps_partkey = p_partkey
        |  WHERE p_size <= 10
        |), m AS (
        |  SELECT *,
        |    min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
        |  FROM j
        |)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  ps_supplycost AS supplycost
        |FROM m
        |WHERE ps_supplycost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q11" ->
      """WITH ns AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_regionkey = 0
        |), ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS qty
        |  FROM lineitem GROUP BY 1, 2
        |), vals AS (
        |  SELECT l_partkey AS ps_partkey, sum(cost * qty) AS value
        |  FROM ps
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM ns)
        |  GROUP BY 1
        |), tot AS (SELECT sum(value) AS tot FROM vals)
        |SELECT ps_partkey, CAST(value AS DOUBLE) AS part_value
        |FROM vals, tot
        |WHERE CAST(value AS DOUBLE) > CAST(tot AS DOUBLE) * 0.0015
        |ORDER BY part_value DESC, ps_partkey""".stripMargin,

    "q_tpch_q20" ->
      """WITH wp AS (
        |  SELECT p_partkey FROM part WHERE p_name LIKE '%widget'
        |), ps AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_total,
        |    sum(CASE WHEN year(l_shipdate) >= 1999
        |          THEN CAST(l_quantity AS DECIMAL(18,2))
        |          ELSE CAST(0 AS DECIMAL(18,2)) END) AS qty_recent
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM wp)
        |  GROUP BY 1
        |), ex AS (
        |  SELECT l_suppkey FROM ps
        |  WHERE qty_recent * 5 < qty_total * 2
        |)
        |SELECT s_name, s_acctbal, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM ex)
        |ORDER BY s_name""".stripMargin
  )
}
