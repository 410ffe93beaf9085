package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 twenty-fifth batch: re-identification-risk audits — the
  * privacy layer a dataset must pass before leaving the warehouse,
  * alongside pii_mask and q_dp_count_release.
  *
  *  - q_k_anonymity: equivalence-class census over the customer
  *    quasi-identifier (nation, segment, $1000 balance band): how many
  *    people are in classes of size 1, 2-4, 5-9, 10+ — the share of
  *    the table re-identifiable by a 3-attribute linkage attack.
  *  - q_l_diversity: distinct-l-diversity of the sensitive attribute
  *    (market segment) within (nation, balance-band) classes: rows in
  *    l=1 classes leak the attribute even when k-anonymous.
  *  - q_generalization_tradeoff: the anonymization ladder — the same
  *    k census at three balance generalization levels (exact, $100
  *    band, $1000 band): classes, min k, rows needing suppression at
  *    k>=5, and the avg class size the analyst keeps. Coarser bands
  *    buy privacy with resolution; this query prices the trade.
  *
  * All three are one combine aggregate to class sizes plus a bounded
  * second census — integer-only until per-row share divisions, so the
  * audit itself runs at corpus scale.
  */
object Round8yQueries {

  private def band(width: Int): Column =
    floor(col("c_acctbal") / lit(width.toDouble)).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_k_anonymity" -> ((s, dir) => {
      val classes = Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          band(1000).as("bal_band"))
        .agg(count(lit(1)).as("k"))
      val banded = classes.select(
        when(col("k") === 1, "1_unique")
          .when(col("k") <= 4, "2_small_2_4")
          .when(col("k") <= 9, "3_mid_5_9")
          .otherwise("4_large_10plus").as("k_band"), col("k"))
      val tot = broadcast(banded.agg(sum("k").as("n_total")))
      banded.groupBy("k_band")
        .agg(count(lit(1)).as("n_classes"), sum("k").as("n_rows"))
        .crossJoin(tot)
        .select(col("k_band"), col("n_classes"), col("n_rows"),
          (col("n_rows").cast("double") / col("n_total").cast("double"))
            .as("share_rows"))
        .orderBy("k_band")
    }),

    "q_l_diversity" -> ((s, dir) => {
      val classes = Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"), band(1000).as("bal_band"))
        .agg(count(lit(1)).as("k"),
          countDistinct(col("c_mktsegment")).as("l"))
      val tot = broadcast(classes.agg(sum("k").as("n_total")))
      classes.groupBy("l")
        .agg(count(lit(1)).as("n_classes"), sum("k").as("n_rows"))
        .crossJoin(tot)
        .select(col("l"), col("n_classes"), col("n_rows"),
          (col("n_rows").cast("double") / col("n_total").cast("double"))
            .as("share_rows"))
        .orderBy("l")
    }),

    "q_generalization_tradeoff" -> ((s, dir) => {
      val cust = graft.CacheScope.retain(Tables(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal")))
      def level(name: String, bal: Column): DataFrame = cust
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          bal.as("bal_g"))
        .agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_classes"), min("k").as("min_k"),
          sum("k").as("n_rows"),
          sum(when(col("k") < 5, col("k")).otherwise(0L))
            .as("n_suppressed_k5"))
        .select(lit(name).as("level"), col("n_classes"), col("min_k"),
          col("n_suppressed_k5"),
          (col("n_suppressed_k5").cast("double") /
            col("n_rows").cast("double")).as("share_suppressed"),
          (col("n_rows").cast("double") / col("n_classes").cast("double"))
            .as("avg_class_size"))
      level("1_exact", col("c_acctbal"))
        .unionByName(level("2_band_100",
          floor(col("c_acctbal") / lit(100.0)).cast("long")
            .cast("double")))
        .unionByName(level("3_band_1000",
          floor(col("c_acctbal") / lit(1000.0)).cast("long")
            .cast("double")))
        .orderBy("level")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_k_anonymity" ->
      """WITH classes AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k
        |  FROM customer
        |  GROUP BY c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT)
        |), banded AS (
        |  SELECT CASE WHEN k = 1 THEN '1_unique'
        |    WHEN k <= 4 THEN '2_small_2_4'
        |    WHEN k <= 9 THEN '3_mid_5_9'
        |    ELSE '4_large_10plus' END AS k_band, k
        |  FROM classes
        |), tot AS (SELECT CAST(SUM(k) AS BIGINT) AS n_total FROM banded)
        |SELECT k_band, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(k) AS BIGINT) AS n_rows,
        |  CAST(SUM(k) AS DOUBLE) / CAST(tot.n_total AS DOUBLE)
        |    AS share_rows
        |FROM banded CROSS JOIN tot
        |GROUP BY k_band, tot.n_total
        |ORDER BY k_band""".stripMargin,

    "q_l_diversity" ->
      """WITH classes AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
        |  FROM customer
        |  GROUP BY c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT)
        |), tot AS (SELECT CAST(SUM(k) AS BIGINT) AS n_total FROM classes)
        |SELECT l, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(k) AS BIGINT) AS n_rows,
        |  CAST(SUM(k) AS DOUBLE) / CAST(tot.n_total AS DOUBLE)
        |    AS share_rows
        |FROM classes CROSS JOIN tot
        |GROUP BY l, tot.n_total
        |ORDER BY l""".stripMargin,

    "q_generalization_tradeoff" -> Seq(
        ("1_exact", "c_acctbal"),
        ("2_band_100",
          "CAST(CAST(floor(c_acctbal / 100.0) AS BIGINT) AS DOUBLE)"),
        ("3_band_1000",
          "CAST(CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS DOUBLE)"))
      .map { case (name, bal) =>
        s"""SELECT '$name' AS level,
           |  CAST(COUNT(*) AS BIGINT) AS n_classes,
           |  CAST(MIN(k) AS BIGINT) AS min_k,
           |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
           |    AS n_suppressed_k5,
           |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE) /
           |    CAST(SUM(k) AS DOUBLE) AS share_suppressed,
           |  CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           |    AS avg_class_size
           |FROM (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS k FROM customer
           |  GROUP BY c_nationkey, c_mktsegment, $bal
           |)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY level"),
  )
}
