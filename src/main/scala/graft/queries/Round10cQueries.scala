package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.dec

/** Round-10 third batch: weighted order statistics — the exact weighted
  * median/quantile machinery a pricing or SLA dashboard needs when rows
  * carry a mass (quantity, tokens, bytes), where plain percentile over
  * rows answers the wrong question.
  *
  * Scale shape: an exact weighted quantile fundamentally needs the
  * cumulative weight ordered by value — but NEVER a global (or
  * per-group fat) sort here. All three queries use the block
  * decomposition the engine uses for global ranks: per-bucket weight
  * summaries (value quantized), a running cum over the BOUNDED bucket
  * table, and an in-bucket scan restricted to the single boundary
  * bucket each threshold lands in. Weights accumulate as DECIMAL(18,2)
  * so the cumulative sums are exact and engine-identical (float
  * cumsums would be order-sensitive).
  *
  *  - q_weighted_median: quantity-weighted median extendedprice per
  *    returnflag.
  *  - q_weighted_deciles: the d1..d9 weighted decile table per
  *    returnflag (threshold spine joined to the same bucket cum).
  *  - q_newsvendor_stock: the critical-fractile (0.8) stock level per
  *    part brand from the daily demand distribution — newsvendor with
  *    cu/(cu+co) = 0.8; discrete quantile over bounded per-brand day
  *    counts, service level reported alongside.
  */
object Round10cQueries {

  /** Per-(flag, price-bucket) weight summaries with running cumulative
    * weight and the per-flag total: (flag, bkt, wsum, cumw, totw).
    * The bucket table is bounded (price range / 100), so the running
    * window is over summaries, not rows.
    */
  private def bucketCum(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"),
        col("l_quantity").cast(dec).as("w"))
    val buckets = li
      .withColumn("bkt", floor(col("price") / 100.0).cast("long"))
      .groupBy("flag", "bkt").agg(sum(col("w")).as("wsum"))
    val wc = Window.partitionBy("flag").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("flag")
    buckets
      .withColumn("cumw", sum(col("wsum")).over(wc))
      .withColumn("totw", sum(col("wsum")).over(wt))
  }

  /** In-bucket rows of the boundary buckets for a threshold spine
    * (thresholds as num/den of totw): returns per (flag, thresh key)
    * the smallest price whose global cumulative weight crosses
    * num/den * totw.
    */
  private def weightedQuantiles(s: SparkSession, dir: String,
                                 fracs: Seq[(Int, Int)]): DataFrame = {
    val cum = graft.CacheScope.retain(bucketCum(s, dir))
    val spine = {
      import s.implicits._
      fracs.toDF("num", "den")
    }
    // boundary bucket per (flag, frac): first bucket where
    // den*cumw >= num*totw (decimal*int exact)
    val withSpine = cum.join(broadcast(spine))
      .filter(col("cumw") * col("den") >= col("totw") * col("num"))
      .groupBy("flag", "num", "den")
      .agg(min(col("bkt")).as("bb"))
    // prefix = cumulative weight BEFORE the boundary bucket
    val prefix = withSpine.join(cum.select(col("flag"), col("bkt").as("bb"),
        (col("cumw") - col("wsum")).as("prefix"), col("totw")),
      Seq("flag", "bb"))
    // in-bucket scan: only boundary-bucket rows rejoin the fact table
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"),
        col("l_quantity").cast(dec).as("w"),
        floor(col("l_extendedprice") / 100.0).cast("long").as("bb"))
    val win = Window.partitionBy("flag", "num", "den")
      .orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(prefix), Seq("flag", "bb"))
      .withColumn("cumin", sum(col("w")).over(win))
      .filter((col("prefix") + col("cumin")) * col("den") >=
        col("totw") * col("num"))
      .groupBy("flag", "num", "den")
      .agg(min(col("price")).as("q"), max(col("totw")).as("totw"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_weighted_median" -> ((s, dir) =>
      weightedQuantiles(s, dir, Seq(1 -> 2))
        .select(col("flag").as("l_returnflag"),
          col("totw").cast("string").cast("double").as("total_weight"),
          col("q").as("w_median"))
        .orderBy("l_returnflag")),

    "q_weighted_deciles" -> ((s, dir) =>
      weightedQuantiles(s, dir, (1 to 9).map(_ -> 10))
        .select(col("flag").as("l_returnflag"), col("num").as("decile"),
          col("q").as("w_value"))
        .orderBy("l_returnflag", "decile")),

    "q_newsvendor_stock" -> ((s, dir) => {
      val daily = Tables(s, dir, "lineitem").join(Tables(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), to_date(col("l_shipdate")).as("day"))
        .agg(sum(col("l_quantity").cast(dec)).as("demand"))
      val wq = Window.partitionBy("p_brand")
        .orderBy(col("demand"), col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("p_brand")
      // critical fractile 0.8 = 4/5: smallest demand level with
      // 5 * (#days at-or-below) >= 4 * n_days; bounded per-brand day
      // counts, so the per-brand window is over a bounded spine
      // stock = smallest crossing demand; service level = #days with
      // demand <= stock, i.e. the MAX k among rows AT the stock value
      // (ties in demand make any single tie row's k order-dependent)
      val wb = Window.partitionBy("p_brand")
      daily
        .withColumn("k", count(lit(1)).over(wq))
        .withColumn("n_days", count(lit(1)).over(wt))
        .filter(col("k") * 5 >= col("n_days") * 4)
        .withColumn("stock", min(col("demand")).over(wb))
        .filter(col("demand") === col("stock"))
        .groupBy("p_brand")
        .agg(max(col("n_days")).as("n_days"),
          max(col("stock")).cast("string").cast("double").as("stock_q80"),
          (max(col("k")).cast("double") /
            max(col("n_days")).cast("double")).as("service_level"))
        .orderBy("p_brand")
    }))

  val oracle: Map[String, String] = Map(

    "q_weighted_median" ->
      s"""${bucketCumSql()}
         |SELECT flag AS l_returnflag,
         |  CAST(CAST(totw AS VARCHAR) AS DOUBLE) AS total_weight,
         |  q AS w_median
         |FROM (${quantileSql(Seq(1 -> 2))})
         |ORDER BY l_returnflag""".stripMargin,

    "q_weighted_deciles" ->
      s"""${bucketCumSql()}
         |SELECT flag AS l_returnflag, num AS decile, q AS w_value
         |FROM (${quantileSql((1 to 9).map(_ -> 10))})
         |ORDER BY l_returnflag, decile""".stripMargin,

    "q_newsvendor_stock" ->
      """WITH daily AS (
        |  SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
        |    SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS demand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY p.p_brand, CAST(l.l_shipdate AS DATE)
        |), ranked AS (
        |  SELECT p_brand, demand,
        |    COUNT(*) OVER (PARTITION BY p_brand ORDER BY demand, day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k,
        |    COUNT(*) OVER (PARTITION BY p_brand) AS n_days
        |  FROM daily
        |), crossed AS (
        |  SELECT p_brand, demand, k, n_days,
        |    MIN(demand) OVER (PARTITION BY p_brand) AS stock
        |  FROM ranked WHERE k * 5 >= n_days * 4
        |)
        |SELECT p_brand, CAST(MAX(n_days) AS BIGINT) AS n_days,
        |  CAST(CAST(MAX(stock) AS VARCHAR) AS DOUBLE) AS stock_q80,
        |  CAST(MAX(k) AS DOUBLE) / CAST(MAX(n_days) AS DOUBLE)
        |    AS service_level
        |FROM crossed WHERE demand = stock
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)

  /** Shared CTE prefix: per-(flag, bucket) weight summaries + running
    * cum + per-flag totals — the SQL mirror of [[bucketCum]].
    */
  private def bucketCumSql(): String =
    """WITH li AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS price,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS w,
      |    CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bkt
      |  FROM lineitem
      |), buckets AS (
      |  SELECT flag, bkt, SUM(w) AS wsum FROM li GROUP BY flag, bkt
      |), cum AS (
      |  SELECT flag, bkt, wsum,
      |    SUM(wsum) OVER (PARTITION BY flag ORDER BY bkt
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    SUM(wsum) OVER (PARTITION BY flag) AS totw
      |  FROM buckets
      |)""".stripMargin

  /** The boundary-bucket + in-bucket crossing select over `cum`/`li`
    * for a threshold spine — the SQL mirror of [[weightedQuantiles]].
    */
  private def quantileSql(fracs: Seq[(Int, Int)]): String = {
    val spine = fracs.map { case (n, d) => s"($n, $d)" }.mkString(", ")
    s"""SELECT flag, num, den, MIN(price) AS q, MAX(totw) AS totw
       |FROM (
       |  SELECT l.flag, p.num, p.den, l.price, p.totw, p.prefix,
       |    SUM(l.w) OVER (PARTITION BY l.flag, p.num, p.den ORDER BY l.price
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumin
       |  FROM li l JOIN (
       |    SELECT b.flag, b.num, b.den, b.bb, c.cumw - c.wsum AS prefix,
       |      c.totw
       |    FROM (
       |      SELECT flag, num, den, MIN(bkt) AS bb
       |      FROM cum, (SELECT * FROM (VALUES $spine) AS s(num, den)) f
       |      WHERE cumw * den >= totw * num
       |      GROUP BY flag, num, den
       |    ) b JOIN cum c ON b.flag = c.flag AND b.bb = c.bkt
       |  ) p ON l.flag = p.flag AND l.bkt = p.bb
       |)
       |WHERE (prefix + cumin) * den >= totw * num
       |GROUP BY flag, num, den""".stripMargin
  }
}
