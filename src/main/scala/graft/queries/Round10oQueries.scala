package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DetMath
import graft.Tables

/** Round-10 batch o: supervised categorical-feature encoders — the
  * weight-of-evidence / information-value audit and the two standard
  * leakage-safe target encodings (leave-one-out, k-fold out-of-fold)
  * every tabular-ML feature pipeline ships. Feature = customer market
  * segment, target = order status 'F' over orders ⋈ customer.
  *
  * Determinism: WOE is a log of a RATIONAL of integer counts, so it is
  * computed as DetMath.dln(num) − DetMath.dln(den) over the exact
  * integer cross-products — bitwise identical in both engines (the
  * dln operation-DAG rule). Smoothing is the ×2 trick: the +0.5
  * Laplace share (g+0.5)/(G+k/2) becomes the integer rational
  * (2g+1)/(2G+k), k = 5 (a fixed modeling constant, NOT data-derived).
  * Every encoding is an exact integer rational emitted with its
  * numerator/denominator semantics via try_divide (NULL on the n = 1 /
  * empty-fold degenerate edges — DuckDB's x/NULLIF(d,0)).
  *
  * Scale posture: one fact-table pass per query (orders ⋈ broadcast
  * customer-dim projection, map-side-combined counts); the encoder
  * tables are alphabet-sized (5 segments × 5 folds) and broadcast
  * back. The LOO encoding is emitted as its complete per-segment
  * closed form — (g−1)/(n−1) for positive rows, g/(n−1) for negative —
  * never a per-row column append, which is what makes it shippable at
  * 100 TB (the encoder is metadata; applying it is a broadcast join).
  *
  *  - q_woe_iv: per-segment WOE and IV contribution.
  *  - q_target_encode_loo: the closed-form leave-one-out encoder.
  *  - q_kfold_target_encode: 5-fold out-of-fold encoder (md5-coin
  *    folds), in/out counts + the OOF encoding per (segment, fold).
  */
object Round10oQueries {

  /** (segment, is_good, o_orderkey) labeled rows: one per order. */
  private def labeled(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
    val c = Tables(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment"))
    o.join(broadcast(c), Seq("o_custkey"))
  }

  private def segStats(s: SparkSession, dir: String): DataFrame =
    labeled(s, dir).groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("g"))
      .withColumn("b", col("n") - col("g"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_woe_iv" -> ((s, dir) => {
      val seg = segStats(s, dir)
      val tot = seg.agg(sum(col("g")).as("gt"), sum(col("b")).as("bt"))
      seg.join(broadcast(tot))
        // WOE = ln((2g+1)(2B+5)) − ln((2b+1)(2G+5)): exact integer
        // arguments, deterministic dln DAG on both engines
        .withColumn("woe",
          DetMath.dln((lit(2) * col("g") + 1) * (lit(2) * col("bt") + 5)) -
            DetMath.dln((lit(2) * col("b") + 1) * (lit(2) * col("gt") + 5)))
        .withColumn("iv_contrib",
          (expr("try_divide(g, gt)") - expr("try_divide(b, bt)"))
            * col("woe"))
        .select("segment", "n", "g", "b", "woe", "iv_contrib")
        .orderBy("segment")
    }),

    "q_target_encode_loo" -> ((s, dir) => {
      segStats(s, dir)
        .withColumn("enc_pos",
          when(col("g") > 0, expr("try_divide(g - 1, n - 1)")))
        .withColumn("enc_neg",
          when(col("b") > 0, expr("try_divide(g, n - 1)")))
        .select("segment", "n", "g", "enc_pos", "enc_neg")
        .orderBy("segment")
    }),

    "q_kfold_target_encode" -> ((s, dir) => {
      val lab = labeled(s, dir)
        .withColumn("fold",
          pmod(conv(substring(md5(col("o_orderkey").cast("string")), 1, 8),
            16, 10).cast("long"), lit(5L)))
      val cell = lab.groupBy("segment", "fold")
        .agg(count(lit(1)).as("n_in"), sum(col("y")).as("g_in"))
      val seg = cell.groupBy("segment")
        .agg(sum(col("n_in")).as("n_tot"), sum(col("g_in")).as("g_tot"))
      cell.join(broadcast(seg), Seq("segment"))
        .withColumn("n_out", col("n_tot") - col("n_in"))
        .withColumn("g_out", col("g_tot") - col("g_in"))
        .withColumn("enc_oof", expr("try_divide(g_out, n_out)"))
        .select("segment", "fold", "n_in", "g_in", "n_out", "g_out",
          "enc_oof")
        .orderBy("segment", "fold")
    }))

  private val labeledSql =
    """lab AS (
      |  SELECT o.o_orderkey, c.c_mktsegment AS segment,
      |    CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |), seg AS (
      |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS g,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS b
      |  FROM lab GROUP BY 1
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_woe_iv" ->
      s"""WITH $labeledSql, segt AS (
         |  SELECT s.*, t.gt, t.bt FROM seg s CROSS JOIN (
         |    SELECT CAST(SUM(g) AS BIGINT) AS gt,
         |      CAST(SUM(b) AS BIGINT) AS bt FROM seg) t
         |), args AS (
         |  SELECT segment, n, g, b, gt, bt,
         |    (2 * g + 1) * (2 * bt + 5) AS wnum,
         |    (2 * b + 1) * (2 * gt + 5) AS wden
         |  FROM segt
         |),
         |${DetMath.lnCtesSql("ln_n", "args",
            "segment, n, g, b, gt, bt, wnum, wden", "wnum", "ln_num")},
         |${DetMath.lnCtesSql("ln_d", "ln_n",
            "segment, n, g, b, gt, bt, wden, ln_num", "wden", "ln_den")}
         |SELECT segment, n, g, b,
         |  ln_num - ln_den AS woe,
         |  (g / NULLIF(gt, 0) - b / NULLIF(bt, 0)) * (ln_num - ln_den)
         |    AS iv_contrib
         |FROM ln_d ORDER BY segment""".stripMargin,

    "q_target_encode_loo" ->
      s"""WITH $labeledSql
         |SELECT segment, n, g,
         |  CASE WHEN g > 0 THEN (g - 1) / NULLIF(n - 1, 0) END AS enc_pos,
         |  CASE WHEN b > 0 THEN g / NULLIF(n - 1, 0) END AS enc_neg
         |FROM seg ORDER BY segment""".stripMargin,

    "q_kfold_target_encode" ->
      s"""WITH $labeledSql, folded AS (
         |  SELECT segment, y,
         |    CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(
         |      string_split_regex(
         |        substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |      (acc, v) -> acc * 16 + v) % 5 AS BIGINT) AS fold
         |  FROM lab
         |), cell AS (
         |  SELECT segment, fold, CAST(COUNT(*) AS BIGINT) AS n_in,
         |    CAST(SUM(y) AS BIGINT) AS g_in
         |  FROM folded GROUP BY 1, 2
         |), segtot AS (
         |  SELECT segment, CAST(SUM(n_in) AS BIGINT) AS n_tot,
         |    CAST(SUM(g_in) AS BIGINT) AS g_tot
         |  FROM cell GROUP BY 1
         |)
         |SELECT c.segment, c.fold, c.n_in, c.g_in,
         |  s.n_tot - c.n_in AS n_out,
         |  s.g_tot - c.g_in AS g_out,
         |  (s.g_tot - c.g_in) / NULLIF(s.n_tot - c.n_in, 0) AS enc_oof
         |FROM cell c JOIN segtot s ON c.segment = s.segment
         |ORDER BY c.segment, c.fold""".stripMargin)
}
