package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 sixth batch: Bayesian decision analytics — the closed-form
  * posterior arithmetic an experimentation platform runs at scale
  * (conjugate Beta-Binomial, empirical-Bayes shrinkage, deterministic
  * Thompson/UCB allocation). No sampling anywhere: every statistic is
  * a rational function of exact counts (plus IEEE-exact sqrt), so the
  * DuckDB oracle matches bitwise when the operation DAG is mirrored.
  *
  *  - q_beta_binomial_ab: Beta(1,1)-prior posterior for the md5-split
  *    A/B arms (same arms as q_ab_test_z): posterior means/variances
  *    and the posterior z-score for (A - B).
  *  - q_eb_shrinkage: per-nation conversion rates shrunk toward the
  *    global rate with prior strength k=20 — the James-Stein-flavored
  *    partial pooling that stabilizes small-nation estimates; the
  *    global mean is a 1-row broadcast, never a second scan of the
  *    aggregate.
  *  - q_thompson_allocation: deterministic UCB proxy for Thompson
  *    sampling across 3 md5 arms — score = posterior mean + posterior
  *    sd, allocation = score share; arms pivot to ONE row so the
  *    3-term normalizer adds in written column order (never an
  *    order-sensitive float SUM over rows).
  */
object Round10gQueries {

  /** Per-user conversion flags: (user_id, converted 0/1). */
  private def userConv(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(max((col("event_type") === "purchase").cast("long"))
        .as("converted"))

  private def dbl(c: Column): Column = c.cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_beta_binomial_ab" -> ((s, dir) => {
      val users = userConv(s, dir)
        .withColumn("grp",
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "a").otherwise("b"))
      val wide = users.groupBy()
        .pivot("grp", Seq("a", "b"))
        .agg(count(lit(1)).as("n"), sum("converted").as("conv"))
        // coalesce: an ABSENT md5 arm pivots to NULL where the oracle's
        // SUM(CASE) reads 0 — the Beta(1,1) posterior is defined either way
        .select(coalesce(col("a_n"), lit(0L)).as("n_a"),
          coalesce(col("a_conv"), lit(0L)).as("conv_a"),
          coalesce(col("b_n"), lit(0L)).as("n_b"),
          coalesce(col("b_conv"), lit(0L)).as("conv_b"))
      // Beta(1,1) prior: alpha = conv+1, beta = n-conv+1
      def mean(n: Column, c: Column): Column = (dbl(c) + 1.0) / (dbl(n) + 2.0)
      def variance(n: Column, c: Column): Column =
        (dbl(c) + 1.0) * (dbl(n) - dbl(c) + 1.0) /
          ((dbl(n) + 2.0) * (dbl(n) + 2.0) * (dbl(n) + 3.0))
      wide.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        mean(col("n_a"), col("conv_a")).as("post_mean_a"),
        mean(col("n_b"), col("conv_b")).as("post_mean_b"),
        ((mean(col("n_a"), col("conv_a")) - mean(col("n_b"), col("conv_b")))
          / sqrt(variance(col("n_a"), col("conv_a"))
            + variance(col("n_b"), col("conv_b")))).as("post_z"))
    }),

    "q_eb_shrinkage" -> ((s, dir) => {
      val conv = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(max((col("o_orderpriority") === "1-URGENT").cast("long"))
          .as("urgent"))
      val byNation = Tables(s, dir, "customer")
        .join(conv, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("urgent"), lit(0L))).as("s"))
      val global = byNation.agg(sum(col("s")).as("s_tot"),
        sum(col("n")).as("n_tot"))
      byNation.join(broadcast(global))
        .select(col("c_nationkey"), col("n"), col("s"),
          when(col("n") > 0, dbl(col("s")) / dbl(col("n"))).as("raw_rate"),
          ((dbl(col("s")) +
            lit(20.0) * (dbl(col("s_tot")) / dbl(col("n_tot"))))
            / (dbl(col("n")) + 20.0)).as("shrunk_rate"))
        .withColumn("shrink_delta",
          col("shrunk_rate") - coalesce(col("raw_rate"), lit(0.0)))
        .orderBy("c_nationkey")
    }),

    "q_thompson_allocation" -> ((s, dir) => {
      // arm = hex-digit position of the first md5 nibble mod 3 — the
      // same expression is literal SQL on the oracle side (a hex->int
      // cast is not portable; a strpos over the nibble alphabet is)
      val users = userConv(s, dir)
        .withColumn("arm",
          pmod(instr(lit("0123456789abcdef"),
            substring(md5(col("user_id").cast("string")), 1, 1))
            .cast("long"), lit(3L)))
      val wide0 = users.groupBy()
        .pivot("arm", Seq(0, 1, 2))
        .agg(count(lit(1)).as("n"), sum("converted").as("conv"))
      // coalesce: absent arms pivot to NULL, the oracle reads 0
      val wide = (0 to 2).foldLeft(wide0)((df, i) =>
        df.withColumn(s"${i}_n", coalesce(col(s"${i}_n"), lit(0L)))
          .withColumn(s"${i}_conv", coalesce(col(s"${i}_conv"), lit(0L))))
      def score(i: Int): Column = {
        val n = dbl(col(s"${i}_n")); val c = dbl(col(s"${i}_conv"))
        (c + 1.0) / (n + 2.0) +
          sqrt((c + 1.0) * (n - c + 1.0) /
            ((n + 2.0) * (n + 2.0) * (n + 3.0)))
      }
      val tot = score(0) + score(1) + score(2) // written order, 3 terms
      wide.select(
        col("0_n").as("n_0"), col("1_n").as("n_1"), col("2_n").as("n_2"),
        score(0).as("score_0"), score(1).as("score_1"),
        score(2).as("score_2"),
        (score(0) / tot).as("alloc_0"), (score(1) / tot).as("alloc_1"),
        (score(2) / tot).as("alloc_2"))
    }))

  private val MeanA = "(CAST(conv_a AS DOUBLE) + 1.0) / (CAST(n_a AS DOUBLE) + 2.0)"
  private val MeanB = "(CAST(conv_b AS DOUBLE) + 1.0) / (CAST(n_b AS DOUBLE) + 2.0)"
  private val VarA =
    """(CAST(conv_a AS DOUBLE) + 1.0) * (CAST(n_a AS DOUBLE) - CAST(conv_a AS DOUBLE) + 1.0)
      | / ((CAST(n_a AS DOUBLE) + 2.0) * (CAST(n_a AS DOUBLE) + 2.0) * (CAST(n_a AS DOUBLE) + 3.0))""".stripMargin
  private val VarB =
    """(CAST(conv_b AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) - CAST(conv_b AS DOUBLE) + 1.0)
      | / ((CAST(n_b AS DOUBLE) + 2.0) * (CAST(n_b AS DOUBLE) + 2.0) * (CAST(n_b AS DOUBLE) + 3.0))""".stripMargin

  private def armScore(i: Int): String = {
    val n = s"CAST(n_$i AS DOUBLE)"; val c = s"CAST(conv_$i AS DOUBLE)"
    s"""($c + 1.0) / ($n + 2.0) + sqrt(($c + 1.0) * ($n - $c + 1.0)
       | / (($n + 2.0) * ($n + 2.0) * ($n + 3.0)))""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "q_beta_binomial_ab" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted,
         |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
         |      THEN 'a' ELSE 'b' END AS grp
         |  FROM events GROUP BY user_id
         |), wide AS (
         |  SELECT
         |    CAST(COALESCE(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
         |    CAST(COALESCE(SUM(CASE WHEN grp = 'a' THEN converted ELSE 0 END),
         |      0) AS BIGINT) AS conv_a,
         |    CAST(COALESCE(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b,
         |    CAST(COALESCE(SUM(CASE WHEN grp = 'b' THEN converted ELSE 0 END),
         |      0) AS BIGINT) AS conv_b
         |  FROM u
         |)
         |SELECT n_a, conv_a, n_b, conv_b,
         |  $MeanA AS post_mean_a,
         |  $MeanB AS post_mean_b,
         |  ($MeanA - $MeanB) / sqrt($VarA + $VarB) AS post_z
         |FROM wide""".stripMargin,

    "q_eb_shrinkage" ->
      """WITH conv AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |      AS urgent
        |  FROM orders GROUP BY o_custkey
        |), by_nation AS (
        |  SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(COALESCE(v.urgent, 0)) AS BIGINT) AS s
        |  FROM customer c LEFT JOIN conv v ON c.c_custkey = v.o_custkey
        |  GROUP BY c.c_nationkey
        |), g AS (
        |  SELECT CAST(SUM(s) AS BIGINT) AS s_tot,
        |    CAST(SUM(n) AS BIGINT) AS n_tot FROM by_nation
        |)
        |SELECT c_nationkey, n, s,
        |  CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END
        |    AS raw_rate,
        |  (CAST(s AS DOUBLE) + 20.0 * (CAST(s_tot AS DOUBLE)
        |    / CAST(n_tot AS DOUBLE))) / (CAST(n AS DOUBLE) + 20.0)
        |    AS shrunk_rate,
        |  (CAST(s AS DOUBLE) + 20.0 * (CAST(s_tot AS DOUBLE)
        |    / CAST(n_tot AS DOUBLE))) / (CAST(n AS DOUBLE) + 20.0)
        |    - COALESCE(CASE WHEN n > 0 THEN CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) END, 0.0) AS shrink_delta
        |FROM by_nation, g ORDER BY c_nationkey""".stripMargin,

    "q_thompson_allocation" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted,
         |    CAST(strpos('0123456789abcdef',
         |      substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS BIGINT)
         |      % 3 AS arm
         |  FROM events GROUP BY user_id
         |), wide AS (
         |  SELECT
         |    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_0,
         |    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END),
         |      0) AS BIGINT) AS conv_0,
         |    CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_1,
         |    CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END),
         |      0) AS BIGINT) AS conv_1,
         |    CAST(COALESCE(SUM(CASE WHEN arm = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_2,
         |    CAST(COALESCE(SUM(CASE WHEN arm = 2 THEN converted ELSE 0 END),
         |      0) AS BIGINT) AS conv_2
         |  FROM u
         |)
         |SELECT n_0, n_1, n_2,
         |  ${armScore(0)} AS score_0,
         |  ${armScore(1)} AS score_1,
         |  ${armScore(2)} AS score_2,
         |  (${armScore(0)}) / ((${armScore(0)}) + (${armScore(1)})
         |    + (${armScore(2)})) AS alloc_0,
         |  (${armScore(1)}) / ((${armScore(0)}) + (${armScore(1)})
         |    + (${armScore(2)})) AS alloc_1,
         |  (${armScore(2)}) / ((${armScore(0)}) + (${armScore(1)})
         |    + (${armScore(2)})) AS alloc_2
         |FROM wide""".stripMargin)
}
