package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.queries.QueryKit.dsum

/** Round-5k batch: the Spark-4 SQL surface (VARIANT semi-structured
  * access, pipe-syntax queries) plus three operational shapes —
  * incremental view maintenance (the changelog-algebra identity the
  * sink's collapsing mode implements downstream), share-of-parent
  * reporting, and event debounce (rate-limit dedup per key+window).
  *
  * Determinism rules (see Round5Queries): integer counts and decimal-
  * routed sums; every double is a single division mirrored literally.
  */
object Round5kQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // VARIANT semi-structured access (Spark 4's JSON-native type,
    // binary-encoded and far cheaper than repeated get_json_object
    // string parsing at scale): parse the props JSON once into a
    // variant, extract typed paths, aggregate. The oracle reads the
    // same paths with DuckDB's JSON operators — two engines, two
    // semi-structured engines, same typed answers.
    "q_variant_funcs" -> ((s, dir) =>
      Tables(s, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'long')").as("k"),
          expr("variant_get(v, '$.missing', 'long')").as("miss"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          count(col("miss")).as("n_missing_nonnull"))
        .orderBy("event_type")),

    // SQL pipe syntax (Spark 4's |> operator chain — the linear query
    // form): same TPC-H-Q1-ish aggregate written as a pipeline. The
    // oracle is the identical classic-SQL formulation; semantics must
    // match exactly, proving the surface is sugar not semantics.
    "q_pipe_syntax" -> ((s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_pipe_v")
      s.sql("""
        FROM lineitem_pipe_v
        |> WHERE l_quantity >= 10
        |> AGGREGATE COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus""")
    }),

    // Incremental view maintenance — the changelog-algebra identity
    // the reference's collapsing mode exploits downstream: a per-key
    // signed aggregate maintained as old ⊕ delta equals the full
    // recompute, because sum/count over ±1 signs form an abelian
    // group. Splits the changelog at version 500: base window, delta
    // window, maintained = base + delta, and the full recompute rides
    // along (equal by construction, verified cell-exactly by the
    // oracle). One aggregate per key — conditional sums split the
    // windows, so the data is scanned ONCE, not three times.
    "q_ivm_net_state" -> ((s, dir) => {
      val sgn = when(col("op").isin("I", "+U"), 1L).otherwise(-1L)
      val isOld = col("event_id") <= 500
      graft.operators.ChangelogOps
        .withDerivedOp(Tables(s, dir, "events"))
        .groupBy("user_id")
        .agg(
          sum(when(isOld, sgn).otherwise(0L)).as("base_n"),
          sum(when(!isOld, sgn).otherwise(0L)).as("delta_n"),
          sum(when(isOld, sgn * col("value").cast(DecimalType(18, 2)))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double")
            .as("base_val"),
          sum(when(!isOld, sgn * col("value").cast(DecimalType(18, 2)))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double")
            .as("delta_val"),
          sum(sgn).as("full_n"))
        .withColumn("maintained_n", col("base_n") + col("delta_n"))
        .select("user_id", "base_n", "delta_n", "maintained_n",
          "full_n", "base_val", "delta_val")
        .orderBy("user_id")
    }),

    // Share-of-parent reporting — the drill-down BI shape: each
    // (flag, status) cell with its share of the flag subtotal and the
    // flag's share of the grand total. Three combine aggregates off
    // one scan subtree (exchange reuse collapses them), broadcast
    // joins, two mirrored divisions.
    "q_share_of_parent" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val cells = li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
      val flags = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("flag_n"))
      val total = li.agg(count(lit(1)).as("total_n"))
      cells.join(broadcast(flags), "l_returnflag")
        .join(broadcast(total))
        .withColumn("share_in_flag",
          col("n").cast("double") / col("flag_n"))
        .withColumn("flag_share",
          col("flag_n").cast("double") / col("total_n"))
        .select("l_returnflag", "l_linestatus", "n", "flag_n",
          "total_n", "share_in_flag", "flag_share")
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Event debounce — rate-limit dedup per (user, type, 5-minute
    // bucket): keep the first event of each burst window, report
    // kept/suppressed per type. The SDK-side dedup rule expressed as
    // one combine aggregate over integer µs buckets — no window sort,
    // no state.
    "q_debounce" -> ((s, dir) =>
      Tables(s, dir, "events")
        .withColumn("bucket", call_function("div",
          unix_micros(col("ts")), lit(300L * 1000 * 1000)))
        .groupBy("event_type", "user_id", "bucket")
        .agg(count(lit(1)).as("n_in_window"),
          min("event_id").as("kept_event_id"))
        .groupBy("event_type")
        .agg(sum("n_in_window").as("n_events"),
          count(lit(1)).as("n_kept"),
          (sum("n_in_window") - count(lit(1))).as("n_suppressed"))
        .orderBy("event_type")),
  )

  private val opCte =
    """e AS (
      |  SELECT *, CASE CAST(event_id % 4 AS INT)
      |    WHEN 0 THEN 'I' WHEN 1 THEN '-U' WHEN 2 THEN '+U' ELSE 'D'
      |  END AS op FROM events
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_variant_funcs" ->
      """WITH x AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    CAST(json_extract_string(props, '$.missing') AS BIGINT)
        |      AS miss
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  COUNT(miss) AS n_missing_nonnull
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem WHERE l_quantity >= 10
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_ivm_net_state" ->
      s"""WITH $opCte,
         |g AS (
         |  SELECT user_id,
         |    CASE WHEN op IN ('I', '+U') THEN 1 ELSE -1 END AS sgn,
         |    CAST(value AS DECIMAL(18,2)) AS val,
         |    event_id <= 500 AS is_old
         |  FROM e
         |)
         |SELECT user_id,
         |  CAST(SUM(CASE WHEN is_old THEN sgn ELSE 0 END) AS BIGINT)
         |    AS base_n,
         |  CAST(SUM(CASE WHEN NOT is_old THEN sgn ELSE 0 END) AS BIGINT)
         |    AS delta_n,
         |  CAST(SUM(CASE WHEN is_old THEN sgn ELSE 0 END)
         |    + SUM(CASE WHEN NOT is_old THEN sgn ELSE 0 END) AS BIGINT)
         |    AS maintained_n,
         |  CAST(SUM(sgn) AS BIGINT) AS full_n,
         |  CAST(SUM(CASE WHEN is_old THEN sgn * val
         |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS base_val,
         |  CAST(SUM(CASE WHEN NOT is_old THEN sgn * val
         |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS delta_val
         |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_share_of_parent" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2
        |), flags AS (
        |  SELECT l_returnflag, CAST(SUM(n) AS BIGINT) AS flag_n
        |  FROM cells GROUP BY 1
        |), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n FROM cells)
        |SELECT c.l_returnflag, c.l_linestatus, c.n, f.flag_n, t.total_n,
        |  CAST(c.n AS DOUBLE) / f.flag_n AS share_in_flag,
        |  CAST(f.flag_n AS DOUBLE) / t.total_n AS flag_share
        |FROM cells c JOIN flags f USING (l_returnflag), tot t
        |ORDER BY c.l_returnflag, c.l_linestatus""".stripMargin,

    "q_debounce" ->
      """WITH w AS (
        |  SELECT event_type, user_id, epoch_us(ts) // 300000000 AS bucket,
        |    COUNT(*) AS n_in_window, MIN(event_id) AS kept_event_id
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT event_type,
        |  CAST(SUM(n_in_window) AS BIGINT) AS n_events,
        |  COUNT(*) AS n_kept,
        |  CAST(SUM(n_in_window) - COUNT(*) AS BIGINT) AS n_suppressed
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
