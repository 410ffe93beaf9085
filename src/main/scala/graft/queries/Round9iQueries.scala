package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.GlobalRank
import graft.Tables

/** Round-9 ninth batch: columnar encoding planners, completing the
  * round-8aa family (dict advisory, Bloom sizing, RLE census) with the
  * three parquet-writer decisions still missing — frame-of-reference
  * bit-packing, delta encoding, and the dictionary-page fallback:
  *
  *  - q_bitpack_plan: FOR bit width per 1024-row block of orderkeys in
  *    exact (l_orderkey, l_linenumber) order — bits = bitlength
  *    (max−min) per block, grouped into the bits histogram + packed
  *    vs plain bytes. The PLAIN/bit-packed decision a writer makes per
  *    page.
  *  - q_delta_bits_audit: the same blocks under DELTA encoding — bits
  *    for the max in-block gap of the sorted key; reports per-bits
  *    block counts and total bytes so FOR vs DELTA is a one-row diff
  *    (sorted keys make deltas tiny; the classic win).
  *  - q_dict_fallback_sim: parquet's dictionary-page fallback — scan
  *    l_partkey in row order, find the row where cumulative distinct
  *    count exceeds the 4096-entry dictionary budget (the k-th distinct
  *    FIRST-OCCURRENCE rank), and the share of rows that still got
  *    dict-encoded before the fallback.
  *
  * Row order everywhere is the exact total order (l_orderkey,
  * l_linenumber) via GlobalRank — no single-partition window; in-block
  * lags partition by the block id (high-cardinality key). Bit lengths
  * come from length(bin(x)) — the DetMath dlnE trick — identical in
  * both engines.
  */
object Round9iQueries {

  /** lineitem keyed by its exact global row rank and 1024-row block. */
  private def ranked(s: SparkSession, dir: String): DataFrame = {
    // NO spread (measured, r12): round-robining the 600k-row 4-long
    // frame ahead of GlobalRank regressed all three consumers
    // (q_bitpack_plan 1.68 -> 2.90 s, q_delta_bits_audit 2.10 -> 3.03,
    // q_dict_fallback_sim 2.12 -> 2.54) — the exchange write+read costs
    // more than the 1-task scan it parallelizes, the same finding as
    // q_gd_linreg/q_hilbert_layout (guide §1: measure first)
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
    // (FIXTURES.md); the tie pins (partkey, suppkey) so any remaining
    // rank ties are between IDENTICAL key tuples — block min/max and
    // first-occurrence ranks are then permutation-invariant
    GlobalRank.withRank(li,
        col("l_orderkey") * 8 + col("l_linenumber"),
        col("l_partkey") * 1000000L + col("l_suppkey"), "rnk")
      .withColumn("blk", call_function("div", col("rnk") - 1, lit(1024L)))
  }

  private def bits(c: org.apache.spark.sql.Column) =
    when(c === 0, 0).otherwise(length(bin(c)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_bitpack_plan" -> ((s, dir) => {
      val blocks = ranked(s, dir)
        .groupBy("blk")
        .agg(count(lit(1)).as("n"),
          min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
        .withColumn("for_bits", bits(col("hi") - col("lo")))
      blocks.groupBy("for_bits")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("n")).as("n_rows"),
          // packed = n * bits / 8 (ceil per block) + 8-byte reference
          sum(call_function("div",
            col("n") * col("for_bits") + 7, lit(8L)) + 8L)
            .as("packed_bytes"),
          sum(col("n") * 8L).as("plain_bytes"))
        .orderBy("for_bits")
    }),

    "q_delta_bits_audit" -> ((s, dir) => {
      // per-block max gap WITHOUT a lag window: the keys are already
      // value-ordered within a block (rank order IS orderkey order), so
      // one sorted collect per 1024-row block + an array diff fold
      // replaces the windowed lag (measured 37 s of warm task time for
      // the window vs ~6 s for the fold at sf0.1)
      val blocks = ranked(s, dir).groupBy("blk")
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(col("l_orderkey"))).as("vs"))
        .withColumn("max_delta", coalesce(
          array_max(zip_with(
            slice(col("vs"), lit(2), size(col("vs")) - 1), col("vs"),
            (a, b) => a - b)),
          lit(0L)))
        .withColumn("delta_bits", bits(col("max_delta")))
      blocks.groupBy("delta_bits")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("n")).as("n_rows"),
          sum(call_function("div",
            col("n") * col("delta_bits") + 7, lit(8L)) + 8L)
            .as("packed_bytes"))
        .orderBy("delta_bits")
    }),

    "q_dict_fallback_sim" -> ((s, dir) => {
      // r13 (guide §1.2/§2.3): the 600k-row ranked frame used to be
      // RETAINED because a second consumer ran count + countDistinct
      // over it — but both totals fall out of the per-key aggregate the
      // query builds anyway (n_rows = Σ per-key counts, ndv = its row
      // count), so the wide rank frame now has ONE consumer (no cache
      // materialization) and the countDistinct Expand is gone. The
      // small per-key frame is what gets retained (3 consumers: the
      // occ-rank probe, its window flow, and the totals).
      val firstOcc = graft.CacheScope.retain(
        ranked(s, dir).groupBy("l_partkey")
          .agg(min("rnk").as("first_rnk"), count(lit(1)).as("cnt")))
      val occRanked = GlobalRank.withRank(firstOcc,
        col("first_rnk"), col("l_partkey"), "occ_idx")
      val budget = 4096L
      val fallback = occRanked.filter(col("occ_idx") === budget + 1)
        .agg(min("first_rnk").as("fallback_row"))
      // coalesce: COUNT over the empty corpus is 0, never NULL
      val totals = firstOcc.agg(
        coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
        count(lit(1)).as("ndv"))
      totals.crossJoin(broadcast(fallback))
        .select(col("n_rows"), col("ndv"), lit(budget).as("dict_budget"),
          col("fallback_row"),
          when(col("fallback_row").isNull, lit(1.0))
            .otherwise((col("fallback_row") - 1L).cast("double") /
              col("n_rows").cast("double")).as("dict_share"))
    }))

  private val rankCte =
    """WITH r AS (
      |  SELECT l_orderkey, l_partkey,
      |    ROW_NUMBER() OVER (ORDER BY l_orderkey * 8 + l_linenumber,
      |      l_partkey * 1000000 + l_suppkey) AS rnk
      |  FROM lineitem
      |), b AS (
      |  SELECT l_orderkey, l_partkey, rnk, (rnk - 1) // 1024 AS blk FROM r
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_bitpack_plan" -> (rankCte +
      """, blocks AS (
        |  SELECT blk, COUNT(*) AS n, MIN(l_orderkey) AS lo,
        |    MAX(l_orderkey) AS hi
        |  FROM b GROUP BY blk
        |), wb AS (
        |  SELECT n,
        |    CASE WHEN hi - lo = 0 THEN 0
        |      ELSE LENGTH(BIN(hi - lo)) END AS for_bits
        |  FROM blocks
        |)
        |SELECT for_bits, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(SUM((n * for_bits + 7) // 8 + 8) AS BIGINT) AS packed_bytes,
        |  CAST(SUM(n * 8) AS BIGINT) AS plain_bytes
        |FROM wb GROUP BY for_bits ORDER BY for_bits""".stripMargin),

    "q_delta_bits_audit" -> (rankCte +
      """, blocks0 AS (
        |  SELECT blk, COUNT(*) AS n,
        |    list(l_orderkey ORDER BY l_orderkey) AS vs
        |  FROM b GROUP BY blk
        |), blocks AS (
        |  SELECT blk, n,
        |    COALESCE(list_max(list_transform(range(2, n + 1),
        |      i -> vs[i] - vs[i - 1])), 0) AS max_delta
        |  FROM blocks0
        |), wb AS (
        |  SELECT n,
        |    CASE WHEN max_delta = 0 THEN 0
        |      ELSE LENGTH(BIN(max_delta)) END AS delta_bits
        |  FROM blocks
        |)
        |SELECT delta_bits, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(SUM((n * delta_bits + 7) // 8 + 8) AS BIGINT)
        |    AS packed_bytes
        |FROM wb GROUP BY delta_bits ORDER BY delta_bits""".stripMargin),

    "q_dict_fallback_sim" -> (rankCte +
      """, first_occ AS (
        |  SELECT l_partkey, MIN(rnk) AS first_rnk FROM b GROUP BY l_partkey
        |), occ AS (
        |  SELECT first_rnk,
        |    ROW_NUMBER() OVER (ORDER BY first_rnk, l_partkey) AS occ_idx
        |  FROM first_occ
        |), fb AS (
        |  SELECT MIN(first_rnk) AS fallback_row FROM occ
        |  WHERE occ_idx = 4097
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv
        |  FROM b
        |)
        |SELECT n_rows, ndv, CAST(4096 AS BIGINT) AS dict_budget,
        |  fallback_row,
        |  CASE WHEN fallback_row IS NULL THEN 1.0
        |    ELSE CAST(fallback_row - 1 AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |    END AS dict_share
        |FROM tot, fb""".stripMargin))
}
