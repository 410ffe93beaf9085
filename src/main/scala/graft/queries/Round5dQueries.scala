package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Round-5d batch: TPC-H completion and table-integrity maintenance —
  * the pricing-summary report that completes the 22-query TPC-H set
  * (Q2–Q22 landed in earlier rounds), plus the nightly table-ops
  * surface of a 100 TB lakehouse: a per-column data-profile report, an
  * order-independent table checksum for cross-replica integrity
  * audits, and a small-file compaction plan over a file manifest.
  *
  * Determinism rules (see Round5Queries): exact decimal sufficient
  * statistics with one final double cast; integer arithmetic for
  * checksums and bin assignment; every double→decimal cast is
  * mirrored literally in the DuckDB oracle so both engines round the
  * same way (ties are impossible — .xx5 is not representable in
  * binary, so HALF_UP and half-away agree).
  */
object Round5dQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1: the pricing summary report — full 8-aggregate form
    // (q_hash_agg carries a reduced shape; this is the real query,
    // completing the 22/22 set). All sums run in exact decimal with
    // precisions sized so no product can overflow precision 38
    // ((12,2)·(7,4)·(7,4) = (28,10)): the sums are bitwise exact in
    // both engines and only the final cast/division rounds. Scale
    // posture: the shipdate predicate pushes to the parquet scan and
    // the aggregate is one partial+final pair over a 4-group key —
    // the canonical map-side-combine plan at any scale.
    "q_tpch_q1" -> ((s, dir) => {
      val dp = DecimalType(12, 2) // price/quantity operands
      val dr = DecimalType(6, 4)  // discount/tax rates
      val ds = DecimalType(18, 2) // plain-sum operands
      val one = lit(1).cast(dr)
      val discPrice = col("l_extendedprice").cast(dp) *
        (one - col("l_discount").cast(dr))
      val charge = discPrice * (one + col("l_tax").cast(dr))
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(ds)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(ds)).cast("double")
            .as("sum_base_price"),
          // rescale the exact high-scale sums to 2 decimals BEFORE the
          // double cast: at scale 10 the sum's unscaled int exceeds
          // 2^53 and DuckDB's int128→double conversion double-rounds;
          // at scale 2 both engines single-round to the same double.
          // Spark's decimal downcast rounds HALF_UP but DuckDB's
          // TRUNCATES, so the oracle writes ROUND(sum, 2) before its
          // (then-lossless) downcast
          sum(discPrice).cast(DecimalType(38, 2)).cast("double")
            .as("sum_disc_price"),
          sum(charge).cast(DecimalType(38, 2)).cast("double")
            .as("sum_charge"),
          (sum(col("l_quantity").cast(ds)).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(col("l_extendedprice").cast(ds)).cast("double") /
            count(lit(1))).as("avg_price"),
          (sum(col("l_discount").cast(dr)).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Per-column data-profile report — the schema-drift / data-quality
    // audit a pipeline runs on every ingested snapshot: row count, null
    // count, and EXACT distinct count for every column of `orders`,
    // emitted long-form (one row per column). One scan computes all
    // stats in a single aggregate (Spark expands the row k+1 ways for
    // the k distinct counts — still one pass over the data); at 100 TB
    // the same query swaps countDistinct for approx_count_distinct and
    // keeps the identical shape. The wide 1-row result is stacked to
    // long form driver-free.
    "q_table_profile" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      // coalesce: SUM over an EMPTY table is NULL where the oracle's
      // count reads 0 — a null census of an empty table is 0, not NULL
      val aggs = cols.flatMap { c =>
        Seq(coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c"))
      }
      val wide = Tables(s, dir, "orders")
        .agg(count(lit(1)).as("n"), aggs: _*)
      val stacked = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
      wide.selectExpr("n",
          s"stack(${cols.length}, $stacked) AS (column_name, n_nulls, n_distinct)")
        .select(col("column_name"), col("n"),
          col("n_nulls"), col("n_distinct"))
        .orderBy("column_name")
    }),

    // Order-independent table checksum — the cross-replica integrity
    // fingerprint a 100 TB lakehouse verifies after every copy/compact:
    // each row canonicalized to an all-integer/string encoding (cents
    // for the price, epoch millis for the date — never double→string,
    // whose formatting differs across engines), md5-hashed to a 60-bit
    // int, then XOR-folded per priority group. XOR is commutative and
    // associative, so the checksum is independent of row order and
    // partitioning — any two replicas agree regardless of layout. One
    // map-side-combined aggregate; nothing sorts.
    "q_table_checksum" -> ((s, dir) => {
      val rowStr = concat_ws("|",
        col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").cast("string"),
        unix_millis(col("o_orderdate").cast("timestamp")).cast("string"),
        col("o_orderpriority"))
      Tables(s, dir, "orders")
        .withColumn("h",
          conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("checksum"))
        .orderBy("o_orderpriority")
    }),

    // Small-file compaction plan — greedy first-fit bin packing of a
    // file manifest into ~target-row output files, as an auditable
    // query: files (simulated as l_orderkey ranges) ordered by id,
    // each assigned to bin floor(preceding_cum / target), then
    // per-bin file count, row total, and id range. The window runs on
    // the MANIFEST, which is metadata-scale (~1e5 rows for a 100 TB
    // table at 1 GB/file) — three orders of magnitude below the data
    // it describes — so the single-partition cumulative sum is
    // deliberate and bounded, exactly like a real table service.
    "q_compaction_plan" -> ((s, dir) => {
      val manifest = Tables(s, dir, "lineitem")
        .groupBy(call_function("div", col("l_orderkey"), lit(400L))
          .as("file_id"))
        .agg(count(lit(1)).as("rows_in_file"))
      val w = Window.orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      manifest
        .withColumn("cum", sum("rows_in_file").over(w))
        .withColumn("bin", call_function("div",
          col("cum") - col("rows_in_file"), lit(2000L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"),
          sum("rows_in_file").as("total_rows"),
          min("file_id").as("first_file"),
          max("file_id").as("last_file"))
        .orderBy("bin")
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |    AS DECIMAL(38,2)) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
        |    * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 2)
        |    AS DECIMAL(38,2)) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE)
        |    / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_table_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = cols.map { c =>
        s"COUNT(*) - COUNT($c) AS nn_$c, COUNT(DISTINCT $c) AS nd_$c"
      }.mkString(",\n    ")
      val arms = cols.map { c =>
        s"SELECT '$c' AS column_name, n, nn_$c AS n_nulls, nd_$c AS n_distinct FROM a"
      }.mkString("\n  UNION ALL ")
      s"""WITH a AS (
         |  SELECT COUNT(*) AS n,
         |    $aggs
         |  FROM orders
         |)
         |$arms
         |ORDER BY column_name""".stripMargin
    },

    "q_table_checksum" ->
      """WITH h AS (
        |  SELECT o_orderpriority,
        |    CAST(concat('0x', substring(md5(concat_ws('|',
        |      CAST(o_orderkey AS VARCHAR),
        |      CAST(o_custkey AS VARCHAR),
        |      o_orderstatus,
        |      CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
        |      CAST(epoch_ms(o_orderdate) AS VARCHAR),
        |      o_orderpriority)), 1, 15)) AS BIGINT) AS h
        |  FROM orders
        |)
        |SELECT o_orderpriority, COUNT(*) AS n, bit_xor(h) AS checksum
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_compaction_plan" ->
      """WITH m AS (
        |  SELECT l_orderkey // 400 AS file_id, COUNT(*) AS rows_in_file
        |  FROM lineitem GROUP BY 1
        |), c AS (
        |  SELECT file_id, rows_in_file,
        |    CAST(SUM(rows_in_file) OVER (ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM m
        |)
        |SELECT (cum - rows_in_file) // 2000 AS bin,
        |  COUNT(*) AS n_files,
        |  CAST(SUM(rows_in_file) AS BIGINT) AS total_rows,
        |  MIN(file_id) AS first_file, MAX(file_id) AS last_file
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
