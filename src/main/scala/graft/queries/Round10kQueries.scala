package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 final batch: source/sink FORMAT coverage — the CSV / JSON /
  * partitioned-parquet read-write paths a lakehouse deployment feeds
  * the engine through (the reference's users land Flink CSV/JSON topics
  * next to the ClickHouse sink; SURVEY §1). Each query round-trips a
  * canonicalized table through the format and emits ENGINE-INDEPENDENT
  * facts: source/readback row counts plus order-independent xor
  * checksum equality — the oracle asserts the counts from the original
  * table and TRUE flags, so a lossy roundtrip (dropped rows, mangled
  * values, broken null handling) is a hash mismatch, not a silent pass.
  *
  * Determinism notes: timestamps ride as epoch micros (never formatted
  * strings), doubles as integer cents, and the checksum is an XOR fold
  * of xxhash64 over a '|'-joined canonical row — commutative, so file
  * and partition order cannot matter. CSV uses the all-non-null orders
  * columns (CSV cannot distinguish '' from NULL); JSON uses documents
  * INCLUDING its nullable source column (JSON roundtrips NULL
  * losslessly — the adversarial fixture has a NULL source).
  *
  *  - q_csv_roundtrip: orders -> CSV (header) -> read with explicit
  *    schema -> counts + checksum equality.
  *  - q_json_roundtrip: documents -> JSON lines -> read with explicit
  *    schema -> counts + checksum equality.
  *  - q_partitioned_roundtrip: lineitem -> parquet partitioned BY
  *    l_returnflag -> read back -> total and per-partition counts,
  *    checksum equality, and a partition-prune read (flag = 'R') whose
  *    count must match the direct filter.
  */
object Round10kQueries {

  private def work(name: String): String =
    s"/tmp/graft_fmt/$name"

  /** Order-independent checksum of a frame: xor of xxhash64 over the
    * canonical '|'-joined row (commutative — file/partition order
    * free). NULL-safe compare via <=> at the call sites (empty frames
    * checksum to NULL on both sides).
    */
  private def checksum(df: DataFrame, cols: Seq[String]): Column = {
    // single-row subquery value via a 1-row aggregate frame, consumed
    // by crossJoin at the call sites
    xxhash64(concat_ws("|", cols.map(c => col(c).cast("string")): _*))
  }

  private def cks(df: DataFrame, cols: Seq[String], as: String): DataFrame =
    df.select(checksum(df, cols).as("__h"))
      .agg(expr("bit_xor(__h)").as(as))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_csv_roundtrip" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "cents", "us", "o_orderpriority")
      val src = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100.0).cast("long").as("cents"),
        // orderdate ships as TIMESTAMP_NTZ — cast to session-UTC
        // timestamp before epoch extraction (same instant, pinned tz)
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        col("o_orderpriority"))
      val path = work("csv_orders")
      src.write.mode("overwrite").option("header", "true").csv(path)
      val back = s.read
        .schema("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, " +
          "cents LONG, us LONG, o_orderpriority STRING")
        .option("header", "true").csv(path)
      val a = src.agg(count(lit(1)).as("n_src"))
        .crossJoin(cks(src, cols, "ck_src"))
      val b = back.agg(count(lit(1)).as("n_back"))
        .crossJoin(cks(back, cols, "ck_back"))
      a.crossJoin(broadcast(b))
        .select(col("n_src"), col("n_back"),
          (col("n_src") === col("n_back")).as("rows_match"),
          (col("ck_src") <=> col("ck_back")).as("checksum_match"))
    }),

    "q_json_roundtrip" -> ((s, dir) => {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val src = Tables(s, dir, "documents")
        .select(cols.map(col): _*)
      val path = work("json_documents")
      src.write.mode("overwrite").json(path)
      val back = s.read
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
          "n_chars LONG")
        .json(path)
      val a = src.agg(count(lit(1)).as("n_src"),
          count(col("source")).as("n_src_nonnull_source"))
        .crossJoin(cks(src, cols, "ck_src"))
      val b = back.agg(count(lit(1)).as("n_back"),
          count(col("source")).as("n_back_nonnull_source"))
        .crossJoin(cks(back, cols, "ck_back"))
      a.crossJoin(broadcast(b))
        .select(col("n_src"), col("n_back"),
          (col("n_src") === col("n_back")).as("rows_match"),
          // JSON must roundtrip NULLs losslessly (CSV cannot)
          (col("n_src_nonnull_source") === col("n_back_nonnull_source"))
            .as("nulls_match"),
          (col("ck_src") <=> col("ck_back")).as("checksum_match"))
    }),

    "q_partitioned_roundtrip" -> ((s, dir) => {
      val cols = Seq("l_orderkey", "l_linenumber", "qty_c", "price_c",
        "l_returnflag")
      val src = Tables(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"),
        floor(col("l_quantity") * 100.0).cast("long").as("qty_c"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("price_c"),
        col("l_returnflag"))
      val path = work("parquet_lineitem_part")
      src.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
      // explicit schema: an EMPTY partitioned write leaves no footers
      // to infer from (the adversarial empty fixture)
      val pqSchema = "l_orderkey LONG, l_linenumber LONG, qty_c LONG, " +
        "price_c LONG, l_returnflag STRING"
      val back = s.read.schema(pqSchema).parquet(path)
        .select(cols.map(col): _*) // partition column re-ordered last
      val a = src.agg(count(lit(1)).as("n_src"),
          coalesce(sum(when(col("l_returnflag") === "R", 1L)
            .otherwise(0L)), lit(0L)).as("n_src_r"))
        .crossJoin(cks(src, cols, "ck_src"))
      // the pruned read: only the flag='R' partition directory scans
      val pruned = s.read.schema(pqSchema).parquet(path)
        .filter(col("l_returnflag") === "R")
        .agg(count(lit(1)).as("n_pruned_r"))
      val b = back.agg(count(lit(1)).as("n_back"))
        .crossJoin(cks(back, cols, "ck_back"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(pruned))
        .select(col("n_src"), col("n_back"), col("n_src_r"),
          (col("n_src") === col("n_back")).as("rows_match"),
          (col("n_pruned_r") <=> col("n_src_r")).as("prune_count_match"),
          (col("ck_src") <=> col("ck_back")).as("checksum_match"))
    }))

  val oracle: Map[String, String] = Map(

    "q_csv_roundtrip" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
        |  CAST(COUNT(*) AS BIGINT) AS n_back,
        |  TRUE AS rows_match, TRUE AS checksum_match
        |FROM orders""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
        |  CAST(COUNT(*) AS BIGINT) AS n_back,
        |  TRUE AS rows_match, TRUE AS nulls_match,
        |  TRUE AS checksum_match
        |FROM documents""".stripMargin,

    "q_partitioned_roundtrip" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
        |  CAST(COUNT(*) AS BIGINT) AS n_back,
        |  CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
        |    END), 0) AS BIGINT) AS n_src_r,
        |  TRUE AS rows_match, TRUE AS prune_count_match,
        |  TRUE AS checksum_match
        |FROM lineitem""".stripMargin)
}
