package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 twenty-seventh batch: physical-encoding planners — the
  * columnar-storage decisions (dictionary, bloom, RLE) priced from
  * data statistics before a byte is written.
  *
  *  - q_dict_encoding_plan: dictionary-encoding advisory for five
  *    low-cardinality string columns: raw bytes vs dictionary bytes
  *    (distinct-value payload + ceil(log2 ndv)-bit codes) and the
  *    compression ratio. The code width comes from length(bin(ndv-1))
  *    — exact integer log2 in both engines, no floating log.
  *  - q_bloom_size_plan: bloom-filter sizing for three join keys at
  *    1% / 0.1% FPP: optimal bits m = ceil(n·ln(1/p)/ln²2) and hash
  *    count k — the runtime-filter memory budget table (the DSv2
  *    scan's runtime filtering and q_bloom_join consume exactly such
  *    filters). Multipliers are shared literal constants.
  *  - q_rle_runs: run-length census of events.event_type under two
  *    physical orderings — raw arrival (event_id) vs user-clustered
  *    (user_id, event_id): run count and mean run length decide
  *    whether RLE pays. Arrival-order adjacency rides the
  *    block-decomposed GlobalRank; the clustered ordering needs only
  *    partition-local lag plus one run per partition head.
  */
object Round8aaQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_dict_encoding_plan" -> ((s, dir) => {
      def audit(df: DataFrame, colName: String,
          label: String): DataFrame = {
        val v = df.select(col(colName).as("v"))
        val base = v.agg(count(lit(1)).as("n_rows"),
          sum(octet_length(col("v"))).as("raw_bytes"))
        val dv = v.distinct().agg(count(lit(1)).as("ndv"),
          sum(octet_length(col("v"))).as("dict_payload"))
        base.crossJoin(broadcast(dv))
          .select(lit(label).as("column_name"), col("n_rows"),
            col("ndv"), col("raw_bytes"),
            length(bin(greatest(col("ndv") - 1, lit(1L))))
              .cast("long").as("code_bits"), col("dict_payload"))
          .select(col("column_name"), col("n_rows"), col("ndv"),
            col("raw_bytes"), col("code_bits"),
            (col("dict_payload").cast("double") +
              col("n_rows").cast("double") *
                col("code_bits").cast("double") / lit(8.0))
              .as("dict_bytes"))
          .select(col("*"),
            (col("raw_bytes").cast("double") / col("dict_bytes"))
              .as("compression_ratio"))
      }
      audit(Tables(s, dir, "lineitem"), "l_returnflag", "lineitem.l_returnflag")
        .unionByName(audit(Tables(s, dir, "lineitem"), "l_linestatus",
          "lineitem.l_linestatus"))
        .unionByName(audit(Tables(s, dir, "orders"), "o_orderpriority",
          "orders.o_orderpriority"))
        .unionByName(audit(Tables(s, dir, "orders"), "o_orderstatus",
          "orders.o_orderstatus"))
        .unionByName(audit(Tables(s, dir, "customer"), "c_mktsegment",
          "customer.c_mktsegment"))
        .orderBy("column_name")
    }),

    "q_bloom_size_plan" -> ((s, dir) => {
      val li = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey"))
      def keyNdv(k: String): DataFrame = li
        .agg(countDistinct(col(k)).as("ndv"))
        .select(lit(k).as("join_key"), col("ndv"))
      val ndvs = keyNdv("l_orderkey")
        .unionByName(keyNdv("l_partkey"))
        .unionByName(keyNdv("l_suppkey"))
      // ln(1/p)/ln²2 and ceil(ln(1/p)/ln2) as shared literals
      val plans = broadcast(s.range(2).select(
        element_at(array(lit(0.01), lit(0.001)),
          (col("id") + 1).cast("int")).as("fpp"),
        element_at(array(lit(9.58505837736744), lit(14.37758756605116)),
          (col("id") + 1).cast("int")).as("bits_per_key"),
        element_at(array(lit(7L), lit(10L)),
          (col("id") + 1).cast("int")).as("k_hashes")))
      ndvs.crossJoin(plans)
        .select(col("join_key"), col("fpp"), col("ndv"),
          ceil(col("ndv").cast("double") * col("bits_per_key"))
            .cast("long").as("bits"), col("k_hashes"))
        .select(col("*"),
          (col("bits").cast("double") / lit(8388608.0)).as("mbytes"))
        .orderBy("join_key", "fpp")
    }),

    "q_rle_runs" -> ((s, dir) => {
      val ev = graft.CacheScope.retain(Tables(s, dir, "events")
        .select("event_id", "user_id", "event_type"))
      // arrival order, block-decomposed: within-block changes via a
      // 1024-row-bucket window, plus block-boundary changes from the
      // tiny per-block first/last summary joined to its predecessor
      // block (non-equi max, robust to sparse event_ids) — counts
      // exactly every adjacent pair without a row-scale rank join
      val evb = ev.withColumn("blk", expr("event_id div 1024"))
      val wIn = Window.partitionBy("blk").orderBy("event_id")
      val within = evb
        .withColumn("prev", lag(col("event_type"), 1).over(wIn))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("prev").isNotNull &&
            col("prev") =!= col("event_type"), 1L).otherwise(0L))
            .as("in_changes"))
      val blocks = evb.groupBy("blk").agg(
        min_by(col("event_type"), col("event_id")).as("first_t"),
        max_by(col("event_type"), col("event_id")).as("last_t"))
      val prevBlk = blocks.as("a")
        .join(broadcast(blocks.as("b")), col("b.blk") < col("a.blk"))
        .groupBy(col("a.blk").as("blk"), col("a.first_t").as("first_t"))
        .agg(max_by(col("b.last_t"), col("b.blk")).as("prev_last"))
      // coalesce: with a single block (tiny sf) the predecessor join
      // is empty and SUM would return NULL
      val bchanges = prevBlk.agg(
        coalesce(sum(when(col("prev_last") =!= col("first_t"), 1L)
          .otherwise(0L)), lit(0L)).as("b_changes"))
      val arrival = within.crossJoin(broadcast(bchanges))
        .select(lit("1_arrival_order").as("ordering"), col("n_rows"),
          (col("in_changes") + col("b_changes") + 1).as("n_runs"))
      // user-clustered: partition-local lag + one run per user head
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val clusteredRuns = ev
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("prev").isNull ||
            col("prev") =!= col("event_type"), 1L).otherwise(0L))
            .as("n_runs"))
      val clustered = clusteredRuns
        .select(lit("2_user_clustered").as("ordering"), col("n_rows"),
          col("n_runs"))
      arrival.unionByName(clustered)
        .select(col("ordering"), col("n_rows"), col("n_runs"),
          (col("n_rows").cast("double") / col("n_runs").cast("double"))
            .as("avg_run_len"))
        .orderBy("ordering")
    }),
  )

  private def dictSql(table: String, c: String): String =
    s"""SELECT '$table.$c' AS column_name,
       |  base.n_rows AS n_rows, dv.ndv AS ndv,
       |  base.raw_bytes AS raw_bytes, dv.code_bits AS code_bits,
       |  CAST(dv.dict_payload AS DOUBLE) +
       |    CAST(base.n_rows AS DOUBLE) * CAST(dv.code_bits AS DOUBLE)
       |    / 8.0 AS dict_bytes,
       |  CAST(base.raw_bytes AS DOUBLE) /
       |    (CAST(dv.dict_payload AS DOUBLE) +
       |      CAST(base.n_rows AS DOUBLE) * CAST(dv.code_bits AS DOUBLE)
       |      / 8.0) AS compression_ratio
       |FROM (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(octet_length(encode($c))) AS BIGINT) AS raw_bytes
       |  FROM $table
       |) base CROSS JOIN (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS ndv,
       |    CAST(SUM(octet_length(encode(v))) AS BIGINT) AS dict_payload,
       |    CAST(LENGTH(BIN(greatest(COUNT(*) - 1, 1))) AS BIGINT)
       |      AS code_bits
       |  FROM (SELECT DISTINCT $c AS v FROM $table)
       |) dv""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dict_encoding_plan" -> Seq(
        ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
        ("orders", "o_orderpriority"), ("orders", "o_orderstatus"),
        ("customer", "c_mktsegment"))
      .map { case (tb, c) => dictSql(tb, c) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    "q_bloom_size_plan" ->
      """WITH ndvs AS (
        |  SELECT 'l_orderkey' AS join_key,
        |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey',
        |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey',
        |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) FROM lineitem
        |), plans AS (
        |  SELECT CAST(0.01 AS DOUBLE) AS fpp,
        |    CAST(9.58505837736744 AS DOUBLE) AS bits_per_key,
        |    CAST(7 AS BIGINT) AS k_hashes
        |  UNION ALL
        |  SELECT CAST(0.001 AS DOUBLE), CAST(14.37758756605116 AS DOUBLE),
        |    CAST(10 AS BIGINT)
        |)
        |SELECT join_key, fpp, ndv,
        |  CAST(ceil(CAST(ndv AS DOUBLE) * bits_per_key) AS BIGINT)
        |    AS bits,
        |  k_hashes,
        |  CAST(ceil(CAST(ndv AS DOUBLE) * bits_per_key) AS BIGINT)
        |    / 8388608.0 AS mbytes
        |FROM ndvs CROSS JOIN plans
        |ORDER BY join_key, fpp""".stripMargin,

    "q_rle_runs" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type FROM events
        |), arrival AS (
        |  SELECT '1_arrival_order' AS ordering,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> event_type
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |  FROM (
        |    SELECT event_type,
        |      LAG(event_type) OVER (ORDER BY event_id) AS prev
        |    FROM ev
        |  )
        |), clustered AS (
        |  SELECT '2_user_clustered' AS ordering,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> event_type
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |  FROM (
        |    SELECT event_type, LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY event_id) AS prev
        |    FROM ev
        |  )
        |)
        |SELECT ordering, n_rows, n_runs,
        |  CAST(n_rows AS DOUBLE) / CAST(n_runs AS DOUBLE)
        |    AS avg_run_len
        |FROM (SELECT * FROM arrival UNION ALL SELECT * FROM clustered)
        |ORDER BY ordering""".stripMargin,
  )
}
