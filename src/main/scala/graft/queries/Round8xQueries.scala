package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5Head, md5HeadSql}

/** Round-8 twenty-fourth batch: shard-placement planning — the data-
  * level companion to the sink's shard routing (hash / balanced /
  * shuffle strategies, `sink/dsv2/GraftClickHouseSource.scala`): before
  * you pick a distribution key or grow a cluster, measure what the
  * choice does.
  *
  *  - q_consistent_hash_ring: 32-vnode consistent-hashing ring over 4
  *    shards, then the same ring grown to 5 — per-shard key counts in
  *    both configurations and the moved-key fraction. The point of the
  *    ring: growth moves ~1/n of keys instead of reshuffling the
  *    world.
  *  - q_rebalance_matrix: the contrast arm — hash-MOD placement going
  *    4 -> 5 shards: the full from×to movement matrix. Mod resharding
  *    strands only ~1/5 of keys in place; read next to the ring's
  *    ~4/5 stay-rate, this is the case for consistent hashing.
  *  - q_shard_key_skew: candidate-distribution-key audit on lineitem
  *    (orderkey vs partkey vs suppkey, 32 hash shards): max/min/avg
  *    rows per shard and the max/avg imbalance ratio that decides
  *    whether a key is safe to shard on.
  *
  * Determinism: all placement is md5-derived exact integers (the
  * md5-head-as-long idiom shared bitwise with DuckDB); ratios are
  * single per-row divisions of integer aggregates.
  */
object Round8xQueries {

  /** First 8 hex chars of md5(expr) as an exact long in [0, 2^32). */
  /** vnode ring for `shards` shards: (shard, rpos), 32 vnodes each. */
  private def ring(s: SparkSession, shards: Int): DataFrame =
    s.range(shards * 32L).select(
      (col("id") / 32).cast("long").as("shard"),
      md5Head(concat(lit("ring:"), (col("id") / 32).cast("long"),
        lit(":"), col("id") % 32)).as("rpos"))

  /** Ring assignment: each key goes to the first vnode clockwise. */
  private def assign(keys: DataFrame, rg: DataFrame,
      as: String): DataFrame = {
    val hits = keys.crossJoin(broadcast(rg))
      .filter(col("rpos") >= col("kp"))
      .groupBy("k").agg(min("rpos").as("mpos"))
    val wrap = broadcast(rg.agg(min("rpos").as("wpos")))
    keys.join(hits, Seq("k"), "left").crossJoin(wrap)
      .select(col("k"), coalesce(col("mpos"), col("wpos")).as("cpos"))
      .join(broadcast(rg), col("cpos") === col("rpos"))
      .select(col("k"), col("shard").as(as))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_consistent_hash_ring" -> ((s, dir) => {
      val keys = graft.CacheScope.retain(Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k")).distinct()
        .withColumn("kp",
          md5Head(concat(lit("key:"), col("k").cast("string")))))
      val both = graft.CacheScope.retain(
        assign(keys, ring(s, 4), "s4")
          .join(assign(keys, ring(s, 5), "s5"), "k"))
      val moved = broadcast(both.agg(
        (sum(when(col("s4") =!= col("s5"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"))
          .as("moved_frac")))
      val before = both.groupBy(col("s4").as("shard"))
        .agg(count(lit(1)).as("n_before"))
      val after = both.groupBy(col("s5").as("shard"))
        .agg(count(lit(1)).as("n_after"))
      before.join(after, Seq("shard"), "full_outer")
        .crossJoin(moved)
        .select(col("shard"), coalesce(col("n_before"), lit(0L))
          .as("n_before"), coalesce(col("n_after"), lit(0L))
          .as("n_after"), col("moved_frac"))
        .orderBy("shard")
    }),

    "q_rebalance_matrix" -> ((s, dir) => {
      val keys = Tables(s, dir, "orders")
        .select(col("o_custkey").as("k")).distinct()
        .withColumn("h",
          md5Head(concat(lit("mod:"), col("k").cast("string"))))
      val routed = graft.CacheScope.retain(keys
        .select(col("k"), (col("h") % 4).as("from_shard"),
          (col("h") % 5).as("to_shard")))
      val total = broadcast(routed.agg(count(lit(1)).as("n_total"),
        (sum(when(col("from_shard") =!= col("to_shard"), 1L)
          .otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("moved_frac")))
      routed.groupBy("from_shard", "to_shard")
        .agg(count(lit(1)).as("n_keys"))
        .crossJoin(total)
        .select(col("from_shard"), col("to_shard"), col("n_keys"),
          col("n_total"), col("moved_frac"))
        .orderBy("from_shard", "to_shard")
    }),

    "q_shard_key_skew" -> ((s, dir) => {
      val li = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey"))
      def audit(key: String): DataFrame = li
        .select((md5Head(concat(lit(s"skew:$key:"),
          col(key).cast("string"))) % 32).as("shard"))
        .groupBy("shard").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_shards"), sum("c").as("n_rows"),
          max("c").as("max_rows"), min("c").as("min_rows"))
        .select(lit(key).as("shard_key"), col("n_shards"),
          col("n_rows"), col("max_rows"), col("min_rows"),
          (col("max_rows").cast("double") * col("n_shards")
            .cast("double") / col("n_rows").cast("double"))
            .as("max_over_avg"))
      audit("l_orderkey").unionByName(audit("l_partkey"))
        .unionByName(audit("l_suppkey"))
        .orderBy("shard_key")
    }),
  )

  private def ringSql(name: String, shards: Int): String =
    s"""$name AS (
       |  SELECT CAST(u.i // 32 AS BIGINT) AS shard,
       |    ${md5HeadSql(s"'ring:' || CAST(u.i // 32 AS VARCHAR) || " +
           s"':' || CAST(u.i % 32 AS VARCHAR)")} AS rpos
       |  FROM unnest(range(0, ${shards * 32})) u(i)
       |)""".stripMargin

  private def assignSql(rg: String, as: String): String =
    s"""SELECT a.k AS k, $rg.shard AS $as
       |FROM (
       |  SELECT k, COALESCE(
       |    (SELECT MIN(rpos) FROM $rg WHERE rpos >= kp),
       |    (SELECT MIN(rpos) FROM $rg)) AS cpos
       |  FROM keys
       |) a JOIN $rg ON a.cpos = $rg.rpos""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_consistent_hash_ring" ->
      s"""WITH keys AS (
         |  SELECT k, ${md5HeadSql("'key:' || CAST(k AS VARCHAR)")} AS kp
         |  FROM (SELECT DISTINCT o_orderkey AS k FROM orders)
         |), ${ringSql("r4", 4)}, ${ringSql("r5", 5)},
         |a4 AS (${assignSql("r4", "s4")}),
         |a5 AS (${assignSql("r5", "s5")}),
         |both_a AS (
         |  SELECT a4.k AS k, a4.s4 AS s4, a5.s5 AS s5
         |  FROM a4 JOIN a5 ON a4.k = a5.k
         |), moved AS (
         |  SELECT CAST(SUM(CASE WHEN s4 <> s5 THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS moved_frac
         |  FROM both_a
         |), before_c AS (
         |  SELECT s4 AS shard, CAST(COUNT(*) AS BIGINT) AS n_before
         |  FROM both_a GROUP BY s4
         |), after_c AS (
         |  SELECT s5 AS shard, CAST(COUNT(*) AS BIGINT) AS n_after
         |  FROM both_a GROUP BY s5
         |)
         |SELECT COALESCE(before_c.shard, after_c.shard) AS shard,
         |  COALESCE(n_before, 0) AS n_before,
         |  COALESCE(n_after, 0) AS n_after,
         |  moved.moved_frac AS moved_frac
         |FROM before_c FULL OUTER JOIN after_c
         |  ON before_c.shard = after_c.shard
         |CROSS JOIN moved
         |ORDER BY shard""".stripMargin,

    "q_rebalance_matrix" ->
      s"""WITH routed AS (
         |  SELECT k, h % 4 AS from_shard, h % 5 AS to_shard FROM (
         |    SELECT k, ${md5HeadSql("'mod:' || CAST(k AS VARCHAR)")} AS h
         |    FROM (SELECT DISTINCT o_custkey AS k FROM orders)
         |  )
         |), total AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         |    CAST(SUM(CASE WHEN from_shard <> to_shard THEN 1 ELSE 0
         |      END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS moved_frac
         |  FROM routed
         |)
         |SELECT from_shard, to_shard, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  total.n_total AS n_total, total.moved_frac AS moved_frac
         |FROM routed CROSS JOIN total
         |GROUP BY from_shard, to_shard, total.n_total, total.moved_frac
         |ORDER BY from_shard, to_shard""".stripMargin,

    "q_shard_key_skew" -> Seq("l_orderkey", "l_partkey", "l_suppkey")
      .map { key =>
        s"""SELECT '$key' AS shard_key,
           |  CAST(COUNT(*) AS BIGINT) AS n_shards,
           |  CAST(SUM(c) AS BIGINT) AS n_rows,
           |  CAST(MAX(c) AS BIGINT) AS max_rows,
           |  CAST(MIN(c) AS BIGINT) AS min_rows,
           |  CAST(MAX(c) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) /
           |    CAST(SUM(c) AS DOUBLE) AS max_over_avg
           |FROM (
           |  SELECT ${md5HeadSql(s"'skew:$key:' || CAST($key AS VARCHAR)")}
           |    % 32 AS shard, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM lineitem GROUP BY 1
           |)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY shard_key"),
  )
}
