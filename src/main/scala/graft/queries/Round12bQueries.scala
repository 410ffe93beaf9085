package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 second batch: deterministic heavy hitters — the ClickHouse
  * `topK` / `topKWeighted` / `anyHeavy` / `sparkbar` analog family
  * (r11 verdict #5), each as a TWO-PHASE exact-confirm pipeline (the
  * q_approx_distinct bound-verified pattern): a candidate set built
  * from per-shard summaries, exact counts for the candidates in pass
  * 2, and the algorithm's coverage GUARANTEE evaluated as booleans
  * inside the hashed output.
  *
  *  - q_topk_space_saving: top-10 users by event count. Phase 1 keeps,
  *    per md5 shard, the keys whose local count clears the space-
  *    saving threshold (200·local ≥ shard_total — any key with global
  *    count ≥ N/200 must clear it in ≥ 1 shard, by averaging); phase 2
  *    exact-counts the candidates only. `threshold_covered` pins the
  *    PROVABLE superset guarantee (every ≥ N/200 key is a candidate);
  *    `topk_covered` pins the empirical top-k coverage on this corpus.
  *  - q_topk_weighted: same machinery on SUM(l_quantity) weight per
  *    part (CH topKWeighted) — the averaging argument holds verbatim
  *    for sums of non-negative integer weights (φ = 1/4000).
  *  - q_any_heavy: CH anyHeavy per event_type — distributed Boyer–
  *    Moore: a strict majority in the group must be the strict
  *    majority of ≥ 1 shard (averaging), so per-(type, shard) top-1
  *    winners form the candidate set; `bm_guarantee_holds` =
  *    (no majority) OR (mode ∈ candidates) is provably TRUE and sits
  *    in the hash.
  *  - q_sparkbar: CH `sparkbar(32)` — the adaptive event-density bar
  *    chart over the corpus date range: 32 equal-width day buckets,
  *    bar level = (count·8) div max_count (integer 0..8, exactly the
  *    8-step bar alphabet), all arithmetic integral.
  *
  * Shards are md5-of-row-id coins (16-way, the engine's deterministic
  * stand-in for physical partitions — a spark_partition_id() summary
  * would flip under the reconfiguration sweep), so phase 1 is a
  * map-side-combinable keyed aggregate, never a corpus sort. On this
  * UNIFORM synthetic corpus the threshold prunes little (the audit
  * columns n_keys/n_candidates report exactly that); on a Zipf
  * production corpus the candidate set is where the 100 TB win lives —
  * pass 2 touches only candidate keys either way.
  */
object Round12bQueries {

  /** 16-way md5 shard coin: value of the 8th hex digit of
    * md5(tag || rowKey) — deterministic under any partitioning.
    */
  private def shard(tag: String, rowKey: Column): Column =
    conv(substring(md5(concat(lit(tag), rowKey.cast("string"))), 8, 1),
      16, 10).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_topk_space_saving" -> ((s, dir) => {
      // r12: one retained ground-truth aggregate serves phase 2, the
      // top-10, and the row total (see q_topk_weighted's note)
      // retained + spread: ev feeds BOTH the sharded phase-1 summary and
      // the ground-truth aggregate — without it each arm re-ran the
      // 1-row-group scan as its own single task (guide §1.2, §2.5)
      val ev = graft.CacheScope.retain(PipelineQueries.spread(s,
        Tables(s, dir, "events")
          .filter(col("user_id").isNotNull)
          .select(col("event_id"), col("user_id"))))
      val local = ev.withColumn("sh", shard("ss", col("event_id")))
        .groupBy("sh", "user_id").agg(count(lit(1)).as("ln"))
      val shTot = local.groupBy("sh").agg(sum(col("ln")).as("st"))
      // space-saving threshold: global n >= N/200 implies 200·ln >= st
      // in at least one shard (averaging), so this union is a provable
      // superset of the >= N/200 keys
      val cands = local.join(broadcast(shTot), "sh")
        .filter(col("ln") * 200 >= col("st"))
        .select("user_id").distinct()
      // verification side: the true counts (the oracle's ground truth)
      val full = graft.CacheScope.retain(
        ev.groupBy("user_id").agg(count(lit(1)).as("n")))
      val exact = full.join(broadcast(cands), Seq("user_id"), "left_semi")
        .select(col("user_id"), col("n").as("n_events"))
      val top10 = exact
        .orderBy(col("n_events").desc, col("user_id").asc).limit(10)
        .withColumn("rnk", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("n_events").desc,
            col("user_id").asc))) // 10-row post-limit frame
      val fullTop = full.orderBy(col("n").desc, col("user_id").asc).limit(10)
      // coalesce: the old COUNT(*) total is 0 (not NULL) on an empty corpus
      val nTot = full.agg(coalesce(sum(col("n")), lit(0L)).as("n_total"))
      val stats = full.agg(count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(cands.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(fullTop.join(cands, Seq("user_id"),
            "left_anti").agg((count(lit(1)) === 0).as("topk_covered"))))
        .crossJoin(broadcast(full.crossJoin(broadcast(nTot))
          .filter(col("n") * 200 >= col("n_total"))
          .join(cands, Seq("user_id"), "left_anti")
          .agg((count(lit(1)) === 0).as("threshold_covered"))))
      top10.crossJoin(broadcast(stats))
        .select("rnk", "user_id", "n_events", "n_keys", "n_candidates",
          "topk_covered", "threshold_covered")
        .orderBy("rnk")
    }),

    "q_topk_weighted" -> ((s, dir) => {
      // r12 (guide §1.2/§2.4): ONE spread scan of lineitem feeds the
      // sharded phase-1 summary, and ONE retained ground-truth aggregate
      // (`full`, needed for the verification columns anyway) also serves
      // as phase 2's exact counts and the weight total — the old shape
      // re-scanned and re-aggregated the raw 1-row-group file four
      // times, serially each time. Results are identical: candidate
      // exact counts read off the full exact aggregate, and the integer
      // total is the sum of per-key sums.
      val li = graft.CacheScope.retain(PipelineQueries.spread(s,
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity").cast("long").as("w"))))
      val rowKey = concat(col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string"), lit("_"),
        col("l_partkey").cast("string"))
      val local = li.withColumn("sh", shard("tw", rowKey))
        .groupBy("sh", "l_partkey").agg(sum(col("w")).as("lw"))
      val shTot = local.groupBy("sh").agg(sum(col("lw")).as("stw"))
      val cands = local.join(broadcast(shTot), "sh")
        .filter(col("lw") * 4000 >= col("stw"))
        .select("l_partkey").distinct()
      val full = graft.CacheScope.retain(li.groupBy("l_partkey")
        .agg(sum(col("w")).as("fw"), count(lit(1)).as("n_rows")))
      val exact = full.join(broadcast(cands), Seq("l_partkey"), "left_semi")
        .select(col("l_partkey"), col("fw").as("weight"), col("n_rows"))
      val top10 = exact
        .orderBy(col("weight").desc, col("l_partkey").asc).limit(10)
        .withColumn("rnk", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("weight").desc,
            col("l_partkey").asc)))
      val fullTop = full.orderBy(col("fw").desc, col("l_partkey").asc)
        .limit(10)
      val wTot = full.agg(sum(col("fw")).as("w_total"))
      val stats = full.agg(count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(cands.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(fullTop.join(cands, Seq("l_partkey"),
            "left_anti").agg((count(lit(1)) === 0).as("topk_covered"))))
        .crossJoin(broadcast(full.crossJoin(broadcast(wTot))
          .filter(col("fw") * 4000 >= col("w_total"))
          .join(cands, Seq("l_partkey"), "left_anti")
          .agg((count(lit(1)) === 0).as("threshold_covered"))))
      top10.crossJoin(broadcast(stats))
        .select("rnk", "l_partkey", "weight", "n_rows", "n_keys",
          "n_candidates", "topk_covered", "threshold_covered")
        .orderBy("rnk")
    }),

    "q_any_heavy" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), col("event_type"), col("user_id"))
      // r12 (guide §2.3/§4): one retained (type, shard, user) count is
      // the finest aggregate — the per-type counts are its shard-sums,
      // so events are scanned and md5-sharded ONCE (was twice). Both
      // argmaxes (count DESC, user ASC) are packed-long max aggregates:
      // max_by over a struct ordering key plans a SortAggregate
      // (non-mutable buffer), which re-sorted the count table map-side;
      // (c << 32) | (2^32-1 − user) keeps whole-stage-codegen
      // HashAggregates. Pack preconditions guarded loud (ktruss idiom).
      val m32 = lit(0xFFFFFFFFL)
      def packCU(c: Column, u: Column): Column =
        when(c < lit(1L << 31) && u >= 0 && u <= m32,
          shiftleft(c, 32).bitwiseOR(m32 - u))
          .otherwise(raise_error(concat(lit("anyHeavy pack overflow: "),
            c.cast("string"), lit(","), u.cast("string"))).cast("long"))
      val lc = graft.CacheScope.retain(
        ev.withColumn("sh", shard("ah", col("event_id")))
          .groupBy("event_type", "sh", "user_id")
          .agg(count(lit(1)).as("lc")))
      val cnt = lc.groupBy("event_type", "user_id")
        .agg(sum(col("lc")).as("c"))
      // exact per-type mode, (count DESC, user ASC) tie-break — the
      // map-side-combinable argmax, never a per-type sort of raw rows
      val mode = cnt.groupBy("event_type")
        .agg(max(packCU(col("c"), col("user_id"))).as("p"),
          max(col("c")).as("mode_n"),
          sum(col("c")).as("n_events"))
        .select(col("event_type"),
          (m32 - col("p").bitwiseAND(m32)).as("mode_user"),
          col("mode_n"), col("n_events"))
      // Boyer–Moore candidates: per-(type, shard) top-1 — a strict
      // majority of the type must be the strict majority (hence the
      // unique top-1) of at least one shard
      val cands = lc
        .groupBy("event_type", "sh")
        .agg(max(packCU(col("lc"), col("user_id"))).as("p"))
        .select(col("event_type"),
          (m32 - col("p").bitwiseAND(m32)).as("cand_user")).distinct()
      val inCand = mode.join(cands,
          mode("event_type") === cands("event_type") &&
            col("mode_user") === col("cand_user"), "left_semi")
        .select(col("event_type"), lit(true).as("mode_in_candidates"))
      mode.join(broadcast(cands.groupBy("event_type")
          .agg(count(lit(1)).as("n_candidates"))), Seq("event_type"))
        .join(broadcast(inCand), Seq("event_type"), "left")
        .withColumn("mode_in_candidates",
          coalesce(col("mode_in_candidates"), lit(false)))
        .withColumn("is_majority", col("mode_n") * 2 > col("n_events"))
        // the Boyer–Moore theorem: a majority element is always among
        // the per-shard winners — provably TRUE, pinned in the hash
        .withColumn("bm_guarantee_holds",
          !col("is_majority") || col("mode_in_candidates"))
        .select("event_type", "n_events", "mode_user", "mode_n",
          "n_candidates", "is_majority", "bm_guarantee_holds")
        .orderBy("event_type")
    }),

    "q_sparkbar" -> ((s, dir) => {
      val d = Tables(s, dir, "events")
        .filter(col("ts").isNotNull)
        .select(expr("unix_date(to_date(ts))").cast("long").as("day"))
      val rng = d.agg(min(col("day")).as("d_min"),
        max(col("day")).as("d_max"))
      val bucketed = d.crossJoin(broadcast(rng))
        .withColumn("width", col("d_max") - col("d_min") + 1)
        .withColumn("bucket",
          expr("((day - d_min) * 32) div width").cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), max(col("d_min")).as("d_min"),
          max(col("width")).as("width"))
      val maxN = bucketed.agg(max(col("n")).as("max_n"))
      bucketed.crossJoin(broadcast(maxN))
        .select(col("bucket"),
          (col("d_min") + expr("(bucket * width) div 32")).as("day_lo"),
          col("n"),
          expr("(n * 8) div max_n").as("level"))
        .orderBy("bucket")
    }))

  /** DuckDB mirror of `shard`: the 8th hex digit of md5(tag || key). */
  private def shardSql(tag: String, key: String): String =
    s"CAST(strpos('0123456789abcdef', " +
      s"substring(md5('$tag' || CAST($key AS VARCHAR)), 8, 1)) - 1 AS BIGINT)"

  val oracle: Map[String, String] = Map(

    "q_topk_space_saving" -> {
      val sh = shardSql("ss", "event_id")
      s"""WITH ev AS (
        |  SELECT event_id, user_id FROM events WHERE user_id IS NOT NULL
        |), local AS (
        |  SELECT $sh AS sh, user_id, COUNT(*) AS ln
        |  FROM ev GROUP BY 1, 2
        |), shtot AS (SELECT sh, SUM(ln) AS st FROM local GROUP BY 1),
        |cands AS (
        |  SELECT DISTINCT user_id FROM local JOIN shtot USING (sh)
        |  WHERE ln * 200 >= st
        |), exact AS (
        |  SELECT ev.user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM ev SEMI JOIN cands ON ev.user_id = cands.user_id
        |  GROUP BY 1
        |), top10 AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id)
        |      AS INTEGER) AS rnk, user_id, n_events
        |  FROM exact ORDER BY n_events DESC, user_id LIMIT 10
        |), fullc AS (
        |  SELECT user_id, COUNT(*) AS n FROM ev GROUP BY 1
        |), fulltop AS (
        |  SELECT user_id FROM fullc ORDER BY n DESC, user_id LIMIT 10
        |), stats AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fullc) AS n_keys,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_candidates,
        |    (SELECT COUNT(*) = 0 FROM fulltop ANTI JOIN cands
        |      ON fulltop.user_id = cands.user_id) AS topk_covered,
        |    (SELECT COUNT(*) = 0 FROM fullc ANTI JOIN cands
        |      ON fullc.user_id = cands.user_id
        |      WHERE fullc.n * 200 >= (SELECT COUNT(*) FROM ev))
        |      AS threshold_covered
        |)
        |SELECT rnk, user_id, n_events, n_keys, n_candidates,
        |  topk_covered, threshold_covered
        |FROM top10 CROSS JOIN stats ORDER BY rnk""".stripMargin
    },

    "q_topk_weighted" -> {
      val sh = shardSql("tw",
        "l_orderkey || '_' || l_linenumber || '_' || l_partkey")
      s"""WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem
        |), local AS (
        |  SELECT $sh AS sh, l_partkey, SUM(w) AS lw
        |  FROM li GROUP BY 1, 2
        |), shtot AS (SELECT sh, SUM(lw) AS stw FROM local GROUP BY 1),
        |cands AS (
        |  SELECT DISTINCT l_partkey FROM local JOIN shtot USING (sh)
        |  WHERE lw * 4000 >= stw
        |), exact AS (
        |  SELECT li.l_partkey, CAST(SUM(w) AS BIGINT) AS weight,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM li SEMI JOIN cands ON li.l_partkey = cands.l_partkey
        |  GROUP BY 1
        |), top10 AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, l_partkey)
        |      AS INTEGER) AS rnk, l_partkey, weight, n_rows
        |  FROM exact ORDER BY weight DESC, l_partkey LIMIT 10
        |), fullc AS (
        |  SELECT l_partkey, SUM(w) AS fw FROM li GROUP BY 1
        |), fulltop AS (
        |  SELECT l_partkey FROM fullc ORDER BY fw DESC, l_partkey LIMIT 10
        |), stats AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fullc) AS n_keys,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_candidates,
        |    (SELECT COUNT(*) = 0 FROM fulltop ANTI JOIN cands
        |      ON fulltop.l_partkey = cands.l_partkey) AS topk_covered,
        |    (SELECT COUNT(*) = 0 FROM fullc ANTI JOIN cands
        |      ON fullc.l_partkey = cands.l_partkey
        |      WHERE fullc.fw * 4000 >= (SELECT SUM(w) FROM li))
        |      AS threshold_covered
        |)
        |SELECT rnk, l_partkey, weight, n_rows, n_keys, n_candidates,
        |  topk_covered, threshold_covered
        |FROM top10 CROSS JOIN stats ORDER BY rnk""".stripMargin
    },

    "q_any_heavy" -> {
      val sh = shardSql("ah", "event_id")
      s"""WITH ev AS (
        |  SELECT event_id, event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |), cnt AS (
        |  SELECT event_type, user_id, COUNT(*) AS c FROM ev GROUP BY 1, 2
        |), moden AS (
        |  SELECT event_type, CAST(MAX(c) AS BIGINT) AS mode_n,
        |    CAST(SUM(c) AS BIGINT) AS n_events
        |  FROM cnt GROUP BY 1
        |), mode AS (
        |  -- argmax by (count DESC, user ASC): smallest user at max count
        |  SELECT m.event_type, MIN(cnt.user_id) AS mode_user,
        |    MAX(m.mode_n) AS mode_n, MAX(m.n_events) AS n_events
        |  FROM moden m JOIN cnt ON cnt.event_type = m.event_type
        |    AND cnt.c = m.mode_n
        |  GROUP BY 1
        |), localc AS (
        |  SELECT event_type, $sh AS sh, user_id, COUNT(*) AS lc
        |  FROM ev GROUP BY 1, 2, 3
        |), lmax AS (
        |  SELECT event_type, sh, MAX(lc) AS mlc FROM localc GROUP BY 1, 2
        |), cands AS (
        |  SELECT DISTINCT event_type, cand_user FROM (
        |    SELECT l.event_type, l.sh, MIN(l.user_id) AS cand_user
        |    FROM localc l JOIN lmax m ON l.event_type = m.event_type
        |      AND l.sh = m.sh AND l.lc = m.mlc
        |    GROUP BY 1, 2)
        |), ncand AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM (SELECT DISTINCT event_type, cand_user FROM cands)
        |  GROUP BY 1
        |)
        |SELECT m.event_type, m.n_events, m.mode_user, m.mode_n,
        |  nc.n_candidates,
        |  m.mode_n * 2 > m.n_events AS is_majority,
        |  (NOT (m.mode_n * 2 > m.n_events)) OR EXISTS (
        |    SELECT 1 FROM cands c WHERE c.event_type = m.event_type
        |      AND c.cand_user = m.mode_user) AS bm_guarantee_holds
        |FROM mode m JOIN ncand nc ON m.event_type = nc.event_type
        |ORDER BY m.event_type""".stripMargin
    },

    "q_sparkbar" ->
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day
        |  FROM events WHERE ts IS NOT NULL
        |), rng AS (
        |  SELECT MIN(day) AS d_min, MAX(day) AS d_max,
        |    MAX(day) - MIN(day) + 1 AS width
        |  FROM d
        |), bucketed AS (
        |  SELECT ((day - d_min) * 32) // width AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    MAX(d_min) AS d_min, MAX(width) AS width
        |  FROM d CROSS JOIN rng GROUP BY 1
        |), mx AS (SELECT MAX(n) AS max_n FROM bucketed)
        |SELECT bucket, d_min + (bucket * width) // 32 AS day_lo, n,
        |  (n * 8) // max_n AS level
        |FROM bucketed CROSS JOIN mx ORDER BY bucket""".stripMargin)
}
