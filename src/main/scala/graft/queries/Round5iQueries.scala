package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5i batch: sketch/metadata machinery around the corpus —
  * a Count-Min sketch (deterministic md5 hash rows, so exactly
  * oracled — the frequency analog of the KMV distinct sketch), the
  * cross-source duplication matrix, FUZZY benchmark decontamination
  * (MinHash-band candidates + exact-Jaccard confirm between corpus and
  * held-out docs — what production pipelines actually run, where
  * decontam_ngram is the exact-overlap form), a stats-based partition
  * prune audit (the min/max-fences decision a metadata scan makes
  * before touching data), and survivorship (golden-record construction
  * per duplicate cluster).
  *
  * Determinism rules (see Round5Queries): counts, md5-derived hashes
  * and integer arithmetic throughout; the only doubles are mirrored
  * single divisions.
  */
object Round5iQueries {

  /** Deterministic CMS cell column for hash row r over a key column:
    * first 8 md5 hex chars of "r:key" mod 64.
    */
  private def cmsCol(r: Int, key: org.apache.spark.sql.Column) =
    pmod(conv(substring(md5(concat(lit(s"$r:"), key.cast("string"))),
      1, 8), 16, 10).cast("long"), lit(64L))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Count-Min sketch over the event stream (4 hash rows × 64
    // columns): each event increments one cell per row; a key's
    // estimate is the MIN over its 4 cells, an overestimate by
    // construction (collisions only add). Deterministic md5 rows make
    // it exactly oracle-checkable, unlike a seeded-RNG CMS. The sketch
    // build is one map-side-combined aggregate to ≤256 cells — at
    // 100 TB the shuffle moves 256 longs per partition, and sketches
    // from different days/partitions merge by cell-wise addition (the
    // same mergeability KMV gives distinct counts). Five fixed probe
    // users carry the exact-vs-estimate comparison.
    "q_cms_freq" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val cells = ev.select(explode(array((0 until 4).map(r =>
          struct(lit(r).as("r"), cmsCol(r, col("user_id")).as("c"))): _*))
          .as("h"))
        .groupBy(col("h.r").as("r"), col("h.c").as("c"))
        .agg(count(lit(1)).as("n"))
      val probeIds = Seq(1L, 7L, 42L, 99L, 150L)
      val probes = s.createDataFrame(
        s.sparkContext.parallelize(probeIds.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType))))
      val probeCells = probes.select(col("user_id"),
          explode(array((0 until 4).map(r =>
            struct(lit(r).as("r"), cmsCol(r, col("user_id")).as("c"))): _*))
            .as("h"))
        .select(col("user_id"), col("h.r").as("r"), col("h.c").as("c"))
      val est = probeCells.join(cells, Seq("r", "c"), "left")
        .groupBy("user_id")
        .agg(min(coalesce(col("n"), lit(0L))).as("cms_estimate"))
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      est.join(exact, Seq("user_id"), "left")
        .select(col("user_id"), col("cms_estimate"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"))
        .orderBy("user_id")
    }),

    // Cross-source duplication matrix — which source pairs share exact
    // duplicates (the report that decides which ingest feeds to
    // de-prioritize): distinct (content-hash, source) pairs self-joined
    // on the hash, counted per ordered source pair. The join key is the
    // 64-char hash, never the text; distinct-before-join caps each
    // hash's fan-out at (#sources)².
    "q_source_overlap_matrix" -> ((s, dir) => {
      val hs = Tables(s, dir, "documents")
        .select(sha2(col("text"), 256).as("h"), col("source")).distinct()
      hs.as("a").join(hs.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared_clusters"))
        .orderBy("src_a", "src_b")
    }),

    // FUZZY decontamination — near-duplicate overlap between the corpus
    // and the held-out benchmark slice (doc_id % 50 == 0, as
    // decontam_ngram): MinHash band keys generate cross-side candidates
    // (no corpus×bench product ever forms), exact shingle Jaccard ≥ 0.5
    // confirms. This is the decontam production pipelines run — exact
    // n-gram overlap misses paraphrased leakage that near-dup catches.
    "decontam_fuzzy" -> ((s, dir) => {
      val docs = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
      val bands = docs.select(col("doc_id"),
        posexplode(call_function("graft_minhash_bands", col("sh")))
          .as(Seq("band_idx", "band_key")))
      val bench = bands.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = bands.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val cand = corpus.as("c").join(bench.as("b"),
          col("c.band_idx") === col("b.band_idx") &&
            col("c.band_key") === col("b.band_key"))
        .select(col("c.doc_id").as("corpus_id"),
          col("b.doc_id").as("bench_id"))
        .distinct()
      val sc = docs.select(col("doc_id").as("corpus_id"),
        col("sh").as("sh_c"))
      val sb = docs.select(col("doc_id").as("bench_id"),
        col("sh").as("sh_b"))
      sc.join(broadcast(cand), "corpus_id").join(sb, "bench_id")
        .withColumn("inter",
          PipelineQueries.interSize(col("sh_c"), col("sh_b")))
        .withColumn("jacc", col("inter") /
          (size(col("sh_c")) + size(col("sh_b")) - col("inter")))
        .filter(col("jacc") >= 0.5)
        .select("corpus_id", "bench_id", "jacc")
        .orderBy("corpus_id", "bench_id")
    }),

    // Partition prune audit — the metadata decision a reader makes
    // before touching data: per order-month "partition", row count and
    // min/max fences on o_totalprice, and whether the fixed predicate
    // [150000, 300000] can skip the partition outright (hi < lo-bound
    // or lo > hi-bound). The audit runs on aggregates only — one
    // combine shuffle to ~#partitions rows; at 100 TB these fences ARE
    // the manifest stats, and this query is the skip-rate report.
    "q_partition_prune_audit" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(unix_millis(date_trunc("month", col("o_orderdate")))
          .as("month_ms"))
        .agg(count(lit(1)).as("n_rows"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        .withColumn("pruned",
          col("hi") < 150000.0 || col("lo") > 300000.0)
        .orderBy("month_ms")),

    // Survivorship — golden-record construction per exact-dup cluster:
    // canonical id (smallest), the field-level merges (max length,
    // sorted distinct langs/sources as csv), and member count. The MDM
    // counterpart of dedup_keep_best (which picks ONE member; this
    // merges fields ACROSS members). One content-hash-partitioned
    // aggregate; sorted csv keeps the set deterministic.
    "q_survivorship" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(min("doc_id").as("golden_id"),
          max("n_chars").as("max_chars"),
          nullif(concat_ws(",", array_sort(collect_set(col("lang")))),
            lit(""))
            .as("langs"),
          // nullif: an all-NULL member set concats to '' in Spark but
          // aggregates to NULL in DuckDB's string_agg — pin NULL
          nullif(concat_ws(",", array_sort(collect_set(col("source")))),
            lit("")).as("sources"),
          count(lit(1)).as("n_members"))
        .select("golden_id", "max_chars", "langs", "sources", "n_members")
        .orderBy("golden_id")),
  )

  private val hexToLong =
    """list_reduce([CAST(0 AS BIGINT)] || list_transform(
      |      string_split_regex(HEXPART, ''),
      |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
      |      (acc, v) -> acc * 16 + v)""".stripMargin

  private def cmsCellSql(r: Int, key: String): String =
    hexToLong.replace("HEXPART",
      s"substring(md5('$r:' || CAST($key AS VARCHAR)), 1, 8)") + " % 64"

  val oracle: Map[String, String] = Map(

    "q_cms_freq" -> {
      val rows = (0 until 4).map(r =>
        s"SELECT user_id, $r AS r, ${cmsCellSql(r, "user_id")} AS c FROM events")
        .mkString("\n  UNION ALL\n  ")
      val probeRows = (0 until 4).map(r =>
        s"SELECT user_id, $r AS r, ${cmsCellSql(r, "user_id")} AS c FROM p")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH hashed AS (
         |  $rows
         |), cells AS (
         |  SELECT r, c, COUNT(*) AS n FROM hashed GROUP BY 1, 2
         |), p AS (
         |  SELECT UNNEST([CAST(1 AS BIGINT), 7, 42, 99, 150]) AS user_id
         |), pc AS (
         |  $probeRows
         |), est AS (
         |  SELECT pc.user_id,
         |    MIN(COALESCE(cells.n, 0)) AS cms_estimate
         |  FROM pc LEFT JOIN cells ON pc.r = cells.r AND pc.c = cells.c
         |  GROUP BY 1
         |), ex AS (
         |  SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY 1
         |)
         |SELECT est.user_id, est.cms_estimate,
         |  COALESCE(ex.exact_n, 0) AS exact_n
         |FROM est LEFT JOIN ex USING (user_id)
         |ORDER BY est.user_id""".stripMargin
    },

    "q_source_overlap_matrix" ->
      """WITH hs AS (
        |  SELECT DISTINCT sha256(text) AS h, source FROM documents
        |)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  COUNT(*) AS n_shared_clusters
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "decontam_fuzzy" ->
      s"""${PipelineQueries.bandsCte},
         |cand AS (
         |  SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS bench_id
         |  FROM bands c JOIN bands b
         |    ON c.band_idx = b.band_idx AND c.band_key = b.band_key
         |  WHERE c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
         |), j AS (
         |  SELECT cand.corpus_id, cand.bench_id,
         |    len(list_intersect(sc.s, sb.s)) AS inter,
         |    len(sc.s) AS lc, len(sb.s) AS lb
         |  FROM cand
         |    JOIN sh sc ON sc.doc_id = cand.corpus_id
         |    JOIN sh sb ON sb.doc_id = cand.bench_id
         |)
         |SELECT corpus_id, bench_id,
         |  inter / (lc + lb - inter) AS jacc
         |FROM j WHERE inter / (lc + lb - inter) >= 0.5
         |ORDER BY corpus_id, bench_id""".stripMargin,

    "q_partition_prune_audit" ->
      """SELECT epoch_ms(date_trunc('month', o_orderdate)) AS month_ms,
        |  COUNT(*) AS n_rows,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  (MAX(o_totalprice) < 150000.0 OR MIN(o_totalprice) > 300000.0)
        |    AS pruned
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_survivorship" ->
      """SELECT MIN(doc_id) AS golden_id,
        |  MAX(n_chars) AS max_chars,
        |  array_to_string(list_sort(list_distinct(list(lang))), ',')
        |    AS langs,
        |  array_to_string(list_sort(list_distinct(list(source))), ',')
        |    AS sources,
        |  COUNT(*) AS n_members
        |FROM documents GROUP BY sha256(text)
        |ORDER BY golden_id""".stripMargin,
  )
}
