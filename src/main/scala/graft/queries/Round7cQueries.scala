package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.Tables
import graft.queries.QueryKit.{md5Head, md5HeadSql}

/** Round-7 third batch: sampling/routing plans and similarity audits.
  *
  *  - sample_importance: quality-band importance sampling with exact
  *    binary keep rates (the "downsample the junk, keep the good"
  *    plan a data-mixing run executes)
  *  - q_emb_pair_distance_hist: blocked-sample pairwise-cosine
  *    histogram — the embedding-collapse audit (a healthy space is
  *    spread; a collapsed one piles mass at cos ~ 1)
  *  - multimodal_stft_plan: audio STFT frame plan (win/hop
  *    arithmetic per clip, rolled up per source)
  *  - q_shingle_idf_jaccard: rarity-weighted Jaccard over LSH
  *    candidate pairs — common boilerplate shingles stop inflating
  *    similarity, rare shared content dominates
  *  - dedup_keep_policy_compare: do "keep lowest id" and "keep
  *    longest" pick different survivors, and how many docs ride on
  *    the difference
  *  - multimodal_codec_route: decode-pool routing census by codec
  *    magic x size class, with per-route batch counts
  *
  * Determinism: integer sufficient statistics; every double is one
  * mirrored division (or an identically-ordered IEEE fold both
  * engines reproduce bitwise).
  */
object Round7cQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Importance sampling by quality band: band 4 (longest docs) keeps
    // everything, each band below keeps half the band above — rates
    // are exact binary fractions, so "coin * 2^(4-band) < 2^32" is an
    // integer comparison with zero FP. One scan, no shuffle before the
    // 4-row rollup; the coin is the md5 route every sampling op here
    // uses (reproducible across runs AND across engines).
    "sample_importance" -> ((s, dir) => {
      val coin = md5Head(concat(lit("imp"), col("doc_id").cast("string")))
      val two32 = 4294967296L
      Tables(s, dir, "documents")
        .withColumn("tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("band",
          when(col("tok") >= 64, 4).when(col("tok") >= 32, 3)
            .when(col("tok") >= 16, 2).otherwise(1))
        .withColumn("kept",
          coin * pow(lit(2), lit(4) - col("band")).cast("long") < two32)
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum("tok").as("tok_total"),
          sum(when(col("kept"), col("tok")).otherwise(0L)).as("tok_kept"))
        .withColumn("eff_rate",
          col("n_kept").cast("double") / col("n_docs"))
        .orderBy("band")
    }),

    // Pairwise-cosine histogram over a deterministic blocked sample:
    // vectors land in 16 blocks by id, pairs form within a block only
    // (an equi-join, never a cartesian) — n²/16 of the pair space,
    // which is a representative sample because block assignment is
    // independent of geometry. At 100x, raise the block count: work is
    // n²/B and stays a choice, not a consequence. Band boundaries are
    // exact because both engines run the identical fold + divide.
    "q_emb_pair_distance_hist" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", normD(col("embedding")))
        .withColumn("g", pmod(col("vec_id"), lit(16L)))
      val pairs = e.as("a").join(e.as("b"),
          col("a.g") === col("b.g") &&
            col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          dotD(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
      pairs
        .withColumn("band",
          least(greatest(floor((col("cos") + 1.0) * 8).cast("int"),
            lit(0)), lit(15)))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .orderBy("band")
    }),

    // Audio STFT frame plan: n_chars stands in for the PCM sample
    // count (x100 ~ a 16 kHz clip; the decoder is the stubbed
    // boundary, the plan arithmetic is the deliverable — same
    // contract as multimodal_chunk_plan). win=400/hop=160 are the
    // classic 25 ms / 10 ms; frames = 1 + (samples-win) div hop.
    // Zero-shuffle until the per-source rollup.
    "multimodal_stft_plan" -> ((s, dir) => {
      val win = 400L
      val hop = 160L
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("n_chars") * 100L).as("samples"))
        .withColumn("n_frames",
          when(col("samples") >= win,
            call_function("div", col("samples") - win, lit(hop)) + 1L)
            .otherwise(0L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_clips"),
          sum("samples").as("samples_total"),
          sum("n_frames").as("frames_total"),
          max("n_frames").as("frames_max"))
        .orderBy("source")
    }),

    // Rarity-weighted Jaccard on the LSH candidate set: shingle weight
    // = n_docs - df + 1 (an integer rarity score — no log, no FP), so
    // two docs sharing boilerplate score low while two docs sharing a
    // rare passage score high. Weighted |A∩B| comes from the shingle
    // equi-join restricted to candidate pairs; weighted |A∪B| =
    // wA + wB - wInter from per-doc totals — all BIGINT sums, one
    // division at the end. Work scales with candidate-pair shingle
    // mass (LSH-bounded), never n².
    "q_shingle_idf_jaccard" -> ((s, dir) => {
      val docs = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .withColumn("sh", call_function("graft_shingles", col("text")))
      val sg = graft.CacheScope.retain(docs
        .select(col("doc_id"), explode(col("sh")).as("g")))
      val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      val wg = sg.groupBy("g").agg(count(lit(1)).as("df"))
        .crossJoin(nDocs)
        .select(col("g"), (col("n_docs") - col("df") + 1L).as("w"))
      val sgw = graft.CacheScope.retain(
        sg.join(wg, "g").select(col("doc_id"), col("g"), col("w")))
      val bands = docs.select(col("doc_id"),
        posexplode(call_function("graft_minhash_bands", col("sh")))
          .as(Seq("band_idx", "band_key")))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val tot = sgw.groupBy("doc_id").agg(sum("w").as("wt"))
      val interW = sgw.select(col("doc_id").as("a_id"), col("g"), col("w"))
        .join(broadcast(cand), "a_id")
        .join(sgw.select(col("doc_id").as("b_id"), col("g")),
          Seq("b_id", "g"))
        .groupBy("a_id", "b_id").agg(sum("w").as("w_inter"))
      interW
        .join(tot.select(col("doc_id").as("a_id"), col("wt").as("w_a")), "a_id")
        .join(tot.select(col("doc_id").as("b_id"), col("wt").as("w_b")), "b_id")
        .withColumn("w_union", col("w_a") + col("w_b") - col("w_inter"))
        .withColumn("wjacc",
          col("w_inter").cast("double") / col("w_union"))
        .filter(col("wjacc") >= 0.3)
        .select("a_id", "b_id", "w_inter", "w_union", "wjacc")
        .orderBy("a_id", "b_id")
    }),

    // Keeper-policy disagreement audit over exact-dup clusters: policy
    // A keeps the lowest doc_id, policy B the longest doc (ties to the
    // lowest id). Both keepers derive from windows over the content-
    // hash partition — the shuffle a cluster groupBy costs anyway.
    // One summary row: how many clusters disagree and how many docs
    // ride on the choice (the reproducibility exposure of changing
    // dedup policy between corpus versions).
    "dedup_keep_policy_compare" -> ((s, dir) => {
      val byHash = Window.partitionBy("h")
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        .withColumn("n_members", count(lit(1)).over(byHash))
        .filter(col("n_members") > 1)
        .withColumn("rn_b", row_number().over(
          byHash.orderBy(col("tok").desc, col("doc_id"))))
      d.groupBy("h")
        .agg(max("n_members").as("n_members"),
          min("doc_id").as("keeper_a"),
          max(when(col("rn_b") === 1, col("doc_id"))).as("keeper_b"))
        .agg(count(lit(1)).as("n_clusters"),
          coalesce(sum(when(col("keeper_a") =!= col("keeper_b"), 1L)
            .otherwise(0L)), lit(0L)).as("n_disagree"),
          coalesce(sum(when(col("keeper_a") =!= col("keeper_b"),
            col("n_members")).otherwise(0L)), lit(0L)).as("docs_affected"))
        .withColumn("disagree_share",
          when(col("n_clusters") === 0, lit(0.0))
            .otherwise(col("n_disagree").cast("double") / col("n_clusters")))
    }),

    // Decode-pool routing census: codec from the payload's first byte
    // (the magic-byte dispatch a real router does; text stands in for
    // the opaque binary), size class from byte-length bands, batches
    // of 32 per route. The census is the routing table a vectorized
    // mapPartitions decoder consumes — zero shuffles before the
    // bounded rollup.
    "multimodal_codec_route" -> ((s, dir) => {
      val codec = element_at(
        array(lit("jpeg"), lit("png"), lit("wav"), lit("mp4")),
        (pmod(ascii(col("text")), lit(4)) + 1).cast("int"))
      val bytes = octet_length(col("text"))
      Tables(s, dir, "documents")
        .select(codec.as("codec"), bytes.as("n_bytes"))
        .withColumn("size_class",
          when(col("n_bytes") < 256, "s").when(col("n_bytes") < 1024, "m")
            .when(col("n_bytes") < 4096, "l").otherwise("xl"))
        .groupBy("codec", "size_class")
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes").cast("long")).as("bytes_total"))
        .withColumn("n_batches",
          call_function("div", col("n") + 31L, lit(32L)))
        .orderBy("codec", "size_class")
    }),
  )

  val oracle: Map[String, String] = Map(

    "sample_importance" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |    ${md5HeadSql("'imp' || CAST(doc_id AS VARCHAR)")} AS coin
         |  FROM documents
         |), banded AS (
         |  SELECT tok, coin,
         |    CASE WHEN tok >= 64 THEN 4 WHEN tok >= 32 THEN 3
         |         WHEN tok >= 16 THEN 2 ELSE 1 END AS band
         |  FROM d
         |)
         |SELECT band,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN coin * (1 << (4 - band)) < 4294967296
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(tok) AS BIGINT) AS tok_total,
         |  CAST(SUM(CASE WHEN coin * (1 << (4 - band)) < 4294967296
         |    THEN tok ELSE 0 END) AS BIGINT) AS tok_kept,
         |  CAST(SUM(CASE WHEN coin * (1 << (4 - band)) < 4294967296
         |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS eff_rate
         |FROM banded GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_emb_pair_distance_hist" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    ${PipelineQueries.normSql("embedding")} AS nrm,
         |    vec_id % 16 AS g
         |  FROM embeddings
         |), pairs AS (
         |  SELECT ${PipelineQueries.dotSql("a.embedding", "b.embedding")}
         |      / (a.nrm * b.nrm) AS cos
         |  FROM e a JOIN e b ON a.g = b.g AND a.vec_id < b.vec_id
         |)
         |SELECT LEAST(GREATEST(CAST(FLOOR((cos + 1) * 8) AS INT), 0), 15)
         |    AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,

    "multimodal_stft_plan" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    CAST(n_chars * 100 AS BIGINT) AS samples
        |  FROM documents
        |), f AS (
        |  SELECT source, samples,
        |    CASE WHEN samples >= 400
        |      THEN (samples - 400) // 160 + 1 ELSE 0 END AS n_frames
        |  FROM c
        |)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_clips,
        |  CAST(SUM(samples) AS BIGINT) AS samples_total,
        |  CAST(SUM(n_frames) AS BIGINT) AS frames_total,
        |  CAST(MAX(n_frames) AS BIGINT) AS frames_max
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_shingle_idf_jaccard" ->
      s"""${PipelineQueries.bandsCte},
         |sg AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |wg AS (
         |  SELECT g, n_docs - COUNT(*) + 1 AS w
         |  FROM sg, nd GROUP BY g, n_docs
         |),
         |sgw AS (SELECT doc_id, sg.g, w FROM sg JOIN wg ON sg.g = wg.g),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id
         |),
         |tot AS (
         |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wt
         |  FROM sgw GROUP BY 1
         |),
         |iw AS (
         |  SELECT c.a_id, c.b_id, CAST(SUM(sa.w) AS BIGINT) AS w_inter
         |  FROM cand c
         |  JOIN sgw sa ON sa.doc_id = c.a_id
         |  JOIN sgw sb ON sb.doc_id = c.b_id AND sb.g = sa.g
         |  GROUP BY 1, 2
         |)
         |SELECT iw.a_id, iw.b_id, iw.w_inter,
         |  ta.wt + tb.wt - iw.w_inter AS w_union,
         |  CAST(iw.w_inter AS DOUBLE) / (ta.wt + tb.wt - iw.w_inter)
         |    AS wjacc
         |FROM iw
         |JOIN tot ta ON ta.doc_id = iw.a_id
         |JOIN tot tb ON tb.doc_id = iw.b_id
         |WHERE CAST(iw.w_inter AS DOUBLE) /
         |  (ta.wt + tb.wt - iw.w_inter) >= 0.3
         |ORDER BY 1, 2""".stripMargin,

    "dedup_keep_policy_compare" ->
      """WITH d AS (
        |  SELECT doc_id, md5(text) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents
        |), sized AS (
        |  SELECT doc_id, h, tok,
        |    COUNT(*) OVER (PARTITION BY h) AS n_members,
        |    ROW_NUMBER() OVER (PARTITION BY h
        |      ORDER BY tok DESC, doc_id) AS rn_b
        |  FROM d
        |), clusters AS (
        |  SELECT h, MAX(n_members) AS n_members,
        |    MIN(doc_id) AS keeper_a,
        |    MAX(CASE WHEN rn_b = 1 THEN doc_id END) AS keeper_b
        |  FROM sized WHERE n_members > 1 GROUP BY 1
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(COALESCE(SUM(CASE WHEN keeper_a <> keeper_b THEN 1
        |    ELSE 0 END), 0) AS BIGINT) AS n_disagree,
        |  CAST(COALESCE(SUM(CASE WHEN keeper_a <> keeper_b THEN n_members
        |    ELSE 0 END), 0) AS BIGINT) AS docs_affected,
        |  CASE WHEN COUNT(*) = 0 THEN 0.0
        |    ELSE CAST(SUM(CASE WHEN keeper_a <> keeper_b THEN 1
        |      ELSE 0 END) AS DOUBLE) / COUNT(*) END AS disagree_share
        |FROM clusters""".stripMargin,

    "multimodal_codec_route" ->
      """WITH r AS (
        |  SELECT
        |    ['jpeg', 'png', 'wav', 'mp4'][(ascii(text) % 4) + 1]
        |      AS codec,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents
        |), classed AS (
        |  SELECT codec,
        |    CASE WHEN n_bytes < 256 THEN 's'
        |         WHEN n_bytes < 1024 THEN 'm'
        |         WHEN n_bytes < 4096 THEN 'l' ELSE 'xl' END AS size_class,
        |    n_bytes
        |  FROM r
        |)
        |SELECT codec, size_class,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_bytes) AS BIGINT) AS bytes_total,
        |  CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches
        |FROM classed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
