package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end training-data pipeline over the documents table (r10
  * verdict #5): the per-key inventory proves each operator in
  * isolation; this main CHAINS the canonical stages in ONE session with
  * shared scans and retained frames, the way a production run would —
  * and emits a per-stage ledger that must reconcile exactly
  * (docs_in = docs_kept + docs_dropped at every stage, and stage k+1's
  * input is stage k's output).
  *
  * Stages (each one reuses the SHAPE proven by its standalone key):
  *   1. ingest            — documents scan + whitespace token counts
  *   2. bench_split       — hold out the benchmark surrogate
  *                          (doc_id % 50 == 0, the decontam keys' set)
  *   3. quality_gate      — too_short / too_few_tokens / repetitive
  *                          (quality_gate's exact conditions)
  *   4. dedup_exact       — normalized-text fingerprint, keep-best
  *                          (longest text, then smallest doc_id —
  *                          dedup_keep_best's rule)
  *   5. dedup_fuzzy       — MinHash band buckets → in-bucket candidate
  *                          pairs → exact-Jaccard ≥ 0.7 confirm → drop
  *                          the larger doc_id of each confirmed pair
  *                          (dedup_minhash_pairs' candidate geometry)
  *   6. decontam          — drop docs sharing any 5-gram with the
  *                          held-out bench set (decontam_ngram's
  *                          inverted-index join, bench side broadcast)
  *   7. token_budget      — integer waterfill (kept ≤ budget) of a 60 % token
  *                          budget across sources, then per-source
  *                          greedy selection by quality rank until the
  *                          source cap (q_token_budget_fit's family)
  *   8. pack              — concat-then-chunk 512-token packing over 8
  *                          md5 shards (seq_pack_plan's layout); the
  *                          manifest is the deliverable
  *
  * Scale posture: every stage is keyed (fingerprint, band bucket, gram,
  * source, shard) — no corpus-level product, no driver collect on data
  * paths (the ledger rows themselves are 1-row aggregates per stage and
  * a ≤ #sources waterfill frame). At 100 TB the stage frames persist to
  * MEMORY_AND_DISK and the shard count is the packing parallelism knob.
  *
  * Usage: runMain graft.PipelineRun <sfDir> <outDir>
  *          [--incremental] [--state=DIR] [--prepare-state]
  * Writes outDir/manifest*.parquet + outDir/ledger*.parquet and prints
  * one JSON line (stage ledger + wall seconds) for PIPELINE_r*.json.
  * The full run additionally persists outDir/state/ (fingerprints +
  * LSH band table + per-shard pack tails of the shipped set — the
  * day-2 indexes, r11 verdict #3); `--incremental --state=DIR` probes
  * that disk state instead of recomputing the base, and
  * `--prepare-state` writes the BASE-split state the equivalence spec
  * compares both incremental modes against.
  */
object PipelineRun {

  final case class StageResult(stage: String, docsIn: Long, docsKept: Long,
                               tokensIn: Long, tokensKept: Long, secs: Double) {
    def docsDropped: Long = docsIn - docsKept
    def tokensDropped: Long = tokensIn - tokensKept
  }

  private def tok(c: Column): Column = size(split(c, " ")).cast("long")

  /** quality_gate's keep predicate (too_short / too_few / repetitive). */
  private def gateKeep(df: DataFrame): DataFrame =
    df.withColumn("n_distinct",
        size(array_distinct(split(col("text"), " "))))
      .filter(!(col("n_chars") < 100 || col("tok") < 15 ||
        col("n_distinct") * 4 < col("tok")))
      .drop("n_distinct")

  /** Normalized-text content fingerprint (exact-dedup key). */
  private def fingerprint: Column =
    md5(lower(regexp_replace(col("text"), "\\s+", " ")))

  /** Exact dedup, keep-best: the winner of each fingerprint cluster is
    * the longest text, then the smallest doc_id (dedup_keep_best).
    */
  private def exactKeepBest(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    df.withColumn("fp", fingerprint)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "fp")
  }

  /** (doc_id, sh, band_idx, band_key) — the LSH band table. */
  private def bandTable(df: DataFrame): DataFrame =
    df.withColumn("sh", call_function("graft_shingles", col("text")))
      .select(col("doc_id"), col("sh"),
        posexplode(call_function("graft_minhash_bands", col("sh")))
          .as(Seq("band_idx", "band_key")))

  /** Bucket-cojoined candidate pairs between two band tables; when
    * `requireIdLt` (self-join) only a_id < b_id pairs emit, so the
    * smaller id is always the survivor.
    */
  private def candidatePairs(a: DataFrame, b: DataFrame,
                             requireIdLt: Boolean): DataFrame = {
    val bucketEq = col("a.band_idx") === col("b.band_idx") &&
      col("a.band_key") === col("b.band_key")
    val cond = if (requireIdLt) bucketEq && col("a.doc_id") < col("b.doc_id")
               else bucketEq
    a.as("a").join(b.as("b"), cond)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sh").as("a_sh"), col("b.sh").as("b_sh"))
      .distinct()
  }

  /** Candidate pairs → exact-Jaccard-confirmed (≥ 0.7) b_id drop list. */
  private def confirmedBIds(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("inter", call_function("graft_array_intersect_size",
        col("a_sh"), col("b_sh")))
      .withColumn("jac", try_divide(col("inter"),
        size(col("a_sh")) + size(col("b_sh")) - col("inter")))
      .filter(col("jac") >= 0.7)
      .select(col("b_id").as("doc_id")).distinct()

  /** Drop the larger-id member of every confirmed near-dup pair WITHIN
    * one frame (the internal fuzzy-dedup stage of both modes).
    */
  private def fuzzyDedupInternal(df: DataFrame): DataFrame = {
    val bands = bandTable(df)
    df.join(confirmedBIds(candidatePairs(bands, bands, requireIdLt = true)),
      Seq("doc_id"), "left_anti")
  }

  /** 5-gram decontamination against the held-out bench docs. */
  private def decontamAgainst(df: DataFrame, benchDocs: DataFrame): DataFrame = {
    val benchGrams = broadcast(benchDocs
      .select(explode(call_function("graft_shingles5", col("text")))
        .as("gram")).distinct())
    val contaminated = df
      .select(col("doc_id"),
        explode(call_function("graft_shingles5", col("text"))).as("gram"))
      .join(benchGrams, "gram").select("doc_id").distinct()
    df.join(contaminated, Seq("doc_id"), "left_anti")
  }

  private def shardCol: Column = pmod(
    conv(substring(md5(concat(lit("pack"), col("doc_id").cast("string"))),
      1, 8), 16, 10).cast("long"), lit(8))

  private val packWindow = Window.partitionBy("shard").orderBy("doc_id")
    .rowsBetween(Window.unboundedPreceding, -1)

  /** One ledger measurement: count + token sum of a frame. */
  private def measure(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("tok")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The stage bookkeeping both modes share: persist → measure →
    * ledger row → unpersist predecessor.
    */
  private final class Ledger {
    private val rows = Seq.newBuilder[StageResult]
    private var prev: Option[DataFrame] = None
    private var lastM: (Long, Long) = (0L, 0L)

    /** Measure an existing frame as the first (no-drop) stage. */
    def seed(name: String, df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val m = measure(df)
      rows += StageResult(name, m._1, m._1, m._2, m._2,
        (System.nanoTime() - t0) / 1e9)
      lastM = m
    }

    def stage(name: String)(build: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = build.persist(StorageLevel.MEMORY_AND_DISK)
      val (kept, keptTok) = measure(out)
      rows += StageResult(name, lastM._1, kept, lastM._2, keptTok,
        (System.nanoTime() - t0) / 1e9)
      prev.foreach(_.unpersist())
      prev = Some(out)
      lastM = (kept, keptTok)
      out
    }

    /** Terminal stage with an explicit pre-measured output. */
    def closeWith(name: String, m: (Long, Long), secs: Double): Unit = {
      rows += StageResult(name, lastM._1, m._1, lastM._2, m._2, secs)
      prev.foreach(_.unpersist())
      prev = None
      lastM = m
    }

    def result(spark: SparkSession, path: String): Seq[StageResult] = {
      val out = rows.result()
      spark.createDataFrame(out.map(s =>
        (s.stage, s.docsIn, s.docsKept, s.docsDropped, s.tokensIn,
          s.tokensKept, s.secs)))
        .toDF("stage", "docs_in", "docs_kept", "docs_dropped", "tokens_in",
          "tokens_kept", "secs")
        .coalesce(1).write.mode("overwrite").parquet(path)
      out
    }
  }

  def run(spark: SparkSession, sfDir: String, outDir: String,
          budgetFrac: Double = 0.6): Seq[StageResult] = {
    val ledger = new Ledger

    // 1. ingest — ONE scan, persisted (ingest measure, bench_split, and
    // the decontam bench side all read it), spread across the cluster
    // for the expression-heavy stages downstream
    val raw = Tables(spark, sfDir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("tok", tok(col("text")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ledger.seed("ingest", raw)
    val ingest = ledger.stage("bench_split") {
      raw.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    }
    val benchDocs = raw.filter(pmod(col("doc_id"), lit(50)) === 0)

    val gated = ledger.stage("quality_gate") { gateKeep(ingest) }
    val exactDeduped = ledger.stage("dedup_exact") { exactKeepBest(gated) }
    // work ∝ Σ bucket², never n²
    val fuzzyDeduped = ledger.stage("dedup_fuzzy") {
      fuzzyDedupInternal(exactDeduped)
    }
    val decontaminated = ledger.stage("decontam") {
      decontamAgainst(fuzzyDeduped, benchDocs)
    }

    // 7. token budget: integer waterfill of budgetFrac·T across sources
    // (integer level L with Σ min(T_s, L) ≤ B — the `div` discards the
    // level's remainder, and the per-source greedy `cum <= cap` prefix
    // truncates at doc granularity, so kept tokens UNDERSHOOT B by up to
    // one level remainder + one doc per source; the spec asserts the
    // [40%, 60%] envelope, not equality), then per-source greedy fill by
    // quality rank
    val budgeted = ledger.stage("token_budget") {
      val perSrc = decontaminated.groupBy("source")
        .agg(sum(col("tok")).as("t_s"))
      val total = perSrc.agg(sum(col("t_s")).as("t_tot"))
      val budget = (lit(budgetFrac) * col("t_tot")).cast("long")
      // sources ascending by size: the waterfill level lies where the
      // i-th prefix leaves (B - prefix_{i-1}) div (n - i + 1) below T_i
      // the per-source frame is ≤ #sources rows — the single-partition
      // windows here are over a catalog-scale table, not the corpus
      val wAsc = Window.orderBy(col("t_s").asc, col("source").asc)
      val leveled = perSrc.crossJoin(broadcast(total))
        .withColumn("b", budget)
        .withColumn("i", row_number().over(wAsc))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
        .withColumn("prefix",
          coalesce(sum(col("t_s")).over(wAsc.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("lvl", expr("(b - prefix) div (n - i + 1)"))
      // the operative level is at the FIRST i whose fill falls below
      // t_s_i (lvl is non-increasing over the filtered suffix, so MAX
      // selects it); no such row means the budget covers everything
      val opLvl = leveled.filter(col("lvl") < col("t_s"))
        .agg(max(col("lvl")).as("level"))
      val caps = leveled.crossJoin(broadcast(opLvl))
        .select(col("source"),
          when(col("level").isNull, col("t_s"))
            .otherwise(least(col("t_s"), col("level"))).as("cap"))
      val wSrc = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id").asc)
      decontaminated
        .withColumn("quality",
          lit(0.5) * least(lit(1.0), col("tok").cast("double") / 50.0) +
            lit(0.5) * try_divide(
              size(array_distinct(split(col("text"), " "))).cast("double"),
              col("tok").cast("double")))
        .join(broadcast(caps), "source")
        .withColumn("cum", sum(col("tok")).over(
          wSrc.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum") <= col("cap"))
        .drop("quality", "cap", "cum")
    }

    // 8. pack: concat-then-chunk at 512 tokens over 8 md5 shards;
    // persisted so the write and the ledger measure share one pass
    val t0 = System.nanoTime()
    val manifest = budgeted
      .withColumn("shard", shardCol)
      .withColumn("cum_before",
        coalesce(sum(col("tok")).over(packWindow), lit(0L)))
      .select(col("doc_id"), col("source"), col("lang"), col("tok"),
        col("shard"),
        expr("cum_before div 512").as("pack_first"),
        expr("(cum_before + tok - 1) div 512").as("pack_last"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest.parquet")
    ledger.closeWith("pack", measure(manifest),
      (System.nanoTime() - t0) / 1e9)

    // 9. index_write (r11 verdict #3): persist the day-2 state — the
    // fingerprints + LSH band table + per-shard pack tails of the
    // SHIPPED set — so tomorrow's incremental run probes disk indexes
    // instead of re-deriving them from the corpus. A no-drop ledger
    // stage: its input and output are the packed survivors.
    val t0s = System.nanoTime()
    val kept = raw.join(manifest.select("doc_id"), Seq("doc_id"),
      "left_semi")
    writeState(kept, s"$outDir/state")
    ledger.closeWith("index_write", measure(kept),
      (System.nanoTime() - t0s) / 1e9)
    manifest.unpersist()
    raw.unpersist()
    ledger.result(spark, s"$outDir/ledger.parquet")
  }

  /** The base split's post-dedup survivors (gate → exact keep-best →
    * internal fuzzy): the state a production deployment has indexed.
    * Takes the corpus WITH a `cut` column; exposed so the spec can
    * recompute the index the incremental run claims to have deduped
    * against.
    */
  def baseSurvivorsFor(withCut: DataFrame): DataFrame =
    fuzzyDedupInternal(exactKeepBest(
      gateKeep(withCut.filter(col("doc_id") <= col("cut")))))

  /** Corpus with the base/new `cut` column (bench holdout excluded). */
  def corpusWithCut(spark: SparkSession, sfDir: String,
                    basePct: Double): DataFrame = {
    val all = Tables(spark, sfDir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("tok", tok(col("text")))
      .filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val cutR = all.agg((max(col("doc_id")) * lit(basePct)).cast("long")
      .as("cut"))
    all.crossJoin(broadcast(cutR))
  }

  /** Normalized-text fingerprints of a frame (spec accessor). */
  def fingerprintsOf(df: DataFrame): DataFrame =
    df.select(fingerprint.as("fp")).distinct()

  /** Per-shard pack tail of a kept set: how many 512-token packs the
    * concat-then-chunk layout uses, i.e. where an append continues.
    */
  def packTailsOf(df: DataFrame): DataFrame =
    df.withColumn("shard", shardCol)
      .groupBy("shard")
      .agg(((sum(col("tok")) + 511L).cast("long")).as("base_tok"))
      .select(col("shard"), expr("base_tok div 512").as("base_packs"))

  /** The persisted day-2 state (r11 verdict #3): the THREE narrow
    * indexes an incremental run probes — content fingerprints, the LSH
    * band table, and per-shard pack tails. This is the deliverable a
    * production deployment keeps on disk between runs; everything in it
    * is doc-id/hash/key-width narrow (no text column leaves the run).
    */
  def writeState(survivors: DataFrame, stateDir: String): Unit = {
    fingerprintsOf(survivors)
      .write.mode("overwrite").parquet(s"$stateDir/fingerprints.parquet")
    bandTable(survivors)
      .write.mode("overwrite").parquet(s"$stateDir/bands.parquet")
    packTailsOf(survivors)
      .write.mode("overwrite").parquet(s"$stateDir/pack_tails.parquet")
  }

  /** (fingerprints, bands, pack tails) back from `writeState`'s dir. */
  def readState(spark: SparkSession,
                stateDir: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$stateDir/fingerprints.parquet"),
      spark.read.parquet(s"$stateDir/bands.parquet"),
      spark.read.parquet(s"$stateDir/pack_tails.parquet"))

  /** Day-1 state preparation for the incremental spec/protocol: runs
    * the base split's dedup stages (gate → exact keep-best → internal
    * fuzzy — exactly `baseSurvivorsFor`) and persists the resulting
    * indexes, so a day-2 `--incremental --state=...` run probes disk
    * state instead of recomputing the base.
    */
  def prepareState(spark: SparkSession, sfDir: String, stateDir: String,
                   basePct: Double = 0.8): (Long, Double) = {
    val t0 = System.nanoTime()
    val withCut = corpusWithCut(spark, sfDir, basePct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // same composition as baseSurvivorsFor, staged: the fuzzy stage's
    // band SELF-join reads its input twice, so an unpersisted
    // gate→exact chain would be recomputed inside every write action
    val exact = exactKeepBest(
        gateKeep(withCut.filter(col("doc_id") <= col("cut"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val survivors = fuzzyDedupInternal(exact)
      .persist(StorageLevel.MEMORY_AND_DISK)
    writeState(survivors, stateDir)
    val n = survivors.count()
    survivors.unpersist()
    exact.unpersist()
    withCut.unpersist()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Incremental (day-2) ingestion — how a 100 TB pipeline actually
    * runs: the corpus is split by doc_id rank into a BASE (first
    * `basePct`) whose post-dedup survivors stand in for the indexes a
    * production system has on disk (content fingerprints + LSH band
    * table), and a NEW batch (the rest) processed against them:
    *
    *   ingest_new → quality_gate → dedup_exact_vs_base (a fingerprint
    *   already in the base index drops the new doc — base wins) →
    *   dedup_exact_internal (keep-best within the batch) →
    *   dedup_fuzzy_vs_base (new band keys probe the base band table;
    *   Jaccard ≥ 0.7 confirm drops the new doc) → dedup_fuzzy_internal
    *   → decontam (same held-out grams) → pack_append (packs CONTINUE
    *   per shard after the base manifest's last pack id).
    *
    * Scale posture: the base contributes exactly two narrow indexes
    * (fingerprints, band table), never a per-stage re-scan; all
    * vs-base work is keyed joins probing those indexes, which is the
    * point of incremental ingestion.
    */
  def incremental(spark: SparkSession, sfDir: String, outDir: String,
                  basePct: Double = 0.8,
                  stateDir: Option[String] = None): Seq[StageResult] = {
    val ledger = new Ledger

    val benchDocs = Tables(spark, sfDir, "documents")
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .withColumn("tok", tok(col("text")))
    // ONE persisted corpus frame feeds the base index and both reads
    // of the new split (the measure and the gate)
    val withCut = corpusWithCut(spark, sfDir, basePct)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // the base's post-dedup state: READ from disk when a day-1 run
    // persisted it (`--state=dir`, r11 verdict #3 — the actual
    // production shape: day-2 wall time carries no base recompute), or
    // recomputed from the base split when not (the self-contained
    // mode the equivalence spec pins against)
    val state = stateDir.map(readState(spark, _))
    val baseSurvivors = if (state.isEmpty)
      Some(baseSurvivorsFor(withCut).persist(StorageLevel.MEMORY_AND_DISK))
    else None
    val baseFps = state.map(_._1)
      .getOrElse(fingerprintsOf(baseSurvivors.get))
    val baseBands = state.map(_._2)
      .getOrElse(bandTable(baseSurvivors.get))

    val newSplit = withCut.filter(col("doc_id") > col("cut"))
    ledger.seed("ingest_new", newSplit)
    val gated = ledger.stage("quality_gate") { gateKeep(newSplit) }
    val exactVsBase = ledger.stage("dedup_exact_vs_base") {
      gated.withColumn("fp", fingerprint)
        .join(baseFps, Seq("fp"), "left_anti").drop("fp")
    }
    val exactInternal = ledger.stage("dedup_exact_internal") {
      exactKeepBest(exactVsBase)
    }
    val fuzzyVsBase = ledger.stage("dedup_fuzzy_vs_base") {
      val pairs = candidatePairs(baseBands, bandTable(exactInternal),
        requireIdLt = false)
      exactInternal.join(confirmedBIds(pairs), Seq("doc_id"), "left_anti")
    }
    val fuzzyInternal = ledger.stage("dedup_fuzzy_internal") {
      fuzzyDedupInternal(fuzzyVsBase)
    }
    val decontaminated = ledger.stage("decontam") {
      decontamAgainst(fuzzyInternal, benchDocs)
    }

    // pack_append: packs continue per shard after the base's last pack
    val t0p = System.nanoTime()
    val baseLast = state.map(_._3).getOrElse(packTailsOf(baseSurvivors.get))
    val manifest = decontaminated
      .withColumn("shard", shardCol)
      .join(broadcast(baseLast), Seq("shard"), "left")
      .withColumn("base_packs", coalesce(col("base_packs"), lit(0L)))
      .withColumn("cum_before",
        coalesce(sum(col("tok")).over(packWindow), lit(0L)))
      .select(col("doc_id"), col("source"), col("lang"), col("tok"),
        col("shard"),
        (expr("cum_before div 512") + col("base_packs")).as("pack_first"),
        (expr("(cum_before + tok - 1) div 512") + col("base_packs"))
          .as("pack_last"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    manifest.write.mode("overwrite")
      .parquet(s"$outDir/manifest_incremental.parquet")
    ledger.closeWith("pack_append", measure(manifest),
      (System.nanoTime() - t0p) / 1e9)
    manifest.unpersist()
    baseSurvivors.foreach(_.unpersist())
    withCut.unpersist()
    ledger.result(spark, s"$outDir/ledger_incremental.parquet")
  }

  def main(args: Array[String]): Unit = {
    val incrementalMode = args.contains("--incremental")
    val prepareMode = args.contains("--prepare-state")
    val stateDir = args.find(_.startsWith("--state="))
      .map(_.stripPrefix("--state="))
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (pos.length > 1) pos(1) else "/tmp/graft_pipeline"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus = cpus, appName = "graft-pipeline",
      autoReleaseCaches = false)
    if (prepareMode) {
      // day-1 index preparation for the day-2 protocol: write the base
      // split's fingerprints/bands/pack-tails to outDir/state
      val (n, secs) = prepareState(spark, sfDir, s"$outDir/state")
      println(s"""{"metric":"pipeline_prepare_state","sf":"$sfDir",""" +
        s""""base_survivors":$n,"total_secs":${f"$secs%.2f"},""" +
        s""""state_dir":"$outDir/state"}""")
      spark.stop(); return
    }
    val t0 = System.nanoTime()
    val stages =
      if (incrementalMode) incremental(spark, sfDir, outDir,
        stateDir = stateDir)
      else run(spark, sfDir, outDir)
    val total = (System.nanoTime() - t0) / 1e9
    val stageJson = stages.map(s =>
      s"""{"stage":"${s.stage}","docs_in":${s.docsIn},"docs_kept":${s.docsKept},""" +
        s""""docs_dropped":${s.docsDropped},"tokens_in":${s.tokensIn},""" +
        s""""tokens_kept":${s.tokensKept},"secs":${f"${s.secs}%.3f"}}""")
      .mkString("[", ",", "]")
    val metric = if (incrementalMode) "pipeline_incremental" else "pipeline_e2e"
    val baseMode = if (!incrementalMode) ""
      else s""""base_state":"${if (stateDir.isDefined) "persisted"
        else "recomputed"}","""
    println(s"""{"metric":"$metric","sf":"$sfDir",$baseMode"total_secs":${f"$total%.2f"},"stages":$stageJson}""")
    spark.stop()
  }
}
