package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 second batch: the tokenizer-evaluation surface composing the
  * trained BPE loop (Round8aQueries.bpeTrain).
  *
  *  - bpe_fertility_by_lang: per-language fertility (tokens/word) and
  *    chars/token under the k=5 trained merges — the tokenizer-equity
  *    audit (a tokenizer trained on the corpus majority language
  *    over-segments the minority ones; fertility is the metric that
  *    shows it)
  *  - bpe_vocab_table: the resulting token vocabulary top-20 by
  *    weighted frequency — the artifact a vocab-budget decision reads
  *  - bpe_merge_stability: train the same k merges independently on
  *    two disjoint md5-routed halves of the corpus and compare the
  *    merge tables position by position — the split-half reliability
  *    check that says whether k merges are corpus-statistics or noise
  *
  * Scale posture: training is vocab-sized after one corpus word-count
  * shuffle (see Round8aQueries); fertility joins the tiny trained dict
  * back (broadcast) — per-language totals are combine-aggregated
  * BIGINTs with one mirrored division each.
  */
object Round8bQueries {

  import Round8aQueries.{bpeTrain, bpeVocab0, toks, BpeK}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Fertility by language under the corpus-trained merges: tokens per
    // word and chars per token. The dict maps each distinct word to its
    // trained token count; the per-(lang, word) table joins it broadcast
    // (the dict is vocab-sized) and rolls up integer sufficient stats.
    "bpe_fertility_by_lang" -> ((s, dir) => {
      val words = PipelineQueries.spread(s, Tables(s, dir, "documents"))
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
      val (_, dictK) = bpeTrain(bpeVocab0(words.select("w")), BpeK)
      val perWord = dictK.select(col("w"),
        size(toks(col("s"))).as("n_toks"))
      words.groupBy("lang", "w").agg(count(lit(1)).as("freq"))
        .join(broadcast(perWord), "w")
        .groupBy("lang")
        .agg(sum(col("freq")).cast("long").as("n_words"),
          sum(col("freq") * length(col("w"))).cast("long").as("n_chars"),
          sum(col("freq") * col("n_toks")).cast("long").as("n_tokens"))
        .withColumn("fertility",
          col("n_tokens").cast("double") / col("n_words"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("n_tokens"))
        .orderBy("lang")
    }),

    // The trained vocabulary: top-20 tokens by weighted occurrence
    // after the k merges, with token length — what the vocab file would
    // contain. One explode of the vocab-sized dict.
    "bpe_vocab_table" -> ((s, dir) => {
      val (_, dictK) = bpeTrain(
        bpeVocab0(Round8aQueries.docWords(s, dir)), BpeK)
      dictK.select(col("freq"),
          explode(toks(col("s"))).as("token"))
        .groupBy("token").agg(sum(col("freq")).cast("long").as("n_occ"))
        .withColumn("tok_len", length(col("token")))
        .orderBy(col("n_occ").desc, col("token"))
        .limit(20)
    }),

    // Split-half reliability of the merge table: md5(doc_id) routes the
    // corpus into two disjoint halves; each trains its own k merges.
    // Position-wise agreement of the two tables is the noise check — a
    // merge that only wins on one half is sample noise, not corpus
    // statistics, and a vocab budget should not be spent on it.
    "bpe_merge_stability" -> ((s, dir) => {
      def half(lower: Boolean): DataFrame = {
        val d = PipelineQueries.spread(s, Tables(s, dir, "documents"))
          .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
        val f = if (lower) d.filter(col("h") < "8") else d.filter(col("h") >= "8")
        f.select(explode(split(col("text"), " ")).as("w"))
      }
      val (mA, _) = bpeTrain(bpeVocab0(half(lower = true)), BpeK)
      val (mB, _) = bpeTrain(bpeVocab0(half(lower = false)), BpeK)
      val a = mA.reduce(_ unionAll _)
        .select(col("iter"), concat(col("l"), col("r")).as("merged_a"),
          col("cnt").as("cnt_a"))
      val b = mB.reduce(_ unionAll _)
        .select(col("iter"), concat(col("l"), col("r")).as("merged_b"),
          col("cnt").as("cnt_b"))
      a.join(b, "iter")
        .withColumn("agree",
          (col("merged_a") === col("merged_b")).cast("int"))
        .orderBy("iter")
    }),
  )

  val oracle: Map[String, String] = {
    import Round8aQueries.{bpeOracleCtes, AllWordsSrc, BpeK}
    Map(
      "bpe_fertility_by_lang" ->
        ("WITH " + bpeOracleCtes("", AllWordsSrc) +
          s""",
             |wl AS (
             |  SELECT lang, w, COUNT(*) AS freq
             |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
             |        FROM documents)
             |  WHERE len(w) >= 1
             |  GROUP BY 1, 2
             |),
             |d AS (
             |  SELECT w, len(list_filter(str_split(s, '||'),
             |    x -> x <> '')) AS n_toks
             |  FROM w$BpeK
             |),
             |agg AS (
             |  SELECT lang,
             |    CAST(SUM(wl.freq) AS BIGINT) AS n_words,
             |    CAST(SUM(wl.freq * len(wl.w)) AS BIGINT) AS n_chars,
             |    CAST(SUM(wl.freq * d.n_toks) AS BIGINT) AS n_tokens
             |  FROM wl JOIN d USING (w)
             |  GROUP BY 1
             |)
             |SELECT lang, n_words, n_chars, n_tokens,
             |  CAST(n_tokens AS DOUBLE) / n_words AS fertility,
             |  CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token
             |FROM agg ORDER BY lang""".stripMargin),

      "bpe_vocab_table" ->
        ("WITH " + bpeOracleCtes("", AllWordsSrc) +
          s"""
             |SELECT token, CAST(SUM(freq) AS BIGINT) AS n_occ,
             |  len(token) AS tok_len
             |FROM (SELECT freq, unnest(list_filter(str_split(s, '||'),
             |        x -> x <> '')) AS token
             |      FROM w$BpeK)
             |GROUP BY 1
             |ORDER BY n_occ DESC, token
             |LIMIT 20""".stripMargin),

      "bpe_merge_stability" -> {
        val srcA = """SELECT unnest(string_split(text, ' ')) AS w
                     |  FROM documents
                     |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'"""
          .stripMargin
        val srcB = """SELECT unnest(string_split(text, ' ')) AS w
                     |  FROM documents
                     |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'"""
          .stripMargin
        val armA = (1 to BpeK).map(i =>
          s"SELECT $i AS iter, l || r AS merged_a, cnt AS cnt_a FROM am$i")
          .mkString("\nUNION ALL\n")
        val armB = (1 to BpeK).map(i =>
          s"SELECT $i AS iter, l || r AS merged_b, cnt AS cnt_b FROM bm$i")
          .mkString("\nUNION ALL\n")
        "WITH " + bpeOracleCtes("a", srcA) + ",\n" +
          bpeOracleCtes("b", srcB) +
          s""",
             |ta AS (
             |$armA
             |),
             |tb AS (
             |$armB
             |)
             |SELECT iter, merged_a, cnt_a, merged_b, cnt_b,
             |  CAST(merged_a = merged_b AS INT) AS agree
             |FROM ta JOIN tb USING (iter)
             |ORDER BY iter""".stripMargin
      },
    )
  }
}
