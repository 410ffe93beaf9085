package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.{md5Head, md5HeadSql, sortedFold}

/** Round-8 tenth batch: distribution-shift inference and monitoring.
  *
  *  - q_permutation_test: exact-style two-sample inference — observed
  *    difference in mean doc length between the md5 A/B splits,
  *    p-valued against B=200 deterministic label permutations. The
  *    nonparametric companion to q_ab_test_z: no normality assumption,
  *    and every "random" permutation is an md5 function of (replica,
  *    doc), so the p-value reproduces bitwise.
  *  - q_psi_drift: Population Stability Index of split B against split
  *    A's equi-depth deciles with +1 smoothing — THE production drift
  *    score for feature monitoring (PSI > 0.2 = investigate). Bin
  *    boundaries are exact rank picks; the log-ratio decomposes into
  *    DetMath.dln of integer counts.
  *  - q_heavy_change: heavy-change detection between the splits — the
  *    top-10 tokens by absolute frequency-share change, ranked by the
  *    cross-multiplied INTEGER |ca*tb - cb*ta| so the ordering itself
  *    never touches floating point. The "what changed in the stream"
  *    sketch question, answered exactly at audit scale.
  *
  * Scale: permutation replicas are B x corpus (grp, value) integer
  * rows with map-side combine; PSI reduces to 10 cells; heavy-change
  * moves one (token, ca, cb) row per vocab entry and TopKs. All
  * shapes are mergeable partial aggregates.
  */
object Round8jQueries {

  private def split2(k: Column): Column =
    when(md5Head(concat(lit("split"), k.cast("string"))) % 2 === 0, "a")
      .otherwise("b")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Two-sample permutation test on mean n_chars across md5 splits.
    // All sums BIGINT; replica and observed statistics are mirrored
    // integer-ratio differences.
    "q_permutation_test" -> ((s, dir) => {
      val d = graft.CacheScope.retain(Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("grp", split2(col("doc_id"))))
      val obs = d.agg(
        sum(when(col("grp") === "a", col("n_chars")).otherwise(0L))
          .cast("long").as("sa"),
        sum(when(col("grp") === "a", 1L).otherwise(0L)).cast("long")
          .as("na"),
        sum(when(col("grp") === "b", col("n_chars")).otherwise(0L))
          .cast("long").as("sb"),
        sum(when(col("grp") === "b", 1L).otherwise(0L)).cast("long")
          .as("nb"))
        .select(col("na"), col("nb"),
          (col("sa").cast("double") / col("na") -
            col("sb").cast("double") / col("nb")).as("obs_diff"))
      val inA = md5Head(concat(lit("perm"), concat(col("b").cast("string"),
        lit(":"), col("doc_id").cast("string")).cast("string"))) % 2 === 0
      val pstat = d
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(199))).as("b"))
        .groupBy("b").agg(
          sum(when(inA, col("n_chars")).otherwise(0L)).cast("long")
            .as("psa"),
          sum(when(inA, 1L).otherwise(0L)).cast("long").as("pna"),
          sum("n_chars").cast("long").as("st"),
          count(lit(1)).as("nt"))
        .filter(col("pna") > 0 && col("nt") > col("pna"))
        .select(col("b"),
          (col("psa").cast("double") / col("pna") -
            (col("st") - col("psa")).cast("double") /
              (col("nt") - col("pna"))).as("pdiff"))
      pstat.crossJoin(broadcast(obs))
        .groupBy("na", "nb", "obs_diff").agg(
          count(lit(1)).as("n_perms"),
          sum(when(abs(col("pdiff")) >= abs(col("obs_diff")), 1L)
            .otherwise(0L)).cast("long").as("n_extreme"))
        .select(col("na"), col("nb"), col("obs_diff"), col("n_perms"),
          col("n_extreme"),
          (col("n_extreme").cast("double") / col("n_perms"))
            .as("p_value"))
    }),

    // PSI of split B against split A's equi-depth deciles, +1
    // smoothing, dln log-ratio. Boundaries via GlobalRank picks.
    "q_psi_drift" -> ((s, dir) => {
      import graft.functions.DetMath.dln
      val d = graft.CacheScope.retain(Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("grp", split2(col("doc_id"))))
      val a = graft.operators.GlobalRank.withRank(
        d.filter(col("grp") === "a"), col("n_chars"), col("doc_id"),
        "rn")
      val na = a.agg(count(lit(1)).as("na"))
      val bounds = broadcast(a.crossJoin(broadcast(na))
        .select(col("n_chars"),
          (((col("rn") - 1) * 10) / col("na")).cast("long").as("bin"))
        .groupBy("bin").agg(max("n_chars").as("ub")))
      val binned = d.join(bounds,
          col("n_chars") <= col("ub") || col("bin") === 9)
        .groupBy("grp", "doc_id").agg(min("bin").as("bin"))
      val cells = binned.groupBy("bin").agg(
        sum(when(col("grp") === "a", 1L).otherwise(0L)).cast("long")
          .as("ca"),
        sum(when(col("grp") === "b", 1L).otherwise(0L)).cast("long")
          .as("cb"))
      val tots = broadcast(cells.agg(
        (sum("ca").cast("long") + 10).as("ta"),
        (sum("cb").cast("long") + 10).as("tb")))
      cells.crossJoin(tots)
        .select(col("bin"),
          (((col("ca") + 1).cast("double") / col("ta") -
            (col("cb") + 1).cast("double") / col("tb")) *
            (dln(col("ca") + 1) - dln(col("ta")) -
              dln(col("cb") + 1) + dln(col("tb")))).as("term"))
        .agg(count(lit(1)).as("n_bins"),
          sortedFold(collect_list(struct(col("bin"), col("term"))),
            "term").as("psi"))
    }),

    // Heavy-change: top-10 tokens by |share delta| between splits,
    // ranked by the cross-multiplied integer so ordering is FP-free.
    "q_heavy_change" -> ((s, dir) => {
      val cells = Tables(s, dir, "documents")
        .withColumn("grp", split2(col("doc_id")))
        .select(col("grp"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(
          sum(when(col("grp") === "a", 1L).otherwise(0L)).cast("long")
            .as("ca"),
          sum(when(col("grp") === "b", 1L).otherwise(0L)).cast("long")
            .as("cb"))
      val tots = broadcast(cells.agg(sum("ca").cast("long").as("ta"),
        sum("cb").cast("long").as("tb")))
      val ranked = cells.crossJoin(tots)
        .withColumn("xdiff",
          abs(col("ca") * col("tb") - col("cb") * col("ta")))
      // r12 (guide §1.2): a top-10 needs a TakeOrdered, not an exact
      // GLOBAL rank — GlobalRank here ran an extra approxQuantile pass
      // plus bucket windows and two joins to rank ALL tokens, then kept
      // 10. orderBy+limit under the same total order (xdiff DESC = the
      // old -xdiff ASC metric, token ASC tie) selects the identical 10
      // rows; row_number over the 10-row post-limit frame is the
      // q_topk_weighted idiom.
      ranked.orderBy(col("xdiff").desc, col("tok")).limit(10)
        .withColumn("rk", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("xdiff").desc, col("tok"))))
        .select(col("rk").cast("long").as("rk"), col("tok"), col("ca"),
          col("cb"),
          (col("ca").cast("double") / col("ta") -
            col("cb").cast("double") / col("tb")).as("share_delta"))
        .orderBy("rk")
    }),
  )

  import graft.functions.DetMath.lnCtesSql

  private val splitSql =
    s"""CASE WHEN ${md5HeadSql("'split' || CAST(doc_id AS VARCHAR)")}
       | % 2 = 0 THEN 'a' ELSE 'b' END""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_permutation_test" ->
      s"""WITH d AS (
         |  SELECT doc_id, n_chars, $splitSql AS grp FROM documents
         |), obs AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS na,
         |    CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nb,
         |    CAST(SUM(CASE WHEN grp = 'a' THEN n_chars ELSE 0 END)
         |      AS DOUBLE)
         |      / CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)
         |          AS BIGINT)
         |    - CAST(SUM(CASE WHEN grp = 'b' THEN n_chars ELSE 0 END)
         |        AS DOUBLE)
         |      / CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END)
         |          AS BIGINT) AS obs_diff
         |  FROM d
         |), reps AS (
         |  SELECT u.b,
         |    CAST(SUM(CASE WHEN ${md5HeadSql(
             "'perm' || CAST(u.b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
         |        % 2 = 0 THEN n_chars ELSE 0 END) AS BIGINT) AS psa,
         |    CAST(SUM(CASE WHEN ${md5HeadSql(
             "'perm' || CAST(u.b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
         |        % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pna,
         |    CAST(SUM(n_chars) AS BIGINT) AS st, COUNT(*) AS nt
         |  FROM d, unnest(range(0, 200)) u(b)
         |  GROUP BY u.b
         |), pstat AS (
         |  SELECT b, CAST(psa AS DOUBLE) / pna
         |    - CAST(st - psa AS DOUBLE) / (nt - pna) AS pdiff
         |  FROM reps WHERE pna > 0 AND nt > pna
         |)
         |SELECT o.na, o.nb, o.obs_diff,
         |  CAST(COUNT(*) AS BIGINT) AS n_perms,
         |  CAST(SUM(CASE WHEN abs(p.pdiff) >= abs(o.obs_diff)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
         |  CAST(SUM(CASE WHEN abs(p.pdiff) >= abs(o.obs_diff)
         |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS p_value
         |FROM pstat p, obs o GROUP BY o.na, o.nb, o.obs_diff""".stripMargin,

    "q_psi_drift" ->
      s"""WITH d AS (
         |  SELECT doc_id, n_chars, $splitSql AS grp FROM documents
         |), a AS (
         |  SELECT n_chars,
         |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
         |    COUNT(*) OVER () AS na
         |  FROM d WHERE grp = 'a'
         |), bounds AS (
         |  SELECT CAST(dec AS BIGINT) AS bin, MAX(n_chars) AS ub
         |  FROM (SELECT n_chars, ((rn - 1) * 10) // na AS dec FROM a)
         |  GROUP BY 1
         |), binned AS (
         |  SELECT d.grp, d.doc_id, MIN(bnd.bin) AS bin
         |  FROM d JOIN bounds bnd ON d.n_chars <= bnd.ub OR bnd.bin = 9
         |  GROUP BY d.grp, d.doc_id
         |), cells0 AS (
         |  SELECT bin,
         |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ca,
         |    CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cb
         |  FROM binned GROUP BY bin
         |), tots AS (
         |  SELECT CAST(SUM(ca) AS BIGINT) + 10 AS ta,
         |    CAST(SUM(cb) AS BIGINT) + 10 AS tb
         |  FROM cells0
         |), grid AS (
         |  SELECT c.bin, c.ca, c.cb, t.ta, t.tb FROM cells0 c, tots t
         |),
         |${lnCtesSql("g1", "grid", "bin, ca, cb, ta, tb", "ca + 1",
             "l1")},
         |${lnCtesSql("g2", "g1", "bin, ca, cb, ta, tb, l1", "ta",
             "l2")},
         |${lnCtesSql("g3", "g2", "bin, ca, cb, ta, tb, l1, l2",
             "cb + 1", "l3")},
         |${lnCtesSql("g4", "g3", "bin, ca, cb, ta, tb, l1, l2, l3",
             "tb", "l4")},
         |terms AS (
         |  SELECT bin,
         |    (CAST(ca + 1 AS DOUBLE) / ta - CAST(cb + 1 AS DOUBLE) / tb)
         |      * (l1 - l2 - l3 + l4) AS term
         |  FROM g4
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
         |  list_reduce([CAST(0 AS DOUBLE)] || list(term ORDER BY bin),
         |    (x, v) -> x + v) AS psi
         |FROM terms""".stripMargin,

    "q_heavy_change" ->
      s"""WITH toks AS (
         |  SELECT $splitSql AS grp,
         |    unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), cells AS (
         |  SELECT tok,
         |    CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ca,
         |    CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cb
         |  FROM toks GROUP BY tok
         |), tots AS (
         |  SELECT CAST(SUM(ca) AS BIGINT) AS ta,
         |    CAST(SUM(cb) AS BIGINT) AS tb
         |  FROM cells
         |), ranked AS (
         |  SELECT tok, ca, cb,
         |    CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb
         |      AS share_delta,
         |    ROW_NUMBER() OVER (ORDER BY abs(ca * tb - cb * ta) DESC,
         |      tok) AS rk
         |  FROM cells, tots
         |)
         |SELECT rk, tok, ca, cb, share_delta
         |FROM ranked WHERE rk <= 10 ORDER BY rk""".stripMargin,
  )
}
