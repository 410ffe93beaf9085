package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DetMath
import graft.Tables

/** Round-10 ninth batch: first-order Markov journey attribution — the
  * removal-effect model (vs the rule-based q_attribution_models and the
  * raw q_markov_transition counts): build the user-journey transition
  * matrix, solve for conversion probability by k-step value iteration,
  * and credit each channel by how much conversion drops when it is
  * removed.
  *
  * Scale + determinism shape: the transition matrix lives on the FIXED
  * event-type alphabet (4 transient states + purchase absorbing + END),
  * so after one user-keyed window pass the whole solve is arithmetic on
  * a ONE-ROW wide frame (30 named count columns) — iteration k=6 is six
  * projection layers, never a driver loop over collected data, and
  * every sum is a written-order add over named columns (the repo's
  * guard against order-sensitive float SUMs). Probabilities are
  * mirrored single divisions of exact counts.
  *
  *  - q_markov_attribution: per-channel removal effect + normalized
  *    attribution share.
  *  - q_absorbing_conversion: 6-step conversion probability from each
  *    start state (the value function itself).
  *  - q_transition_entropy: per-state out-transition entropy over exact
  *    counts via DetMath.dln (H = ln N - sum c*ln c / N, written-order
  *    terms over the pivoted dst columns).
  */
object Round10iQueries {

  private val Transient = Seq("view", "click", "signup", "error")
  private val Dsts = Transient ++ Seq("purchase", "END")
  private val Srcs = "START" +: Transient
  private val Iters = 6

  /** (src, dst, c): consecutive-event transitions per user (ordered by
    * ts, event_id), journey ends to END, plus START -> first event.
    */
  private def transitions(s: SparkSession, dir: String): DataFrame = {
    // r12 optimization (guide §2.4): ONE window pass. The old shape
    // union'd two selects over the same windowed frame — exchange reuse
    // dedups the shuffle but not the Sort+Window above it, so the
    // user-keyed sort of the full event stream ran twice. Emitting the
    // extra START row by exploding a per-row 1-or-2-element array keeps
    // the exact same (src, dst) multiset out of a single Sort+Window.
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val seq = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("dst",
        coalesce(lead(col("event_type"), 1).over(w), lit("END")))
      .withColumn("rn", row_number().over(w))
    val pair = struct(col("event_type").as("src"), col("dst").as("dst"))
    val startPair = struct(lit("START").as("src"),
      col("event_type").as("dst"))
    seq.select(explode(when(col("rn") === 1, array(pair, startPair))
        .otherwise(array(pair))).as("tr"))
      .select(col("tr.src").as("src"), col("tr.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("c"))
  }

  /** One-row wide frame: c_{src}_{dst} counts, n_{src} row totals,
    * p_{src}_{dst} probabilities (0.0 on empty rows).
    *
    * r12 optimization (guide §3.3 "planning time itself can become the
    * bottleneck"): the old withColumn-per-column foldLeft stacked ~65
    * Project nodes here (plus ~9 more per solve iteration), and the
    * bench's warm pass spent 4.0 s of wall on 0.003 s of task time —
    * pure Catalyst analysis/optimization of the projection tower. The
    * column EXPRESSIONS are unchanged (bitwise-identical IEEE trees);
    * they are just emitted in two wide selects instead of 35 nested
    * projections.
    */
  private def wideP(s: SparkSession, dir: String): DataFrame = {
    val tc = transitions(s, dir)
    val aggs = for { src <- Srcs; dst <- Dsts } yield
      sum(when(col("src") === src && col("dst") === dst, col("c"))
        .otherwise(0L)).as(s"c_${src}_$dst")
    val wide = tc.agg(aggs.head, aggs.tail: _*)
    val withN = wide.select(wide.columns.map(col) ++ Srcs.map(src =>
      Dsts.map(d => col(s"c_${src}_$d")).reduce(_ + _).as(s"n_$src")): _*)
    withN.select(withN.columns.map(col) ++ (for { src <- Srcs; dst <- Dsts }
      yield when(col(s"n_$src") > 0, col(s"c_${src}_$dst").cast("double")
        / col(s"n_$src").cast("double")).otherwise(lit(0.0))
        .as(s"p_${src}_$dst")): _*)
  }

  /** The removal-effect value expression for `src` given the removed
    * channel: written-order multiply-add over the p_ columns (the
    * removed channel's term is DROPPED, exactly as before).
    */
  private def vTerms(src: String, removed: Option[String],
                     v: String => Column): Column =
    (Transient.filterNot(removed.contains)
      .map(d => col(s"p_${src}_$d") * v(d)) :+
      col(s"p_${src}_purchase") * lit(1.0)).reduce(_ + _)

  /** k-step value iteration for SEVERAL removal variants at once on the
    * one-row wide frame: per variant `tag -> removed`, adds
    * v_<tag>_<state> columns and the start value V_<tag>. One Project
    * per iteration for ALL variants (the old shape built a separate
    * 60-Project plan per variant and crossJoined five of them — ~4 s of
    * pure planning per action at a 6-task execution).
    */
  private def multiSolve(base: DataFrame,
                         variants: Seq[(String, Option[String])]): DataFrame = {
    val keep = base.columns.map(col)
    var df = base.select(keep ++ variants.flatMap { case (tag, _) =>
      Transient.map(st => lit(0.0).as(s"v_${tag}_$st")) }: _*)
    for (_ <- 1 to Iters) {
      df = df.select(keep ++ variants.flatMap { case (tag, removed) =>
        Transient.map { st =>
          if (removed.contains(st)) lit(0.0).as(s"v_${tag}_$st")
          else vTerms(st, removed, d => col(s"v_${tag}_$d"))
            .as(s"v_${tag}_$st")
        } }: _*)
    }
    df.select(df.columns.map(col) ++ variants.map { case (tag, removed) =>
      vTerms("START", removed, d => col(s"v_${tag}_$d")).as(s"V_$tag") }: _*)
  }

  /** Single-variant solve (q_absorbing_conversion's shape): v_{state}
    * columns + start value V, via [[multiSolve]]'s one-Project-per-
    * iteration plan.
    */
  private def solve(base: DataFrame, removed: Option[String]): DataFrame = {
    val tagged = multiSolve(base, Seq("one" -> removed))
    val renames = Transient.map(st =>
      col(s"v_one_$st").as(s"v_$st")) :+ col("V_one").as("V")
    tagged.select(base.columns.map(col) ++ renames: _*)
  }

  // ---- DuckDB mirrors ----------------------------------------------

  private def transSql: String =
    """trans AS (
      |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT src, dst FROM seq
      |    UNION ALL
      |    SELECT 'START' AS src, src AS dst FROM seq WHERE rn = 1
      |  ) GROUP BY src, dst
      |)""".stripMargin

  private def seqSql: String =
    """seq AS (
      |  SELECT event_type AS src,
      |    COALESCE(LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id), 'END') AS dst,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM events
      |)""".stripMargin

  private def widePSql: String = {
    val cCols = (for { src <- Srcs; dst <- Dsts } yield
      s"SUM(CASE WHEN src = '$src' AND dst = '$dst' THEN c ELSE 0 END) " +
        s"AS c_${src}_$dst").mkString(",\n    ")
    val nCols = Srcs.map(src =>
      s"${Dsts.map(d => s"c_${src}_$d").mkString(" + ")} AS n_$src")
      .mkString(",\n    ")
    val pCols = (for { src <- Srcs; dst <- Dsts } yield
      s"CASE WHEN n_$src > 0 THEN CAST(c_${src}_$dst AS DOUBLE) " +
        s"/ CAST(n_$src AS DOUBLE) ELSE 0.0 END AS p_${src}_$dst")
      .mkString(",\n    ")
    s"""wide AS (
       |  SELECT $cCols
       |  FROM trans
       |), ns AS (
       |  SELECT *,
       |    $nCols
       |  FROM wide
       |), ps AS (
       |  SELECT *,
       |    $pCols
       |  FROM ns
       |)""".stripMargin
  }

  private def vTermsSql(src: String, removed: Option[String],
                        v: String => String): String =
    (Transient.filterNot(removed.contains)
      .map(d => s"p_${src}_$d * ${v(d)}") :+
      s"p_${src}_purchase * 1.0").mkString(" + ")

  /** Iteration CTE chain `it_<tag>_0 .. it_<tag>_N` + a 1-column final
    * CTE `fin_<tag>(v_<tag>)` with the start value.
    */
  private def solveSql(tag: String, removed: Option[String]): String = {
    val init = s"""it_${tag}_0 AS (
                  |  SELECT *, ${Transient.map(st => s"0.0 AS v_$st")
                    .mkString(", ")} FROM ps
                  |)""".stripMargin
    val steps = (1 to Iters).map { i =>
      val nexts = Transient.map { st =>
        if (removed.contains(st)) s"0.0 AS vn_$st"
        else s"${vTermsSql(st, removed, d => s"v_$d")} AS vn_$st"
      }.mkString(",\n    ")
      val renames = Transient
        .map(st => s"vn_$st AS v_$st").mkString(", ")
      s"""it_${tag}_${i}a AS (
         |  SELECT *,
         |    $nexts
         |  FROM it_${tag}_${i - 1}
         |), it_${tag}_$i AS (
         |  SELECT * EXCLUDE (${Transient.flatMap(st =>
             Seq(s"v_$st", s"vn_$st")).mkString(", ")}), $renames
         |  FROM it_${tag}_${i}a
         |)""".stripMargin
    }
    val fin = s"""fin_$tag AS (
                 |  SELECT ${vTermsSql("START", removed, d => s"v_$d")}
                 |    AS v_$tag
                 |  FROM it_${tag}_$Iters
                 |)""".stripMargin
    (init +: steps :+ fin).mkString(", ")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_markov_attribution" -> ((s, dir) => {
      // all five value iterations (base + one per removed channel) run
      // as columns of ONE one-row frame — no per-variant sub-plan, no
      // crossJoins, and the retain is gone with them (nothing reuses
      // the wide frame across actions anymore; there is one action)
      val solved = multiSolve(wideP(s, dir),
        ("base" -> None) +: Transient.map(c => s"rm_$c" -> Some(c)))
      val all = solved.select(col("V_base").as("v_base") +:
        Transient.map(c => col(s"V_rm_$c").as(s"v_rm_$c")): _*)
      // effects as named columns; the share normalizer adds them in
      // written order (4 terms, one row)
      def eff(c: String): Column =
        when(col("v_base") > 0,
          (col("v_base") - col(s"v_rm_$c")) / col("v_base"))
          .otherwise(lit(0.0))
      val withEff = all.select(all.columns.map(col) ++
        Transient.map(c => eff(c).as(s"eff_$c")): _*)
        .withColumn("eff_tot",
          Transient.map(c => col(s"eff_$c")).reduce(_ + _))
      // one reference to the solved frame; channel rows via explode
      // instead of a 4-way union that would duplicate the subtree
      val rows = Transient.map { c =>
        struct(lit(c).as("channel"), col("v_base"),
          col(s"v_rm_$c").as("v_removed"),
          col(s"eff_$c").as("removal_effect"),
          when(col("eff_tot") > 0, col(s"eff_$c") / col("eff_tot"))
            .otherwise(lit(0.0)).as("attribution_share"))
      }
      withEff.select(explode(array(rows: _*)).as("r"))
        .select(col("r.channel").as("channel"), col("r.v_base").as("v_base"),
          col("r.v_removed").as("v_removed"),
          col("r.removal_effect").as("removal_effect"),
          col("r.attribution_share").as("attribution_share"))
        .orderBy("channel")
    }),

    "q_absorbing_conversion" -> ((s, dir) => {
      // one reference to the solve tower (the old union of five selects
      // duplicated the whole iteration subtree 5x in the plan); the
      // rows come out of a single explode over named structs instead
      val solved = solve(wideP(s, dir), None)
      val entries = Transient.map(st =>
        struct(lit(st).as("state"), col(s"v_$st").as("p_convert_6"))) :+
        struct(lit("START").as("state"), col("V").as("p_convert_6"))
      solved.select(explode(array(entries: _*)).as("e"))
        .select(col("e.state").as("state"),
          col("e.p_convert_6").as("p_convert_6"))
        .orderBy("state")
    }),

    "q_transition_entropy" -> ((s, dir) => {
      val tc = transitions(s, dir)
      val pivoted = tc.groupBy("src")
        .agg(Dsts.map(d => sum(when(col("dst") === d, col("c"))
          .otherwise(0L)).as(s"c_$d")).head,
          Dsts.map(d => sum(when(col("dst") === d, col("c"))
            .otherwise(0L)).as(s"c_$d")).tail: _*)
        .withColumn("n_out", Dsts.map(d => col(s"c_$d")).reduce(_ + _))
      val terms = Dsts.map(d =>
        when(col(s"c_$d") > 0,
          col(s"c_$d").cast("double") * DetMath.dln(col(s"c_$d")))
          .otherwise(lit(0.0))).reduce(_ + _)
      pivoted.select(col("src").as("state"), col("n_out"),
        (DetMath.dln(col("n_out")) - terms / col("n_out").cast("double"))
          .as("entropy_nats"))
        .orderBy("state")
    }))

  val oracle: Map[String, String] = Map(

    "q_markov_attribution" -> {
      val solves = (solveSql("base", None) +:
        Transient.map(c => solveSql(s"rm_$c", Some(c)))).mkString(", ")
      val effs = Transient.map(c =>
        s"CASE WHEN v_base > 0 THEN (v_base - v_rm_$c) / v_base " +
          s"ELSE 0.0 END AS eff_$c").mkString(",\n    ")
      val tot = Transient.map(c => s"eff_$c").mkString(" + ")
      val rows = Transient.map(c =>
        s"""SELECT '$c' AS channel, v_base, v_rm_$c AS v_removed,
           |  eff_$c AS removal_effect,
           |  CASE WHEN $tot > 0 THEN eff_$c / ($tot) ELSE 0.0 END
           |    AS attribution_share
           |FROM effs""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH $seqSql, $transSql, $widePSql, $solves,
         |effs AS (
         |  SELECT *,
         |    $effs
         |  FROM fin_base${Transient.map(c => s", fin_rm_$c").mkString}
         |)
         |$rows
         |ORDER BY channel""".stripMargin
    },

    "q_absorbing_conversion" -> {
      val rows = (Transient.map(st =>
        s"SELECT '$st' AS state, v_$st AS p_convert_6 FROM it_base_$Iters") :+
        s"SELECT 'START' AS state, v_base AS p_convert_6 FROM fin_base")
        .mkString("\nUNION ALL\n")
      s"""WITH $seqSql, $transSql, $widePSql, ${solveSql("base", None)}
         |$rows
         |ORDER BY state""".stripMargin
    },

    "q_transition_entropy" -> {
      val cCols = Dsts.map(d =>
        s"CAST(SUM(CASE WHEN dst = '$d' THEN c ELSE 0 END) AS BIGINT) " +
          s"AS c_$d").mkString(",\n    ")
      // chain one dln staging per dst column, then one for n_out
      val keep0 = "src, " + Dsts.map(d => s"c_$d").mkString(", ") + ", n_out"
      val (chain, _, lnNames) = Dsts.foldLeft(
        (List.empty[String], keep0, List.empty[String])) {
        case ((ctes, keep, lns), d) =>
          val cte = DetMath.lnCtesSql(s"ln_$d",
            if (ctes.isEmpty) "pv" else s"ln_${Dsts(ctes.size - 1)}",
            keep, s"c_$d", s"ln_c_$d")
          (ctes :+ cte, s"$keep, ln_c_$d", lns :+ s"ln_c_$d")
      }
      val lastFrom = s"ln_${Dsts.last}"
      val nCte = DetMath.lnCtesSql("ln_n", lastFrom,
        keep0 + ", " + lnNames.mkString(", "), "n_out", "ln_nout")
      val terms = Dsts.map(d =>
        s"CASE WHEN c_$d > 0 THEN CAST(c_$d AS DOUBLE) * ln_c_$d " +
          s"ELSE 0.0 END").mkString(" + ")
      s"""WITH $seqSql, $transSql,
         |pv AS (
         |  SELECT src,
         |    $cCols,
         |    CAST(SUM(c) AS BIGINT) AS n_out
         |  FROM trans GROUP BY src
         |),
         |${chain.mkString(",\n")},
         |$nCte
         |SELECT src AS state, n_out,
         |  ln_nout - ($terms) / CAST(n_out AS DOUBLE) AS entropy_nats
         |FROM ln_n ORDER BY state""".stripMargin
    })
}
