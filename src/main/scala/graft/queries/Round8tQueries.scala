package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryKit.sortedFold

/** Round-8 twentieth batch: the data-quality / profiling audits a
  * warehouse runs before trusting a 100 TB corpus.
  *
  *  - q_fd_violations: functional-dependency audit (TANE's g3 error)
  *    for three candidate FDs on lineitem — per FD, how many LHS
  *    groups violate it and the minimum row deletions that would make
  *    it hold (sum over groups of rows minus the majority RHS).
  *    Everything reduces through (A,B)-keyed combine aggregates —
  *    never a self-join — so the audit scales with distinct keys.
  *  - q_column_drift: schema-wide categorical drift between the early
  *    and late halves of orders (split at the midpoint of the date
  *    span): total-variation distance per column over status,
  *    priority, and bucketed total-price distributions. The
  *    train/serve skew monitor, one scan + domain-sized shuffles.
  *  - q_key_uniqueness: candidate-key audit across six declared keys
  *    (single and composite): rows vs distinct keys, duplicated-key
  *    groups, worst multiplicity — the uniqueness-constraint
  *    validation layer (Deequ-style) over every base table.
  *
  * Determinism: FD and uniqueness audits are pure integer counting;
  * drift divisions happen once per category and fold in category
  * order (sortedFold / list_reduce ORDER BY); the price bucket uses
  * floor() (identical in both engines, unlike double->int casts,
  * which truncate in Spark but round in DuckDB).
  */
object Round8tQueries {

  /** g3-style audit of candidate FD lhs -> rhs over df. */
  private def fdAudit(df: DataFrame, lhs: String, rhs: String,
      name: String): DataFrame =
    df.groupBy(col(lhs).as("a"), col(rhs).as("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy("a")
      .agg(count(lit(1)).as("nb"), sum("c").as("tot"), max("c").as("mx"))
      .agg(count(lit(1)).as("n_lhs_groups"),
        sum(when(col("nb") > 1, 1L).otherwise(0L))
          .as("n_violating_groups"),
        sum(col("tot") - col("mx")).as("g3_rows"),
        sum("tot").as("n_rows"))
      .select(lit(name).as("fd"), col("n_lhs_groups"),
        col("n_violating_groups"), col("g3_rows"), col("n_rows"))

  /** Candidate-key audit: group sizes over the key columns. */
  private def keyAudit(df: DataFrame, name: String,
      keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n_rows"), count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
        max("c").as("max_multiplicity"))
      .select(lit(name).as("candidate"), col("n_rows"),
        col("n_distinct"), col("n_dup_keys"), col("max_multiplicity"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_fd_violations" -> ((s, dir) => {
      val li = graft.CacheScope.retain(Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_returnflag",
          "l_linestatus", "l_quantity"))
      fdAudit(li, "l_orderkey", "l_returnflag", "l_orderkey->l_returnflag")
        .unionByName(fdAudit(li, "l_orderkey", "l_linestatus",
          "l_orderkey->l_linestatus"))
        .unionByName(fdAudit(li, "l_partkey", "l_quantity",
          "l_partkey->l_quantity"))
        .orderBy("fd")
    }),

    "q_column_drift" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val bounds = broadcast(o.agg(min("o_orderdate").as("dmin"),
        max("o_orderdate").as("dmax")))
      val cats = o.crossJoin(bounds)
        .select(
          when(lit(2) * datediff(col("o_orderdate"), col("dmin")) <=
            datediff(col("dmax"), col("dmin")), lit("early"))
            .otherwise(lit("late")).as("era"),
          col("o_orderstatus"), col("o_orderpriority"),
          floor(col("o_totalprice") / lit(25000.0)).cast("long")
            .cast("string").as("price_bucket"))
        .select(col("era"), expr(
          "stack(3, 'o_orderstatus', o_orderstatus, " +
            "'o_orderpriority', o_orderpriority, " +
            "'price_bucket', price_bucket) AS (colname, cat)"))
      val perCat = cats.groupBy("colname", "cat")
        .agg(sum(when(col("era") === "early", 1L).otherwise(0L)).as("ce"),
          sum(when(col("era") === "late", 1L).otherwise(0L)).as("cl"))
      val totals = perCat.groupBy(col("colname").as("tc"))
        .agg(sum("ce").as("ne"), sum("cl").as("nl"))
      perCat.join(broadcast(totals), col("colname") === col("tc"))
        .groupBy("colname", "ne", "nl")
        .agg(count(lit(1)).as("n_cats"),
          // try_divide: a one-era corpus zeroes ne or nl — the NULL
          // poisons the fold to tvd = NULL on BOTH engines (DuckDB's
          // bare division already yields NULL there)
          (lit(0.5) * sortedFold(collect_list(struct(col("cat"),
            abs(try_divide(col("ce").cast("double"), col("ne")) -
              try_divide(col("cl").cast("double"), col("nl")))
              .as("d"))), "d")).as("tvd"))
        .select(col("colname"), col("ne").as("n_early"),
          col("nl").as("n_late"), col("n_cats"), col("tvd"))
        .orderBy("colname")
    }),

    "q_key_uniqueness" -> ((s, dir) => {
      keyAudit(Tables(s, dir, "orders"), "orders.o_orderkey",
          Seq("o_orderkey"))
        .unionByName(keyAudit(Tables(s, dir, "lineitem"),
          "lineitem.(l_orderkey,l_linenumber)",
          Seq("l_orderkey", "l_linenumber")))
        .unionByName(keyAudit(Tables(s, dir, "customer"),
          "customer.c_custkey", Seq("c_custkey")))
        .unionByName(keyAudit(Tables(s, dir, "part"), "part.p_name",
          Seq("p_name")))
        .unionByName(keyAudit(Tables(s, dir, "events"), "events.event_id",
          Seq("event_id")))
        .unionByName(keyAudit(Tables(s, dir, "documents"),
          "documents.doc_id", Seq("doc_id")))
        .orderBy("candidate")
    }),
  )

  private def fdSql(lhs: String, rhs: String, name: String): String =
    s"""SELECT '$name' AS fd,
       |  CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
       |  CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_violating_groups,
       |  CAST(SUM(tot - mx) AS BIGINT) AS g3_rows,
       |  CAST(SUM(tot) AS BIGINT) AS n_rows
       |FROM (
       |  SELECT a, CAST(COUNT(*) AS BIGINT) AS nb,
       |    CAST(SUM(c) AS BIGINT) AS tot, CAST(MAX(c) AS BIGINT) AS mx
       |  FROM (
       |    SELECT $lhs AS a, $rhs AS b, CAST(COUNT(*) AS BIGINT) AS c
       |    FROM lineitem GROUP BY $lhs, $rhs
       |  ) GROUP BY a
       |)""".stripMargin

  private def keySql(table: String, name: String, keys: String): String =
    s"""SELECT '$name' AS candidate,
       |  CAST(SUM(c) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_keys,
       |  CAST(MAX(c) AS BIGINT) AS max_multiplicity
       |FROM (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM $table GROUP BY $keys
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_fd_violations" ->
      s"""${fdSql("l_orderkey", "l_returnflag", "l_orderkey->l_returnflag")}
         |UNION ALL
         |${fdSql("l_orderkey", "l_linestatus", "l_orderkey->l_linestatus")}
         |UNION ALL
         |${fdSql("l_partkey", "l_quantity", "l_partkey->l_quantity")}
         |ORDER BY fd""".stripMargin,

    "q_column_drift" ->
      """WITH b AS (
        |  SELECT MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax
        |  FROM orders
        |), cats AS (
        |  SELECT era, colname, cat FROM (
        |    SELECT CASE WHEN 2 * date_diff('day', b.dmin, o_orderdate)
        |        <= date_diff('day', b.dmin, b.dmax)
        |      THEN 'early' ELSE 'late' END AS era,
        |      o_orderstatus,
        |      o_orderpriority,
        |      CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT)
        |        AS VARCHAR) AS price_bucket
        |    FROM orders, b
        |  ) UNPIVOT (cat FOR colname IN (
        |    o_orderstatus, o_orderpriority, price_bucket))
        |), per_cat AS (
        |  SELECT colname, cat,
        |    CAST(SUM(CASE WHEN era = 'early' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ce,
        |    CAST(SUM(CASE WHEN era = 'late' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cl
        |  FROM cats GROUP BY colname, cat
        |), totals AS (
        |  SELECT colname AS tc, CAST(SUM(ce) AS BIGINT) AS ne,
        |    CAST(SUM(cl) AS BIGINT) AS nl
        |  FROM per_cat GROUP BY colname
        |)
        |SELECT colname, ne AS n_early, nl AS n_late,
        |  CAST(COUNT(*) AS BIGINT) AS n_cats,
        |  0.5 * list_reduce([CAST(0 AS DOUBLE)] ||
        |    list(abs(CAST(ce AS DOUBLE) / CAST(ne AS DOUBLE) -
        |      CAST(cl AS DOUBLE) / CAST(nl AS DOUBLE)) ORDER BY cat),
        |    (a, q) -> a + q) AS tvd
        |FROM per_cat JOIN totals ON colname = tc
        |GROUP BY colname, ne, nl
        |ORDER BY colname""".stripMargin,

    "q_key_uniqueness" ->
      s"""${keySql("orders", "orders.o_orderkey", "o_orderkey")}
         |UNION ALL
         |${keySql("lineitem", "lineitem.(l_orderkey,l_linenumber)",
            "l_orderkey, l_linenumber")}
         |UNION ALL
         |${keySql("customer", "customer.c_custkey", "c_custkey")}
         |UNION ALL
         |${keySql("part", "part.p_name", "p_name")}
         |UNION ALL
         |${keySql("events", "events.event_id", "event_id")}
         |UNION ALL
         |${keySql("documents", "documents.doc_id", "doc_id")}
         |ORDER BY candidate""".stripMargin,
  )
}
