package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 sixth batch: Hilbert-curve data layout vs Z-order — the
  * storage-layout decision a 100 TB table owner actually faces. Morton
  * (q_zorder_layout) is cheap but its curve makes long jumps at power-
  * of-two boundaries; the Hilbert curve visits every cell with unit
  * steps, so equal-size index ranges cover tighter bounding boxes and
  * data skipping prunes more files. This batch makes the comparison a
  * query result instead of folklore:
  *
  *  - q_hilbert_layout: the per-file bounding-box census of a
  *    1024-rows-per-file Hilbert layout of (partkey, suppkey) mod 256 —
  *    the same census q_zorder_layout reports for Morton.
  *  - q_layout_skipping_compare: files touched by a point predicate on
  *    x, a point predicate on y (sy=5 — inside the domain at every sf; suppkey mod 256 only reaches 9 at sf0.001), and a 16-wide range on x, under three
  *    layouts (hilbert / zorder / x-sorted linear) — the data-skipping
  *    scorecard.
  *  - q_hilbert_locality: average Manhattan step between consecutive
  *    curve positions, Hilbert vs Morton, over the occupied cells —
  *    Hilbert's unit-step property, measured.
  *
  * The xy→d Hilbert transform is the standard rotate-and-accumulate
  * loop (Hamilton, via Wikipedia's xy2d), unrolled 8 times for 8-bit
  * coordinates; BOTH the Column chain and the DuckDB SQL are generated
  * from the same fold in this file, so the engines mirror by
  * construction. Pure integer arithmetic end to end; the layout
  * aggregates shuffle 64 file groups, partials map-side.
  */
object Round9fQueries {

  private val steps = Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)

  /** Hilbert xy2d, 8-bit coords: adds column `out` to `df` from its
    * (xCol, yCol). Each of the 8 unrolled stages materializes as a
    * NAMED projection — a single folded Column expression re-inlines
    * the x/y subtree ~4x per stage (4^8 node copies), which stalls
    * analysis/codegen for minutes; named per-stage attributes keep the
    * tree linear (CollapseProject declines to merge projects whose
    * aliases are referenced more than once, so the optimizer preserves
    * the staging).
    */
  private[queries] def withHilbert8(df: DataFrame, xCol: String,
      yCol: String, out: String): DataFrame = {
    val init = df.withColumn("_hx", col(xCol))
      .withColumn("_hy", col(yCol)).withColumn("_hd", lit(0L))
    val folded = steps.foldLeft(init) { (d, s) =>
      val rx = when(col("_hx").bitwiseAND(lit(s)) > 0, lit(1L))
        .otherwise(lit(0L))
      val ry = when(col("_hy").bitwiseAND(lit(s)) > 0, lit(1L))
        .otherwise(lit(0L))
      // rotate the quadrant: flip when rx=1, then swap — only if ry=0
      val fx = when(rx === 1, lit(s) - 1 - col("_hx")).otherwise(col("_hx"))
      val fy = when(rx === 1, lit(s) - 1 - col("_hy")).otherwise(col("_hy"))
      d.select(col("*"),
          (col("_hd") + lit(s) * lit(s) * ((lit(3L) * rx).bitwiseXOR(ry)))
            .as("_hd2"),
          when(ry === 0, fy).otherwise(col("_hx")).as("_hx2"),
          when(ry === 0, fx).otherwise(col("_hy")).as("_hy2"))
        .drop("_hd", "_hx", "_hy")
        .withColumnRenamed("_hd2", "_hd")
        .withColumnRenamed("_hx2", "_hx")
        .withColumnRenamed("_hy2", "_hy")
    }
    folded.withColumn(out, col("_hd")).drop("_hx", "_hy", "_hd")
  }

  /** The SAME unrolled loop as DuckDB SQL: emits CTE stages h1..h8 over
    * base CTE `from` (which must expose px, sy); every stage carries
    * the ORIGINAL coordinates as (opx, osy), so `h8` ends with
    * (opx, osy, hx, hy, hd).
    *
    * Stage algebra (mirrors hilbert8's fold exactly): with
    * rx = (x & s) > 0, ry = (y & s) > 0 —
    *   d' = d + s²·xor(3rx, ry)
    *   if ry = 0: flip x,y to s−1−· when rx = 1, then SWAP —
    *     x' = (rx ? s−1−y : y), y' = (rx ? s−1−x : x)
    *   else x' = x, y' = y.
    */
  private def hilbertCtesSql(from: String): String = {
    val stages = steps.zipWithIndex.map { case (s, i) =>
      val p = if (i == 0) from else s"h$i"
      val (x, y, d, keepSel) =
        if (i == 0) ("px", "sy", "CAST(0 AS BIGINT)", "px AS opx, sy AS osy")
        else ("hx", "hy", "hd", "opx, osy")
      val rx1 = s"(($x) & $s) > 0"
      val ry1 = s"(($y) & $s) > 0"
      s"""h${i + 1} AS (
         |  SELECT $keepSel,
         |    CASE WHEN $ry1 THEN ($x)
         |      ELSE (CASE WHEN $rx1 THEN $s - 1 - ($y) ELSE ($y) END)
         |      END AS hx,
         |    CASE WHEN $ry1 THEN ($y)
         |      ELSE (CASE WHEN $rx1 THEN $s - 1 - ($x) ELSE ($x) END)
         |      END AS hy,
         |    ($d) + $s * $s * xor(3 * (CASE WHEN $rx1 THEN 1 ELSE 0 END),
         |      (CASE WHEN $ry1 THEN 1 ELSE 0 END)) AS hd
         |  FROM $p
         |)""".stripMargin
    }
    stages.mkString(", ")
  }

  private def cells(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").select(
      pmod(col("l_partkey"), lit(256L)).as("px"),
      pmod(col("l_suppkey"), lit(256L)).as("sy"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_hilbert_layout" -> ((s, dir) => {
      // NO spread (measured): the one-pass integer Hilbert fold +
      // 64-group aggregate reads 0.58 s on the raw 1-task scan vs
      // 1.24 s behind a round-robin exchange of 600k rows — the
      // shuffle costs more than the projection parallelism buys. The
      // layout-compare key below keeps its spread because its spread
      // frame is RETAINED and feeds three probe jobs.
      withHilbert8(cells(s, dir), "px", "sy", "hd")
        .withColumn("file_id", call_function("div", col("hd"), lit(1024L)))
        .groupBy("file_id").agg(
          count(lit(1)).as("n"),
          min("px").as("min_px"), max("px").as("max_px"),
          min("sy").as("min_sy"), max("sy").as("max_sy"))
        .orderBy("file_id")
    }),

    "q_layout_skipping_compare" -> ((s, dir) => {
      // spread (guide §2.5): Hilbert + Morton projections over 600k rows
      // ran on the single-row-group scan task without it
      val c = graft.CacheScope.retain(
        withHilbert8(PipelineQueries.spread(s, cells(s, dir)),
          "px", "sy", "hd")
          .withColumn("zd", Round5cQueries.morton8(col("px"), col("sy"))))
      // x-sorted linear layout: file = rank by (px, sy) div 1024 — same
      // file size as the curve layouts, built from an exact global rank
      // over the 2-level key (GlobalRank-free here: rank on the BOUNDED
      // 256x256 cell-count table, then rows get their file from the
      // cell's cumulative offset)
      def boxes(fileCol: Column, tag: String): DataFrame =
        c.withColumn("file_id", fileCol)
          .groupBy("file_id").agg(
            min("px").as("min_px"), max("px").as("max_px"),
            min("sy").as("min_sy"), max("sy").as("max_sy"))
          .withColumn("layout", lit(tag))
      val cellCounts = c.groupBy("px", "sy").agg(count(lit(1)).as("cn"))
      val wCell = Window.orderBy("px", "sy")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cellOffsets = cellCounts
        .withColumn("off", coalesce(sum("cn").over(wCell), lit(0L)))
        .select(col("px").as("lpx"), col("sy").as("lsy"), col("off"))
      // ≤65k offset rows: broadcast beats shuffling the 600k-row side
      val linear = c.join(broadcast(cellOffsets),
          col("px") === col("lpx") && col("sy") === col("lsy"))
        .withColumn("file_id", call_function("div", col("off"), lit(1024L)))
        .groupBy("file_id").agg(
          min("px").as("min_px"), max("px").as("max_px"),
          min("sy").as("min_sy"), max("sy").as("max_sy"))
        .withColumn("layout", lit("linear_x"))
      val all = boxes(call_function("div", col("hd"), lit(1024L)), "hilbert")
        .unionByName(boxes(call_function("div", col("zd"), lit(1024L)), "zorder"))
        .unionByName(linear)
      all.groupBy("layout").agg(
          count(lit(1)).as("n_files"),
          sum(when(col("min_px") <= 17 && col("max_px") >= 17, 1L)
            .otherwise(0L)).as("files_x_eq"),
          sum(when(col("min_sy") <= 5 && col("max_sy") >= 5, 1L)
            .otherwise(0L)).as("files_y_eq"),
          sum(when(col("min_px") <= 79 && col("max_px") >= 64, 1L)
            .otherwise(0L)).as("files_x_range16"))
        .orderBy("layout")
    }),

    "q_hilbert_locality" -> ((s, dir) => {
      val occupied = graft.CacheScope.retain(
        withHilbert8(cells(s, dir).select("px", "sy").distinct(),
          "px", "sy", "hd")
          .withColumn("zd", Round5cQueries.morton8(col("px"), col("sy"))))
      def meanStep(idx: String): DataFrame = {
        val w = Window.orderBy(idx)
        occupied
          .withColumn("ppx", lag("px", 1).over(w))
          .withColumn("psy", lag("sy", 1).over(w))
          .filter(col("ppx").isNotNull)
          .agg(count(lit(1)).as("n_steps"),
            sum(abs(col("px") - col("ppx")) + abs(col("sy") - col("psy")))
              .as("total_manhattan"))
          .withColumn("curve", lit(idx))
      }
      meanStep("hd").unionByName(meanStep("zd"))
        .select(col("curve"), col("n_steps"), col("total_manhattan"),
          (col("total_manhattan").cast("double") /
            col("n_steps").cast("double")).as("mean_step"))
        .orderBy("curve")
    }))

  private def baseCte =
    """WITH c AS (
      |  SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sy FROM lineitem
      |)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_hilbert_layout" -> (baseCte + ", " + hilbertCtesSql("c") +
      """
        |SELECT hd // 1024 AS file_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(opx) AS min_px, MAX(opx) AS max_px,
        |  MIN(osy) AS min_sy, MAX(osy) AS max_sy
        |FROM h8 GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_layout_skipping_compare" -> (baseCte + ", " + hilbertCtesSql("c") +
      s""", hz AS (
         |  SELECT opx AS px, osy AS sy, hd,
         |    ${Round5cQueries.mortonSql("opx", "osy")} AS zd
         |  FROM h8
         |), hbox AS (
         |  SELECT 'hilbert' AS layout, hd // 1024 AS file_id,
         |    MIN(px) AS min_px, MAX(px) AS max_px,
         |    MIN(sy) AS min_sy, MAX(sy) AS max_sy
         |  FROM hz GROUP BY 2
         |), zbox AS (
         |  SELECT 'zorder' AS layout, zd // 1024 AS file_id,
         |    MIN(px) AS min_px, MAX(px) AS max_px,
         |    MIN(sy) AS min_sy, MAX(sy) AS max_sy
         |  FROM hz GROUP BY 2
         |), cellcnt AS (
         |  SELECT px, sy, COUNT(*) AS cn FROM c GROUP BY 1, 2
         |), celloff AS (
         |  SELECT px AS lpx, sy AS lsy,
         |    COALESCE(SUM(cn) OVER (ORDER BY px, sy
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM cellcnt
         |), lin AS (
         |  SELECT 'linear_x' AS layout, off // 1024 AS file_id,
         |    MIN(px) AS min_px, MAX(px) AS max_px,
         |    MIN(sy) AS min_sy, MAX(sy) AS max_sy
         |  FROM c JOIN celloff ON px = lpx AND sy = lsy GROUP BY 2
         |), all_boxes AS (
         |  SELECT * FROM hbox UNION ALL SELECT * FROM zbox
         |  UNION ALL SELECT * FROM lin
         |)
         |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         |  CAST(SUM(CASE WHEN min_px <= 17 AND max_px >= 17 THEN 1
         |    ELSE 0 END) AS BIGINT) AS files_x_eq,
         |  CAST(SUM(CASE WHEN min_sy <= 5 AND max_sy >= 5 THEN 1
         |    ELSE 0 END) AS BIGINT) AS files_y_eq,
         |  CAST(SUM(CASE WHEN min_px <= 79 AND max_px >= 64 THEN 1
         |    ELSE 0 END) AS BIGINT) AS files_x_range16
         |FROM all_boxes GROUP BY layout ORDER BY layout""".stripMargin),

    "q_hilbert_locality" -> (
      """WITH cr AS (
        |  SELECT l_partkey % 256 AS rpx, l_suppkey % 256 AS rsy
        |  FROM lineitem
        |), c AS (
        |  SELECT DISTINCT rpx AS px, rsy AS sy FROM cr
        |), """.stripMargin + hilbertCtesSql("c") +
      s""", hz AS (
         |  SELECT opx AS px, osy AS sy, hd,
         |    ${Round5cQueries.mortonSql("opx", "osy")} AS zd
         |  FROM h8
         |), hs AS (
         |  SELECT px - LAG(px) OVER (ORDER BY hd) AS dx,
         |    sy - LAG(sy) OVER (ORDER BY hd) AS dy
         |  FROM hz
         |), zs AS (
         |  SELECT px - LAG(px) OVER (ORDER BY zd) AS dx,
         |    sy - LAG(sy) OVER (ORDER BY zd) AS dy
         |  FROM hz
         |), u AS (
         |  SELECT 'hd' AS curve, CAST(COUNT(*) AS BIGINT) AS n_steps,
         |    CAST(SUM(abs(dx) + abs(dy)) AS BIGINT) AS total_manhattan
         |  FROM hs WHERE dx IS NOT NULL
         |  UNION ALL
         |  SELECT 'zd', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(abs(dx) + abs(dy)) AS BIGINT)
         |  FROM zs WHERE dx IS NOT NULL
         |)
         |SELECT curve, n_steps, total_manhattan,
         |  CAST(total_manhattan AS DOUBLE) / CAST(n_steps AS DOUBLE)
         |    AS mean_step
         |FROM u ORDER BY curve""".stripMargin))
}
