package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The helpers the query batches share — one copy each. Every query
  * reads its tables through [[graft.Tables]] and gets the graft_*
  * functions from [[graft.GraftExtensions]]; only the column and SQL
  * idioms that keep Spark and the DuckDB oracle bitwise-identical live
  * here.
  */
object QueryKit {

  /** Exact 2-dp decimal: every price/quantity column is an exact
    * 2-decimal value, so casts into it are lossless.
    */
  val dec: DecimalType = DecimalType(18, 2)

  /** Exact sum of a 2-decimal double column, surfaced as DOUBLE. */
  def dsum(c: Column): Column =
    sum(c.cast(dec)).cast("double")

  /** Decimal -> double through VARCHAR: a string parse is correctly
    * rounded on both engines, where DuckDB's direct scaled-int cast
    * can land 1 ulp off (mirrored as CAST(CAST(x AS VARCHAR) AS DOUBLE)).
    */
  def d(c: Column): Column = c.cast("string").cast("double")

  /** Exact left fold of `field` over the key-sorted struct list. */
  def sortedFold(structs: Column, field: String): Column =
    aggregate(transform(array_sort(structs), _.getField(field)),
      lit(0.0), (acc, v) => acc + v)

  /** First 8 hex chars of md5(c) as an exact long in [0, 2^32) — the
    * deterministic coin every md5-routed op uses.
    */
  def md5Head(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** The same 8-hex-char fold of md5(x) in DuckDB (conv() does not
    * exist there); exact for values < 2^53.
    */
  def md5HeadSql(x: String): String =
    s"""CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(
       |      string_split_regex(substring(md5($x), 1, 8), ''),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
       |      (acc, v) -> acc * 16 + v) AS BIGINT)""".stripMargin
}
