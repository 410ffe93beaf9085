package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}

/** Public API for the native as-of join operator (AsOfJoinExec).
  *
  * The right side is re-aliased with fresh expression ids before the
  * node is built, so both sides may derive from the SAME source
  * DataFrame (the common case: one event log filtered two ways) without
  * ambiguous attribute references. Column NAMES must still be disjoint
  * across the two sides — rename before joining, exactly as with
  * `Dataset.join` on self-joins.
  */
object AsOfJoinOps {

  /** Left as-of-backward join: each left row paired with the latest
    * right row of the same key with rightTime ≤ leftTime (ties broken
    * by rightTieBreak, last wins); unmatched left rows null-pad.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String] = Nil,
      direction: String = "backward"): DataFrame = {
    require(leftKeys.length == rightKeys.length,
      "leftKeys and rightKeys must pair up")
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // fresh expr ids on the right: self-derived sides stay unambiguous
    val rAliased = Project(
      right.queryExecution.analyzed.output.map(a => Alias(a, a.name)()),
      right.queryExecution.analyzed)
    val rOut: Seq[Attribute] = rAliased.projectList.map(_.toAttribute)
    def res(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"$side column '$n' not found among ${out.map(_.name).mkString(", ")}"))
    val node = AsOfJoinNode(lPlan, rAliased,
      leftKeys.map(res(lPlan.output, _, "left")),
      rightKeys.map(res(rOut, _, "right")),
      res(lPlan.output, leftTime, "left"),
      res(rOut, rightTime, "right"),
      rightTieBreak.map(res(rOut, _, "right")), direction)
    GraftSqlBridge.ofRows(spark, node)
  }
}
