package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** BoundsBucket must reproduce EXACTLY the literal comparison chain it
  * replaced in GlobalRank — `sum_i(when(value > lit(b_i), 1).otherwise(0))`
  * with Spark's `>` double semantics — because rank exactness only
  * tolerates a DIFFERENT boundary vector, never a different bucketing
  * rule for the same one. The adversarial cells are NaN (greater than
  * everything under Spark ordering, unlike Java's `>`), null values
  * (bucket 0 through the otherwise(0) arms), and a null bounds array
  * (zero non-null input rows → bucket 0).
  */
class RankExpressionsSpec extends AnyFunSuite with SparkSuite {

  private def bucketBoth(values: Seq[java.lang.Double],
                         bounds: Seq[Double]): Seq[(Int, Int)] = {
    import spark.implicits._
    val df = values.zipWithIndex
      .map { case (v, i) => (i, Option(v).map(_.doubleValue)) }
      .toDF("id", "m")
      .withColumn("bounds",
        if (bounds.isEmpty) lit(null).cast("array<double>")
        else array(bounds.map(lit): _*))
    val oldChain =
      if (bounds.isEmpty) lit(0)
      else bounds.map(b => when(col("m") > lit(b), 1).otherwise(0))
        .reduce(_ + _)
    df.withColumn("nu", RankExpressions.bucketOf(col("bounds"), col("m")))
      .withColumn("old", oldChain)
      .orderBy("id")
      .select("nu", "old").as[(Int, Int)].collect().toSeq
  }

  test("matches the literal when-chain on plain values, ties and bounds") {
    val bounds = Seq(1.0, 2.0, 2.0, 5.5) // duplicate boundary included
    val values = Seq[java.lang.Double](0.0, 1.0, 1.5, 2.0, 3.0, 5.5, 9.0,
      -1.0, -0.0, 0.0)
    for (((nu, old), v) <- bucketBoth(values, bounds).zip(values))
      assert(nu == old, s"value $v: got $nu, when-chain says $old")
  }

  test("NaN lands in the top bucket, exactly like Spark's > on doubles") {
    val bounds = Seq(1.0, 2.0, 3.0)
    val got = bucketBoth(Seq(Double.NaN), bounds)
    assert(got == Seq((3, 3))) // NaN > every boundary under Spark ordering
  }

  test("null value and null bounds both map to bucket 0") {
    assert(bucketBoth(Seq(null), Seq(1.0, 2.0)) == Seq((0, 0)))
    assert(bucketBoth(Seq(5.0), Seq.empty) == Seq((0, 0)))
  }

  test("runs inside whole-stage codegen (no fallback)") {
    // spark.range, not a local relation: toDF of literals folds to a
    // LocalTableScan with no codegen stage to inspect
    val df = spark.range(1, 101).select(col("id").cast("double").as("m"))
      .withColumn("bounds", array(lit(25.0), lit(50.0), lit(75.0)))
      .withColumn("b", RankExpressions.bucketOf(col("bounds"), col("m")))
    // the projection computing b must sit inside a WholeStageCodegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(df.groupBy("b").count().count() == 4)
  }
}
