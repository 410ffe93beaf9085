package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Unit pins for the primitive sorted-merge long-array set ops (the
  * graph queries cover the happy path at query level; these pin the
  * edge cases and the equivalence with array_intersect).
  */
class LongArrayExpressionsSpec extends AnyFunSuite with SparkSuite {

  private def run(a: Seq[Long], b: Seq[Long]): (Int, Seq[Long]) = {
    import spark.implicits._
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(
      call_function("graft_lsorted_intersect_size", col("a"), col("b")),
      call_function("graft_lsorted_intersect", col("a"), col("b")))
      .collect().head
    (r.getInt(0), r.getSeq[Long](1))
  }

  test("overlapping sorted arrays: size and elements match array_intersect") {
    val (n, xs) = run(Seq(1L, 3L, 5L, 7L, 9L), Seq(3L, 4L, 5L, 9L, 11L))
    assert(n == 3)
    assert(xs == Seq(3L, 5L, 9L))
  }

  test("disjoint and empty inputs") {
    assert(run(Seq(1L, 2L), Seq(3L, 4L)) == ((0, Seq.empty[Long])))
    assert(run(Seq.empty[Long], Seq(1L, 2L)) == ((0, Seq.empty[Long])))
    assert(run(Seq.empty[Long], Seq.empty[Long]) == ((0, Seq.empty[Long])))
  }

  test("identical arrays intersect to themselves") {
    val v = Seq(-5L, 0L, 2L, 100L)
    assert(run(v, v) == ((4, v)))
  }

  test("one-sided containment") {
    assert(run(Seq(2L, 4L), Seq(1L, 2L, 3L, 4L, 5L)) == ((2, Seq(2L, 4L))))
  }

  test("agrees with array_intersect on random sorted duplicate-free inputs") {
    import spark.implicits._
    // deterministic pseudo-random arrays derived from the row id
    val df = spark.range(200).select(
      array_sort(array_distinct(transform(sequence(lit(1), lit(30)),
        i => pmod(xxhash64(col("id") * 31 + i), lit(50L))))).as("a"),
      array_sort(array_distinct(transform(sequence(lit(1), lit(30)),
        i => pmod(xxhash64(col("id") * 37 + i + 1000), lit(50L))))).as("b"))
    val diffs = df.select(
      call_function("graft_lsorted_intersect_size", col("a"), col("b"))
        .as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref"),
      call_function("graft_lsorted_intersect", col("a"), col("b"))
        .as("fast_arr"),
      array_sort(array_intersect(col("a"), col("b"))).as("ref_arr"))
      .filter(col("fast") =!= col("ref") ||
        col("fast_arr") =!= col("ref_arr"))
      .count()
    assert(diffs == 0)
  }
}
