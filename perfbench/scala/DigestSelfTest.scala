package perfbench

import org.apache.spark.sql.Row

/** Checks of the digest's rounding and order rules, without Spark. Exits
  * non-zero on the first failure; perfbench/tests/test_digest.py runs it.
  */
object DigestSelfTest {
  private def expect(what: String)(ok: Boolean): Unit =
    if (!ok) { System.err.println(s"FAIL $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    import Digest._
    expect("sum-order noise rounds away")(double(0.1 + 0.2 + 0.3) == double(0.3 + 0.2 + 0.1))
    expect("digits beyond the 9th are dropped")(double(1.2345678912) == "1.23456789")
    expect("9 significant digits stay")(double(1.23456789) != double(1.23456788))
    expect("large magnitudes round relatively")(double(123456789012.0) == "123456789000")
    expect("zero and negative zero agree")(double(-0.0) == double(0.0))
    expect("NaN is stable")(double(Double.NaN) == "NaN")
    expect("float and double of the same value")(canonical(1.5f) == canonical(1.5))
    expect("decimal scale is ignored")(
      canonical(new java.math.BigDecimal("2.50")) == canonical(new java.math.BigDecimal("2.5")))
    expect("java.sql and java.time dates agree")(
      canonical(java.sql.Date.valueOf("2001-02-03")) ==
        canonical(java.time.LocalDate.parse("2001-02-03")))
    expect("timestamps agree across types")(
      canonical(java.sql.Timestamp.from(java.time.Instant.parse("2001-02-03T04:05:06.000007Z"))) ==
        canonical(java.time.LocalDateTime.parse("2001-02-03T04:05:06.000007")))
    expect("null differs from the string null")(canonical(null) != canonical("null"))
    val a = Row(1L, "x", 2.0)
    val b = Row(2L, "y", Seq(1.0, 2.0))
    expect("row order does not matter")(ofRows(Seq(a, b)) == ofRows(Seq(b, a)))
    expect("a duplicate row changes the digest")(ofRows(Seq(a, b)) != ofRows(Seq(a, a, b)))
    expect("field order matters")(ofRows(Seq(Row(1L, 2L))) != ofRows(Seq(Row(2L, 1L))))
    expect("the empty digest")(ofRows(Nil) == render(0, 0))
    expect("row hashes fit 40 bits")(Seq(a, b).forall(r => rowHash(r) >= 0 && rowHash(r) < (1L << 40)))
    println("ok")
  }
}
