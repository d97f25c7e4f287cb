package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-39 semantics: Egyptian reconstruction in BigInt, TSI bounds,
  * Hoover inequality laws. */
class Round12Wave39Spec extends AnyFunSuite with SparkFixture {

  test("fn_egyptian_fraction: 1/c1+1/c2+1/c3+p3/q3 == p0/q0 exactly") {
    val rows = SparkEntry.queries("fn_egyptian_fraction")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p0, q0) = (BigInt(r.getLong(1)), BigInt(r.getLong(2)))
      val cs = Seq(r.getLong(3), r.getLong(4), r.getLong(5)).map(BigInt(_))
      val (p3, q3) = (BigInt(r.getLong(6)), BigInt(r.getLong(7)))
      // sum the unit fractions + remainder over a common denominator
      var (num, den) = (BigInt(0), BigInt(1))
      cs.filter(_ > 0).foreach { c =>
        num = num * c + den; den = den * c
      }
      num = num * q3 + p3 * den
      den = den * q3
      assert(num * q0 === p0 * den, s"p0/q0=${p0}/${q0}")
      // greedy numerators strictly decrease to p3 < p0
      assert(p3 < p0)
      assert(cs.head > 1, "first unit fraction is proper")
    }
  }

  test("win_tsi: bounded ±1e6, |m2| <= a2 (double-smoothed triangle law)") {
    val rows = SparkEntry.queries("win_tsi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m2, a2, tsi) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a2 >= 0)
      assert(tsi.abs <= 1000000L + 1000L,
        "|smoothed mom| <= smoothed |mom| up to truncation slack")
      if (a2 > 0) {
        val expect =
          if (m2 < 0) -((-m2) * 1000000 / a2) else m2 * 1000000 / a2
        assert(tsi === expect)
      }
    }
  }

  test("agg_hoover_index: in [0, 0.5e6], identity vs mean-abs-dev form") {
    val rows = SparkEntry.queries("agg_hoover_index")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, t, sad, h) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(h >= 0 && h <= 500000L, "Hoover is at most half the wealth")
      val expect = (BigInt(sad) * 1000000 / (BigInt(2) * n * t)).toLong
      assert(h === expect)
    }
  }
}
