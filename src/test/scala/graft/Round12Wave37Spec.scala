package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-37 semantics: aliquot vs brute divisors, HM<=AM, PSY bounds,
  * PVO identity. */
class Round12Wave37Spec extends AnyFunSuite with SparkFixture {

  test("fn_aliquot_sum: matches brute-force divisor sums, classes sound") {
    val rows = SparkEntry.queries("fn_aliquot_sum")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1)
      val want = (1L until n).filter(n % _ == 0).sum
      assert(r.getLong(2) === want, s"n=$n")
      val cls = r.getString(3)
      assert(cls === (if (want == n) "PERFECT"
      else if (want > n) "ABUNDANT" else "DEFICIENT"))
    }
  }

  test("agg_atkinson_eps2: HM <= AM so the index is in [0, 1e6)") {
    val rows = SparkEntry.queries("agg_atkinson_eps2")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (hm, am, a) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(hm <= am + 1, "AM-HM inequality (truncation slack 1 milli)")
      assert(a >= 0 && a < 1000000L)
      assert(a === 1000000L - hm * 1000000 / am)
    }
  }

  test("win_psy_line: census bounded by the frame") {
    val rows = SparkEntry.queries("win_psy_line")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ups = r.getLong(2)
      assert(ups >= 0 && ups <= 12)
      assert(r.getLong(3) === ups * 1000000 / 12)
    }
  }

  test("win_pvo: sign-split identity, bounded below by -1e6") {
    val rows = SparkEntry.queries("win_pvo")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (f, sl, pvo) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(f > 0 && sl > 0, "volumes positive")
      val expect =
        if (f < sl) -((sl - f) * 1000000 / sl) else (f - sl) * 1000000 / sl
      assert(pvo === expect)
      assert(pvo > -1000000L, "fast EMA of positive volumes is positive")
    }
  }
}
