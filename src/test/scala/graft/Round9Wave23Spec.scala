package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-23 operators beyond the oracle
  * gate: HHI bounds and the Luhn checksum law.
  */
class Round9Wave23Spec extends AnyFunSuite with SparkFixture {

  test("agg_herfindahl: HHI between perfect competition (1/n) and monopoly (1)") {
    val rows = SparkEntry.queries("agg_herfindahl")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ppm, hhi) = (r.getLong(1), r.getLong(3), r.getDouble(4))
      assert(ppm >= 1000000L / n && ppm <= 1000000L,
        s"HHI outside [1/n, 1]: $r")
      assert(math.abs(hhi - ppm / 1e6) < 1e-3, s"double/ppm drifted: $r")
      assert(n == 5L, "five nations per TPC-H region")
    }
  }

  test("fn_luhn_check: appending the check digit always yields a valid number") {
    val rows = SparkEntry.queries("fn_luhn_check")(spark, sf).collect()
    assert(rows.nonEmpty)
    def luhnValid(num: String): Boolean = {
      val s = num.reverse.map(_ - '0')
      s.zipWithIndex.map { case (dig, i) =>
        if (i % 2 == 1) { val x = dig * 2; if (x > 9) x - 9 else x } else dig
      }.sum % 10 == 0
    }
    rows.foreach { r =>
      val key = r.getLong(0)
      assert(r.getBoolean(2) == luhnValid(key.toString), s"validity mislabeled: $r")
      val issued = key.toString + r.getLong(3).toString
      assert(luhnValid(issued), s"issued number $issued fails its own checksum")
    }
    // not all keys can be Luhn-valid, and some must be
    assert(rows.exists(_.getBoolean(2)) && rows.exists(!_.getBoolean(2)))
  }
}
