package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-26 semantics: Verhoeff detection classes, Josephus simulation
  * replay, McClellan breadth identity, MAD fence laws. */
class Round12Wave26Spec extends AnyFunSuite with SparkFixture {

  private val D = ("0123456789" + "1234067895" + "2340178956" +
    "3401289567" + "4012395678" + "5987604321" + "6598710432" +
    "7659821043" + "8765932104" + "9876543210").map(_ - '0')
  private val P = Seq("0123456789", "1576283094", "5803796142",
    "8916043527", "9453126870", "4286573109", "2793806415", "7046198532")
    .map(_.map(_ - '0'))
  private val Inv = "0432156789".map(_ - '0')

  private def verhoeffCheck(digits: Seq[Int]): Int = {
    // digits as printed; walk reversed with position starting at 1
    var c = 0
    digits.reverse.zipWithIndex.foreach { case (g, idx) =>
      c = D(c * 10 + P((idx + 1) % 8)(g))
    }
    Inv(c)
  }
  private def verhoeffValid(digits: Seq[Int]): Boolean = {
    var c = 0
    digits.reverse.zipWithIndex.foreach { case (g, idx) =>
      c = D(c * 10 + P(idx % 8)(g))
    }
    c == 0
  }

  test("fn_verhoeff_check: replay + substitution AND transposition detection") {
    val rows = SparkEntry.queries("fn_verhoeff_check")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val code = r.getString(1).map(_ - '0')
      assert(r.getLong(2) === verhoeffCheck(code).toLong)
      assert(verhoeffValid(code :+ r.getLong(2).toInt), "appended validates")
    }
    rows.take(5).foreach { r =>
      val code = r.getString(1).map(_ - '0')
      val full = code :+ verhoeffCheck(code)
      for (pos <- code.indices; nd <- 0 to 9 if nd != code(pos))
        assert(!verhoeffValid(full.updated(pos, nd)),
          s"substitution at $pos undetected")
      for (pos <- 0 until full.length - 1 if full(pos) != full(pos + 1)) {
        val sw = full.updated(pos, full(pos + 1)).updated(pos + 1, full(pos))
        assert(!verhoeffValid(sw), s"transposition at $pos undetected")
      }
    }
  }

  test("fn_josephus: closed form equals a direct simulation") {
    val rows = SparkEntry.queries("fn_josephus")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    def simulate(n: Int): Int = {
      // J(1)=1; J(n) = ((J(n-1) + 1) mod n) + 1 for k=2
      var j = 1
      for (m <- 2 to n) j = (j + 2 - 1) % m + 1
      j
    }
    rows.foreach { r =>
      val (n, p2, surv) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(p2 <= n && p2 * 2 > n, "p2 is the floor power of two")
      assert(surv % 2 === 1, "survivor is always odd")
      assert(surv >= 1 && surv <= n)
      if (n <= 2000) assert(surv === simulate(n.toInt).toLong, s"n=$n")
    }
  }

  test("win_mcclellan_osc: breadth identity, adv+dec bounded by series count") {
    val rows = SparkEntry.queries("win_mcclellan_osc")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (adv, dec, b) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(adv + dec <= 5, "five series max")
      assert(b === (adv - dec) * 1000)
      assert(r.getLong(6) === r.getLong(4) - r.getLong(5))
    }
  }

  test("agg_mad_outliers: MAD is the true lower median of deviations") {
    val rows = SparkEntry.queries("agg_mad_outliers")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mad, nOut) =
        (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(mad >= 0 && nOut >= 0)
      // at most half the points can sit above the median deviation fence
      assert(nOut <= (n + 1) / 2)
      assert(r.getLong(5) >= mad, "max absdev >= its median")
    }
  }
}
