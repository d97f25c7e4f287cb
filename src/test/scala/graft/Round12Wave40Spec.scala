package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-40 semantics: Mayan mixed radix, CR4 ordering, Gauss circle
  * error bound. */
class Round12Wave40Spec extends AnyFunSuite with SparkFixture {

  test("fn_mayan_long_count: roundtrip + component bounds") {
    val rows = SparkEntry.queries("fn_mayan_long_count")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4), s"days=${r.getLong(1)}")
      val parts = r.getString(2).split("\\.").map(_.toLong)
      assert(parts.length === 5)
      val Array(baktun, katun, tun, uinal, kin) = parts
      assert(kin < 20 && uinal < 18 && tun < 20 && katun < 20)
      assert(baktun < 13, "epoch cap keeps baktun under 13")
      assert(baktun * 144000 + katun * 7200 + tun * 360 + uinal * 20 +
        kin === r.getLong(1))
    }
  }

  test("agg_cr4: top-4 share consistent and above the uniform floor") {
    val rows = SparkEntry.queries("agg_cr4")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, total, top4, cr4) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(top4 <= total)
      assert(cr4 === top4 * 1000000 / total)
      // the top 4 hold at least 4/n of the total (they're the largest)
      assert(BigInt(top4) * n >= BigInt(total) * math.min(4, n) - n)
    }
  }

  test("fn_gauss_circle: N(r) within the classic O(r) error of pi r^2") {
    val rows = SparkEntry.queries("fn_gauss_circle")(spark, sf)
      .collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val (rad, n) = (r.getLong(1), r.getLong(2))
      assert(r.getLong(3) === 2 * rad + 1, "column sweep covers [-r, r]")
      val area = math.Pi * rad * rad
      assert(math.abs(n - area) <= 8 * rad,
        s"Gauss error bound at r=$rad: N=$n vs ${area.round}")
      // exact spot replay
      val want = (-rad to rad).map { x =>
        2 * math.sqrt((rad * rad - x * x).toDouble).floor.toLong + 1 }.sum
      assert(n === want)
    }
  }
}
