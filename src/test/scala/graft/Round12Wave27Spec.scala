package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-27 semantics: Cantor bijection, Ulam walker replay, Gray
  * adjacency, Kish bounds. */
class Round12Wave27Spec extends AnyFunSuite with SparkFixture {

  test("fn_cantor_pairing: exact bijection both directions") {
    val rows = SparkEntry.queries("fn_cantor_pairing")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (x, y, z) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(z === (x + y) * (x + y + 1) / 2 + y)
      assert(r.getLong(5) === x, "x roundtrip")
      assert(r.getLong(6) === y, "y roundtrip")
    }
    // injectivity on the sample
    val zs = rows.map(_.getLong(3))
    assert(zs.distinct.length === rows.map(r =>
      (r.getLong(1), r.getLong(2))).distinct.length)
  }

  test("fn_ulam_spiral: closed form equals an imperative spiral walker") {
    val rows = SparkEntry.queries("fn_ulam_spiral")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // walk the spiral once up to the max n, recording coordinates
    val maxN = rows.map(_.getLong(1)).max.toInt
    val coords = new Array[(Long, Long)](maxN + 1)
    var (cx, cy) = (0L, 0L); coords(1) = (0L, 0L)
    var n = 1
    var k = 1L
    while (n < maxN) {
      // enter ring k at (k, 1-k): one step right from (k-1, 1-k)... the
      // declared convention: positions ascend up the right side first
      cx = k; cy = 1 - k
      if (n + 1 <= maxN) { n += 1; coords(n) = (cx, cy) }
      // up the right side to (k, k)
      var steps = 2 * k - 1
      var i = 0L
      while (i < steps && n < maxN) { cy += 1; n += 1; coords(n) = (cx, cy); i += 1 }
      // left across the top to (-k, k)
      i = 0; steps = 2 * k
      while (i < steps && n < maxN) { cx -= 1; n += 1; coords(n) = (cx, cy); i += 1 }
      // down the left to (-k, -k)
      i = 0
      while (i < steps && n < maxN) { cy -= 1; n += 1; coords(n) = (cx, cy); i += 1 }
      // right across the bottom to (k, -k) — ring k ends here
      i = 0
      while (i < steps && n < maxN) { cx += 1; n += 1; coords(n) = (cx, cy); i += 1 }
      k += 1
    }
    rows.foreach { r =>
      val nn = r.getLong(1).toInt
      assert((r.getLong(4), r.getLong(5)) === coords(nn), s"n=$nn")
    }
  }

  test("fn_gray_code: roundtrip exact, successive codes differ in ONE bit") {
    val rows = SparkEntry.queries("fn_gray_code")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, g) = (r.getLong(1), r.getLong(2))
      assert(g === (n ^ (n >> 1)))
      assert(r.getLong(3) === n, "decode inverts encode")
      assert(r.getLong(4) === 1L, "Gray adjacency: exactly one bit flips")
    }
  }

  test("agg_kish_deff: deff >= 1000 (Cauchy-Schwarz), neff <= 1000·n") {
    val rows = SparkEntry.queries("agg_kish_deff")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sw, sww) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(sw * sw <= n * sww, "Cauchy-Schwarz")
      assert(r.getLong(4) >= 999L) // deff >= 1 up to truncation
      assert(r.getLong(5) <= n * 1000L)
      assert(r.getLong(4) === n * sww * 1000 / (sw * sw))
      assert(r.getLong(5) === sw * sw * 1000 / sww)
    }
  }
}
