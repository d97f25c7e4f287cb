package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-18 semantics: base58 canonical form, W1 metric laws, RVI
  * bounds, quadkey interleave/containment. */
class Round12Wave18Spec extends AnyFunSuite with SparkFixture {

  test("fn_base58_roundtrip: decode inverts encode, canonical alphabet") {
    val rows = SparkEntry.queries("fn_base58_roundtrip")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    rows.foreach { r =>
      assert(r.getLong(3) === r.getLong(1), "v_back == v")
      val b58 = r.getString(2)
      assert(!b58.startsWith("1"), "canonical: no leading zero digit")
      assert(b58.forall(alpha.contains(_)), "alphabet closed")
      // independent re-encode in Scala
      var v = r.getLong(1); val sb = new StringBuilder
      while (v > 0) { sb.insert(0, alpha((v % 58).toInt)); v /= 58 }
      assert(b58 === sb.toString)
    }
  }

  test("agg_wasserstein_1d: non-negative, bounded by n·m·range, identity-zero") {
    val rows = SparkEntry.queries("agg_wasserstein_1d")(spark, sf)
      .collect()
    assert(rows.length === 5) // one per order priority
    rows.foreach { r =>
      val (n, m, w1s, w1m) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 0 && m > 0)
      assert(w1s >= 0 && w1m >= 0)
      assert(w1m === w1s * 1000L / (n * m))
    }
  }

  test("win_rvi: ppm ratio bounded by ±1e6, crossover label law") {
    val rows = SparkEntry.queries("win_rvi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rvi, sig) = (r.getLong(2), r.getLong(3))
      assert(rvi.abs <= 1000000L, "|c-o| <= h-l per bar => |RVI| <= 1")
      assert(sig.abs <= 1000000L)
      val expect =
        if (rvi > sig) "ABOVE" else if (rvi < sig) "BELOW" else "AT"
      assert(r.getString(4) === expect)
    }
  }

  test("fn_quadkey: roundtrip, digit alphabet, parent containment") {
    val rows = SparkEntry.queries("fn_quadkey")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) === r.getLong(1), "x roundtrip")
      assert(r.getLong(5) === r.getLong(2), "y roundtrip")
      val qk = r.getString(3)
      assert(qk.length === 8)
      assert(qk.forall("0123".contains(_)))
      assert(r.getString(6) === qk.substring(0, 7), "parent prefix")
    }
    // injective on the tile grid
    val tiles = rows.map(r => (r.getLong(1), r.getLong(2)) -> r.getString(3))
    assert(tiles.toMap.values.toSeq.distinct.length === tiles.toMap.size)
  }
}
