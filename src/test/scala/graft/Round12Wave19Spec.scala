package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-19 semantics: Simpson bounds, Maidenhead containment, SAX
  * ordering law, ACF identities. */
class Round12Wave19Spec extends AnyFunSuite with SparkFixture {

  test("agg_simpson_diversity: ppm bounds, dominance floor") {
    val rows = SparkEntry.queries("agg_simpson_diversity")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (total, rich, simp, dom) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(simp >= 0 && simp < 1000000L)
      // even-split maximum of the UNBIASED Simpson: N(k−1)/(k(N−1))
      val evenMax = BigInt(total) * (rich - 1) * 1000000 /
        (BigInt(rich) * (total - 1))
      assert(BigInt(simp) <= evenMax + 1000)
      assert(dom * rich >= 1000000L - rich * 1000L) // max share >= 1/k
      assert(dom <= 1000000L && total > 0)
    }
  }

  test("fn_maidenhead: containment, alphabet shape, corner grid-aligned") {
    val rows = SparkEntry.queries("fn_maidenhead")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(6), "coordinate inside its own subsquare")
      val loc = r.getString(3)
      assert(loc.length === 6)
      assert(loc(0).isUpper && loc(1).isUpper)
      assert(loc(2).isDigit && loc(3).isDigit)
      assert(loc(4).isLower && loc(5).isLower)
      assert(r.getLong(4) % 20 === 0, "lon corner on subsquare grid")
      assert(r.getLong(5) % 10 === 0, "lat corner on subsquare grid")
    }
  }

  test("win_sax_paa: letters follow the mean ordering, segments sized 5") {
    val rows = SparkEntry.queries("win_sax_paa")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      // all but the last segment have exactly 5 bars
      val byIdx = g.sortBy(_.getLong(1))
      byIdx.dropRight(1).foreach(r => assert(r.getLong(2) === 5L))
      // SAX letters are monotone in paa_milli
      val sorted = g.sortBy(r => (r.getLong(3), r.getLong(1)))
      val letters = sorted.map(_.getString(4))
      assert(letters === letters.sorted)
      assert(letters.toSet.subsetOf(Set("a", "b", "c", "d")))
    }
  }

  test("agg_autocorr_lags: r0 would be 1e6; lag ratios bounded, den > 0") {
    val rows = SparkEntry.queries("agg_autocorr_lags")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val den = r.getLong(2)
      assert(den > 0)
      Seq(6, 7, 8).foreach { i =>
        assert(r.getLong(i).abs <= 1000000L, "|r_k| <= 1 (Cauchy-Schwarz)")
      }
      // ratio identity against the exact numerators
      val num1 = r.getLong(3)
      val expect1 =
        if (num1 < 0) -((BigInt(-num1) * 1000000) / BigInt(den)).toLong
        else ((BigInt(num1) * 1000000) / BigInt(den)).toLong
      assert(r.getLong(6) === expect1)
    }
  }
}
