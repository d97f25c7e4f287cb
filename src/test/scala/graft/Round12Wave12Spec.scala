package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-12 semantics: Wiener/efficiency bounds, standardization algebra,
  * force-index sign law, Elder-Ray band geometry. */
class Round12Wave12Spec extends AnyFunSuite with SparkFixture {

  test("graph_wiener_index satisfies the distance-summary bounds") {
    val r = SparkEntry.queries("graph_wiener_index")(spark, sf).collect()(0)
    val (nNodes, nPairs, wiener, diam, eff, avgMilli) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nPairs <= nNodes * (nNodes - 1) / 2)
    assert(wiener >= nPairs)               // every connected pair ≥ 1
    assert(wiener <= nPairs * diam)        // and ≤ diameter
    assert(eff <= nPairs * 1000000L)       // 1/d ≤ 1
    assert(avgMilli === wiener * 1000 / nPairs)
    assert(diam >= 1 && diam <= 4)         // BFS horizon
  }

  test("agg_smr_standardization: crude confounds, SMR corrects") {
    val rows = SparkEntry.queries("agg_smr_standardization")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nStudy, obs, expMicro, smrMilli, dirMicro, crudeMicro) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(obs <= nStudy)
      assert(smrMilli === obs * 1000000000L / expMicro)
      assert(crudeMicro === obs * 1000000L / nStudy)
      assert(dirMicro > 0 && dirMicro < 1000000L)
      // segments are ~random slices of the reference pop → SMR near 1
      assert(smrMilli > 500 && smrMilli < 2000)
    }
  }

  test("win_force_index: fi sign matches the close move, fi13 sums the window") {
    val rows = SparkEntry.queries("win_force_index")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (fi, fi13, pressure) = (r.getLong(4), r.getLong(5), r.getString(6))
      val want = if (fi13 > 0) "BUY" else if (fi13 < 0) "SELL" else "FLAT"
      assert(pressure === want)
      assert(fi.abs <= fi13.abs + rows.map(_.getLong(4).abs).max * 13)
    }
  }

  test("win_elder_ray: bull ≥ bear always (h ≥ l), signals consistent") {
    val rows = SparkEntry.queries("win_elder_ray")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (h, l, bull, bear, sig) =
        (r.getLong(2), r.getLong(3), r.getLong(6), r.getLong(7), r.getString(8))
      assert(h >= l)
      assert(bull >= bear) // h·1000−ema ≥ l·1000−ema
      if (sig == "STRONG_BULL") assert(bull > 0 && bear > 0)
      if (sig == "STRONG_BEAR") assert(bull < 0 && bear < 0)
    }
  }
}
