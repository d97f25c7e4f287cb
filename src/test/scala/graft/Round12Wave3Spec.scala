package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for round-12 waves 3–4 beyond the oracle gate. */
class Round12Wave3Spec extends AnyFunSuite with SparkFixture {

  test("agg_mood_median: counts partition and the median splits near-half") {
    val rows = SparkEntry.queries("agg_mood_median")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows(0)
    val (k, n, above) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(k == 5)
    // the LOWER median puts at most half strictly above
    assert(above * 2 <= n && above * 3 >= n, s"split $above of $n")
  }

  test("agg_mann_kendall: S is bounded by the pair count and Sen sign agrees") {
    val rows = SparkEntry.queries("agg_mann_kendall")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, s) = (r.getLong(1), r.getLong(2))
      val pairs = n * (n - 1) / 2
      assert(math.abs(s) <= pairs)
      assert(r.getLong(3) >= 0) // variance numerator
      val trend = r.getString(5)
      if (trend == "increasing") assert(s > 0)
      if (trend == "decreasing") assert(s < 0)
    }
  }

  test("agg_somers_d: |D| bounded by 1 and directions share the numerator sign") {
    val r = SparkEntry.queries("agg_somers_d")(spark, sf).collect()(0)
    val (nc, nd, dyx, dxy) =
      (r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(6))
    assert(math.abs(dyx) <= 1000 && math.abs(dxy) <= 1000)
    if (nc > nd) assert(dyx >= 0 && dxy >= 0)
    if (nc < nd) assert(dyx <= 0 && dxy <= 0)
  }

  test("agg_krippendorff_alpha: planted 80% agreement lands alpha well above chance") {
    val r = SparkEntry.queries("agg_krippendorff_alpha")(spark, sf).collect()(0)
    val alpha = r.getLong(4)
    assert(alpha > 200000L, s"alpha $alpha ppm — the 80% plant should clear 0.2")
    assert(alpha <= 1000000L)
  }

  test("agg_nelson_aalen: hazard is nondecreasing and at-risk nonincreasing") {
    val rows = SparkEntry.queries("agg_nelson_aalen")(spark, sf).collect()
    assert(rows.nonEmpty)
    var prevH = -1L; var prevRisk = Long.MaxValue
    rows.foreach { r =>
      assert(r.getLong(1) <= prevRisk); prevRisk = r.getLong(1)
      assert(r.getLong(4) >= prevH); prevH = r.getLong(4)
      assert(r.getLong(2) > 0)
    }
  }

  test("agg_eoq: the EOQ square bounds the cleared quotient") {
    val rows = SparkEntry.queries("agg_eoq")(spark, sf).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val (d, eoq) = (r.getLong(1), r.getLong(2))
      val q = 2 * d * 5000 / 250
      assert(eoq * eoq <= q && (eoq + 1) * (eoq + 1) > q)
      assert(r.getLong(3) >= 1)
    }
  }

  test("agg_interval_merge: islands conserve intervals and cover at least one span each") {
    val r = SparkEntry.queries("agg_interval_merge")(spark, sf).collect()(0)
    val (nUsers, nIv, nIsl, covered) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nIsl <= nIv && nIsl >= nUsers)
    // every island covers at least one interval's 30 minutes
    assert(covered >= nIsl * 1800000000L)
    assert(nIv == Tables.events(spark, sf).count())
  }
}
