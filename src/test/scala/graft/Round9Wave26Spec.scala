package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-26 operators beyond the oracle
  * gate: path-length identities and NDR cohort algebra.
  */
class Round9Wave26Spec extends AnyFunSuite with SparkFixture {

  test("graph_path_stats: averages sit between 1 and the diameter; pairs tie out") {
    val rows = SparkEntry.queries("graph_path_stats")(spark, SparkFixture.sf001).collect()
    assert(rows.length == 1)
    val r = rows.head
    val (pairs, reach, sumD, diam, avgM) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val n = Tables.nation(spark, SparkFixture.sf001).count()
    assert(pairs == n * (n - 1) / 2)
    assert(reach >= 1 && reach <= pairs)
    assert(diam >= 1 && diam <= 4, "relaxation bound caps the measured diameter")
    assert(avgM >= 1000 && avgM <= diam * 1000, s"average path outside [1, diameter]: $r")
    assert(sumD >= reach && sumD <= reach * diam)
  }

  test("agg_ndr_matrix: baseline year is exactly 1e6 ppm; ages non-negative") {
    val rows = SparkEntry.queries("agg_ndr_matrix")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) - r.getLong(0) && r.getLong(2) >= 0)
      if (r.getLong(2) == 0) assert(r.getLong(5) == 1000000L,
        s"a cohort's own first year must be exactly 100% NDR: $r")
      assert(r.getLong(3) >= 1 && r.getLong(4) > 0)
    }
    // every cohort present at age 0
    val cohorts = rows.map(_.getLong(0)).distinct
    cohorts.foreach { c =>
      assert(rows.exists(r => r.getLong(0) == c && r.getLong(2) == 0L))
    }
  }
}
