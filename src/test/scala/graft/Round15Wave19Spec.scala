package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 19 (Round15Ops): capacity/planning — Erlang-B, fill
  * rate, Laplace-smoothed CTR.
  */
class Round15Wave19Spec extends AnyFunSuite with SparkFixture {

  test("agg_erlang_b: blocking rises with offered load") {
    val rows = SparkEntry.queries("agg_erlang_b")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byBand = rows.map(r => r.getString(0) -> r).toMap
    rows.foreach { r =>
      assert(r.getLong(3) <= 1000000L && r.getLong(4) >= 0L)
      assert(r.getLong(2) <= r.getLong(1) * 1000000L)
    }
    // monotonicity across bands (mean blocking): heavy ≫ light
    def mean(b: String) = byBand.get(b).map(r => r.getLong(2) / r.getLong(1))
    for (h <- mean("3_heavy"); l <- mean("1_light"))
      assert(h > l * 5, s"heavy $h !> 5x light $l")
    // 12 servers at < 5 erlangs: blocking stays small
    byBand.get("1_light").foreach(r => assert(r.getLong(3) < 200000L))
  }

  test("agg_fill_rate: the under-stocked cohort misses demand") {
    val rows = SparkEntry.queries("agg_fill_rate")(spark, sf).collect()
    assert(rows.length == 4)
    val byC = rows.map(r => r.getInt(0) -> r).toMap
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3))
      assert(r.getLong(5) == r.getLong(4) * 1000000L / r.getLong(3))
    }
    // cohort 2 (stock 0..119 vs others 40..159) fills measurably less
    Seq(0, 1, 3).foreach { c =>
      assert(byC(2).getLong(5) < byC(c).getLong(5) - 50000L,
        s"cohort 2 ${byC(2).getLong(5)} vs $c ${byC(c).getLong(5)}")
    }
  }

  test("agg_laplace_ctr: smoothing kills the extremes") {
    val rows = SparkEntry.queries("agg_laplace_ctr")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.part(spark, sf).count())
    rows.foreach { r =>
      // raw rates hit 0 or 100% on small n; the smoothed rate never does
      assert(r.getLong(4) == 0L, s"cohort ${r.getInt(0)} smoothed extremes")
      assert(r.getLong(3) > 0L)
      // smoothed mass stays inside (0, 1e6)·n
      assert(r.getLong(5) > 0L && r.getLong(5) < r.getLong(1) * 1000000L)
    }
  }
}
