package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 9 (Round16Ops): Bech32 polymod, Hawkes burst detector,
  * propensity matching. */
class Round16Wave9Spec extends AnyFunSuite with SparkFixture {

  test("fn_bech32_check: the bijective LFSR catches every substitution") {
    val rows = SparkEntry.queries("fn_bech32_check")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1))
      assert(r.getLong(3) == r.getLong(4), s"cohort ${r.getInt(0)}")
      assert(r.getLong(4) > 0L)
      assert(r.getLong(5) > 0L)
    }
  }

  test("agg_hawkes_decay: the burst class trips the flag, then decays") {
    val rows = SparkEntry.queries("agg_hawkes_decay")(spark, sf).collect()
    assert(rows.length == 3)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // baseline classes can never reach 2500: all-2 arrivals cap the
    // excitation at 1867 milli (λ ≤ 2067) — a worst-case bound, not luck
    assert(byCls(0).getLong(2) == 0L && byCls(1).getLong(2) == 0L)
    // every burst-class account flags during the planted burst
    assert(byCls(2).getLong(2) >= byCls(2).getLong(1))
    // and the exponential kernel forgets it: nobody is still hot at t=20
    assert(byCls(2).getLong(5) == 0L)
    assert(byCls(2).getLong(3) > byCls(0).getLong(3))
  }

  test("join_propensity_match: matching shrinks the score gap") {
    val r = SparkEntry.queries("join_propensity_match")(spark, sf).collect().head
    val (nt, nc, nm) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nt > 0 && nc > 0 && nm > 0 && nm <= math.min(nt, nc))
    val gapBefore = math.abs(r.getLong(3).toDouble / nt - r.getLong(4).toDouble / nc)
    val gapAfter = math.abs(r.getLong(5).toDouble / nm - r.getLong(6).toDouble / nm)
    // treatment was planted to correlate with score: the raw gap is real
    assert(gapBefore > 10000.0, s"raw gap $gapBefore")
    // within-bucket rank pairing balances it by an order of magnitude
    assert(gapAfter * 4 < gapBefore, s"gap $gapBefore -> $gapAfter")
  }
}
