package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 16 (Round15Ops): exact-cents finance — amortization,
  * bond duration, binomial option lattice.
  */
class Round15Wave16Spec extends AnyFunSuite with SparkFixture {

  test("agg_loan_amortization: schedules close to within floor-rounding cents") {
    val rows = SparkEntry.queries("agg_loan_amortization")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val (n, principal, scheduled, interest, residual, maxRes) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      // accounting identity: scheduled = principal + interest + residual
      assert(scheduled == principal + interest - residual,
        s"cohort ${r.getInt(0)}: $scheduled != $principal + $interest - $residual")
      // the rounding drift: the floored payment lands within a cent of
      // the true annuity either side, compounding to under a dollar on
      // 1k–21k loans — the signed per-loan residual is the graded truth
      assert(maxRes <= 150L, s"max residual $maxRes")
      assert(math.abs(residual) <= n * 150L)
      // 12 months at 1% on a declining balance ≈ 6.6% of principal
      assert(interest > principal * 5 / 100 && interest < principal * 8 / 100)
      assert(n > 0)
    }
  }

  test("agg_bond_duration: richer coupons shorten the duration") {
    val rows = SparkEntry.queries("agg_bond_duration")(spark, sf).collect()
    assert(rows.length == 8)
    val byC = rows.sortBy(_.getInt(0))
    byC.foreach { r =>
      // duration in (0, 8] years (milli)
      assert(r.getLong(3) > 0L && r.getLong(3) <= 8000L)
    }
    // Macaulay duration is strictly decreasing in the coupon rate
    byC.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(3) < a.getLong(3),
        s"coupon ${b.getInt(0)} duration ${b.getLong(3)} !< ${a.getLong(3)}")
    }
  }

  test("agg_binomial_option: value is monotone decreasing in strike") {
    val rows = SparkEntry.queries("agg_binomial_option")(spark, sf).collect()
    assert(rows.length == 5)
    val byCls = rows.sortBy(_.getInt(0))
    byCls.foreach(r => assert(r.getLong(2) >= 0L))
    // strike rises with cls → call value mass falls
    byCls.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) < a.getLong(2),
        s"cls ${b.getInt(0)} value ${b.getLong(2)} !< ${a.getLong(2)}")
    }
    // deep-ITM class 0 must be worth at least intrinsic-ish mass
    assert(byCls.head.getLong(2) > 0L)
  }
}
