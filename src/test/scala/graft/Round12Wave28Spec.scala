package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-28 semantics: amortization ledger replay, payback crossing laws,
  * Kelly sign behavior, odds-conversion identities. */
class Round12Wave28Spec extends AnyFunSuite with SparkFixture {

  test("fn_amortization: imperative 12-month replay, balance stays positive") {
    val rows = SparkEntry.queries("fn_amortization")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, bp, pay) = (r.getLong(1), r.getLong(2), r.getLong(3))
      var bal = p; var ti = 0L
      (0 until 12).foreach { _ =>
        val i = bal * bp / 120000
        ti += i
        bal = bal + i - pay
        assert(bal > 0, "balance never crosses zero in year one")
      }
      assert(r.getLong(4) === bal, "final balance")
      assert(r.getLong(5) === ti, "total interest")
      assert(r.getLong(6) === p - bal)
      assert(r.getLong(6) === 12 * pay - ti, "cash conservation")
    }
  }

  test("agg_payback_period: crossing month is the true first crossing") {
    val rows = SparkEntry.queries("agg_payback_period")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (midx, frac, nmon) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(midx >= 1 && midx <= nmon)
      assert(frac >= 0 && frac <= 1000)
      // investment = 3× month-1 inflow, so crossing can't be month 1
      // unless inflows are wildly front-loaded — it must be >= 2 when
      // month 1 alone can't cover 3× itself
      assert(midx >= 2)
    }
  }

  test("fn_kelly_criterion: sign follows the edge, stake clamped") {
    val rows = SparkEntry.queries("fn_kelly_criterion")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, b, edge, kelly, stake) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(edge === b * p - 1000 * (1000000 - p))
      assert((kelly >= 0) === (edge >= 0))
      assert(stake === math.max(kelly, 0L))
      assert(kelly <= 1000000L, "never bet more than the bankroll")
    }
    assert(rows.exists(_.getLong(3) < 0) && rows.exists(_.getLong(3) > 0),
      "both favorable and unfavorable bets sampled")
  }

  test("fn_odds_convert: implied prob inverts decimal odds, branch law") {
    val rows = SparkEntry.queries("fn_odds_convert")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dec1, frac, am, imp) =
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(frac === dec1 - 1000)
      if (dec1 >= 2000) assert(am === (dec1 - 1000) * 100 && am >= 100000)
      else assert(am === -(100000000 / (dec1 - 1000)) && am < -100000)
      assert(imp === 1000000000L / dec1)
      assert(imp > 0 && imp < 1000000L)
    }
  }
}
