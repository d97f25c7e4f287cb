package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 15 (Round15Ops): actuarial family — chain ladder,
  * bonus-malus, Bühlmann credibility.
  */
class Round15Wave15Spec extends AnyFunSuite with SparkFixture {

  test("agg_chain_ladder: factors develop upward, projections extend the diagonal") {
    val rows = SparkEntry.queries("agg_chain_ladder")(spark, sf).collect()
    val factors = rows.filter(_.getString(0) == "factor")
    val accidents = rows.filter(_.getString(0) == "accident")
    assert(accidents.length == 8)
    assert(factors.nonEmpty && factors.length <= 7)
    factors.foreach { r =>
      // cumulative paid can only grow: factor ≥ 1.000
      assert(r.getLong(3) >= r.getLong(2), s"lag ${r.getLong(1)} shrank")
      assert(r.getLong(4) >= 1000L)
    }
    accidents.foreach { r =>
      // the one-step projection never shrinks the latest cumulative
      if (!r.isNullAt(3)) assert(r.getLong(3) >= r.getLong(2))
    }
    // accident period 0 sits on the full diagonal — no factor beyond it
    assert(accidents.filter(_.isNullAt(3)).length >= 1)
  }

  test("agg_bonus_malus: the claimy cohort sinks down the ladder") {
    val rows = SparkEntry.queries("agg_bonus_malus")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 5L)
      // premium table: level 0 → 15000, level 5 → 8000
      val perDriver = r.getLong(4) / r.getLong(2)
      assert(perDriver >= 8000L && perDriver <= 15000L)
    }
    // cohort 2 (40% claims) must carry a higher premium per driver than
    // the 20% cohorts
    def avgPremium(c: Int) = {
      val rs = rows.filter(_.getInt(0) == c)
      rs.map(_.getLong(4)).sum.toDouble / rs.map(_.getLong(2)).sum
    }
    assert(avgPremium(2) > avgPremium(0) && avgPremium(2) > avgPremium(1))
  }

  test("agg_credibility_buhlmann: the planted class shrinks toward the collective") {
    val rows = SparkEntry.queries("agg_credibility_buhlmann")(spark, sf).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (n, ind, coll, z, prem) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(z == n * 1000000L / (n + 40))
      val indMean = ind * 1000L / n
      // the credibility premium lies between the two means (within the
      // floor-division granularity)
      assert(prem >= math.min(indMean, coll) - 1000L)
      assert(prem <= math.max(indMean, coll) + 1000L)
    }
    val cls4 = rows.find(_.getInt(0) == 4).get
    val indMean4 = cls4.getLong(2) * 1000L / cls4.getLong(1)
    // 2× severity: strictly between collective and individual
    assert(cls4.getLong(5) > cls4.getLong(3) && cls4.getLong(5) < indMean4)
  }
}
