package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for round-11 wave 10: survival estimation, drawdown
  * volatility, plan-steering hints.
  */
class Round11Wave10Spec extends AnyFunSuite with SparkFixture {

  test("agg_kaplan_meier: censoring real, S in (0, 1], users conserved") {
    val rows = SparkEntry.queries("agg_kaplan_meier")(spark, sf).collect()
    assert(rows.length == 3, "three planted cohorts")
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == users)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1), "events + censored = users")
      assert(r.getLong(3) > 0, "the 60-day horizon must censor someone")
      assert(r.getLong(5) > 0 && r.getLong(5) <= 1000000L, s"S out of (0,1]: $r")
      // ~40% of lifetimes exceed the horizon -> final S near the planted
      // censoring mass (coarse band; the oracle pins the exact value)
      assert(r.getLong(5) < 700000L, s"planted deaths must pull S well below 1: $r")
    }
  }

  test("win_ulcer_index: ulcer bounded by max drawdown, zero iff flat-or-rising") {
    val rows = SparkEntry.queries("win_ulcer_index")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (maxDd, ulcer) = (r.getLong(2), r.getDouble(4))
      assert(ulcer <= maxDd + 1e-9, "RMS drawdown cannot exceed the max")
      assert((r.getLong(3) == 0) == (maxDd == 0))
    }
  }

  test("join_hint_strategies: both strategies actually planned") {
    val rows = SparkEntry.queries("join_hint_strategies")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), "merge hint must plan a SortMergeJoin")
      assert(r.getBoolean(4), "broadcast hint must plan a BroadcastHashJoin")
    }
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
  }
}
