package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-16 operators beyond the oracle
  * gate: conductance identities, Markov row-stochasticity, and the
  * life-table risk-set recursion.
  */
class Round9Wave16Spec extends AnyFunSuite with SparkFixture {

  test("graph_conductance: phi in [0,1], volumes sum to 2m, cut weight symmetric") {
    val rows = SparkEntry.queries("graph_conductance")(spark, SparkFixture.sf001).collect()
    assert(rows.nonEmpty)
    val twoM = rows.map(_.getLong(2)).sum
    assert(twoM % 2 == 0, "volumes double-count edges, so their sum is even")
    rows.foreach { r =>
      val (vol, cut, den) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cut >= 0 && cut <= vol, s"cut outside [0, vol]: $r")
      if (den > 0) {
        val phi = r.getDouble(5)
        assert(phi >= 0.0 && phi <= 1.0, s"conductance out of [0,1]: $r")
        assert(math.abs(phi - cut.toDouble / den) < 1e-12)
      }
    }
    // every cross edge contributes to exactly two region cuts
    assert(rows.map(_.getLong(3)).sum % 2 == 0)
  }

  test("win_markov_chain: rows are stochastic — per-source counts sum to the row total") {
    val rows = SparkEntry.queries("win_markov_chain")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (from, rs) =>
      val tot = rs.head.getLong(3)
      assert(rs.forall(_.getLong(3) == tot))
      assert(rs.map(_.getLong(2)).sum == tot, s"$from: transition counts != row total")
      assert(rs.forall(_.getLong(4) <= 1000L))
    }
    // the chain must cover every observed source type
    val types = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(rows.map(_.getString(0)).distinct.length.toLong == types)
  }

  test("agg_survival_table: risk sets follow n' = n - d - c; cohort conserves") {
    val rows = SparkEntry.queries("agg_survival_table")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.head.getLong(1) == nUsers, "week-0 risk set must be the whole cohort")
    rows.sliding(2).foreach {
      case Array(p, n) =>
        assert(n.getLong(1) == p.getLong(1) - p.getLong(2) - p.getLong(3),
          "risk-set recursion broken")
      case _ =>
    }
    assert(rows.map(r => r.getLong(2) + r.getLong(3)).sum == nUsers,
      "every user churns or censors exactly once")
    rows.foreach(r => assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000))
  }
}
