package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for round-11 wave 11: Q-Q points, pivot ladder,
  * checkpoint truncation, leaderboard.
  */
class Round11Wave11Spec extends AnyFunSuite with SparkFixture {

  test("agg_qq_points: both quantile tracks are monotone over deciles") {
    val rows = SparkEntry.queries("agg_qq_points")(spark, sf).collect().sortBy(_.getLong(0))
    assert(rows.length == 9)
    val clicks = rows.map(_.getLong(1)); val views = rows.map(_.getLong(2))
    assert(clicks.zip(clicks.tail).forall { case (a, b) => a <= b })
    assert(views.zip(views.tail).forall { case (a, b) => a <= b })
    rows.foreach(r => assert(r.getLong(3) == r.getLong(1) - r.getLong(2)))
  }

  test("win_pivot_points: ladder ordering S2 < S1 < P < R1 < R2") {
    val rows = SparkEntry.queries("win_pivot_points")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, r1, s1, r2, s2) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(s2 <= s1 && s1 <= p && p <= r1 && r1 <= r2, s"ladder disordered: $r")
      assert(!(r.getBoolean(7) && r.getBoolean(8)),
        "breakout and breakdown are mutually exclusive")
    }
  }

  test("api_checkpoint_truncation: leaf-only plan, conserved rollup") {
    val rows = SparkEntry.queries("api_checkpoint_truncation")(spark, sf).collect()
    assert(rows.forall(r => r.getBoolean(3) && r.getBoolean(4)))
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
  }

  test("llm_leaderboard: planted skill ordering is recovered") {
    val rows = SparkEntry.queries("llm_leaderboard")(spark, sf).collect()
    assert(rows.length == 5)
    val byModel = rows.sortBy(_.getLong(0))
    // model 4 carries the largest planted bonus (+600/task/step — beyond
    // any md5-noise swing over 8 tasks), so the rank order must be
    // exactly the reversed model order
    byModel.foreach { r =>
      assert(r.getLong(6) == 5 - r.getLong(0), s"rank must mirror planted skill: $r")
      assert(r.getLong(3) <= r.getLong(4), "wins bounded by matches")
    }
    // pairwise wins are zero-sum across the round robin
    assert(rows.map(_.getLong(3)).sum == rows.head.getLong(4) * 5 / 2)
  }
}
