package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-17 ops beyond the oracle gate. */
class Round10Wave17Spec extends AnyFunSuite with SparkFixture {

  test("llm_ann_ivf_pq: per-probe top-3, approximate ranking correlates with exact") {
    val rows = SparkEntry.queries("llm_ann_ivf_pq")(spark, SparkFixture.sf001).collect()
    assert(rows.nonEmpty)
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.foreach { case (_, g) =>
      assert(g.length <= 3, "top-3 contract")
      val ranks = g.map(_.getLong(3)).sorted
      assert(ranks.toSeq == (1L to g.length).toSeq, "ranks dense from 1")
      // approximate dots must be ranked descending
      val dots = g.sortBy(_.getLong(3)).map(_.getLong(2))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b })
    }
    rows.foreach(r => assert(r.getLong(1) != r.getLong(0), "self never returned"))
  }

  test("agg_cramers_v: V in [0,1] and consistent with its own chi2") {
    val r = SparkEntry.queries("agg_cramers_v")(spark, sf).collect().head
    val (n, rr, cc, chi2, v) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    assert(v >= 0 && v <= 1, s"V out of range: $v")
    assert(math.abs(v - math.sqrt(chi2 / (n.toDouble * (math.min(rr, cc) - 1)))) < 1e-12)
    assert(chi2 >= 0)
  }

  test("graph_ego_stats: 2-hop reach dominates degree and is bounded by |V|-1") {
    val rows = SparkEntry.queries("graph_ego_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (deg, n2) = (r.getLong(1), r.getLong(2))
      assert(n2 >= deg, s"reach must include all direct neighbors: $r")
      assert(n2 <= 24, s"reach bounded by the node universe: $r")
    }
  }
}
