package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-24 operators beyond the oracle
  * gate: hard-negative band discipline, SRM null behavior, and
  * rich-club monotone structure.
  */
class Round9Wave24Spec extends AnyFunSuite with SparkFixture {

  test("llm_hard_negatives: every mined negative sits inside the band, ranked correctly") {
    val rows = SparkEntry.queries("llm_hard_negatives")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sim = r.getDouble(2)
      assert(sim >= 0.05 && sim < 0.5, s"negative outside the mining band: $r")
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 3)
      assert(r.getLong(0) != r.getLong(1), "anchor mined itself")
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        "rank must be similarity-descending")
    }
  }

  test("agg_ab_srm: a hash split of a clean population does not alarm") {
    val rows = SparkEntry.queries("agg_ab_srm")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val (n0, n1, dev) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n0 + n1 == Tables.orders(spark, sf).count())
    assert(dev == n0 - n1)
    assert(math.abs(r.getDouble(3) - dev.toDouble * dev / (n0 + n1)) < 1e-9)
    assert(r.getBoolean(4) == (dev * dev > 4 * (n0 + n1)))
    assert(!r.getBoolean(4), "an unbiased md5 split must not trip the SRM alarm")
  }

  test("graph_rich_club: thresholds nest — n_k and e_k weakly decrease in k") {
    val rows = SparkEntry.queries("graph_rich_club")(spark, SparkFixture.sf001)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 4L, 6L, 8L))
    rows.sliding(2).foreach {
      case Array(p, n) =>
        assert(n.getLong(1) <= p.getLong(1), "hub sets must nest")
        assert(n.getLong(2) <= p.getLong(2), "hub edges must nest")
      case _ =>
    }
    rows.foreach { r =>
      if (!r.isNullAt(3)) assert(r.getLong(3) <= 1000000L)
      // density among hubs is definitionally bounded by the max simple-graph density
      assert(r.getLong(2) <= r.getLong(1) * (r.getLong(1) - 1) / 2)
    }
  }
}
