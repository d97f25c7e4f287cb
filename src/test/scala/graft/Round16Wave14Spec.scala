package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 14 (Round16Ops): settlement fails, BIC validation,
  * retrieval MRR. */
class Round16Wave14Spec extends AnyFunSuite with SparkFixture {

  test("agg_settlement_fails: the high-fail class ages worse everywhere") {
    val rows = SparkEntry.queries("agg_settlement_fails")(spark, sf).collect()
    assert(rows.length == 2)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // partition: on-time + ages + buy-ins == trades
    rows.foreach(r => assert(
      r.getLong(2) + r.getLong(4) + r.getLong(5) + r.getLong(6) + r.getLong(7) == r.getLong(1)))
    // 30% vs 60% per-attempt fail rate: class 1 is worse at every stage
    def rate(c: Int, i: Int) = byCls(c).getLong(i).toDouble / byCls(c).getLong(1)
    assert(rate(1, 2) < rate(0, 2), "on-time")
    assert(rate(1, 7) > rate(0, 7), "buy-ins")
    assert(byCls(1).getLong(3) * byCls(0).getLong(1) >
      byCls(0).getLong(3) * byCls(1).getLong(1), "delay mass")
  }

  test("fn_bic_validate: both planted defects are caught exactly") {
    val rows = SparkEntry.queries("fn_bic_validate")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(5), s"cohort ${r.getInt(0)} form")
      assert(r.getLong(4) == r.getLong(6), s"cohort ${r.getInt(0)} country")
      // valid = neither defect (defects can overlap on one BIC)
      assert(r.getLong(2) <= r.getLong(1) - r.getLong(3))
      assert(r.getLong(2) <= r.getLong(1) - r.getLong(4))
    }
    assert(rows.map(_.getLong(5)).sum > 0L && rows.map(_.getLong(6)).sum > 0L)
  }

  test("llm_retriever_ab_mrr: the boosted retriever wins every class") {
    val rows = SparkEntry.queries("llm_retriever_ab_mrr")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(3) > r.getLong(2), s"cls ${r.getInt(0)} MRR")
      // rank-1 hits bound the mass: mass >= 10^6 * hits
      assert(r.getLong(2) >= r.getLong(4) * 1000000L)
      assert(r.getLong(3) >= r.getLong(5) * 1000000L)
      assert(r.getLong(2) <= r.getLong(1) * 1000000L)
    }
  }
}
