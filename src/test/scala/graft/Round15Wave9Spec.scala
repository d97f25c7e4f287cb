package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 9 (Round15Ops): the LLM data-pipeline trio — reward-
  * hacking audit, RAG context-chunk dedup, synthetic-data mix gate.
  */
class Round15Wave9Spec extends AnyFunSuite with SparkFixture {

  test("llm_reward_hacking_audit: only the length-gamed variant flags") {
    val rows = SparkEntry.queries("llm_reward_hacking_audit")(spark, sf).collect()
    assert(rows.length == 4)
    val byV = rows.map(r => r.getInt(0) -> r).toMap
    // variant 2's reward IS a linear function of length → must flag
    assert(byV(2).getBoolean(3), "variant 2 should flag as length-gamed")
    assert(byV(2).getLong(2) > 0L)
    // organic variants draw reward independently of length
    Seq(0, 1, 3).foreach { v =>
      assert(!byV(v).getBoolean(3), s"variant $v falsely flagged")
    }
  }

  test("llm_context_dedup: the hot pool produces real sharing") {
    val rows = SparkEntry.queries("llm_context_dedup")(spark, sf).collect()
    assert(rows.length == 4)
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nOrders * 12)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // distinct ≤ retrievals
      // 4-of-12 slots draw from a 50-chunk pool shared by ~hundreds of
      // queries per cohort → substantial duplication must exist
      assert(r.getLong(4) > 100000L, s"cohort ${r.getInt(0)} dup ${r.getLong(4)}")
      assert(r.getLong(3) > 0L)
    }
  }

  test("llm_synthetic_mix_gate: src2 breaches the token cap") {
    val rows = SparkEntry.queries("llm_synthetic_mix_gate")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    val src2 = rows.find(_.getString(0) == "src2").get
    assert(src2.getBoolean(7), s"src2 token ppm ${src2.getLong(6)} not breached")
    assert(src2.getLong(5) > 500000L)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(4) <= r.getLong(3))
      assert(r.getBoolean(7) == (r.getLong(6) > 500000L))
    }
  }
}
