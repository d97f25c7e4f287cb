package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 7 (Round16Ops): ISIN checksum, wash trades, agent-trace
  * audit. */
class Round16Wave7Spec extends AnyFunSuite with SparkFixture {

  test("fn_isin_check: Luhn over the digitized expansion catches every plant") {
    val rows = SparkEntry.queries("fn_isin_check")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1))
      assert(r.getLong(3) == r.getLong(4), s"country ${r.getInt(0)}")
      assert(r.getLong(4) > 0L)
    }
  }

  test("join_wash_trades: detection equals the live planted census") {
    val rows = SparkEntry.queries("join_wash_trades")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      // detection is COMPLETE: every live plant is caught; the surplus is
      // the ~1% of random counters that genuinely land in-owner (5/500)
      assert(r.getLong(2) >= r.getLong(3), s"symbol ${r.getInt(0)}")
      assert(r.getLong(2) - r.getLong(3) < r.getLong(1) / 20,
        s"symbol ${r.getInt(0)} accidental surplus")
      assert(r.getLong(3) > 0L && r.getLong(2) < r.getLong(1))
      assert(r.getLong(4) > 0L)
    }
  }

  test("llm_agent_loop_detect: loop rate orders with the planted fail rate") {
    val rows = SparkEntry.queries("llm_agent_loop_detect")(spark, sf).collect()
    assert(rows.length == 3)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // planted fail rates 30/50/70% → stuck-loop rates strictly ordered
    assert(byCls(0).getLong(5) < byCls(1).getLong(5))
    assert(byCls(1).getLong(5) < byCls(2).getLong(5))
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), "max run bounded by fail mass")
      assert(r.getLong(2) <= r.getLong(1))
    }
  }
}
