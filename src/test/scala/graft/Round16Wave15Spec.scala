package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 15 (Round16Ops): deadline propagation, Erlang C,
  * order-book imbalance. */
class Round16Wave15Spec extends AnyFunSuite with SparkFixture {

  test("service_deadline_budgets: the thin residual budget pays") {
    val rows = SparkEntry.queries("service_deadline_budgets")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) == r.getLong(1))
      assert(r.getLong(2) > 0L && r.getLong(5) > 0L)
      // the db tier inherits the thinnest budget: most timeouts
      assert(r.getLong(5) >= r.getLong(3), s"cohort ${r.getInt(0)}")
    }
  }

  test("agg_erlang_c: pooling beats at equal utilization") {
    val rows = SparkEntry.queries("agg_erlang_c")(spark, sf).collect()
    assert(rows.length == 4)
    val byC = rows.map(r => r.getLong(2) -> r.getLong(4)).toMap
    // known value: Erlang-C(c=2, rho=0.7) ~ 0.576
    assert(math.abs(byC(2L) - 576470L) < 2000L, s"c=2 pwait ${byC(2L)}")
    // the pooling law: more servers at the same rho wait strictly less
    assert(byC(2L) > byC(3L) && byC(3L) > byC(4L) && byC(4L) > byC(5L))
  }

  test("win_orderbook_imbalance: the signal hits at the planted rate") {
    val rows = SparkEntry.queries("win_orderbook_imbalance")(spark, sf).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) > 0L)
      val hit = r.getLong(5)
      assert(hit > 600000L && hit < 800000L, s"cls ${r.getInt(0)} hit $hit")
    }
  }
}
