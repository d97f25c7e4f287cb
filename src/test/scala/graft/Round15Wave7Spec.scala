package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 7 (Round15Ops): the serving-SLO trio — sliding-window
  * rate limiter, retry budget, Apdex.
  */
class Round15Wave7Spec extends AnyFunSuite with SparkFixture {

  test("service_sliding_window_limit: the burst cohort dominates over-limit") {
    val rows = SparkEntry.queries("service_sliding_window_limit")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.map(r => r.getLong(0) -> r).toMap
    // all requests conserved
    assert(rows.map(_.getLong(3)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // over ≤ windows
      assert(r.getLong(5) == r.getLong(2) * 1000000L / r.getLong(1))
    }
    // cohort 0 absorbs the 1-in-3 overflow slice → highest over-limit rate
    val c0 = byCohort(0L).getLong(5)
    byCohort.filterKeys(_ != 0L).values.foreach { r =>
      assert(c0 >= r.getLong(5), s"cohort 0 $c0 < cohort ${r.getLong(0)} ${r.getLong(5)}")
    }
  }

  test("service_retry_budget: the regressed service exhausts its budget") {
    val rows = SparkEntry.queries("service_retry_budget")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (req, fail, budget, granted, refused) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(budget == req * 20 / 100)
      assert(granted == math.min(fail, budget))
      assert(refused == fail - granted)
      assert(granted <= budget)
    }
    val bySvc = rows.map(r => r.getLong(0) -> r).toMap
    // service 2 plants 35% failures > 20% budget → refusals; others fit
    assert(bySvc(2L).getLong(5) > 0L, "service 2 should exhaust its budget")
    assert(bySvc(0L).getLong(5) == 0L && bySvc(1L).getLong(5) == 0L)
  }

  test("agg_apdex: the regressed service scores measurably worse") {
    val rows = SparkEntry.queries("agg_apdex")(spark, sf).collect()
    assert(rows.length == 4)
    val bySvc = rows.map(r => r.getLong(0) -> r).toMap
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(1))
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000L)
    }
    // service 3's +800ms shift kills its satisfied bucket (≤300ms needs
    // raw < −500: impossible) → apdex ≤ tolerating share alone
    assert(bySvc(3L).getLong(2) == 0L)
    (0L to 2L).foreach { svc =>
      assert(bySvc(svc).getLong(5) > bySvc(3L).getLong(5) + 150L,
        s"svc $svc ${bySvc(svc).getLong(5)} vs svc3 ${bySvc(3L).getLong(5)}")
    }
  }
}
