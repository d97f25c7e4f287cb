package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 13 (Round16Ops): four-eyes audit, embedding drift,
  * max-min fair allocation. */
class Round16Wave13Spec extends AnyFunSuite with SparkFixture {

  test("join_four_eyes: R1 is exact, R2 carries the honest chance mass") {
    val rows = SparkEntry.queries("join_four_eyes")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      // self-approval detection is exact (md5 approvers can also self-hit
      // at 1/200 — include them: r1 >= planted, surplus tiny)
      assert(r.getLong(2) >= r.getLong(4), s"cohort ${r.getInt(0)} r1")
      assert(r.getLong(2) - r.getLong(4) <= r.getLong(1) / 50)
      // same-team detection covers its plant plus ~1-in-20 chance mass
      assert(r.getLong(3) >= r.getLong(5), s"cohort ${r.getInt(0)} r2")
      assert(r.getLong(3) - r.getLong(5) <= r.getLong(1) / 8)
    }
    assert(rows.map(_.getLong(4)).sum > 0L && rows.map(_.getLong(5)).sum > 0L)
  }

  test("llm_embed_drift: exactly the shifted block flags") {
    val rows = SparkEntry.queries("llm_embed_drift")(spark, sf).collect()
    assert(rows.length == 8)
    val byB = rows.map(r => r.getInt(0) -> r).toMap
    assert(byB(0).getLong(2) == 8L, "all 8 shifted dims flag")
    (1 to 7).foreach(b => assert(byB(b).getLong(2) == 0L, s"block $b clean"))
    // unshifted blocks have EXACTLY zero drift (same vectors)
    (1 to 7).foreach(b => assert(byB(b).getLong(3) == 0L))
    assert(byB(0).getLong(3) > 8 * 20000L)
  }

  test("service_maxmin_fair: under-capacity pools never throttle") {
    val rows = SparkEntry.queries("service_maxmin_fair")(spark, sf).collect()
    assert(rows.length == 2)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // even pools: demand ≤ 139 < 250/tenant — a worst-case guarantee
    assert(byCls(0).getLong(6) == 0L)
    assert(byCls(0).getLong(4) == byCls(0).getLong(3), "alloc == demand when under")
    // odd pools overload and throttle, allocation stays under capacity
    assert(byCls(1).getLong(6) > 0L)
    assert(byCls(1).getLong(4) < byCls(1).getLong(3))
    assert(byCls(1).getLong(4) <= byCls(1).getLong(2) * 250L)
  }
}
