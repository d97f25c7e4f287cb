package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 5 (Round16Ops): Holt–Winters, bitrate ladder, model
  * cascade routing. */
class Round16Wave5Spec extends AnyFunSuite with SparkFixture {

  test("agg_holt_winters: trend and seasonal plants are recovered") {
    val rows = SparkEntry.queries("agg_holt_winters")(spark, sf).collect()
    assert(rows.length == 6)
    // per-machine trend estimate (milli/step): planted slopes 0/8/16
    def avgB(cls: Int) = {
      val rs = rows.filter(_.getInt(0) == cls)
      rs.map(_.getLong(4)).sum / rs.map(_.getLong(2)).sum
    }
    assert(avgB(2) > avgB(1) && avgB(1) > avgB(0),
      s"trend ordering ${avgB(0)}/${avgB(1)}/${avgB(2)}")
    assert(avgB(2) > 10000L, s"class-2 slope ${avgB(2)} milli should be near 16000")
    assert(math.abs(avgB(0)) < 6000L)
    // seasonal amplitude: amp-class 1 (±200) beats amp-class 0 (±100)
    def avgS(ampcls: Int) = {
      val rs = rows.filter(_.getInt(1) == ampcls)
      rs.map(_.getLong(6)).sum / rs.map(_.getLong(2)).sum
    }
    assert(avgS(1) > avgS(0), s"seasonal ${avgS(1)} vs ${avgS(0)}")
  }

  test("mm_bitrate_ladder: the byte budget binds only where it should") {
    val rows = SparkEntry.queries("mm_bitrate_ladder")(spark, sf).collect()
    assert(rows.length == 4)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // 2160-source titles have 5 eligible rungs, 480-source 2
    assert(byCls(0).getLong(2) == byCls(0).getLong(1) * 5)
    assert(byCls(3).getLong(2) == byCls(3).getLong(1) * 2)
    // the budget drops rungs for the 4K class, never for the 480 class
    assert(byCls(0).getLong(3) < byCls(0).getLong(2))
    assert(byCls(3).getLong(3) == byCls(3).getLong(2))
    // kept bytes within budget per title on average
    rows.foreach(r => assert(r.getLong(4) <= r.getLong(1) * 600000000L))
  }

  test("llm_router_cascade: the cascade sits on the cost/quality frontier") {
    val rows = SparkEntry.queries("llm_router_cascade")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (n, esc) = (r.getLong(1), r.getLong(2))
      assert(esc > 0L && esc < n, "both routes exercised")
      // cheaper than all-big, better than all-small, bounded by all-big
      assert(r.getLong(3) < r.getLong(7))
      assert(r.getLong(4) > r.getLong(5))
      assert(r.getLong(4) <= r.getLong(6))
    }
  }
}
