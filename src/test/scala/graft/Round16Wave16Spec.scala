package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 16 (Round16Ops): garnishment waterfall, VWAP execution,
  * SSN validation. */
class Round16Wave16Spec extends AnyFunSuite with SparkFixture {

  test("join_garnishment_priority: seniority pays first under the ceiling") {
    val rows = SparkEntry.queries("join_garnishment_priority")(spark, sf).collect()
    assert(rows.length == 3)
    val byPri = rows.map(r => r.getInt(0).toLong -> r).toMap
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(3) + r.getLong(4) == r.getLong(2))
    }
    // fully-paid rate strictly falls down the waterfall
    def rate(p: Long) = byPri(p).getLong(5).toDouble / byPri(p).getLong(1)
    assert(rate(1) > rate(2) && rate(2) > rate(3),
      s"rates ${rate(1)}/${rate(2)}/${rate(3)}")
  }

  test("win_vwap_execution: the top-half picker buys above market VWAP") {
    val rows = SparkEntry.queries("win_vwap_execution")(spark, sf).collect()
    assert(rows.length == 2)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // class 1 executes on top-half price ranks: above market nearly always
    assert(byCls(1).getLong(6) * 10 >= byCls(1).getLong(1) * 9)
    // class 0 picks uniformly: the verdict splits
    val frac0 = byCls(0).getLong(6).toDouble / byCls(0).getLong(1)
    assert(frac0 > 0.15 && frac0 < 0.85, s"class-0 fraction $frac0")
  }

  test("fn_ssn_validate: each planted defect class is caught") {
    val rows = SparkEntry.queries("fn_ssn_validate")(spark, sf).collect()
    val byV = rows.map(r => r.getString(0) -> r).toMap
    Seq("bad_area_666", "bad_area_9xx", "bad_group", "bad_serial").foreach { v =>
      assert(byV.contains(v), s"$v missing")
      assert(byV(v).getLong(2) > 0L, s"$v plant")
      assert(byV(v).getLong(1) >= byV(v).getLong(2))
    }
    assert(byV("valid").getLong(2) == 0L, "no planted defect classifies valid")
    assert(byV("valid").getLong(1) > rows.filter(_.getString(0) != "valid")
      .map(_.getLong(1)).sum)
  }
}
