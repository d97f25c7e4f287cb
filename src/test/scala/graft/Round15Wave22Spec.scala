package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 22 (Round15Ops): breakage, schema drift, turn truncation. */
class Round15Wave22Spec extends AnyFunSuite with SparkFixture {

  test("agg_gift_card_breakage: the ledger splits into breakage and liability") {
    val rows = SparkEntry.queries("agg_gift_card_breakage")(spark, sf).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val (issued, redeemed, breakage, liability) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(redeemed + breakage + liability == issued,
        s"cohort ${r.getInt(0)} doesn't balance")
      assert(r.getLong(6) == breakage * 1000000L / issued)
    }
    // heavy-redeemer cohort 2 leaves less breakage per issued cent
    val byC = rows.map(r => r.getInt(0) -> r.getLong(6)).toMap
    assert(byC(2) < byC(0) && byC(2) < byC(1) && byC(2) < byC(3))
  }

  test("warehouse_schema_drift: only the planted column drifts") {
    val rows = SparkEntry.queries("warehouse_schema_drift")(spark, sf).collect()
    assert(rows.length == 2)
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    assert(byCol("email").getBoolean(6), "email 10%->40% jump must flag")
    assert(byCol("email").getLong(4) > byCol("email").getLong(2))
    assert(!byCol("phone").getBoolean(6), "phone is flat")
  }

  test("llm_turn_truncation: recent turns survive, the cap binds") {
    val rows = SparkEntry.queries("llm_turn_truncation")(spark, sf).collect()
    assert(rows.length == 4)
    val totalConvs = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == totalConvs)
    assert(rows.map(_.getLong(2)).sum == totalConvs * 12)
    rows.foreach { r =>
      assert(r.getLong(3) + r.getLong(4) == r.getLong(2))
      // mean turn ~155 tokens: a 1200 cap keeps ~7-8 of 12 → both sides
      // of the cut must be populated
      assert(r.getLong(3) > 0L && r.getLong(4) > 0L)
      assert(r.getLong(6) == r.getLong(4) * 1000000L / r.getLong(2))
    }
  }
}
