package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 18 (Round15Ops): ledger controls — trial balance, AR
  * aging, late-arriving facts.
  */
class Round15Wave18Spec extends AnyFunSuite with SparkFixture {

  test("warehouse_trial_balance: imbalance equals the planted broken cents") {
    val rows = SparkEntry.queries("warehouse_trial_balance")(spark, sf).collect()
    assert(rows.length == 12)
    assert(rows.map(_.getLong(4)).sum == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      // the books are off by EXACTLY the dropped credit lines
      assert(r.getLong(3) == r.getLong(6),
        s"period ${r.getInt(0)}: imbalance ${r.getLong(3)} != broken ${r.getLong(6)}")
      assert(r.getLong(1) >= r.getLong(2))
      if (r.getLong(5) == 0L) assert(r.getLong(3) == 0L)
    }
    assert(rows.map(_.getLong(5)).sum > 0L)
  }

  test("warehouse_ar_aging: the slow-pay cohort shifts right, exposure conserves") {
    val rows = SparkEntry.queries("warehouse_ar_aging")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == Tables.orders(spark, sf).count())
    def over60Share(c: Int): Double = {
      val rs = rows.filter(_.getInt(0) == c)
      val tot = rs.map(_.getLong(2)).sum.toDouble
      rs.filter(r => Set("3_61to90", "4_over90")(r.getString(1)))
        .map(_.getLong(2)).sum / tot
    }
    // +30 days pushes cohort 1's mass into the late buckets
    assert(over60Share(1) > over60Share(0) + 0.1)
    assert(over60Share(1) > over60Share(2) + 0.1)
    rows.foreach(r => assert(r.getLong(4) >= 0L && r.getLong(4) <= 3L))
  }

  test("warehouse_late_arriving_fact: restatements are the planted very-late slice") {
    val rows = SparkEntry.queries("warehouse_late_arriving_fact")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2)) // restatements ⊆ late
      assert(r.getLong(5) == r.getLong(2) * 1000000L / r.getLong(1))
    }
    // organic delay caps at 20, so every restatement is a planted +50
    val restated = rows.map(_.getLong(3)).sum
    val veryLate = Tables.events(spark, sf)
      .where(org.apache.spark.sql.functions.expr("event_id % 13 = 7")).count()
    assert(restated == veryLate)
  }
}
