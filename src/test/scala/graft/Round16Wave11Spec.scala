package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 11 (Round16Ops): MoE capacity drops, counter rollover,
  * data contract. */
class Round16Wave11Spec extends AnyFunSuite with SparkFixture {

  test("llm_moe_capacity_drop: only the hot expert overflows") {
    val rows = SparkEntry.queries("llm_moe_capacity_drop")(spark, sf).collect()
    assert(rows.length == 8)
    val byE = rows.map(r => r.getLong(0) -> r).toMap
    rows.foreach { r =>
      // conservation per expert: admitted + rerouted + dropped == tokens
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(1))
    }
    // the planted hot expert holds ~37% of primary traffic and overflows
    val hot = byE(0L)
    assert(hot.getLong(1) > rows.filter(_.getLong(0) != 0L).map(_.getLong(1)).max * 2)
    assert(hot.getLong(3) + hot.getLong(4) > 0L, "hot expert must overflow")
    // cold experts sit under capacity: no drops anywhere else
    rows.filter(_.getLong(0) != 0L).foreach(r =>
      assert(r.getLong(4) == 0L, s"expert ${r.getLong(0)} dropped"))
  }

  test("fn_counter_rollover: every wrap is undone exactly") {
    val rows = SparkEntry.queries("fn_counter_rollover")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(3), s"cls ${r.getInt(0)} mass")
      assert(r.getLong(4) == r.getLong(1), "every device reconstructs exactly")
    }
    // faster classes wrap more often
    val byCls = rows.map(r => r.getInt(0) -> r.getLong(5)).toMap
    assert(byCls(2) > byCls(0))
  }

  test("warehouse_data_contract: violations equal the plants") {
    val rows = SparkEntry.queries("warehouse_data_contract")(spark, sf).collect()
    assert(rows.length == 4)
    val byRule = rows.map(r => r.getString(0) -> r).toMap
    val n = Tables.orders(spark, sf).count()
    import org.apache.spark.sql.functions.col
    val keys = Tables.orders(spark, sf).select(col("o_orderkey").cast("long"))
      .collect().map(_.getLong(0))
    assert(byRule("status_enum").getLong(1) ==
      keys.count(_ % 97 == 5) + keys.count(k => k % 97 == 5 && k % 101 == 9))
    assert(byRule("price_positive").getLong(1) ==
      keys.count(_ % 89 == 7) + keys.count(k => k % 89 == 7 && k % 101 == 9))
    assert(byRule("key_unique").getLong(1) == keys.count(_ % 101 == 9))
    assert(byRule("rows_landed").getLong(1) == n + keys.count(_ % 101 == 9))
    assert(!byRule("status_enum").getBoolean(2))
  }
}
