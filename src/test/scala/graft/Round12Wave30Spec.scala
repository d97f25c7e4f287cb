package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-30 semantics: bag-algebra laws, typed fold vs relational,
  * melt shape, doomsday vs java.time. */
class Round12Wave30Spec extends AnyFunSuite with SparkFixture {

  test("set_symmetric_diff: disjoint surpluses, never double-counted") {
    val rows = SparkEntry.queries("set_symmetric_diff")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 1))
    // keys unique in the rollup
    val ks = rows.map(_.getLong(0))
    assert(ks.distinct.length === ks.length)
  }

  test("ds_typed_mapgroups: typed fold equals the relational aggregates") {
    val rows = SparkEntry.queries("ds_typed_mapgroups")(spark, sf)
      .collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "min <= max")
      assert(r.getLong(4) > 0, "argmax customer exists")
    }
    val total = rows.map(_.getLong(1)).sum
    assert(total === graft.Tables.customer(spark, sf).count())
  }

  test("api_melt: 3 rows per nation, values match the wide frame") {
    val rows = SparkEntry.queries("api_melt")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.length === 3)
      assert(g.map(_.getString(1)).sorted.toSeq ===
        Seq("max_cents", "n_customers", "sum_cents"))
      val m = g.map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(m("n_customers") >= 1)
      assert(m("max_cents") * m("n_customers") >= m("sum_cents"))
    }
  }

  test("fn_doomsday_dow: agrees with both engines AND java.time") {
    val rows = SparkEntry.queries("fn_doomsday_dow")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(7), s"engine disagreement at ${r.getString(1)}")
      val d = java.time.LocalDate.parse(r.getString(1))
      val javaDow0 = d.getDayOfWeek.getValue % 7 // MON=1..SUN=7 -> SUN=0
      assert(r.getLong(5) === javaDow0.toLong,
        s"java.time disagreement at ${r.getString(1)}")
    }
  }
}
