package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 13 (Round15Ops): SPC control chart, honorific strip,
  * deceased/gone-away suppression.
  */
class Round15Wave13Spec extends AnyFunSuite with SparkFixture {

  test("win_control_chart: rule 1 catches the jump, rule 2 the drift") {
    val rows = SparkEntry.queries("win_control_chart")(spark, sf).collect()
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // class 2's +4σ jump: every machine must fire rule 1
    assert(byCls(2).getLong(4) == byCls(2).getLong(1),
      s"rule1 machines ${byCls(2).getLong(4)}/${byCls(2).getLong(1)}")
    // class 5's +1.2σ drift: rule 1 must stay SILENT (that's the point
    // of the run rule) while rule 2 fires somewhere
    assert(byCls(5).getLong(2) == 0L, s"class 5 rule1 ${byCls(5).getLong(2)}")
    assert(byCls(5).getLong(3) > 0L, "class 5 rule2 silent")
    // organic classes: the ±20 noise band cannot reach 3σ̂ ≈ 36
    rows.filterNot(r => Set(2, 5)(r.getInt(0))).foreach { r =>
      assert(r.getLong(2) == 0L, s"class ${r.getInt(0)} organic rule1")
    }
  }

  test("fn_honorific_strip: recovery is total across all 16 layouts") {
    val rows = SparkEntry.queries("fn_honorific_strip")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(2),
        s"layout (${r.getInt(0)},${r.getInt(1)}): ${r.getLong(3)}/${r.getLong(2)}")
      // prefix 'DR '..'PROF ' = 3..5 chars, suffix 0..4
      val n = r.getLong(2)
      assert(r.getLong(4) >= n * 3 && r.getLong(4) <= n * 9)
    }
  }

  test("warehouse_deceased_suppression: inclusion-exclusion closes exactly") {
    val rows = SparkEntry.queries("warehouse_deceased_suppression")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val (n, d, g, b, m) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(m == n - d - g + b, s"cohort ${r.getLong(0)}")
      assert(b <= math.min(d, g))
    }
    assert(rows.map(_.getLong(2)).sum > 0L)
    assert(rows.map(_.getLong(3)).sum > 0L)
  }
}
