package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-28 operators beyond the oracle
  * gate: audit sensitivity/specificity and growth algebra.
  */
class Round9Wave28Spec extends AnyFunSuite with SparkFixture {

  test("warehouse_referential_audit: clean passes, injected violations both caught") {
    val rows = SparkEntry.queries("warehouse_referential_audit")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(rows("clean") == ((0L, 0L, true)), "specificity: clean data must not alarm")
    assert(rows("injected") == ((1L, 1L, true)),
      "sensitivity: exactly the planted duplicate and orphan must surface")
  }

  test("win_wow_growth: growth matches its exact sign-safe formula; weeks contiguous-ish") {
    val rows = SparkEntry.queries("win_wow_growth")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (x, prev, g) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val expected =
        if (x >= prev) (x - prev) * 1000000L / prev
        else -((prev - x) * 1000000L / prev)
      assert(g == expected, s"growth mislabeled: $r")
      assert(prev > 0)
    }
    // both directions of growth must occur in a noisy series
    assert(rows.exists(_.getLong(4) > 0) && rows.exists(_.getLong(4) < 0))
  }
}
