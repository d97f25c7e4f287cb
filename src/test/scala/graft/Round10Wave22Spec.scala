package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-22 ops beyond the oracle gate. */
class Round10Wave22Spec extends AnyFunSuite with SparkFixture {

  test("warehouse_rls_matrix: every role sees a strict policy subset") {
    val rows = SparkEntry.queries("warehouse_rls_matrix")(spark, sf).collect()
    val by = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(by.keySet == Set("admin", "regional", "analyst"))
    assert(by("admin")._1 == Tables.orders(spark, sf).count(), "admin sees all")
    assert(by("regional")._1 < by("admin")._1, "regional filter must bite")
    assert(by("analyst")._1 < by("admin")._1, "status filter must bite")
    // masking strictly reduces analyst's sum versus the same rows unmasked
    assert(by("analyst")._2 % 100000 == 0, "masked cents keep only thousands")
  }

  test("llm_dedup_sensitivity: the fuzzy rule separates planted distances exactly") {
    val r = SparkEntry.queries("llm_dedup_sensitivity")(spark, sf).collect().head
    assert(r.getLong(0) > 0)
    assert(r.getLong(3) == 1000000, s"every distance-3 mutant must flag: $r")
    assert(r.getLong(4) == 1000000, s"no far mutant may flag: $r")
  }

  test("win_skyline_2d: no frontier row dominates another") {
    val rows = SparkEntry.queries("win_skyline_2d")(spark, sf).collect()
    assert(rows.nonEmpty)
    val pts = rows.map(r => (r.getLong(1), r.getLong(2)))
    for (a <- pts; b <- pts if a != b) {
      assert(!(a._1 >= b._1 && a._2 >= b._2 && (a._1 > b._1 || a._2 > b._2)),
        s"$a dominates $b — both cannot be on the frontier")
    }
  }
}
