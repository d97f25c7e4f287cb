package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-11 ops beyond the oracle gate. */
class Round10Wave11Spec extends AnyFunSuite with SparkFixture {

  test("llm_domain_cap: the cap binds, accounting conserves") {
    val rows = SparkEntry.queries("llm_domain_cap")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n, "sources partition the corpus")
    rows.foreach { r =>
      val (docs, kept, dropped) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept + dropped == docs, s"cap accounting broken: $r")
      assert(kept <= 50, s"cap must bind at 50: $r")
      assert(kept == math.min(docs, 50L), s"cap keeps min(docs, 50): $r")
    }
  }

  test("llm_token_budget_split: shares land on 80/10/10 within one doc's tokens") {
    val rows = SparkEntry.queries("llm_token_budget_split")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == Set("train", "val", "test"))
    val byName = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    // start-based assignment: each split's ppm within one max-doc of target
    assert(math.abs(byName("train") - 800000) < 20000, s"train share: $byName")
    assert(math.abs(byName("val") - 100000) < 20000, s"val share: $byName")
    assert(math.abs(byName("test") - 100000) < 20000, s"test share: $byName")
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n)
  }

  test("graph_triangle_estimate: estimator carries truth and a sane error") {
    val r = SparkEntry.queries("graph_triangle_estimate")(spark, sf).collect().head
    val (exact, est, err) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(exact > 0, "backbone must close some triangles")
    assert(est % 64 == 0, "estimate is a rescaled integer count")
    val recompute = if (est >= exact) (est - exact) * 1000000L / exact
      else -((exact - est) * 1000000L / exact)
    assert(err == recompute, "error column must tie out")
  }
}
