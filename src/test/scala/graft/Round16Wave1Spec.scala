package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 1 (Round16Ops): ANN erasure lifecycle, Wilson bounds,
  * James–Stein shrinkage. */
class Round16Wave1Spec extends AnyFunSuite with SparkFixture {

  test("llm_ann_index_delete: masking ≡ compaction, erased ids never served") {
    val rows = SparkEntry.queries("llm_ann_index_delete")(spark, sf).collect()
    assert(rows.length == 3)
    val byPhase = rows.map(r => r.getString(0) -> r).toMap
    val (u, m, c) = (byPhase("unmasked"), byPhase("masked"), byPhase("compacted"))
    // the grade is not vacuous: the stale unmasked index leaks erased ids
    assert(u.getLong(4) > 0L, "unmasked phase must leak deleted vectors")
    // masking and compaction both serve zero erased ids
    assert(m.getLong(4) == 0L && c.getLong(4) == 0L)
    // compaction returns EXACTLY the masked answers (the lifecycle law)
    assert(m.getLong(6) == c.getLong(6) && m.getLong(7) == c.getLong(7))
    // size census: tombstones drop to zero, rows to the survivor count
    assert(u.getLong(1) == m.getLong(1))
    assert(c.getLong(1) == u.getLong(1) - u.getLong(2))
    assert(c.getLong(2) == 0L && u.getLong(2) > 0L)
    // masked recall is sane IVF recall and at least the unmasked one
    assert(m.getLong(7) >= u.getLong(7))
    // absolute floor: 4-probe IVF over RANDOM 64-dim embeddings (cells
    // barely predict exact top-3) measures ~42% at sf0.001 — the graded
    // contract is the lifecycle laws above plus oracle determinism
    assert(m.getLong(7) >= 300000L, s"masked recall ${m.getLong(7)} ppm")
  }

  test("agg_wilson_ci: bounds bracket the raw rate on every item") {
    val rows = SparkEntry.queries("agg_wilson_ci")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      // coverage lower ≤ raw ≤ upper is total
      assert(r.getLong(4) == r.getLong(1), s"cohort ${r.getInt(0)} coverage")
      // the interval is real: lower mass strictly under upper mass
      assert(r.getLong(2) < r.getLong(3))
      // some items clear a positive lower bound
      assert(r.getLong(5) > 0)
    }
  }

  test("agg_james_stein: Stein dominance on the total SSE") {
    val rows = SparkEntry.queries("agg_james_stein")(spark, sf).collect()
    assert(rows.length == 4)
    val tot = rows.find(_.getInt(0) == -1).get
    assert(tot.getLong(4) < tot.getLong(3),
      s"JS SSE ${tot.getLong(4)} must beat raw SSE ${tot.getLong(3)}")
    // shrink factor is a real interior value (not 0, not 1)
    assert(tot.getLong(2) > 0L && tot.getLong(2) < 1000000L)
    // cohort rows partition the total
    val per = rows.filter(_.getInt(0) >= 0)
    assert(per.map(_.getLong(1)).sum == tot.getLong(1))
    assert(per.map(_.getLong(3)).sum == tot.getLong(3))
    assert(per.map(_.getLong(4)).sum == tot.getLong(4))
  }
}
