package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 4 (Round15Ops): hierarchical HNSW, nickname
  * canonicalization, money-mule network detection.
  */
class Round15Wave4Spec extends AnyFunSuite with SparkFixture {

  test("llm_ann_hnsw_layered: descent adapts the entry, recall is graded") {
    val rows = SparkEntry.queries("llm_ann_hnsw_layered")(spark, sf).collect()
    assert(rows.length == 10) // probes 0..9
    rows.foreach { r =>
      val (probe, entry, visited, hits, ppm) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(entry >= 0L && entry % 4 == 0L, s"L0 entry $entry not an L1 member")
      // beam accounting: ≤ 5 (L2) + 5 (L1) + 2 L0 hops × (8 beam × 8 deg
      // + beam) candidates
      assert(visited >= 1L && visited <= 160L, s"visited $visited")
      assert(hits >= 0L && hits <= 5L)
      assert(ppm == hits * 200000L)
    }
    // the layered descent must actually find SOMETHING across the probe
    // set (greedy from an adapted entry; sf0.001 has 500 vectors)
    assert(rows.map(_.getLong(3)).sum >= 1L)
  }

  test("fn_nickname_resolve: nicknames fold into 6 canonicals") {
    val rows = SparkEntry.queries("fn_nickname_resolve")(spark, sf).collect()
    // every raw name resolves to one of the 6 canonicals — no nick leaks
    assert(rows.length == 6)
    val canon = rows.map(_.getString(0)).toSet
    assert(canon == Set("WILLIAM", "ROBERT", "MARGARET", "JOHN",
      "ELIZABETH", "KATHERINE"))
    assert(rows.map(_.getLong(1)).sum ==
      Tables.customer(spark, sf).count())
    rows.foreach { r =>
      // each canonical unifies up to 3 spellings (itself + 2 nicknames)
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 3L)
      assert(r.getLong(2) <= r.getLong(1))
    }
    // nick-resolved records must exist (12 of 18 pool slots are nicks)
    assert(rows.map(_.getLong(2)).sum > 0L)
  }

  test("join_mule_network: flag has zero false positives, mass conserves") {
    val rows = SparkEntry.queries("join_mule_network")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // the three planted mules are the ONLY mule-class accounts
    assert(rows.contains("mule"), s"classes: ${rows.keySet}")
    val mule = rows("mule")
    assert(mule.getLong(1) == 3L, s"mule accounts ${mule.getLong(1)}")
    // pass-through conservation: every inflow cent leaves to a cashout
    assert(mule.getLong(2) == mule.getLong(3),
      s"in ${mule.getLong(2)} != out ${mule.getLong(3)}")
    // payers never receive, sinks never send
    assert(rows("payer").getLong(2) == 0L)
    assert(rows("sink").getLong(3) == 0L)
    assert(!rows.contains("passthrough"))
  }

  test("agg_count_min: estimates never undercount, heavies dominate the rare key") {
    val rows = SparkEntry.queries("agg_count_min")(spark, sf).collect()
    assert(rows.length == 6)
    val byKey = rows.map(r => r.getString(0) -> r).toMap
    assert(byKey.keySet == Set("hh0", "hh1", "hh2", "hh3", "hh4", "rare"))
    rows.foreach { r =>
      // the CM one-sided guarantee: estimate ≥ true, always
      assert(r.getLong(3) >= 0L, s"${r.getString(0)} undercounts")
      assert(r.getLong(2) == r.getLong(1) + r.getLong(3))
    }
    // each planted heavy hitter carries ~13% of events; 'rare' ≤ 1/997
    val minHeavy = (0 to 4).map(h => byKey(s"hh$h").getLong(1)).min
    assert(minHeavy > byKey("rare").getLong(1) * 10)
  }

  test("agg_reservoir_sample: exactly 100 rows sampled, composition is stable") {
    val rows = SparkEntry.queries("agg_reservoir_sample")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == 100L)
    assert(rows.length <= 5)
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) < 5L))
  }

  test("warehouse_t_closeness: the planted skew class leaks, TVD is a ppm") {
    val rows = SparkEntry.queries("warehouse_t_closeness")(spark, sf).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L)
      assert(r.getBoolean(3) == (r.getLong(2) > 300000L))
    }
    val skewed = rows.find(_.getInt(0) == 3).get
    assert(skewed.getBoolean(3), s"class 3 tvd=${skewed.getLong(2)} not flagged")
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
  }
}
