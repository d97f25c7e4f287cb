package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 1 (Round15Ops): EM-estimated Fellegi–Sunter weights —
  * the round-14 verdict's top item. The EM must RECOVER the planted
  * per-field drift rates from the agreement-pattern counts alone.
  */
class Round15Wave1Spec extends AnyFunSuite with SparkFixture {

  test("join_fs_em_weights: EM recovers the planted m/u rates") {
    val rows = SparkEntry.queries("join_fs_em_weights")(spark, sf).collect()
    assert(rows.nonEmpty)
    val params = rows.filter(_.getString(0) == "param")
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(params.keySet == Set(
      "pi", "m_name", "m_city", "m_yob", "u_name", "u_city", "u_yob"))
    // planted truth: name drifts 1/21 → m_name = 952380 ppm; city 1/15 →
    // 933333; yob 1/9 → 888888. sf0.001 has ~150 matched pairs, so the
    // sampling band is wide (±80000 ppm ≈ ±4σ).
    assert(math.abs(params("m_name") - 952380L) < 80000L,
      s"m_name=${params("m_name")}")
    assert(math.abs(params("m_city") - 933333L) < 80000L,
      s"m_city=${params("m_city")}")
    assert(math.abs(params("m_yob") - 888888L) < 80000L,
      s"m_yob=${params("m_yob")}")
    // non-match agreement: names never collide (u_name ≈ 0), cities are
    // ~uniform over 25 nations (u_city ≈ 40000 ppm)
    assert(params("u_name") < 60000L, s"u_name=${params("u_name")}")
    assert(params("u_city") < 160000L, s"u_city=${params("u_city")}")
    // π ≈ match share of blocked pairs: 10 matches per ~100-pair block
    assert(params("pi") > 50000L && params("pi") < 200000L,
      s"pi=${params("pi")}")
  }

  test("join_fs_em_weights: pattern census conserves pairs, classes partition") {
    val rows = SparkEntry.queries("join_fs_em_weights")(spark, sf).collect()
    val patterns = rows.filter(_.getString(0) == "pattern")
    val classes = rows.filter(_.getString(0) == "class")
    assert(patterns.nonEmpty && classes.nonEmpty)
    val patPairs = patterns.map(_.getLong(2)).sum
    val clsPairs = classes.map(_.getLong(2)).sum
    assert(patPairs == clsPairs, s"pattern mass $patPairs != class mass $clsPairs")
    // the blocked join emits every master×dirty pair inside each 10-key
    // block; total pair mass must equal the true blocked-join cardinality
    val base = Tables.customer(spark, sf)
      .selectExpr("CAST(c_custkey AS BIGINT) AS k")
      .selectExpr("k DIV 10 AS blk")
    val expected = base.groupBy("blk").count()
      .selectExpr("CAST(SUM(count * count) AS BIGINT) AS m").collect()(0).getLong(0)
    assert(patPairs == expected, s"pairs $patPairs != blocked join $expected")
    // all-agree pairs must classify as links; responsibilities are ppm
    patterns.foreach { r =>
      val v = r.getLong(3)
      assert(v >= 0L && v <= 1000000L)
      if (r.getString(1) == "111") assert(v >= 900000L, s"111 r=$v")
      if (r.getString(1) == "000") assert(v < 100000L, s"000 r=$v")
    }
  }

  test("llm_ann_filtered: post-filter recall never beats pre-filter, bounds hold") {
    val rows = SparkEntry.queries("llm_ann_filtered")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byStrat = rows.groupBy(_.getString(0))
    assert(byStrat.keySet == Set("pre_filter", "post_filter"))
    // 10 probes per strategy, each graded against the same filtered truth
    assert(byStrat("pre_filter").length == byStrat("post_filter").length)
    val pre = byStrat("pre_filter").map(r => r.getLong(1) -> r).toMap
    byStrat("post_filter").foreach { r =>
      val p = pre(r.getLong(1))
      // post ⊆ pre by construction → per-probe hits can never exceed
      assert(r.getLong(3) <= p.getLong(3),
        s"probe ${r.getLong(1)}: post hits ${r.getLong(3)} > pre ${p.getLong(3)}")
      assert(r.getLong(2) <= 5L && r.getLong(3) <= r.getLong(2))
      assert(p.getLong(2) <= 5L && p.getLong(3) <= p.getLong(2))
    }
    // the strategy gap is the whole point: pre-filter must find strictly
    // more across the probe set (the predicate keeps only ~10% of each
    // unfiltered top-5)
    val preHits = byStrat("pre_filter").map(_.getLong(3)).sum
    val postHits = byStrat("post_filter").map(_.getLong(3)).sum
    assert(preHits > postHits, s"pre=$preHits post=$postHits")
    assert(preHits >= 1L)
  }
}
