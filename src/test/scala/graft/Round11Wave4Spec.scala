package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for round-11 waves 4–5: parametric stats pair, TA
  * window pair, and the LLM planning/eval ledgers.
  */
class Round11Wave4Spec extends AnyFunSuite with SparkFixture {

  test("agg_anova_oneway: components positive, F reconciles, df sane") {
    val r = SparkEntry.queries("agg_anova_oneway")(spark, sf).collect().head
    val (k, n) = (r.getLong(0), r.getLong(1))
    assert(k >= 2 && n > k)
    assert(r.getLong(2) >= 0 && r.getLong(3) > 0, "SSB >= 0 and SSW > 0")
    // F reconstructed from the emitted components matches f_milli within
    // the fixed-point truncation of the cents2 projection
    val f = (r.getLong(2).toDouble * (n - k)) / ((k - 1).toDouble * r.getLong(3))
    assert(math.abs(f * 1000 - r.getLong(4)) <= 1100,
      s"f_milli ${r.getLong(4)} vs reconstructed ${f * 1000}")
  }

  test("agg_levene_bf: deviations shrink the scale vs raw ANOVA") {
    val a = SparkEntry.queries("agg_anova_oneway")(spark, sf).collect().head
    val l = SparkEntry.queries("agg_levene_bf")(spark, sf).collect().head
    assert(l.getLong(0) == a.getLong(0) && l.getLong(1) == a.getLong(1),
      "same groups, same rows")
    assert(l.getLong(3) <= a.getLong(3),
      "|x - med| variance can't exceed raw-x variance scale here")
  }

  test("win_macd: histogram is exactly macd - signal; warm-up rows exact") {
    val rows = SparkEntry.queries("win_macd")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(7) == r.getLong(5) - r.getLong(6), s"hist law broken: $r")
    }
  }

  test("win_aroon: recency in [0,13], milli values consistent") {
    val rows = SparkEntry.queries("win_aroon")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sm, sn) = (r.getLong(3), r.getLong(4))
      assert(sm >= 0 && sm <= 13 && sn >= 0 && sn <= 13, s"recency out of frame: $r")
      assert(r.getLong(5) == (13 - sm) * 1000 / 13)
      assert(r.getLong(6) == (13 - sn) * 1000 / 13)
    }
  }

  test("llm_bleu_components: clipped overlap bounded by both sides") {
    val rows = SparkEntry.queries("llm_bleu_components")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4), "ov1 <= tot1 (clipping)")
      assert(r.getLong(6) <= r.getLong(7), "ov2 <= tot2")
      assert(r.getLong(5) <= 1000000L && r.getLong(8) <= 1000000L)
      assert(r.getBoolean(10) == (r.getLong(1) < r.getLong(2)))
    }
  }

  test("llm_chinchilla_plan: monotone grid, data-limited flips with scale") {
    val rows = SparkEntry.queries("llm_chinchilla_plan")(spark, sf).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).sorted.toSeq)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) * 20)
      assert(r.getLong(3) == 6L * (r.getLong(0) / 1000) * (r.getLong(2) / 1000))
      assert(r.getBoolean(5) == (r.getLong(1) < r.getLong(2)))
    }
    // the tiny test corpus is data-limited for every grid entry
    assert(rows.forall(_.getBoolean(5)))
  }

  test("llm_paged_kv_plan: paged never exceeds naive, frag < a block per doc") {
    val rows = SparkEntry.queries("llm_paged_kv_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, paged, naive) = (r.getLong(1), r.getLong(3), r.getLong(6))
      assert(paged <= naive, "paged allocation must not exceed naive")
      assert(r.getLong(5) < nDocs * 16, "fragmentation under one block per doc")
      assert(r.getLong(7) >= 0 && r.getLong(7) <= 1000000L)
    }
  }
}
