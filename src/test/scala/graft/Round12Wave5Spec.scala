package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for round-12 wave 5 beyond the oracle gate. */
class Round12Wave5Spec extends AnyFunSuite with SparkFixture {

  test("llm_dedup_substring: spans cover at least a window and stay inside the corpus") {
    val rows = SparkEntry.queries("llm_dedup_substring")(spark, sf).collect()
    assert(rows.nonEmpty, "the corpus twins must produce cross-doc repeats")
    rows.foreach { r =>
      val (docs, spans, toks, total, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(spans >= docs, "a doc with repeats has >= 1 span")
      assert(toks >= spans * 12, "every merged span covers >= one 12-token window")
      assert(toks <= total && ppm <= 1000000)
    }
  }

  test("llm_domain_mix_mw: weights grow monotonically with loss and shares sum to ~1") {
    val rows = SparkEntry.queries("llm_domain_mix_mw")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val w = r.getLong(2)
      // five rounds of (1000 + loss<400)/1000 keep w in [1e6, 1e6*1.4^5]
      assert(w >= 1000000L && w <= 5378240L, s"w $w out of the MW band")
    }
    val shares = rows.map(_.getLong(3)).sum
    assert(shares > 999990L && shares <= 1000000L, s"shares sum $shares")
  }

  test("agg_apportionment: exactly 100 seats, every region within 1 of its quota") {
    val rows = SparkEntry.queries("agg_apportionment")(spark, sf).collect()
    assert(rows.map(_.getLong(3)).sum == 100L)
    rows.foreach { r =>
      val (base, seats) = (r.getLong(2), r.getLong(3))
      assert(seats == base || seats == base + 1)
    }
  }

  test("stream_rate_source: two pinned batches, exact value ranges") {
    val rows = SparkEntry.queries("stream_rate_source")(spark, sf).collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 50 && rows(0).getLong(2) == (0L until 50).sum)
    assert(rows(1).getLong(1) == 50 && rows(1).getLong(2) == (50L until 100).sum)
  }
}
