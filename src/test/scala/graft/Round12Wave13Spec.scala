package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-13 semantics: ∞-gram backoff order, compression ratio algebra,
  * Roman roundtrip identity, M/M/1 stability algebra. */
class Round12Wave13Spec extends AnyFunSuite with SparkFixture {

  test("llm_infinigram_next: every query resolves; backoff length in 1..3") {
    val rows = SparkEntry.queries("llm_infinigram_next")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (len, pred, cnt) = (r.getInt(2), r.getString(3), r.getLong(4))
      assert(len >= 1 && len <= 3)
      assert(pred != null && pred.nonEmpty)
      assert(cnt >= 1)
      // a query context taken FROM the corpus always matches its own
      // 3-gram: matched_len must be 3 when the query is corpus-drawn
      assert(len === 3)
    }
  }

  test("llm_prompt_compression: kept ≤ orig, ratio exact, preview short") {
    val rows = SparkEntry.queries("llm_prompt_compression")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (orig, kept, ppm, head) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(kept <= orig)
      assert(ppm === kept * 1000000L / orig)
      assert(head.split(" ").length <= 8)
    }
  }

  test("fn_roman_roundtrip: decode(encode(n)) = n for every sampled n") {
    val rows = SparkEntry.queries("fn_roman_roundtrip")(spark, sf).collect()
    assert(rows.length > 500)
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(0), s"roman=${r.getString(1)}")
    }
    // spot-check canonical encodings
    val byN = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byN.get(1994L).forall(_ == "MCMXCIV"))
    assert(byN.get(3999L).forall(_ == "MMMCMXCIX"))
    assert(byN(38L) === "XXXVIII")
  }

  test("agg_mm1_queue: utilization < 1 here, and Lq follows rho²/(1−rho)") {
    val rows = SparkEntry.queries("agg_mm1_queue")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (busy, span, rho, lq) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(rho === busy * 1000000L / span)
      if (rho < 1000000L) {
        assert(lq === rho * rho / (1000000L - rho))
        assert(lq >= 0)
      } else assert(lq === -1L)
    }
  }
}
