package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-14 operators beyond the oracle
  * gate: watermark null-hypothesis behavior, span-corruption density,
  * and association-rule algebra.
  */
class Round9Wave14Spec extends AnyFunSuite with SparkFixture {

  test("llm_watermark_detect: unwatermarked corpus sits near the 25% null; verdict = integer law") {
    val rows = SparkEntry.queries("llm_watermark_detect")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, g) = (r.getLong(1), r.getLong(2))
      assert(g <= n)
      val lhs = 4 * g - n
      assert(r.getBoolean(4) == (lhs > 0 && lhs * lhs > 12 * n),
        s"verdict disagrees with its integer law: $r")
      assert(math.abs(r.getDouble(3) - lhs.toDouble / math.sqrt(3.0 * n)) < 1e-9)
    }
    // natural text is NOT watermarked: the corpus-wide green rate must be
    // near 1/4 and the false-positive rate small (one-sided z>2 ⇒ ~2.3%)
    val rate = rows.map(_.getLong(2)).sum.toDouble / rows.map(_.getLong(1)).sum
    assert(math.abs(rate - 0.25) < 0.02, s"null green rate drifted: $rate")
    val fp = rows.count(_.getBoolean(4)).toDouble / rows.length
    assert(fp < 0.08, s"false-positive rate too high on clean text: $fp")
  }

  test("llm_span_corruption: density near 1/8, spans cover masked tokens in 3s") {
    val rows = SparkEntry.queries("llm_span_corruption")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, masked, spans) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(masked <= n)
      // each masked span is <= 3 tokens and spans * 3 >= masked
      assert(spans * 3 >= masked && masked >= spans,
        s"span accounting inconsistent: $r")
      assert(r.getLong(4) == (n - masked) * 1000000L / n)
      assert(r.getString(5).length == 32)
    }
    val density = rows.map(_.getLong(2)).sum.toDouble / rows.map(_.getLong(1)).sum
    assert(density > 0.05 && density < 0.22, s"mask density far from 1/8: $density")
  }

  test("agg_market_basket: support bounded by both marginals; lift symmetric in form") {
    val rows = SparkEntry.queries("agg_market_basket")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (support, sa, sb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(support >= 10, "minsup filter must hold")
      assert(support <= sa && support <= sb, s"support exceeds a marginal: $r")
      assert(r.getLong(5) == support * 1000 / sa)
      assert(r.getLong(5) <= 1000)
      assert(r.getString(0) < r.getString(1), "pairs must be canonical")
    }
  }
}
