package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-5 ops beyond the oracle gate:
  * the log₂ histogram, the power-analysis calculator, tokenizer
  * fertility, and the degree distribution.
  */
class Round10Wave5Spec extends AnyFunSuite with SparkFixture {

  test("agg_log_histogram: buckets partition the domain at powers of two") {
    val rows = SparkEntry.queries("agg_log_histogram")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n, "every order lands in exactly one bucket")
    rows.foreach { r =>
      val (b, mn, mx) = (r.getLong(0), r.getLong(3), r.getLong(4))
      assert(mn >= (1L << b) && mx < (1L << (b + 1)),
        s"bucket $b must cover [2^$b, 2^${b + 1}): $r")
    }
  }

  test("agg_power_analysis: required n grows as MDE shrinks relative to spread") {
    val rows = SparkEntry.queries("agg_power_analysis")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (mean, sd, req) = (r.getDouble(2), r.getDouble(3), r.getLong(4))
      assert(mean > 0 && sd > 0)
      // closed form: n = 2*(2.8016)^2 * (sd/(0.02*mean))^2, so the ratio
      // back-solved from the output must sit within ceil rounding of it
      val expect = 2 * 2.8016 * 2.8016 * (sd / (0.02 * mean)) * (sd / (0.02 * mean))
      assert(req >= expect - 1 && req <= expect + 1, s"ceil window violated: $r")
    }
  }

  test("llm_tokenizer_fertility: bytes dominate chars dominate nothing") {
    val rows = SparkEntry.queries("llm_tokenizer_fertility")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (bpt, cpt) = (r.getLong(5), r.getLong(6))
      // UTF-8 never encodes a char in less than one byte
      assert(bpt >= cpt, s"bytes/token below chars/token: $r")
      assert(cpt >= 1000, s"a whitespace token has at least one char: $r")
    }
  }

  test("graph_degree_histogram: histogram covers all nodes, CCDF monotone") {
    val rows = SparkEntry.queries("graph_degree_histogram")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum <= 25, "nodes bounded by nation count")
    // ascending degree → n_at_least non-increasing, first ccdf is largest
    val atLeast = rows.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(atLeast.zip(atLeast.tail).forall { case (a, b) => a >= b },
      "CCDF must be non-increasing in degree")
    rows.foreach(r => assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000))
  }
}
