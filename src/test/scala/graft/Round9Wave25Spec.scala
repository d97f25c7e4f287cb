package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-25 operators beyond the oracle
  * gate: lift-table algebra and funnel monotonicity.
  */
class Round9Wave25Spec extends AnyFunSuite with SparkFixture {

  test("agg_lift_curve: ten deciles conserve the book, capture is monotone to 100%") {
    val sfDir = sf
    val rows = SparkEntry.queries("agg_lift_curve")(spark, sfDir).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sfDir).count())
    val captures = rows.map(_.getLong(4))
    assert(captures.zip(captures.tail).forall { case (a, b) => a <= b },
      "cumulative capture must be monotone")
    assert(captures.last == 1000000L, "decile 10 must capture every positive")
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= 1000000L))
  }

  test("llm_filter_funnel: stages chain — each n_in is the previous n_out") {
    val sfDir = sf
    val rows = SparkEntry.queries("llm_filter_funnel")(spark, sfDir).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("min_length", "known_lang", "diversity", "exact_dedup"))
    assert(rows.head.getLong(2) == Tables.documents(spark, sfDir).count(),
      "stage 1 must see the whole corpus")
    rows.sliding(2).foreach {
      case Array(p, n) => assert(n.getLong(2) == p.getLong(3), "funnel stages must chain")
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "a gate cannot create documents")
      assert(r.getLong(4) == (r.getLong(2) - r.getLong(3)) * 1000000L / r.getLong(2))
    }
    assert(rows.last.getLong(3) > 0, "the funnel must not annihilate the corpus")
  }
}
