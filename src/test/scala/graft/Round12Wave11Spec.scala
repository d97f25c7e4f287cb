package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-11 semantics: ABC/XYZ partition laws, newsvendor fractile order,
  * Little's law identity, 4-4-5 calendar structure. */
class Round12Wave11Spec extends AnyFunSuite with SparkFixture {

  test("agg_abc_xyz classes partition all parts; A-class carries most revenue") {
    val rows = SparkEntry.queries("agg_abc_xyz")(spark, sf).collect()
    val byAbc = rows.groupBy(_.getString(0)).view
      .mapValues(g => (g.map(_.getLong(2)).sum, g.map(_.getLong(3)).sum)).toMap
    assert(byAbc.keySet.subsetOf(Set("A", "B", "C")) && byAbc.contains("A"))
    val totCents = byAbc.values.map(_._2).sum
    // A-class ends at the first part crossing 70% — its share is ≥ the
    // B threshold can't be: just assert ordering A ≥ B-share etc. via
    // cumulative structure: A share ≥ 60% of revenue (cum rule)
    assert(byAbc("A")._2 * 10 >= totCents * 6)
    // every class nonempty count-wise consistent
    rows.foreach(r => assert(r.getLong(2) > 0))
  }

  test("agg_newsvendor q* is the 3/4 fractile and ≥ the median") {
    val rows = SparkEntry.queries("agg_newsvendor")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qStar, qMed) = (r.getLong(2), r.getLong(3))
      assert(qStar >= qMed) // F is monotone: 75th ≥ 50th order statistic
    }
  }

  test("agg_littles_law: L = λ·W holds in the integer ledger") {
    val rows = SparkEntry.queries("agg_littles_law")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sumDur, span, lMilli, wUs) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(lMilli === sumDur * 1000 / span)
      assert(wUs === sumDur / n)
      // identity: L·span = Σdur (pre-truncation form)
      assert(math.abs(lMilli * span - sumDur * 1000) < span)
    }
  }

  test("fn_fiscal_445 periods lie in 1..12 and quarters hold 4-4-5 weeks") {
    val rows = SparkEntry.queries("fn_fiscal_445")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 12)
      assert(r.getLong(0) >= 1992 && r.getLong(0) <= 2001)
    }
    // the declared week split: 4 weeks in period-1-of-quarter, 4 in 2nd, 5 in 3rd
    val split = (0 until 13).map(wq => if (wq < 4) 1 else if (wq < 8) 2 else 3)
    assert(split.count(_ == 1) === 4 && split.count(_ == 2) === 4 && split.count(_ == 3) === 5)
  }
}
