package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-42 semantics: leap census vs java.time, control-chart laws. */
class Round12Wave42Spec extends AnyFunSuite with SparkFixture {

  test("fn_leap_count: engine agreement + java.time replay") {
    val rows = SparkEntry.queries("fn_leap_count")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (y1, y2, leaps) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(r.getBoolean(6), s"engine disagreement $y1..$y2")
      val want = (y1 until y2).count(y =>
        java.time.Year.of(y.toInt).isLeap).toLong
      assert(leaps === want, s"java.time disagreement $y1..$y2")
      val days = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.of(y1.toInt, 1, 1),
        java.time.LocalDate.of(y2.toInt, 1, 1))
      assert(r.getLong(4) === days)
    }
  }

  test("agg_xbar_r_chart: limits symmetric, flags consistent, ranges sane") {
    val rows = SparkEntry.queries("agg_xbar_r_chart")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (xbar, grand, rbar, ucl, lcl, out) = (r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8))
      assert(rbar >= 0)
      assert(ucl === grand + 577 * rbar / 1000)
      assert(lcl === grand - 577 * rbar / 1000)
      assert(ucl >= lcl)
      assert(out === (xbar > ucl || xbar < lcl))
    }
    // grand/rbar constant within each series
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(4)).distinct.length === 1)
      assert(g.map(_.getLong(5)).distinct.length === 1)
    }
  }
}
