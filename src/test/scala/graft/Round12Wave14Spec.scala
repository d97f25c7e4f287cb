package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-14 semantics: Aalen–Johansen conservation, life-table chain
  * monotonicity, fractal strictness. */
class Round12Wave14Spec extends AnyFunSuite with SparkFixture {

  test("agg_aalen_johansen: S + CIF1 + CIF2 conserves 10^6 up to truncation") {
    val rows = SparkEntry.queries("agg_aalen_johansen")(spark, SparkFixture.sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTimes, s, c1, c2) = (r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
      assert(s >= 0 && c1 >= 0 && c2 >= 0)
      val total = s + c1 + c2
      assert(total <= 1000000L)
      // each fold step loses < 2 ppm to truncation (two divisions)
      assert(total >= 1000000L - 3 * nTimes)
      // with both causes planted ~equally, both CIFs are substantial
      assert(c1 > 100000L && c2 > 100000L)
    }
  }

  test("agg_life_table: lx chain is non-increasing from the radix") {
    val rows = SparkEntry.queries("agg_life_table")(spark, SparkFixture.sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val byBand = g.sortBy(_.getLong(1))
      assert(byBand.head.getLong(5) === 1000000L) // l0 = radix
      val lxs = byBand.map(_.getLong(5))
      assert(lxs === lxs.sorted.reverse)
      byBand.foreach { r =>
        val (qx, lx, dxStd) = (r.getLong(4), r.getLong(5), r.getLong(6))
        assert(dxStd === lx - lx * (1000000L - qx) / 1000000L)
        // planted qx rises with band → qx in a sane band
        assert(qx <= 1000000L)
      }
      // rising hazard: last band's qx > first band's
      assert(byBand.last.getLong(4) > byBand.head.getLong(4))
    }
  }

  test("win_fractals: every emitted bar is a strict 5-bar extreme") {
    val rows = SparkEntry.queries("win_fractals")(spark, sf).collect()
    assert(rows.nonEmpty)
    val kinds = rows.map(_.getString(4)).toSet
    assert(kinds.subsetOf(Set("UP", "DOWN", "BOTH")))
    // re-derive the bars and check one emitted UP fractal by hand
    val bars = graft.Tables.events(spark, sf)
      .selectExpr("event_type", "ts_us DIV 86400000000 AS day",
        "CAST(FLOOR(value * 100) AS BIGINT) AS cents")
      .groupBy("event_type", "day")
      .agg(org.apache.spark.sql.functions.max("cents").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.filter(r => r.getString(4) != "DOWN").take(5).foreach { r =>
      val (et, day, h) = (r.getString(0), r.getLong(1), r.getLong(2))
      // neighbors two deep exist and are strictly lower — walk actual
      // neighboring bar DAYS (which may skip calendar days)
      val days = bars.keys.filter(_._1 == et).map(_._2).toSeq.sorted
      val idx = days.indexOf(day)
      val neigh = Seq(idx - 2, idx - 1, idx + 1, idx + 2).map(days)
      neigh.foreach(nd => assert(bars((et, nd)) < h))
    }
  }
}
