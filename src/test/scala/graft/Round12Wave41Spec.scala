package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-41 semantics: AO identity + saucer law, bar widths, MASE
  * identity. */
class Round12Wave41Spec extends AnyFunSuite with SparkFixture {

  test("win_awesome_osc: ao = sma5 - sma13, saucer = rising ao") {
    val rows = SparkEntry.queries("win_awesome_osc")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(5) === r.getLong(3) - r.getLong(4)))
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val s = g.sortBy(_.getLong(1))
      assert(!s.head.getBoolean(6), "first surviving row has no prev")
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getBoolean(6) === (b.getLong(5) > a.getLong(5)))
        case _ => ()
      }
    }
  }

  test("fn_text_histogram: widths exact, the max segment gets 20 hashes") {
    val rows = SparkEntry.queries("fn_text_histogram")(spark, sf)
      .collect()
    assert(rows.length === 5)
    val mx = rows.map(_.getLong(1)).max
    rows.foreach { r =>
      val (cnt, w, bar) = (r.getLong(1), r.getLong(2), r.getString(3))
      assert(w === cnt * 20 / mx)
      assert(bar === "#" * w.toInt)
    }
    assert(rows.exists(_.getLong(2) === 20L), "argmax bar is full width")
  }

  test("agg_mase_naive: identity and positive error masses") {
    val rows = SparkEntry.queries("agg_mase_naive")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sae1, sae7, mase) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sae1 >= 0 && sae7 >= 0)
      if (sae7 > 0) assert(mase === sae1 * 1000 / sae7)
      assert(r.getLong(1) > 0)
    }
  }
}
