package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-31 semantics: resistor roundtrip, segment-count replay,
  * logistic-map invariants, Coppock weight law. */
class Round12Wave31Spec extends AnyFunSuite with SparkFixture {

  test("fn_resistor_code: ohms roundtrip through color bands") {
    val rows = SparkEntry.queries("fn_resistor_code")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val colors = Seq("black", "brown", "red", "orange", "yellow",
      "green", "blue", "violet", "grey", "white")
    rows.foreach { r =>
      val (sig, expo, ohms) = (r.getLong(1), r.getLong(2), r.getLong(6))
      assert(r.getLong(7) === ohms, "decode inverts encode")
      assert(r.getString(3) === colors((sig / 10).toInt))
      assert(r.getString(4) === colors((sig % 10).toInt))
      assert(r.getString(5) === colors(expo.toInt))
      assert(ohms === sig * math.pow(10, expo.toDouble).toLong)
    }
  }

  test("fn_seven_segment: totals replayed, bounds hold") {
    val rows = SparkEntry.queries("fn_seven_segment")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val segs = "6255456376".map(_ - '0')
    rows.foreach { r =>
      val counts = r.getString(1).map(c => segs(c - '0'))
      assert(r.getLong(2) === counts.sum.toLong)
      assert(r.getLong(3) === counts.max.toLong)
      assert(r.getLong(2) >= 24 && r.getLong(2) <= 84) // 12 digits in [2,7]
    }
  }

  test("fn_logistic_map: stays in [0, 1e6], imperative replay exact") {
    val rows = SparkEntry.queries("fn_logistic_map")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rm, x0) = (r.getLong(1), r.getLong(2))
      var x = x0
      val traj = (1 to 10).map { _ =>
        x = rm * x * (1000000L - x) / 1000000000L
        assert(x >= 0 && x <= 1000000L, "fixed-point trajectory bounded")
        x
      }
      assert(r.getLong(3) === traj(0))
      assert(r.getLong(4) === traj(1))
      assert(r.getLong(5) === traj(2))
      assert(r.getLong(6) === traj(9))
    }
  }

  test("win_coppock: weighted sum identity on a replayed window") {
    val rows = SparkEntry.queries("win_coppock")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val s = g.sortBy(_.getLong(1))
      val moms = s.map(_.getLong(3))
      s.indices.drop(9).foreach { i =>
        val wnum = (0 until 10).map(j => moms(i - j) * (10 - j)).sum
        val expect = if (wnum < 0) -((-wnum) / 55) else wnum / 55
        assert(s(i).getLong(4) === expect, s"row $i")
      }
    }
  }
}
