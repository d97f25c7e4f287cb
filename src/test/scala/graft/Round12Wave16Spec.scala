package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-16 semantics: Heikin-Ashi smoothing invariants, TRIX stage
  * chaining, Hilbert-curve roundtrip + locality. */
class Round12Wave16Spec extends AnyFunSuite with SparkFixture {

  test("win_heikin_ashi: envelope + candle law, ho is the midpoint chain") {
    val rows = SparkEntry.queries("win_heikin_ashi")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ho, hc, hi, lo) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(hi >= ho && hi >= hc) // ha_high closes over the synthetics
      assert(lo <= ho && lo <= hc)
      val expect =
        if (hc > ho) "BULL" else if (hc < ho) "BEAR" else "DOJI"
      assert(r.getString(6) === expect)
    }
    // per-group truncating midpoint recursion: ho(n+1) = (ho(n)+hc(n)) DIV 2
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val s = g.sortBy(_.getLong(1))
      s.sliding(2).foreach {
        case Array(a, b) =>
          // Spark DIV truncates toward zero, same as Scala Long division
          assert(b.getLong(2) === (a.getLong(2) + a.getLong(3)) / 2)
        case _ => ()
      }
    }
  }

  test("win_trix: e3 is smoother than c (lower total variation), ppm identity") {
    val rows = SparkEntry.queries("win_trix")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val s = g.sortBy(_.getLong(1))
      val tvC = s.sliding(2).collect {
        case Array(a, b) => (b.getLong(2) - a.getLong(2)).abs
      }.sum
      val tvE = s.sliding(2).collect {
        case Array(a, b) => (b.getLong(3) - a.getLong(3)).abs
      }.sum
      assert(tvE <= tvC) // triple smoothing cannot roughen the series
      s.sliding(2).foreach {
        case Array(a, b) =>
          val pe3 = a.getLong(3)
          if (pe3 != 0)
            assert(b.getLong(4) === (b.getLong(3) - pe3) * 1000000L / pe3)
        case _ => ()
      }
    }
  }

  test("fn_hilbert_curve: exact roundtrip and unit-step locality") {
    val rows = SparkEntry.queries("fn_hilbert_curve")(spark, sf)
      .collect()
    assert(rows.length > 10)
    rows.foreach { r =>
      assert(r.getLong(4) === r.getLong(1), "xd == x") // decode inverts encode
      assert(r.getLong(5) === r.getLong(2), "yd == y")
      val hd = r.getLong(3)
      assert(hd >= 0 && hd < 65536L)
    }
    // distinct keys map to distinct curve positions (injective on the grid)
    val byCell = rows.map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3))
    byCell.groupBy(_._1).foreach { case (_, vs) =>
      assert(vs.map(_._2).distinct.length === 1)
    }
    assert(byCell.toMap.values.toSeq.distinct.length === byCell.toMap.size)
  }
}
