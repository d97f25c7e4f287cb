package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-29 semantics: Bézier hull/endpoint laws, TEMA identity,
  * Chebyshev floor, convergent optimality vs brute force. */
class Round12Wave29Spec extends AnyFunSuite with SparkFixture {

  test("fn_bezier_points: endpoints exact, curve inside the control hull") {
    val rows = SparkEntry.queries("fn_bezier_points")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val s = g.sortBy(_.getLong(4))
      assert(s.length === 11)
      val (y0, y1, y2) =
        (s.head.getLong(1), s.head.getLong(2), s.head.getLong(3))
      assert(s.head.getLong(6) === 100 * y0, "B(0) = P0")
      assert(s.last.getLong(6) === 100 * y2, "B(1) = P2")
      assert(s.head.getLong(5) === 0L && s.last.getLong(5) === 10000L)
      val (lo, hi) = (Seq(y0, y1, y2).min * 100, Seq(y0, y1, y2).max * 100)
      s.foreach { r =>
        assert(r.getLong(6) >= lo && r.getLong(6) <= hi, "convex hull")
        // weights sum to 100: (10-k)^2 + 2(10-k)k + k^2
        val k = r.getLong(4)
        assert((10 - k) * (10 - k) + 2 * (10 - k) * k + k * k === 100L)
      }
    }
  }

  test("win_tema: blend identity and lag-kill (tema tracks closer than e3)") {
    val rows = SparkEntry.queries("win_tema")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(6) === 3 * r.getLong(3) - 3 * r.getLong(4) +
        r.getLong(5))
    }
    // aggregate tracking error: |tema - c| should beat |e3 - c| overall
    val temaErr = rows.map(r => (r.getLong(6) - r.getLong(2)).abs).sum
    val e3Err = rows.map(r => (r.getLong(5) - r.getLong(2)).abs).sum
    assert(temaErr < e3Err, "triple blend reduces lag vs the raw cascade")
  }

  test("agg_chebyshev_coverage: empirical coverage beats the 1-1/k^2 floor") {
    val rows = SparkEntry.queries("agg_chebyshev_coverage")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, w2, w3) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(w2 <= w3 && w3 <= n)
      // Chebyshev: P(|X-mu| <= k sigma) >= 1 - 1/k^2 (sample version
      // holds with the n-scaled exact deviations up to truncation slack)
      assert(r.getLong(5) >= 750000L - 1000000L / n - 1)
      assert(r.getLong(6) >= 888888L - 1000000L / n - 1)
    }
  }

  test("fn_continued_fraction: best convergent beats every k<=50 rational") {
    val rows = SparkEntry.queries("fn_continued_fraction")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.take(20).foreach { r =>
      val (p, q, bh, bk, err) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      assert(bk >= 1 && bk <= 50)
      assert(err === (p * bk - bh * q).abs)
      // optimality: no h/k with k <= bk approximates p/q strictly better
      // (best-rational property of convergents), scaled to common denom
      (1L to bk).foreach { k =>
        val h = math.round(p.toDouble * k / q)
        // |p/q - h/k| >= |p/q - bh/bk|  <=>  |pk - hq|·bk >= err·k
        assert((p * k - h * q).abs * bk >= err * k,
          s"better rational $h/$k exists for $p/$q")
      }
    }
  }
}
