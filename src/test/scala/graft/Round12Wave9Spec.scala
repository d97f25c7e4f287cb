package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-9 semantics: Keltner band algebra, MFI bounds, CCI anchored mean
  * deviation, SemVer precedence rules. */
class Round12Wave9Spec extends AnyFunSuite with SparkFixture {

  test("win_keltner bands bracket the midline and classify correctly") {
    val rows = SparkEntry.queries("win_keltner")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cents, mid, up, low, pos) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6))
      assert(up >= mid && mid >= low)
      val want = if (cents * 1000 > up) "ABOVE" else if (cents * 1000 < low) "BELOW" else "IN"
      assert(pos === want)
    }
  }

  test("win_mfi stays in [0, 1e6] and pos14+neg14 bounds the flow") {
    val rows = SparkEntry.queries("win_mfi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pos14, neg14, mfi) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(mfi >= 0L && mfi <= 1000000L)
      if (pos14 + neg14 > 0) assert(mfi === pos14 * 1000000L / (pos14 + neg14))
    }
  }

  test("win_cci mean deviation is anchored on the window's own mean") {
    // CCI of a constant series is 0 (dsum = 0 guard); a pure trend gives
    // a positive cci at the top of the window.
    val rows = SparkEntry.queries("win_cci")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tp, s20, dsum, cci) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      if (dsum == 0) assert(cci === 0L)
      else {
        val num = 20L * tp - s20
        val want = if (num >= 0) num * 4000000L / (3L * dsum)
        else -((-num) * 4000000L / (3L * dsum))
        assert(cci === want)
        // |tp − sma| ≤ meandev·20 bound: |20tp−s20| ≤ dsum
        assert(math.abs(num) <= dsum)
      }
    }
  }

  test("fn_semver_compare orders release after prerelease, fields numerically") {
    val rows = SparkEntry.queries("fn_semver_compare")(spark, sf)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val rank = rows.toMap
    assert(rows.nonEmpty)
    def maybe(a: String, b: String): Unit =
      if (rank.contains(a) && rank.contains(b)) assert(rank(a) < rank(b), s"$a < $b")
    // same core: alpha < alpha.1 < beta.2 < rc.1 < rc.10 < release
    for (core <- rows.map(_._1.split("-")(0)).distinct) {
      maybe(s"$core-alpha", s"$core-alpha.1")
      maybe(s"$core-alpha.1", s"$core-beta.2")
      maybe(s"$core-beta.2", s"$core-rc.1")
      maybe(s"$core-rc.1", s"$core-rc.10") // numeric: 1 < 10 (lexical would flip)
      maybe(s"$core-rc.10", core)          // any prerelease < release
    }
    // ranks are a permutation of 1..n
    assert(rows.map(_._2).sorted === (1L to rows.length).toSeq)
  }
}
