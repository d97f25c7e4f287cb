package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-20 semantics: EAN-13 checksum laws, UO bounds, ordinal census
  * completeness, Weibull position identities, Levenshtein metric laws. */
class Round12Wave20Spec extends AnyFunSuite with SparkFixture {

  test("fn_ean13_check: independent checksum replay, corruption always caught") {
    val rows = SparkEntry.queries("fn_ean13_check")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val code12 = r.getString(1)
      val chk = r.getLong(2)
      val want = (10 - code12.zipWithIndex.map { case (ch, i) =>
        (ch - '0') * (if (i % 2 == 0) 1 else 3) }.sum % 10) % 10
      assert(chk === want.toLong)
      assert(r.getString(3) === code12 + chk)
      // +5 mod 10 on an even (weight-3) position shifts the sum by
      // 15 ≡ 5 (mod 10) — never zero, so the corruption is always caught
      assert(!r.getBoolean(4))
    }
  }

  test("win_ultimate_osc: ppm in [0, 1e6], bp <= tr per horizon") {
    val rows = SparkEntry.queries("win_ultimate_osc")(
      spark, SparkFixture.sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val uo = r.getLong(8)
      assert(uo >= 0 && uo <= 1000000L)
      assert(r.getLong(2) <= r.getLong(3)) // b7 <= t7
      assert(r.getLong(4) <= r.getLong(5))
      assert(r.getLong(6) <= r.getLong(7))
    }
  }

  test("win_ordinal_patterns: labels legal/transitive, census complete") {
    val rows = SparkEntry.queries("win_ordinal_patterns")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    val legal = for {
      a <- Seq('+', '-', '0'); b <- Seq('+', '-', '0'); c <- Seq('+', '-', '0')
      // transitivity: c>c1 and c1>c2 forces c>c2, etc.
      if !(a == '+' && c == '+' && b != '+')
      if !(a == '-' && c == '-' && b != '-')
      if !(a == '0' && b != c)
    } yield s"$a$b$c"
    rows.foreach(r => assert(legal.contains(r.getString(1)),
      s"illegal pattern ${r.getString(1)}"))
    rows.foreach(r => assert(r.getLong(2) > 0))
  }

  test("agg_return_period: top rank gets max return period, identities hold") {
    val rows = SparkEntry.queries("agg_return_period")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val n = g.head.getLong(3)
      assert(g.length === n)
      assert(g.map(_.getLong(4)).sorted.toSeq === (1L to n))
      g.foreach { r =>
        assert(r.getLong(5) === (n + 1) * 1000 / r.getLong(4))
        assert(r.getLong(6) === r.getLong(4) * 1000000 / (n + 1))
      }
      // the rank-1 block holds the series maximum
      val best = g.minBy(_.getLong(4))
      assert(best.getLong(2) === g.map(_.getLong(2)).max)
    }
  }

  test("fn_edit_distance: metric laws against an independent DP replay") {
    val rows = SparkEntry.queries("fn_edit_distance")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    rows.take(25).foreach { r =>
      assert(r.getLong(3) === lev(r.getString(1), r.getString(2)).toLong)
      assert(r.getLong(4) === lev(r.getString(1),
        "lemon chocolate steel").toLong)
    }
    rows.foreach { r =>
      val (a, b, d) = (r.getString(1), r.getString(2), r.getLong(3))
      assert(d >= (a.length - b.length).abs)
      assert(d <= math.max(a.length, b.length))
      assert(r.getLong(5) <= 1000L)
    }
  }
}
