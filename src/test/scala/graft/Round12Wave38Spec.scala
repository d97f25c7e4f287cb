package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-38 semantics: BCD laws, Excel bijective base-26 vs library-free
  * replay, Pareto crossing optimality, ISBN-10 validation. */
class Round12Wave38Spec extends AnyFunSuite with SparkFixture {

  test("fn_bcd_roundtrip: exact both ways, BCD never smaller") {
    val rows = SparkEntry.queries("fn_bcd_roundtrip")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, bcd) = (r.getLong(1), r.getLong(2))
      assert(r.getBoolean(4), s"v=$v")
      assert(r.getBoolean(5) && bcd >= v)
      // independent nibble replay
      val want = v.toString.reverse.zipWithIndex.map {
        case (c, i) => (c - '0').toLong << (4 * i) }.sum
      assert(bcd === want)
    }
  }

  test("fn_excel_column: matches an independent bijective-26 encoder") {
    val rows = SparkEntry.queries("fn_excel_column")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    def enc(n0: Long): String = {
      var n = n0; val sb = new StringBuilder
      while (n > 0) {
        val d = ((n - 1) % 26).toInt
        sb.insert(0, ('A' + d).toChar)
        n = (n - 1) / 26
      }
      sb.toString
    }
    rows.foreach { r =>
      assert(r.getString(2) === enc(r.getLong(1)), s"n=${r.getLong(1)}")
      assert(r.getBoolean(4), "decode inverts encode")
    }
  }

  test("agg_pareto_8020: picked rank is the minimal 80% cover") {
    val rows = SparkEntry.queries("agg_pareto_8020")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, rk, share) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(rk >= 1 && rk <= n)
      assert(share === rk * 1000000 / n)
      // balances are near-uniform, so covering 80% of wealth takes well
      // over half the population but never all of it
      assert(share > 400000L && share < 1000000L)
    }
  }

  test("fn_isbn10_check: every generated ISBN validates, X used for rem 10") {
    val rows = SparkEntry.queries("fn_isbn10_check")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val code9 = r.getString(1)
      val rem = code9.zipWithIndex.map {
        case (c, i) => (i + 1) * (c - '0') }.sum % 11
      assert(r.getLong(2) === rem.toLong)
      assert(r.getBoolean(5), "appended check validates")
      assert(r.getString(4).length === 10)
      if (rem == 10) assert(r.getString(3) === "X")
    }
  }
}
