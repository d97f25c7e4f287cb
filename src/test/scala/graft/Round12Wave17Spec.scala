package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-17 semantics: Chaikin AD sign laws, snowflake k-sortability,
  * IPF margin convergence, marginal-tax slab algebra. */
class Round12Wave17Spec extends AnyFunSuite with SparkFixture {

  test("win_chaikin_ad: osc identity and signal law") {
    val rows = SparkEntry.queries("win_chaikin_ad")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (fast, slow, osc) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(osc === fast - slow)
      val expect =
        if (osc > 0) "ACCUM" else if (osc < 0) "DISTRIB" else "FLAT"
      assert(r.getString(6) === expect)
    }
    // the AD line is a running sum: first bar's ad equals its own mfv,
    // bounded by ±1000·vol (|MFM| ≤ 1 by construction)
  }

  test("fn_snowflake_id: exact unpack roundtrip, id order == field order") {
    val rows = SparkEntry.queries("fn_snowflake_id")(spark, sf)
      .collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      assert(r.getLong(5) === r.getLong(2), "ts roundtrip")
      assert(r.getLong(6) === r.getLong(3), "worker roundtrip")
      assert(r.getLong(7) === r.getLong(4), "seq roundtrip")
      assert(r.getLong(8) === r.getLong(9), "k-sortable: rank identity")
      assert(r.getLong(3) >= 0 && r.getLong(3) < 1024)
      assert(r.getLong(4) >= 0 && r.getLong(4) < 4096)
    }
  }

  test("agg_ipf_raking: raked column margins hit the uniform target") {
    val rows = SparkEntry.queries("agg_ipf_raking")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(2)).sum
    val nReg = rows.map(_.getLong(1)).distinct.length
    val targetMilli = (total / nReg) * 1000L
    // the LAST scaling was the column pass, so every column margin sits
    // within integer-truncation slack of the target (cells truncate DIV)
    rows.groupBy(_.getLong(1)).foreach { case (_, g) =>
      val margin = g.head.getLong(4)
      assert(margin <= targetMilli)
      assert(margin >= targetMilli - 1000L * g.length)
    }
    rows.foreach(r => assert(r.getLong(3) > 0))
  }

  test("fn_tax_brackets: effective rate is monotone in bracket, bounded") {
    val rows = SparkEntry.queries("fn_tax_brackets")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSet.subsetOf(
      Set("10pct", "20pct", "30pct", "40pct")))
    val byB = rows.map(r => r.getString(0) -> r.getLong(6)).toMap
    // marginal slabs: avg effective rate strictly below the top marginal
    byB.get("10pct").foreach(e => assert(e <= 100000L))
    byB.get("20pct").foreach(e => assert(e > 100000L && e < 200000L))
    byB.get("30pct").foreach(e => assert(e > 100000L && e < 300000L))
    byB.get("40pct").foreach(e => assert(e > 200000L && e < 400000L))
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(5)) // min_eff ≤ max_eff
    }
  }
}
