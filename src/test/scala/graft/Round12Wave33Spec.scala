package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-33 semantics: CMO bounds, layout-audit laws, CRT bijection. */
class Round12Wave33Spec extends AnyFunSuite with SparkFixture {

  test("win_cmo: bounded ±1e6, sign matches the gain/loss balance") {
    val rows = SparkEntry.queries("win_cmo")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (up, dn, cmo) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(up >= 0 && dn >= 0)
      assert(cmo.abs <= 1000000L)
      if (up > dn) assert(cmo > 0)
      if (up < dn) assert(cmo < 0)
      if (up == dn) assert(cmo === 0L)
    }
  }

  test("warehouse_rle_estimate: sorting collapses runs to the cardinality") {
    val r = SparkEntry.queries("warehouse_rle_estimate")(
      spark, sf).collect().head
    val (n, runsKey, runsSorted) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(runsSorted <= 3, "sorted runs = distinct status count")
    assert(runsKey >= runsSorted, "sorting can only reduce runs")
    assert(runsKey <= n)
    assert(r.getLong(3) === runsKey * 1000000 / n)
    assert(r.getLong(4) === runsSorted * 1000000 / n)
  }

  test("warehouse_delta_estimate: bit width covers max delta exactly") {
    val rows = SparkEntry.queries("warehouse_delta_estimate")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (md, bits) = (r.getLong(2), r.getLong(3))
      assert(md >= 1)
      assert(md < (1L << bits), "width covers the max delta")
      assert(bits === 1 || md >= (1L << (bits - 1)), "width is minimal")
      assert(r.getLong(4) === (64 - bits) * 1000000 / 64)
    }
  }

  test("fn_crt_roundtrip: bijection on [0, 1001), Bezout constants sound") {
    val rows = SparkEntry.queries("fn_crt_roundtrip")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(6), s"v=${r.getLong(1)}")
      assert(r.getLong(5) === r.getLong(1))
    }
    // the constants themselves: 715≡1 (mod 7) & ≡0 (mod 11,13), etc.
    assert(715 % 7 === 1 && 715 % 11 === 0 && 715 % 13 === 0)
    assert(364 % 11 === 1 && 364 % 7 === 0 && 364 % 13 === 0)
    assert(924 % 13 === 1 && 924 % 7 === 0 && 924 % 11 === 0)
  }
}
