package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-32 semantics: IBAN mod-97 vs BigInt, R/S bounds, keyframe
  * ceil laws, quartile ordering. */
class Round12Wave32Spec extends AnyFunSuite with SparkFixture {

  test("fn_iban_check: check digits match BigInt mod-97, all validate") {
    val rows = SparkEntry.queries("fn_iban_check")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bban = r.getString(1)
      val chk = r.getLong(2)
      val want = 98 - (BigInt(bban + "131400") mod 97).toLong
      assert(chk === want, s"bban=$bban")
      assert(chk >= 2 && chk <= 98)
      assert((BigInt(bban + "1314" + f"$chk%02d") mod 97) === BigInt(1))
      assert(r.getBoolean(4), "engine-side validation walk")
      assert(r.getString(3) === f"DE$chk%02d$bban")
    }
  }

  test("agg_hurst_rs: R/S within the sqrt-bounds of a bounded walk") {
    val rows = SparkEntry.queries("agg_hurst_rs")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, rn, sdn, rs) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(rn >= 0)
      if (sdn > 0) {
        assert(rs === rn * 1000 / sdn)
        // classic bounds: R/S <= n (loose) and >= 1 for any non-constant
        // series with at least 2 points
        assert(rs <= n * 1000)
        assert(rs >= 1000 || n < 2)
      }
    }
  }

  test("mm_keyframe_plan: ceil-DIV laws, sample count near the 16 target") {
    val rows = SparkEntry.queries("mm_keyframe_plan")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (fps, dur, tf, nk, stride, ns) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(tf === fps * dur / 1000)
      val gop = fps * 2
      assert(nk === (tf + gop - 1) / gop)
      assert(stride === math.max(tf / 16, 1L))
      assert(ns === (tf + stride - 1) / stride)
      assert(ns >= 16 && ns <= 33, "stride sampling lands near 16")
    }
  }

  test("agg_quartile_dispersion: Q1 <= Q3, QCD in (0, 1e6), ranks exact") {
    val rows = SparkEntry.queries("agg_quartile_dispersion")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q1, q3, iqr, qcd) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(q1 <= q3)
      assert(iqr === q3 - q1)
      assert(qcd === (q3 - q1) * 1000000 / (q3 + q1))
      assert(qcd >= 0 && qcd < 1000000)
    }
  }
}
