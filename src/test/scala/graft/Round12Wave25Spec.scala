package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-25 semantics: float-free Sharpe identities, RSA roundtrip vs
  * BigInt modPow, Fletcher closed form, IR join discipline. */
class Round12Wave25Spec extends AnyFunSuite with SparkFixture {

  test("agg_sharpe_ratio: sd_n is the exact root, ratio identity") {
    val rows = SparkEntry.queries("agg_sharpe_ratio")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sr, vn, sdn, sh) = (r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getLong(6))
      assert(vn >= 0)
      assert(BigInt(sdn) * sdn <= vn && BigInt(sdn + 1) * (sdn + 1) > vn)
      if (sdn != 0) {
        val expect =
          if (sr < 0) -((-sr) * n * 1000 / sdn) else sr * n * 1000 / sdn
        assert(sh === expect)
      } else assert(sh === 0L)
    }
  }

  test("fn_rsa_modpow: roundtrip for every message, matches BigInt modPow") {
    val rows = SparkEntry.queries("fn_rsa_modpow")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, c, p) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(c === BigInt(m).modPow(17, 3233).toLong, s"encrypt m=$m")
      assert(p === m, "RSA roundtrip")
      assert(r.getBoolean(4))
    }
    // messages that are NOT coprime with n still roundtrip (CRT property)
    assert(rows.exists(r => r.getLong(1) % 61 == 0 || r.getLong(1) % 53 == 0)
      || rows.length < 60)
  }

  test("fn_fletcher16: closed form equals the sequential definition") {
    val rows = SparkEntry.queries("fn_fletcher16")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bytes = r.getString(1).map(_.toInt)
      var s1 = 0; var s2 = 0
      bytes.foreach { b => s1 = (s1 + b) % 255; s2 = (s2 + s1) % 255 }
      assert(r.getLong(2) === s1.toLong, "s1 sequential replay")
      assert(r.getLong(3) === s2.toLong, "s2 sequential replay")
      assert(r.getLong(4) === s2 * 256L + s1)
    }
  }

  test("win_information_ratio: benchmark excluded, root law holds") {
    val rows = SparkEntry.queries("win_information_ratio")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getString(0) == "view"), "benchmark not scored")
    rows.foreach { r =>
      val (n, sa, ssq, ten) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val vn = n * ssq - sa * sa
      assert(vn >= 0)
      assert(BigInt(ten) * ten <= vn && BigInt(ten + 1) * (ten + 1) > vn)
    }
  }
}
