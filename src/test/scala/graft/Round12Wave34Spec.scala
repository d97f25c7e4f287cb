package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-34 semantics: barycentric partition-of-unity, Heron replay,
  * DPO window law, Fermat inverse. */
class Round12Wave34Spec extends AnyFunSuite with SparkFixture {

  test("fn_barycentric_coords: lambdas sum to the doubled area, inside law") {
    val rows = SparkEntry.queries("fn_barycentric_coords")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (la, lb, lc, den) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(la + lb + lc === den, "partition of unity (doubled areas)")
      assert(r.getBoolean(7) === (la >= 0 && lb >= 0 && lc >= 0))
    }
    assert(rows.exists(_.getBoolean(7)) && rows.exists(!_.getBoolean(7)))
  }

  test("fn_heron_area: product replay, root floor law, triangle inequality") {
    val rows = SparkEntry.queries("fn_heron_area")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, c, a16, fl) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      assert(a + b > c && a + c > b && b + c > a)
      assert(a16 === (a + b + c) * (b + c - a) * (a - b + c) * (a + b - c))
      assert(a16 > 0)
      // 16A^2 law: (4*fl)^2 <= a16 < (4*(fl+1))^2
      assert(16 * fl * fl <= a16)
      assert(a16 < 16 * (fl + 1) * (fl + 1) + 8 * (fl + 1) * 3 + 16,
        "floor within one unit") // isqrt//4 slack: < (isqrt+4)^2/16 bound
    }
  }

  test("win_dpo: equals close minus the replayed shifted SMA") {
    val rows = SparkEntry.queries("win_dpo")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) === r.getLong(2) - r.getLong(3))
    }
    // zero-mean-ish: DPO oscillates (both signs appear across the data)
    assert(rows.exists(_.getLong(4) > 0) && rows.exists(_.getLong(4) < 0))
  }

  test("fn_modinv_fermat: v·inv ≡ 1 (mod p) for every sampled v") {
    val rows = SparkEntry.queries("fn_modinv_fermat")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, inv, one) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(one === 1L, s"v=$v")
      assert(inv > 0 && inv < 1000003L)
      assert(BigInt(v).modPow(1000001, 1000003).toLong === inv)
    }
  }
}
