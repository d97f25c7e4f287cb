package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-14 wave 4 (Round14Ops): equivalised household income, KV-cache
  * capacity packing, capture–recapture coverage estimation.
  */
class Round14Wave4Spec extends AnyFunSuite with SparkFixture {

  test("agg_household_equivalence: equivalising always shrinks multi-member income") {
    val rows = SparkEntry.queries("agg_household_equivalence")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (size, hh, incMass, eqMass, meanEq) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(size >= 1 && size <= 4)
      // scale_milli > 1000 for any household with 2+ members, so the
      // equivalised mass is strictly below the raw mass; singletons equal
      if (size >= 2) assert(eqMass < incMass)
      if (size == 1) assert(eqMass == incMass)
      assert(meanEq == eqMass / hh)
      // member incomes are 1000-10000 dollars in cents
      assert(incMass >= size * hh * 100000L)
      assert(incMass < size * hh * 1000000L)
    }
  }

  test("service_deadline_propagation: failure depth partitions requests") {
    val rows = SparkEntry.queries("service_deadline_propagation")(spark, sf).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (n, done, f1, f2, f3, f4, slack) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))
      assert(done + f1 + f2 + f3 + f4 == n, "every request completes or dies once")
      // hop latency < 800 < min deadline 1000: the chain can never die at
      // hop 1, and cum2 < 1600 can pass a deadline only in the low band
      assert(f1 == 0)
      assert(slack >= 0)
      if (done > 0) assert(r.getLong(8) == slack / done)
      // cum4 is ~1600 on average against deadlines averaging ~3000:
      // completions dominate but both classes exist at volume
      if (n >= 200) { assert(done > 0); assert(f3 + f4 > 0) }
    }
  }

  test("agg_iptw_ate: design weights recover the planted +250 effect") {
    val rows = SparkEntry.queries("agg_iptw_ate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nT, pMilli, wT, wC) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(7))
      assert(nT <= n)
      assert(pMilli == 200 + r.getLong(0) * 150)
      // weights are the exact integer reciprocals of the design
      assert(wT == nT * (1000000L / pMilli))
      assert(wC == (n - nT) * (1000000L / (1000L - pMilli)))
    }
    val totalN = rows.map(_.getLong(1)).sum
    val wyT = rows.map(_.getLong(4)).sum; val wT = rows.map(_.getLong(5)).sum
    val wyC = rows.map(_.getLong(6)).sum; val wC = rows.map(_.getLong(7)).sum
    if (totalN >= 500 && wT > 0 && wC > 0) {
      val ate = wyT / wT - wyC / wC
      assert(ate > 150 && ate < 350,
        s"IPTW should recover the planted +250 cents effect, got $ate")
    }
  }

  test("fn_homoglyph_detect: exactly the planted classes flag, skeletons recover") {
    val rows = SparkEntry.queries("fn_homoglyph_detect")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == Set("clean", "single_sub", "double_sub"))
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val (cls, n, flagged, mass, recovered) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      cls match {
        case "clean" =>
          assert(flagged == 0); assert(mass == 0); assert(recovered == 0)
        case "single_sub" =>
          assert(flagged == n, "every a-substituted handle must flag")
          // 'pace...oxe' has exactly one 'a'
          assert(mass == n)
          assert(recovered == flagged, "skeleton must round-trip to the clean form")
        case "double_sub" =>
          assert(flagged == n)
          // 'pace...oxe' has one 'o' (in 'oxe') and two 'e's (pace, oxe)
          assert(mass == 3 * n)
          assert(recovered == flagged)
      }
    }
  }

  test("warehouse_key_rotation_audit: only the planted segment stalls") {
    val rows = SparkEntry.queries("warehouse_key_rotation_audit")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val (seg, n, v1, rw, backlog, ppm, stalled) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6))
      assert(v1 <= n); assert(rw <= v1); assert(backlog == v1 - rw)
      if (v1 > 0) assert(ppm == backlog * 1000000L / v1)
      // ~60% coverage vs ~10%: with >=50 v1 records per segment the
      // verdict separates cleanly
      if (v1 >= 50) assert(stalled == (seg == 3))
    }
  }

  test("win_hampel_filter: outliers are a minority and the mass is consistent") {
    val rows = SparkEntry.queries("win_hampel_filter")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (n, out, mass, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(out <= n)
      assert(ppm == out * 1000000L / n)
      // every replaced point moved by MORE than its window's 4*MAD+2 > 2
      if (out > 0) assert(mass > 2 * out)
      // the 4-MAD fence keeps the filter surgical, never wholesale
      assert(ppm < 500000, "Hampel must not replace a majority of points")
    }
  }
}
