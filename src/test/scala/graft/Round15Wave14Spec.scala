package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 14 (Round15Ops): age gate, DOB transposition, round-
  * number bias.
  */
class Round15Wave14Spec extends AnyFunSuite with SparkFixture {

  test("fn_age_gate: classes partition, consent flags are age-derived") {
    val rows = SparkEntry.queries("fn_age_gate")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    val byCls = rows.map(r => r.getString(0) -> r).toMap
    assert(byCls.contains("4_adult"))
    byCls.get("1_child").foreach { r =>
      assert(r.getLong(4) < 13L); assert(r.getBoolean(5))
    }
    byCls.get("2_consent_age").foreach { r =>
      assert(r.getLong(3) >= 13L && r.getLong(4) < 16L); assert(r.getBoolean(5))
    }
    assert(!byCls("4_adult").getBoolean(5))
    assert(byCls("4_adult").getLong(3) >= 18L)
  }

  test("fn_dob_transpose_check: the swap-back repairs every divergent record") {
    val rows = SparkEntry.queries("fn_dob_transpose_check")(spark, sf).collect()
    val byCls = rows.map(r => r.getString(0) -> r).toMap
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    val div = byCls("ambiguous_divergent")
    assert(div.getLong(2) == 0L, "divergent records cannot match raw")
    assert(div.getLong(3) == div.getLong(1), "swap-back must repair all")
    val cons = byCls("ambiguous_consistent")
    assert(cons.getLong(2) == cons.getLong(1))
    val unamb = byCls("unambiguous")
    assert(unamb.getLong(2) == unamb.getLong(1))
  }

  test("agg_round_number_bias: cohort 3 reads orders of magnitude hot") {
    val rows = SparkEntry.queries("agg_round_number_bias")(spark, sf).collect()
    assert(rows.length == 5)
    val byCohort = rows.map(r => r.getInt(0) -> r).toMap
    // planted 40% $100 multiples vs ~100 ppm organic
    assert(byCohort(3).getLong(5) > 200000L, s"cohort 3 ${byCohort(3).getLong(5)}")
    byCohort.filterKeys(_ != 3).values.foreach { r =>
      assert(r.getLong(5) < 20000L, s"cohort ${r.getInt(0)} ${r.getLong(5)}")
    }
    rows.foreach { r =>
      // nested multiples: r10000 ⊆ r1000 ⊆ r100
      assert(r.getLong(4) <= r.getLong(3) && r.getLong(3) <= r.getLong(2))
    }
  }
}
