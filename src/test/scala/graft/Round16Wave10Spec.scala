package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 10 (Round16Ops): write-audit-publish, Bass diffusion,
  * NHS number checksum. */
class Round16Wave10Spec extends AnyFunSuite with SparkFixture {

  test("warehouse_write_audit_publish: the dirty batch never reaches live") {
    val rows = SparkEntry.queries("warehouse_write_audit_publish")(spark, sf).collect()
    assert(rows.length == 3)
    val byB = rows.map(r => r.getString(0) -> r).toMap
    assert(byB("a").getBoolean(4), "clean batch publishes")
    assert(!byB("b").getBoolean(4), "12% null spike must be rejected")
    assert(byB("b").getLong(3) > 50000L, "planted null ppm is visible")
    // live = base + A exactly; zero nulls ever reach the live files
    assert(byB("live_final").getLong(1) ==
      byB("a").getLong(1) + Tables.orders(spark, sf)
        .where(org.apache.spark.sql.functions.col("o_orderkey") % 3 === 0).count())
    assert(byB("live_final").getLong(2) == 0L)
  }

  test("agg_bass_diffusion: imitators surge, innovators start linear") {
    val rows = SparkEntry.queries("agg_bass_diffusion")(spark, sf).collect()
    assert(rows.length == 3)
    def per(cls: Int, i: Int) = {
      val r = rows.find(_.getInt(0) == cls).get
      r.getLong(i) / r.getLong(1)
    }
    // peak single-period adoption: q=500 surges hardest (the S-curve)
    assert(per(1, 3) > per(2, 3) && per(2, 3) > per(0, 3))
    // the imitator surge also finishes higher by t=24
    assert(per(1, 2) > per(2, 2) && per(2, 2) > per(0, 2))
    // innovator-heavy (low q) spends the most periods below half-market
    assert(per(0, 4) > per(1, 4))
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1) * 1000000L))
  }

  test("fn_nhs_number: prime-modulus weights catch every substitution") {
    val rows = SparkEntry.queries("fn_nhs_number")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      // cohort partitions: unissuable + valid + invalid == all
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(1))
      // the prime modulus catches exactly the planted corruptions
      assert(r.getLong(4) == r.getLong(5), s"cohort ${r.getInt(0)}")
    }
    // the unissuable class (r=1, ~1/11) exists and corruptions landed
    assert(rows.map(_.getLong(2)).sum > 0L)
    assert(rows.map(_.getLong(5)).sum > 0L)
  }
}
