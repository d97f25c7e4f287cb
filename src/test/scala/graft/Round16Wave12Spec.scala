package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 12 (Round16Ops): OFAC ownership cascade, temporal
  * reachability, demand censoring. */
class Round16Wave12Spec extends AnyFunSuite with SparkFixture {

  test("join_ownership_sanctions: the 50% rule cascades through levels") {
    val rows = SparkEntry.queries("join_ownership_sanctions")(spark, sf).collect()
    val byLvl = rows.map(r => r.getInt(0) -> r).toMap
    // every root is blocked by definition
    assert(byLvl(0).getLong(2) == byLvl(0).getLong(1))
    // level 1: only the 60% branch blocks; both branches exist
    assert(byLvl(1).getLong(2) > 0L && byLvl(1).getLong(2) < byLvl(1).getLong(1))
    // level 2 cascades: 80% of a BLOCKED parent blocks even at 48% exposure
    assert(byLvl(2).getLong(2) > 0L)
    // the bulk of the register is untouched
    assert(byLvl(9).getLong(2) == 0L)
    // cascade consistency replayed in Scala over the key set
    val ks = Tables.customer(spark, sf)
      .select(org.apache.spark.sql.functions.col("c_custkey").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val expL1 = ks.count(k => k % 50 == 1 && k % 100 == 1 && ks.contains(k - 1) && (k - 1) % 50 == 0)
    assert(byLvl(1).getLong(2) == expL1.toLong)
    val expL2 = ks.count(k => k % 50 == 2 && ks.contains(k - 1) && (k - 1) % 50 == 1
      && (k - 1) % 100 == 1 && ks.contains(k - 2) && (k - 2) % 50 == 0)
    assert(byLvl(2).getLong(2) == expL2.toLong)
  }

  test("join_temporal_reachability: every planted chain completes") {
    val r = SparkEntry.queries("join_temporal_reachability")(spark, sf).collect().head
    val (h2, h3, chains, starts) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(starts > 0L)
    // every planted 3-hop chain is found (completions ⊇ plants; the
    // accidental background surplus at 1/1000 account density is tiny)
    assert(chains >= starts, s"chains $chains vs planted $starts")
    assert(chains - starts <= starts / 5 + 2)
    assert(h3 >= chains && h2 >= starts * 2)
  }

  test("agg_demand_censoring: stockout bias grows with demand") {
    val rows = SparkEntry.queries("agg_demand_censoring")(spark, sf).collect()
    assert(rows.length == 3)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // class 0 demand tops out at 39: censoring is rare, bias small
    assert(byCls(0).getLong(5) < byCls(1).getLong(5))
    assert(byCls(1).getLong(5) < byCls(2).getLong(5))
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(4) <= r.getLong(1))
    }
  }
}
