package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 8 (Round15Ops): the distributed-consistency trio — read
  * repair, Merkle anti-entropy, CRDT counter merge.
  */
class Round15Wave8Spec extends AnyFunSuite with SparkFixture {

  test("service_read_repair: divergence and repair mass are consistent") {
    val rows = SparkEntry.queries("service_read_repair")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (reads, div, gap) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(div <= reads)
      // every divergent read repairs a gap of 1..5 versions
      assert(gap >= div && gap <= div * 5)
      if (div == 0) assert(gap == 0)
      assert(r.getLong(5) == div * 1000000L / reads)
    }
    // the 1-in-3 / 1-in-4 lag plants guarantee some divergence overall
    assert(rows.map(_.getLong(2)).sum > 0)
  }

  test("fn_merkle_antientropy: the differing frontier narrows up the tree") {
    val rows = SparkEntry.queries("fn_merkle_antientropy")(spark, sf).collect()
    val levels = rows.filter(_.getInt(0) < 99).map(r => r.getInt(0) -> r).toMap
    assert(levels.keySet == (0 to 6).toSet)
    (0 to 6).foreach { l =>
      val expected = 1L << (6 - l)
      assert(levels(l).getLong(1) == expected, s"level $l nodes")
      // differing nodes can never exceed the level below's count
      assert(levels(l).getLong(2) <= levels(l).getLong(1))
      if (l > 0) assert(levels(l).getLong(2) <= levels(l - 1).getLong(2))
    }
    // a 1-in-16 drift means the root MUST differ
    assert(levels(6).getLong(2) == 1L)
    val transfer = rows.find(_.getInt(0) == 99).get
    assert(transfer.getLong(4) == Tables.orders(spark, sf).count())
    // anti-entropy ships only differing leaves — strictly less than all
    assert(transfer.getLong(3) > 0L && transfer.getLong(3) <= transfer.getLong(4))
  }

  test("agg_crdt_counter: merge converges everywhere, single views undercount") {
    val rows = SparkEntry.queries("agg_crdt_counter")(spark, sf).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getBoolean(6), s"key ${r.getLong(0)} did not converge")
      assert(r.getLong(4) == r.getLong(5))
    }
    // at least one view undercounts P-mass somewhere (partial visibility)
    assert(rows.exists(r => r.getLong(1) != r.getLong(5) ||
      r.getLong(2) != r.getLong(5) || r.getLong(3) != r.getLong(5)))
  }
}
