package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 2 (Round16Ops): multi-level Louvain, max-flow = min-cut,
  * TFRecord shard ingest. */
class Round16Wave2Spec extends AnyFunSuite with SparkFixture {

  test("graph_louvain_levels: coarsening is monotone across levels") {
    val rows = SparkEntry.queries("graph_louvain_levels")(spark, sf).collect()
    assert(rows.length == 3)
    val lv = rows.sortBy(_.getInt(0))
    // each level enters with the previous level's communities as nodes
    assert(lv(1).getLong(1) == lv(0).getLong(2))
    assert(lv(2).getLong(1) == lv(1).getLong(2))
    // communities never multiply under coarsening
    assert(lv(1).getLong(2) <= lv(0).getLong(2))
    assert(lv(2).getLong(2) <= lv(1).getLong(2))
    // internal mass (modularity numerator) never shrinks level over level
    assert(lv(1).getLong(4) >= lv(0).getLong(4))
    assert(lv(2).getLong(4) >= lv(1).getLong(4))
    // level 1 does real work
    assert(lv(0).getLong(2) < lv(0).getLong(1))
    assert(lv(0).getLong(3) > 0L)
  }

  test("graph_max_flow: flow equals the planted min cut, NW-corner shape") {
    val r = SparkEntry.queries("graph_max_flow")(spark, sf).collect().head
    val nCust = Tables.customer(spark, sf).count()
    // LP duality made exact: max-flow == demand-side cut mass
    assert(r.getLong(0) == r.getLong(1))
    // every demand is touched and saturated (sum(d) < sum(s) by plant)
    assert(r.getLong(4) == nCust && r.getLong(5) == nCust)
    // northwest-corner staircase: at most one partially-used supply
    assert(r.getLong(7) <= 1L)
    assert(r.getLong(6) + r.getLong(7) + r.getLong(8) == nCust)
    // conservation: slack + flow == total supply
    assert(r.getLong(9) >= 0L)
    // an arc never exceeds the largest demand cap
    assert(r.getLong(3) <= 299L)
    // contiguous interval merge: n+m-1 arcs minus exact boundary ties
    assert(r.getLong(2) <= 2 * nCust - 1 && r.getLong(2) >= nCust)
  }

  test("source_tfrecord: every record round-trips with both CRCs green") {
    val rows = SparkEntry.queries("source_tfrecord")(spark, sf).collect()
    assert(rows.nonEmpty)
    val expected = Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.col("doc_id") % 6 === 2).count()
    assert(rows.map(_.getLong(1)).sum == expected)
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(1), s"lang ${r.getString(0)} crc census")
      assert(r.getLong(2) > r.getLong(1) * 2, "payload mass too small")
      assert(r.getLong(4) % 6 == 2 && r.getLong(5) % 6 == 2)
    }
  }
}
