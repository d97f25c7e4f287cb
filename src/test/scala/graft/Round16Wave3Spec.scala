package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 3 (Round16Ops): hierarchical geo cells, safety stock,
  * WebDataset index sidecars. */
class Round16Wave3Spec extends AnyFunSuite with SparkFixture {

  test("join_geo_cell: containment holds, the ring finds every ε-pair") {
    val rows = SparkEntry.queries("join_geo_cell")(spark, sf).collect()
    val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("containment_viol_4_6") == 0L && m("containment_viol_6_8") == 0L)
    // resolution refines: more cells at finer resolutions
    assert(m("cells_r4") <= m("cells_r6") && m("cells_r6") <= m("cells_r8"))
    // the plant guarantees ε-pairs at every scale
    assert(m("true_pairs") > 0L)
    // cell edge 4096 > ε=4000: the 3×3 ring is a covering — total recall
    assert(m("found_pairs") == m("true_pairs"))
    assert(m("recall_ppm") == 1000000L)
    // the ring candidates bound the work: no more than all sample pairs
    assert(m("ring_candidate_pairs") >= m("true_pairs"))
    assert(m("ring_candidate_pairs") < 300L * 299L / 2)
  }

  test("agg_safety_stock: planted demand spread drives the buffer") {
    val rows = SparkEntry.queries("agg_safety_stock")(spark, sf).collect()
    assert(rows.length == 5)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // wider demand noise (class 4: width 100 vs class 0: width 20) needs
    // more safety stock per part
    val avg0 = byCls(0).getLong(2) / byCls(0).getLong(1)
    val avg4 = byCls(4).getLong(2) / byCls(4).getLong(1)
    assert(avg4 > avg0, s"ss/part class4 $avg4 vs class0 $avg0")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L)
      // rop >= mean demand * lead time: the buffer only adds
      assert(r.getLong(3) >= r.getLong(2))
    }
  }

  test("source_webdataset_index: sidecar offsets match the 512-block law") {
    val rows = SparkEntry.queries("source_webdataset_index")(spark, sf).collect()
    assert(rows.length == 2)
    val expected = Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.col("doc_id") % 9 === 4).count()
    assert(rows.map(_.getLong(1)).sum == expected)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1), s"shard ${r.getInt(0)} offsets")
      assert(r.getLong(3) == r.getLong(1), s"shard ${r.getInt(0)} sizes")
      assert(r.getLong(5) > 0L && r.getLong(5) % 512 == 0L)
    }
  }
}
