package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 8 (Round16Ops): dataset cartography, backpressure queue,
  * device-fingerprint linking. */
class Round16Wave8Spec extends AnyFunSuite with SparkFixture {

  test("llm_dataset_cartography: the map separates the planted dynamics") {
    val rows = SparkEntry.queries("llm_dataset_cartography")(spark, sf).collect()
    val byKey = rows.map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      .withDefaultValue(0L)
    def total(cls: Int) = rows.filter(_.getInt(0) == cls).map(_.getLong(2)).sum
    // diagonal dominance: each planted class lands mostly in its region
    assert(byKey((0, "easy")) * 2 > total(0), "easy plant")
    assert(byKey((1, "ambiguous")) * 2 > total(1), "ambiguous plant")
    assert(byKey((2, "hard")) * 2 > total(2), "hard plant")
    // hard detection is exact: mean of 100..249 can never reach 300
    assert(byKey((2, "hard")) == total(2))
  }

  test("service_backpressure: only the over-capacity class drops") {
    val rows = SparkEntry.queries("service_backpressure")(spark, sf).collect()
    assert(rows.length == 3)
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // class 0 arrives at 55..130 vs capacity 100: queue stays shallow
    assert(byCls(0).getLong(2) == 0L, "under-capacity class must not drop")
    // class 2 arrives at 105..180: the buffer fills and spills
    assert(byCls(2).getLong(2) > 0L, "over-capacity class must drop")
    assert(byCls(2).getLong(4) > byCls(0).getLong(4), "high-water ordering")
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(1) * 400L))
  }

  test("join_device_fingerprint: rings link, the hot default never does") {
    val rows = SparkEntry.queries("join_device_fingerprint")(spark, sf).collect()
    assert(rows.length == 2)
    // replicate the plant to get the exact expected ring pairs (default-fp
    // precedence removes members; the hot default fp must contribute none)
    val ks = Tables.customer(spark, sf)
      .select(org.apache.spark.sql.functions.col("c_custkey").cast("long"))
      .collect().map(_.getLong(0))
    val rings = ks.filter(k => k % 15 != 7 && k % 9 == 4).groupBy(_ / 27)
    val expected = rings.toSeq.flatMap { case (_, ms) =>
      val l = ms.toSeq
      for (a <- l; b <- l if a < b) yield (a, b)
    }
    val expByCohort = expected.groupBy(_._1 % 2).view.mapValues(_.size.toLong).toMap
      .withDefaultValue(0L)
    rows.foreach { r =>
      assert(r.getLong(4) == expByCohort(r.getInt(0).toLong),
        s"cohort ${r.getInt(0)} ring pairs")
    }
    // the default fp is hot (global pop > cap) at every sf — it was
    // excluded, or the ring-pair equality above would have failed
    assert(rows.map(_.getLong(2)).sum > 5L)
  }
}
