package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 21 (Round15Ops): serving/embedding economics — batch
  * padding, int8 quantization, binary sketch.
  */
class Round15Wave21Spec extends AnyFunSuite with SparkFixture {

  test("llm_batch_padding: length bucketing beats arrival order everywhere") {
    val rows = SparkEntry.queries("llm_batch_padding")(spark, sf).collect()
    val naive = rows.filter(_.getString(0) == "1_arrival")
      .map(r => r.getLong(1) -> r).toMap
    val sorted = rows.filter(_.getString(0) == "2_length_bucketed")
      .map(r => r.getLong(1) -> r).toMap
    assert(naive.keySet == sorted.keySet && naive.nonEmpty)
    naive.keySet.foreach { svc =>
      // same requests → same token mass and batch count
      assert(naive(svc).getLong(3) == sorted(svc).getLong(3))
      assert(naive(svc).getLong(2) == sorted(svc).getLong(2))
      // the whole point: bucketing wastes strictly less
      assert(sorted(svc).getLong(4) < naive(svc).getLong(4),
        s"svc $svc sorted ${sorted(svc).getLong(4)} !< ${naive(svc).getLong(4)}")
    }
  }

  test("llm_embed_int8_quantize: no overflow, saturation exists, error bounded") {
    val rows = SparkEntry.queries("llm_embed_int8_quantize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) == 0L, "q must never exceed 127")
      // every vector saturates at least its own max-magnitude dim
      assert(r.getLong(2) >= r.getLong(1))
      // err lives in the ×127 domain: |x·127 − q·scale| < scale by the
      // floor definition, so the ppm-of-scale reading is bounded by 1e6
      // (reconstruction error in x units is err/127 < one step)
      assert(r.getLong(5) < 1000000L, s"max err ppm ${r.getLong(5)}")
    }
  }

  test("llm_embed_binary_sketch: sign bits retrieve real neighbors") {
    val rows = SparkEntry.queries("llm_embed_binary_sketch")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 5L)
      assert(r.getLong(2) == r.getLong(1) * 200000L)
    }
    // 64 sign bits keep substantial angular information — the sketch
    // must recover a real share of the exact top-5 across probes
    // random ±1 64-dim vectors: the sign sketch keeps a modest but real
    // share (~15-20% observed) — far above the ~0.25% random-5-of-2000 rate
    assert(rows.map(_.getLong(1)).sum >= 4L,
      s"total hits ${rows.map(_.getLong(1)).sum}")
  }
}
