package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-10 semantics: the parallelism-planning algebra (monotonicity and
  * conservation laws the sizing math must satisfy). */
class Round12Wave10Spec extends AnyFunSuite with SparkFixture {

  test("pipeline plan: bubble shrinks with m, efficiency is its complement") {
    val rows = SparkEntry.queries("llm_pipeline_parallel_plan")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(8)))
    assert(rows.length === 45)
    rows.foreach { case (_, _, _, bubble, eff) => assert(bubble + eff === 1000000L) }
    // fixed (model, p): more microbatches → smaller bubble
    rows.groupBy(r => (r._1, r._2)).values.foreach { g =>
      val byM = g.sortBy(_._3).map(_._4)
      assert(byM === byM.sorted.reverse)
    }
  }

  test("tensor plan: ring bytes approach 2× payload as t grows") {
    val rows = SparkEntry.queries("llm_tensor_parallel_plan")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (_, t, payload, ring) =>
      assert(ring === 2 * (t - 1) * payload / t)
      assert(ring < 2 * payload)
    }
    // fixed model: ring bytes strictly increase with t
    rows.groupBy(_._1).values.foreach { g =>
      val byT = g.sortBy(_._2).map(_._4)
      assert(byT === byT.sorted && byT.distinct.length === byT.length)
    }
  }

  test("zero plan: stage memory is monotone non-increasing, stage3 = 16P/N") {
    val rows = SparkEntry.queries("llm_zero_plan")(spark, sf)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case ((_, n), g) =>
      val byStage = g.sortBy(_._2)
      val mbs = byStage.map(_._4)
      assert(mbs === mbs.sorted.reverse, s"stages must not increase memory (n=$n)")
      val p = byStage.head._3
      assert(byStage.last._4 === (16 * p / n) / 1048576L)
    }
  }

  test("lora plan: trainable share is tiny and scales linearly in r") {
    val rows = SparkEntry.queries("llm_lora_plan")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    rows.foreach { case (_, _, ppm) => assert(ppm < 100000L) } // <10% always
    rows.groupBy(_._1).values.foreach { g =>
      val m = g.map(x => x._2 -> x._3).toMap
      // ppm(64) ≈ 8 × ppm(8) (integer truncation allows off-by-few)
      assert(math.abs(m(64L) - 8 * m(8L)) <= 8)
    }
  }
}
