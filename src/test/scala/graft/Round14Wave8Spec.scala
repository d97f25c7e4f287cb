package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-14 wave 8 (Round14Ops): quorum staleness, vector clocks, HLC —
  * the multi-region consistency arithmetic of a replicated person-store.
  */
class Round14Wave8Spec extends AnyFunSuite with SparkFixture {

  test("service_quorum_staleness: stale share matches the lag/delay geometry") {
    val rows = SparkEntry.queries("service_quorum_staleness")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (n, stale, gap, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(stale <= n)
      assert(ppm == stale * 1000000L / n)
      if (stale > 0) assert(gap > 0)
      // min of two U(0,500) lags vs U(0,200) read delay: stale ~57%;
      // with volume both classes must exist
      if (n >= 100) { assert(stale > 0); assert(stale < n) }
    }
  }

  test("fn_vector_clock_compare: the class/verdict matrix is diagonal") {
    val rows = SparkEntry.queries("fn_vector_clock_compare")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (cls, n, eq, before, after, conc) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))
      assert(eq + before + after + conc == n)
      cls match {
        case 0 => assert(eq == n)
        case 1 => assert(before == n)
        case 2 => assert(conc == n)
        case 3 => assert(after == n)
      }
    }
  }

  test("win_hlc_clock: counters reset on every advance, drift is bounded") {
    val rows = SparkEntry.queries("win_hlc_clock")(spark, sf).collect()
    assert(rows.length <= 4 && rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (n, adv, maxC, mass) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(adv >= 1, "the first event always advances the clock")
      assert(adv <= n)
      // every non-advancing event contributes at least 1 to the counter
      // mass, and the counter is bounded by the events in its island
      assert(mass >= n - adv)
      assert(maxC < n)
      // stale physical reads are 1-in-9: the clock advances most of the time
      assert(adv * 2 > n, "advances must dominate (skew plants are 1-in-9)")
    }
  }

  test("llm_constrained_decode_mask: resample rate tracks the mask geometry") {
    val rows = SparkEntry.queries("llm_constrained_decode_mask")(spark, sf).collect()
    assert(rows.length == 4)
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nOrders * 8)
    rows.foreach { r =>
      val (state, n, maskMass, forced, ppm) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val mask = Seq(5000L, 1L, 30000L, 2L)(state.toInt)
      assert(maskMass == n * mask)
      assert(ppm == forced * 1000000L / n)
      // expected resample rate = 1 - mask/50000; bound loosely at volume
      if (n >= 500) {
        val expected = 1000000L - mask * 20
        assert(math.abs(ppm - expected) < 100000,
          s"state $state ppm $ppm vs expected $expected")
      }
    }
  }

  test("llm_glitch_token_screen: exactly the phantoms are glitch tokens") {
    val rows = SparkEntry.queries("llm_glitch_token_screen")(spark, sf).collect()
    val byCls = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byCls("glitch")._1 == 40, "the 40 planted phantoms and nothing else")
    assert(byCls("glitch")._2 == 0, "glitch tokens never occur")
    // every other vocab entry comes from the corpus, so it occurs >= 1
    assert(byCls.get("rare").forall(_._2 >= byCls.get("rare").map(_._1).getOrElse(0L)))
    assert(byCls.get("common").forall(_._2 >= 3 * byCls.get("common").map(_._1).getOrElse(0L)))
  }

  test("service_cache_stampede: recomputes bound by 5 per epoch, waste nonnegative") {
    val rows = SparkEntry.queries("service_cache_stampede")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (n, epochs, recomputes, wasted, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(recomputes >= epochs, "every epoch recomputes at least once")
      assert(recomputes <= 5 * epochs)
      assert(recomputes <= n)
      assert(wasted == recomputes - epochs)
      assert(ppm == wasted * 1000000L / n)
    }
  }
}
