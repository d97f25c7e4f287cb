package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-15 semantics: DMI algebra, Croston state, UA classes, cron
  * resolution against hand-computed fire times. */
class Round12Wave15Spec extends AnyFunSuite with SparkFixture {

  test("win_dmi_adx: DIs bounded, DX from the DI identity") {
    val rows = SparkEntry.queries("win_dmi_adx")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pdi, ndi, dx, adx) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(pdi >= 0 && ndi >= 0)
      assert(pdi + ndi <= 2000000L)
      if (pdi + ndi > 0) assert(dx === (pdi - ndi).abs * 1000000L / (pdi + ndi))
      assert(adx >= 0 && adx <= 1000000L)
    }
  }

  test("agg_croston: forecast rate = z/p in ppm at the final state") {
    val rows = SparkEntry.queries("agg_croston")(spark, SparkFixture.sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, z, p, f) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 0 && z >= 1000L) // demand sizes ≥ 1
      if (p > 0) assert(f === z * 1000000L / p)
      assert(p >= 1000L || p === 0L) // gaps ≥ 1 day when defined
    }
  }

  test("fn_user_agent_parse: classes match their templates") {
    val rows = SparkEntry.queries("fn_user_agent_parse")(spark, sf).collect()
    val m = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.contains(("Chrome", "Windows")))
    assert(m.contains(("Safari", "macOS")))
    assert(m.contains(("Firefox", "Linux")))
    assert(m.contains(("Other", "iOS")))
    assert(m.keys.count(_._1 == "curl") === 1)
    // Chrome majors live in the planted 100..129 band
    rows.filter(_.getString(0) == "Chrome").foreach { r =>
      assert(r.getLong(3) >= 100L && r.getLong(4) <= 129L)
    }
  }

  test("fn_cron_next_fire resolves the hand-computed fire times") {
    val m = SparkEntry.queries("fn_cron_next_fire")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(m.size === 5)
    // base = 1995-06-01 00:00 (a Thursday)
    assert(m("*/15 * * * *")._1 === 15L)
    assert(m("30 2 1 * *")._2.startsWith("1995-06-01 02:30"))
    assert(m("0 9 * * 1-5")._2.startsWith("1995-06-01 09:00")) // Thu is 4
    assert(m("0 0 * * 0")._2.startsWith("1995-06-04 00:00"))   // next Sunday
    assert(m("45 18 15 * *")._2.startsWith("1995-06-15 18:45"))
  }
}
