package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 10 (Round15Ops): dirty-data models — keyboard-adjacency
  * typos, OCR glyph-confusion repair, Flesch readability.
  */
class Round15Wave10Spec extends AnyFunSuite with SparkFixture {

  test("fn_keyboard_typo_model: the 85/15 fat-finger split is recovered") {
    val rows = SparkEntry.queries("fn_keyboard_typo_model")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    val typos = rows.map(_.getLong(2)).sum
    val adjacent = rows.map(_.getLong(3)).sum
    assert(typos > 0)
    assert(adjacent <= typos)
    // 85% planted adjacent, wide band for sf0.001's ~21 typos
    val ppm = adjacent * 1000000L / typos
    assert(ppm > 600000L && ppm < 1000000L, s"adjacent ppm $ppm")
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
  }

  test("fn_ocr_confusion: repair is total over the planted confusions") {
    val rows = SparkEntry.queries("fn_ocr_confusion")(spark, sf).collect()
    val byCls = rows.map(r => r.getLong(0) -> r).toMap
    assert(byCls.contains(-1L))
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      // the translate repair must recover EVERY document exactly
      assert(r.getLong(3) == r.getLong(1),
        s"cls ${r.getLong(0)}: ${r.getLong(3)}/${r.getLong(1)} repaired")
      assert(r.getLong(2) <= r.getLong(1))
    }
    // clean docs are never visibly corrupted
    assert(byCls(-1L).getLong(2) == 0L)
    // corrupted classes must show visible corruption somewhere
    assert(rows.filter(_.getLong(0) >= 0L).map(_.getLong(2)).sum > 0L)
  }

  test("agg_flesch_reading: components conserve and scores are sane") {
    val rows = SparkEntry.queries("agg_flesch_reading")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) > 0L && r.getLong(3) > 0L && r.getLong(4) > 0L)
      assert(r.getLong(6) <= r.getLong(1)) // easy band ⊆ docs
      // synthetic corpus: one giant "sentence" per doc → scores well
      // below the theoretical max
      assert(r.getLong(5) < r.getLong(1) * 206835L)
    }
  }
}
