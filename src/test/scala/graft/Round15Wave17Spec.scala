package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 17 (Round15Ops): data-safety — PII scan, secret scan,
  * PMI collocations.
  */
class Round15Wave17Spec extends AnyFunSuite with SparkFixture {

  test("llm_pii_scan: each detector fires on its class and nowhere else") {
    val rows = SparkEntry.queries("llm_pii_scan")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // diagonal: every planted doc detected by its own detector
    assert(byCls(1).getLong(2) >= byCls(1).getLong(1)) // ssn
    assert(byCls(2).getLong(3) >= byCls(2).getLong(1)) // pan
    assert(byCls(3).getLong(4) >= byCls(3).getLong(1)) // email
    assert(byCls(4).getLong(5) >= byCls(4).getLong(1)) // phone
    // off-diagonal: the clean class triggers nothing
    assert(byCls(0).getLong(2) + byCls(0).getLong(3) +
      byCls(0).getLong(4) + byCls(0).getLong(5) == 0L)
    assert(byCls(0).getLong(6) == 0L)
    // cross-fire: the SSN detector must not fire on phone docs etc.
    assert(byCls(4).getLong(2) == 0L)
    assert(byCls(1).getLong(5) == 0L)
  }

  test("llm_secret_scan: key shapes detect exactly, the control stays silent") {
    val rows = SparkEntry.queries("llm_secret_scan")(spark, sf).collect()
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    assert(byCls(1).getLong(2) == byCls(1).getLong(1)) // akia
    assert(byCls(2).getLong(3) == byCls(2).getLong(1)) // ghp
    assert(byCls(3).getLong(4) == byCls(3).getLong(1)) // hex40
    // the 16-hex control must NOT trip the 40-hex rule
    assert(byCls(0).getLong(2) + byCls(0).getLong(3) + byCls(0).getLong(4) == 0L)
    // no cross-fire between key shapes
    assert(byCls(1).getLong(3) + byCls(1).getLong(4) == 0L)
    assert(byCls(2).getLong(2) + byCls(2).getLong(4) == 0L)
  }

  test("llm_pmi_collocations: top pairs are genuinely associated") {
    val rows = SparkEntry.queries("llm_pmi_collocations")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= 5L) // support floor
      // positive PMI: observed beats independence
      assert(r.getLong(5) > 1000000L, s"(${r.getString(0)},${r.getString(1)})")
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
    }
    // ranking is by ratio descending
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(5) >= b.getLong(5))
    }
  }
}
