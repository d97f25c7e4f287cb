package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 2 (Round15Ops + StreamingOps): incremental entity
  * resolution with in-band idempotence, and the sanctions screen moved
  * onto the event stream.
  */
class Round15Wave2Spec extends AnyFunSuite with SparkFixture {

  test("join_er_incremental: dispositions partition the batch, rerun is a no-op") {
    val rows = SparkEntry.queries("join_er_incremental")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("01_clusters_before", "02_batch", "03_linked",
      "04_minted", "05_clusters_after", "06_rerun_linked", "07_rerun_minted"))
    val before = rows("01_clusters_before").getLong(1)
    val batch = rows("02_batch").getLong(1)
    val linked = rows("03_linked").getLong(1)
    val minted = rows("04_minted").getLong(1)
    val after = rows("05_clusters_after").getLong(1)
    assert(batch > 0)
    // every batch record is either linked or minted, never both
    assert(linked + minted == batch)
    // even keys re-observe an existing person (name agreement clears the
    // bar even when city AND yob drift); odd keys are unseen 'newp_'
    // blocks — both dispositions must actually occur
    assert(linked > 0 && minted > 0)
    assert(after == before + minted)
    // idempotence: the re-run against the merged index links EVERYTHING
    // (minted records match themselves at the full 420) and mints nothing
    assert(rows("06_rerun_linked").getLong(1) == batch)
    assert(rows("07_rerun_minted").getLong(1) == 0L)
    // rerun score mass ≥ first-pass link mass + 420 per self-matching mint
    assert(rows("06_rerun_linked").getLong(2) ==
      rows("03_linked").getLong(2) + 420L * minted)
  }

  test("stream_sanctions_screen: golden waves emit exactly the ≤1-distance hits") {
    val rows = SparkEntry.queries("stream_sanctions_screen")(spark, sf).collect()
    assert(rows.length == 5)
    val byEvent = rows.map(r => r.getLong(0) -> (r.getString(2), r.getString(3), r.getInt(4))).toMap
    assert(byEvent(1L) == (("SMITH", "SMITH", 0)))
    assert(byEvent(2L) == (("SMYTH", "SMITH", 1)))
    assert(byEvent(4L) == (("JOHNSON", "JONSON", 1)))
    assert(byEvent(5L) == (("MEYER", "MEYER", 0)))
    assert(byEvent(7L) == (("BRAUN", "BRAUN", 0)))
    // SCHMIDT (d ≥ 2) and TAYLOR (no T block) must never emit
    assert(!byEvent.contains(3L) && !byEvent.contains(6L))
  }
}
