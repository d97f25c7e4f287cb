package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 20 (Round15Ops): TF-adjusted FS linkage, ER split
  * detection, discounted CLV.
  */
class Round15Wave20Spec extends AnyFunSuite with SparkFixture {

  test("join_fs_tf_adjust: rare names link through drift, common never on name alone") {
    val rows = SparkEntry.queries("join_fs_tf_adjust")(spark, sf).collect()
    val byB = rows.map(r => r.getString(0) -> r).toMap
    assert(byB.contains("1_unique"))
    val uniq = byB("1_unique")
    // unique blocks are exactly the true matches and ALL link (240−40 ≥ 200)
    assert(uniq.getLong(1) == uniq.getLong(3))
    assert(uniq.getLong(2) == uniq.getLong(1))
    assert(uniq.getLong(4) == uniq.getLong(3))
    // common-name pairs: +80+80 = 160 < 200 → zero links (the TF point)
    byB.get("3_common").foreach { r =>
      assert(r.getLong(2) == 0L, s"common links ${r.getLong(2)}")
      assert(r.getLong(3) > 0L) // true matches exist but sit in review
    }
    // the block-size guard row is always present
    assert(byB.contains("4_oversize_skipped"))
  }

  test("join_er_split_detection: splits census the planted dropped links") {
    val rows = SparkEntry.queries("join_er_split_detection")(spark, sf).collect()
    val byN = rows.map(r => r.getLong(0) -> r).toMap
    val persons = Tables.customer(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == persons)
    assert(rows.map(_.getLong(2)).sum == persons * 3)
    // clean persons dominate; both split degrees occur
    assert(byN(1L).getLong(1) > persons / 2)
    assert(byN.contains(2L), "2-way splits (k%7) missing")
    assert(byN.contains(3L), "3-way shatters (k%11) missing")
    // shatter count == k%11 plants (k%7∩k%11 keys also shatter)
    val shatter = Tables.customer(spark, sf)
      .where(org.apache.spark.sql.functions.expr("c_custkey % 11 = 4")).count()
    assert(byN(3L).getLong(1) == shatter)
  }

  test("agg_clv_discounted: retention is the CLV lever") {
    val rows = SparkEntry.queries("agg_clv_discounted")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    val byC = rows.sortBy(_.getInt(0))
    byC.foreach(r => assert(r.getLong(3) > 0L))
    // cohort retention 700→949 milli: CLV per customer strictly rises
    byC.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(3) > a.getLong(3),
        s"cohort ${b.getInt(0)} clv ${b.getLong(3)} !> ${a.getLong(3)}")
    }
  }
}
