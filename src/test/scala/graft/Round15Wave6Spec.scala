package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 6 (Round15Ops): the causal-inference family — interrupted
  * time series, synthetic control by donor matching, two-model uplift.
  */
class Round15Wave6Spec extends AnyFunSuite with SparkFixture {

  test("agg_interrupted_ts: the bucket-24 break reads in level AND slope") {
    val rows = SparkEntry.queries("agg_interrupted_ts")(spark, sf).collect()
    val byKey = rows.map(r => (r.getInt(0), r.getString(1)) -> r).toMap
    for (c <- 0 to 2) {
      val pre = byKey((c, "pre")); val post = byKey((c, "post"))
      // sparse SFs may drop a bucket cell — tolerate, but most must fill
      assert(pre.getLong(2) >= 20L && pre.getLong(2) <= 24L)
      assert(post.getLong(2) >= 20L && post.getLong(2) <= 24L)
      // planted pre slope 200 cents/bucket = 2e11 micro-milli ± noise
      assert(math.abs(pre.getLong(4) - 200000000000L) < 60000000000L,
        s"cohort $c pre slope ${pre.getLong(4)}")
      // post slope 500 cents/bucket
      assert(math.abs(post.getLong(4) - 500000000000L) < 60000000000L,
        s"cohort $c post slope ${post.getLong(4)}")
      // the level shift: post mean far above the pre trend's reach
      assert(post.getLong(3) > pre.getLong(3) + 5000000L,
        s"cohort $c level ${pre.getLong(3)} -> ${post.getLong(3)}")
    }
  }

  test("agg_synthetic_control: one donor selected, the planted effect reads") {
    val rows = SparkEntry.queries("agg_synthetic_control")(spark, sf).collect()
    assert(rows.length == 7) // donors 1..7
    val selected = rows.filter(_.getBoolean(2))
    assert(selected.length == 1)
    val att = selected.head.getLong(3)
    // +4000 cents over 12 post buckets = 48e6 milli of gap mass ± noise
    assert(att > 30000000L && att < 66000000L, s"att_mass=$att")
    // unselected donors carry no att estimate
    rows.filterNot(_.getBoolean(2)).foreach(r => assert(r.isNullAt(3)))
    // the selected donor is the L1-closest one
    assert(selected.head.getLong(1) == rows.map(_.getLong(1)).min)
  }

  test("agg_uplift_twomodel: persuadables positive, sleeping dogs negative") {
    val rows = SparkEntry.queries("agg_uplift_twomodel")(spark, sf).collect()
    assert(rows.length == 4)
    val byKey = rows.map(r => r.getInt(0) -> r.getLong(5)).toMap
    assert(byKey(1) > 500000L, s"persuadable uplift ${byKey(1)}")
    assert(byKey(3) < -500000L, s"sleeping-dog uplift ${byKey(3)}")
    assert(math.abs(byKey(0)) < 350000L, s"sure-thing uplift ${byKey(0)}")
    assert(math.abs(byKey(2)) < 350000L, s"lost-cause uplift ${byKey(2)}")
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) > 0)
      assert(r.getLong(3) <= r.getLong(1) && r.getLong(4) <= r.getLong(2))
    }
  }
}
