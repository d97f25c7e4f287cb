package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-10 ops beyond the oracle gate. */
class Round10Wave10Spec extends AnyFunSuite with SparkFixture {

  test("win_holt_linear: level tracks the series hull, forecast extends the trend") {
    val rows = SparkEntry.queries("win_holt_linear")(spark, sf).collect()
    assert(rows.nonEmpty)
    val hull = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"))
      .agg(sum(floor(col("value") * 100).cast("bigint")).as("c"))
      .groupBy("event_type").agg(min("c").as("mn"), max("c").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (et, n, l, t, f) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 1, "needs a series to smooth")
      val (mn, mx) = hull(et)
      // the smoothed level is a damped combination of observations: it can
      // overshoot slightly on trends but stays near the hull
      assert(l >= mn - (mx - mn) && l <= mx + (mx - mn), s"level far outside hull: $r")
      assert(f == l + 3 * t, "forecast is level plus three trends")
    }
  }

  test("llm_word_pmi: lifts positive-association ranked, counts consistent") {
    val rows = SparkEntry.queries("llm_word_pmi")(spark, sf).collect()
    assert(rows.length == 50, "top-50 contract")
    val lifts = rows.map(_.getLong(5))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b }, "ranked by lift")
    rows.foreach { r =>
      val (c1, c2, cxy) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cxy <= math.min(c1, c2), s"pair count above marginals: $r")
      assert(r.getString(0) < r.getString(1), "canonical pair order")
    }
  }

  test("sink_codec_matrix: every codec conserves the subset exactly") {
    val rows = SparkEntry.queries("sink_codec_matrix")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq.sorted ==
      Seq("gzip", "lz4", "snappy", "zstd"))
    val n = Tables.orders(spark, sf).where(col("o_orderkey") % 5 === 0).count()
    rows.foreach(r => assert(r.getLong(1) == n, s"codec lost rows: $r"))
    assert(rows.map(_.getLong(2)).distinct.length == 1, "sums must agree across codecs")
  }

  test("sink_codec_matrix: a second scale in one JVM gets its own rollup") {
    val q = SparkEntry.queries("sink_codec_matrix")
    q(spark, SparkFixture.sf0001).collect()
    val rows = q(spark, SparkFixture.sf001).collect()
    val want = Tables.orders(spark, SparkFixture.sf001)
      .where(col("o_orderkey") % 5 === 0)
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("bigint")))
      .head()
    assert(rows.map(_.getString(0)).toSeq.sorted == Seq("gzip", "lz4", "snappy", "zstd"))
    rows.foreach { r =>
      assert(r.getLong(1) == want.getLong(0), s"n is another scale's: $r")
      assert(r.getLong(2) == want.getLong(1), s"sum_cents is another scale's: $r")
    }
  }
}
