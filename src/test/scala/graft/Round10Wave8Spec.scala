package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-8 ops beyond the oracle gate. */
class Round10Wave8Spec extends AnyFunSuite with SparkFixture {

  test("llm_calibration_error: calibrated-by-construction gaps stay small") {
    val rows = SparkEntry.queries("llm_calibration_error")(spark, sf).collect()
    assert(rows.length == 10, "ten confidence deciles")
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n, "deciles partition the corpus")
    rows.foreach { r =>
      val (b, conf, acc, gap) =
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(conf >= b * 100 && conf < (b + 1) * 100, s"avg conf outside its decile: $r")
      assert(gap == math.abs(conf - acc), s"gap algebra: $r")
      // the draw is independent and uniform: deviation is sampling noise,
      // bounded loosely at 10x the binomial sd for the smallest decile
      assert(gap < 250, s"calibrated construction should not drift this far: $r")
    }
  }

  test("agg_auc_roc: AUC in [0,1e6], Gini consistent, degenerate bounds hold") {
    val r = SparkEntry.queries("agg_auc_roc")(spark, sf).collect().head
    val (nPos, nNeg, u2, auc, gini) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nPos > 0 && nNeg > 0)
    assert(u2 >= 0 && u2 <= 2 * nPos * nNeg)
    assert(auc >= 0 && auc <= 1000000)
    assert(gini == 2 * auc - 1000000)
    // order price should NOT meaningfully predict status: AUC near 1/2
    assert(math.abs(auc - 500000) < 100000, s"suspicious separation: $auc")
  }

  test("graph_ppr: seeds dominate, non-seed mass comes only from walks") {
    val rows = SparkEntry.queries("graph_ppr")(spark, sf).collect()
    assert(rows.length == 25)
    val seeds = rows.filter(_.getBoolean(2)).map(_.getLong(1))
    val rest = rows.filter(!_.getBoolean(2)).map(_.getLong(1))
    assert(seeds.length == 3)
    // teleport floor: a seed can never fall below its restart mass
    assert(seeds.min >= 1250000L, "seed below its teleport floor")
    rows.foreach(r => assert(r.getLong(1) >= 0))
    // proximity shape: the seeds' per-node average must beat the rest's
    // (they hold ALL the teleport mass plus their walk mass)
    assert(seeds.sum / 3 > rest.sum / rest.length,
      "seed average must dominate the non-seed average")
  }

  test("source_parquet_footer_audit: footers agree with logical counts") {
    val rows = SparkEntry.queries("source_parquet_footer_audit")(spark, sf).collect()
    assert(rows.length == 3)
    val expect = Map(
      "customer" -> Tables.customer(spark, sf).count(),
      "lineitem" -> Tables.lineitem(spark, sf).count(),
      "orders" -> Tables.orders(spark, sf).count())
    rows.foreach(r => assert(r.getLong(1) == expect(r.getString(0)),
      s"footer metadata disagrees with the logical count: $r"))
  }
}
