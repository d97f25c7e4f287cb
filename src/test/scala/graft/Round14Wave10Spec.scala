package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-14 waves 10-11 (Round14Ops): transliteration fold, synthetic
  * identity, chargeback lag, Cohen's kappa, label noise, forgetting score.
  */
class Round14Wave10Spec extends AnyFunSuite with SparkFixture {

  test("fn_transliterate_fold: raw misses accents, fold recovers everything") {
    val rows = SparkEntry.queries("fn_transliterate_fold")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val (cls, n, raw, fold) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(fold == n, "folding must recover every name")
      if (cls == 0) assert(raw == n) else assert(raw == 0,
        s"accented class $cls must never match raw")
    }
  }

  test("join_synthetic_identity: share sizes above 1 are exactly the rings") {
    val rows = SparkEntry.queries("join_synthetic_identity")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == Tables.customer(spark, sf).count())
    val singles = rows.find(_.getLong(0) == 1L).get
    assert(singles.getLong(1) == singles.getLong(2))
    // ring members are the k%43==11 class; everyone else is a singleton
    val ringPersons = rows.filter(_.getLong(0) > 1L).map(_.getLong(2)).sum
    val planted = Tables.customer(spark, sf)
      .where(org.apache.spark.sql.functions.expr("c_custkey % 43 = 11")).count()
    assert(ringPersons <= planted)
  }

  test("agg_chargeback_lag: visibility never exceeds the eventual labels") {
    val rows = SparkEntry.queries("agg_chargeback_lag")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, cb, vis, mass) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cb <= n)
      assert(vis <= cb)
      assert(mass <= cb * 89)
      if (cb > 0) assert(r.getLong(5) == vis * 1000000L / cb)
      // lags are uniform 0..89: at volume roughly a third arrive by day 30
      if (cb >= 50) {
        val ppm = r.getLong(5)
        assert(ppm > 150000 && ppm < 550000)
      }
    }
  }

  test("agg_cohen_kappa: kappa sits between chance and perfect agreement") {
    val rows = SparkEntry.queries("agg_cohen_kappa")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (n, agree, po, pe, kappa) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(agree <= n)
      assert(po == agree * 1000000L / n)
      assert(pe > 0 && pe < 1000000)
      assert(kappa < po, "kappa always discounts chance agreement")
      // ~70% design agreement over 4 classes: kappa lands near 0.6
      if (n >= 300) assert(kappa > 400000 && kappa < 800000)
    }
  }

  test("llm_label_noise_audit: class 3 is the noisy one, confusion rows conserve") {
    val rows = SparkEntry.queries("llm_label_noise_audit")(spark, sf).collect()
    assert(rows.length == 4)
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.documents(spark, sf).count())
    // confusion columns partition all items
    val obsSum = rows.map(r => r.getLong(3) + r.getLong(4) + r.getLong(5) + r.getLong(6)).sum
    assert(obsSum == total)
    val byGold = rows.map(r => r.getLong(0) -> r.getLong(7)).toMap
    if (rows.forall(_.getLong(1) >= 100)) {
      assert(byGold(3) > byGold(0), "class 3 must be noisier than class 0")
      assert(byGold(3) > 200000 && byGold(3) < 400000)
      (0L to 2L).foreach(g => assert(byGold(g) < 200000))
    }
  }

  test("win_forgetting_score: learned dominates, events bounded by transitions") {
    val rows = SparkEntry.queries("win_forgetting_score")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val (n, never, forgettable, mass) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(never <= n)
      assert(forgettable <= n)
      // at most 3 correct->incorrect transitions fit in 6 epochs
      assert(mass <= 3 * n)
      assert(mass >= forgettable)
      // accuracies run 48..88%: never-learned ~ (1-.48)*...*(1-.88) < 1%
      if (n >= 200) assert(never * 20 < n)
    }
  }
}
