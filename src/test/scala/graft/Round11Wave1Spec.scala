package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-11 opening wave: the 3 ops the round-10
  * close registered ahead of their oracles, now oracle-graded.
  */
class Round11Wave1Spec extends AnyFunSuite with SparkFixture {

  test("agg_beta_binomial: posterior sits between prior mean and MLE") {
    val r = SparkEntry.queries("agg_beta_binomial")(spark, sf).collect().head
    val (n, k) = (r.getLong(0), r.getLong(1))
    assert(r.getLong(2) == 2 + k && r.getLong(3) == 8 + n - k)
    val (post, mle) = (r.getLong(4), r.getLong(6))
    val prior = 200000L // Beta(2,8) prior mean = 0.2 in ppm
    assert(post >= math.min(prior, mle) && post <= math.max(prior, mle),
      s"posterior mean must shrink MLE toward the prior: $r")
    // planted 30% arm: the MLE must actually sit near 300000 ppm
    assert(math.abs(mle - 300000L) < 60000L, s"planted rate lost: $mle")
    assert(r.getLong(7) == post - mle, "shrinkage gap must reconcile")
    assert(r.getLong(5) > 0, "posterior variance must be positive")
  }

  test("agg_process_capability: sigma/cp/cpk reconcile against the exact A2") {
    val rows = SparkEntry.queries("agg_process_capability")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, a2) = (r.getLong(1), r.getLong(2))
      val (sigma, cp, cpk) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(a2 > 0 && sigma > 0)
      assert(math.abs(sigma * sigma - a2.toDouble / (n.toDouble * (n - 1))) <
        1e-9 * sigma * sigma, "sigma^2 must equal the exact rational")
      assert(cp > 0 && math.abs(cp * 6.0 * sigma - 55500.0) < 1e-6 * 55500.0)
      assert(cpk <= cp + 1e-12, "Cpk can never exceed Cp (mean off-center)")
    }
  }

  test("llm_tokenizer_drift: per-lang totals conserve and drift is sign-safe") {
    val rows = SparkEntry.queries("llm_tokenizer_drift")(spark, sf).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "every doc must be counted")
    rows.foreach { r =>
      val (v1, v2, drift) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(v1 > 0 && v2 > 0)
      assert((v2 >= v1) == (drift >= 0), s"drift sign must follow totals: $r")
      assert(r.getBoolean(5) == (drift > 50000 || drift < -50000))
    }
  }
}
