package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-15 operators beyond the oracle
  * gate: typed-cogroup conservation, crypto-shred fail-closed behavior,
  * and Pareto-share dominance.
  */
class Round9Wave15Spec extends AnyFunSuite with SparkFixture {

  test("ds_typed_cogroup: per-nation balances conserve and the gap is their difference") {
    val sfDir = sf
    val rows = SparkEntry.queries("ds_typed_cogroup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(5) == r.getLong(2) - r.getLong(4), s"gap mislabeled: $r")
    }
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sfDir).count())
    assert(rows.map(_.getLong(3)).sum == Tables.supplier(spark, sfDir).count())
  }

  test("warehouse_crypto_shred: erasure is total for shredded, lossless for the rest") {
    val rows = SparkEntry.queries("warehouse_crypto_shred")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1),
        s"shredded + recovered must partition the segment: $r")
      assert(r.getBoolean(4), s"a surviving key failed to recover its plaintext: $r")
      assert(r.getBoolean(5), s"a shredded row decrypted to something: $r")
    }
    assert(rows.map(_.getLong(2)).sum > 0, "the erasure batch must be non-empty")
  }

  test("agg_pareto_concentration: the top decile's share dominates its headcount share") {
    val rows = SparkEntry.queries("agg_pareto_concentration")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nTop, total, top, share) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nTop == math.max(n / 10, 1L), s"decile cut wrong: $r")
      assert(top <= total && share <= 1000000L)
      // the RICHEST decile cannot hold less than a proportional share
      assert(share >= nTop * 1000000L / n, s"top decile under-proportional: $r")
    }
  }
}
