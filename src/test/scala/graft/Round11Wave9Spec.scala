package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for round-11 wave 9: changepoint, Lorenz points, CSV
  * sniffing, dataset card.
  */
class Round11Wave9Spec extends AnyFunSuite with SparkFixture {

  test("agg_changepoint: split interior, cs magnitude truthful") {
    val r = SparkEntry.queries("agg_changepoint")(spark, sf).collect().head
    val (n, rn) = (r.getLong(0), r.getLong(2))
    assert(rn >= 1 && rn <= n)
    assert(r.getLong(3) >= 0, "argmax |cs| is non-negative")
    // a genuine split leaves both sides non-degenerate on this fixture
    assert(r.getLong(4) > 0, "pre-split mean must be positive cents")
  }

  test("agg_lorenz_points: shares monotone, convex, ending at 100%") {
    val rows = SparkEntry.queries("agg_lorenz_points")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byDec = rs.sortBy(_.getLong(1))
      val shares = byDec.map(_.getLong(5))
      assert(shares.zip(shares.tail).forall { case (a, b) => a <= b }, "monotone")
      assert(shares.last >= 999999L, s"last decile must reach ~1e6 ppm: ${shares.last}")
      // Lorenz convexity: each decile's increment is >= the previous one
      // (values are sorted ascending, so marginal mass grows)
      val incs = (0L +: shares.toSeq).sliding(2).map(p => p(1) - p(0)).toSeq
      assert(incs.zip(incs.tail).forall { case (a, b) => a <= b + 1 },
        s"convexity (1 ppm truncation slack): $incs")
    }
  }

  test("source_csv_dialect_sniff: semicolon wins and the parse conserves") {
    val rows = SparkEntry.queries("source_csv_dialect_sniff")(spark, sf).collect()
    assert(rows.forall(_.getBoolean(3)), "the sniffer must pick semicolon")
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
  }

  test("llm_dataset_card: ledger consistent with the corpus") {
    val rows = SparkEntry.queries("llm_dataset_card")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(7) <= r.getLong(1), "top lang can't exceed the source size")
      assert(r.getLong(2) >= 1 && r.getLong(5) <= 1000000L)
      assert(r.getLong(7) * r.getLong(2) >= r.getLong(1),
        "dominant lang must cover at least 1/n_langs of docs")
    }
  }
}
