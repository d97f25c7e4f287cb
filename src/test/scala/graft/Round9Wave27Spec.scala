package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-27 operators beyond the oracle
  * gate: Zipf-invariant structure and norm-audit conservation.
  */
class Round9Wave27Spec extends AnyFunSuite with SparkFixture {

  test("llm_zipf_check: ranks contiguous, frequencies non-increasing, rank-1 at 1e6 ppm") {
    val rows = SparkEntry.queries("llm_zipf_check")(spark, sf).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (1L to 30L))
    val freqs = rows.map(_.getLong(2))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b },
      "top-k frequencies must be non-increasing")
    assert(rows.head.getLong(4) == 1000000L, "rank 1 defines the scale")
    rows.foreach(r => assert(r.getLong(3) == r.getLong(0) * r.getLong(2)))
  }

  test("mm_embedding_norm_audit: every vector lands in a band; no degenerate norms") {
    val sfDir = sf
    val rows = SparkEntry.queries("mm_embedding_norm_audit")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.embeddings(spark, sfDir).count(),
      "band counts must conserve the vector set")
    rows.foreach { r =>
      val (band, mn, mx) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(mn >= band * 2000000 && mx < (band + 1) * 2000000,
        s"band extrema outside the band: $r")
      assert(r.getLong(4) == 0, "the synthetic encoder must not emit near-zero vectors")
    }
  }
}
