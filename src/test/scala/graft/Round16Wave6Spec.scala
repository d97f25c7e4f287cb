package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 6 (Round16Ops): varint shard codec, hedged requests,
  * biometric score fusion. */
class Round16Wave6Spec extends AnyFunSuite with SparkFixture {

  test("source_varint_delimited: frames round-trip with exact overhead") {
    val rows = SparkEntry.queries("source_varint_delimited")(spark, sf).collect()
    assert(rows.nonEmpty)
    val expected = Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.col("doc_id") % 7 === 5).count()
    assert(rows.map(_.getLong(1)).sum == expected)
    rows.foreach { r =>
      // every frame's varint is 1-3 bytes; overhead between n and 3n
      assert(r.getLong(3) >= r.getLong(1) && r.getLong(3) <= 3 * r.getLong(1))
      assert(r.getLong(2) > 0L)
      assert(r.getLong(4) % 7 == 5 && r.getLong(5) % 7 == 5)
    }
  }

  test("service_hedge_delay_sweep: shorter delay buys tail for load") {
    val rows = SparkEntry.queries("service_hedge_delay_sweep")(spark, sf).collect()
    assert(rows.length == 3)
    val byD = rows.map(r => r.getLong(0) -> r).toMap
    rows.foreach { r =>
      // hedging can only help the tail and the mass
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(5) <= r.getLong(4))
      assert(r.getLong(2) > 0L)
      // a double-tail draw is the only way to stay slow: much rarer
      assert(r.getLong(3) * 5 < r.getLong(2), s"delay ${r.getLong(0)} tail")
    }
    // the frontier: shorter delay fires more backups (75 splits the
    // 50-149 ms base band; 150 and 300 both fire on the tail only)
    assert(byD(75L).getLong(6) > byD(150L).getLong(6))
    assert(byD(150L).getLong(6) >= byD(300L).getLong(6))
    // ...and never has a worse hedged mass than a longer delay
    assert(byD(75L).getLong(5) <= byD(150L).getLong(5))
    assert(byD(150L).getLong(5) <= byD(300L).getLong(5))
  }

  test("join_score_fusion: fusion dominates the single modality") {
    val rows = SparkEntry.queries("join_score_fusion")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      assert(r.getLong(7) <= 1000000L && r.getLong(8) <= 1000000L)
    }
    // at the 550/600 operating points the fused error sum beats face-only
    val mid = rows.filter(r => r.getLong(0) == 550L || r.getLong(0) == 600L)
    mid.foreach { r =>
      val fusedErr = r.getLong(7) + r.getLong(8)
      val faceErr = r.getLong(9) + r.getLong(10)
      assert(fusedErr < faceErr, s"tau ${r.getLong(0)}: $fusedErr vs $faceErr")
    }
  }
}
