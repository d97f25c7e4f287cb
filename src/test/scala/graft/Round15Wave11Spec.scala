package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 11 (Round15Ops): Louvain pass, grid-DBSCAN, IBAN mod-97. */
class Round15Wave11Spec extends AnyFunSuite with SparkFixture {

  test("graph_louvain_pass: communities partition the backbone, gains are positive") {
    val rows = SparkEntry.queries("graph_louvain_pass")(spark, sf).collect()
    assert(rows.nonEmpty)
    val members = rows.map(_.getLong(1)).sum
    // modularity must MERGE something: fewer communities than nodes
    assert(rows.length < members, s"${rows.length} communities / $members nodes")
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L)
      assert(r.getLong(2) >= 0L) // gain mass
      assert(r.getLong(3) >= 0L) // internal weight
    }
    // the pass must find positive modularity gain somewhere, and some
    // internal edges must land (note: under a SYNCHRONOUS pass a
    // 2-member community may hold no internal edge — its label node may
    // itself have moved elsewhere — so per-community internal weight is
    // not asserted)
    assert(rows.map(_.getLong(2)).sum > 0L)
    assert(rows.map(_.getLong(3)).sum > 0L)
  }

  test("agg_dbscan_grid: three planted clusters emerge from the noise") {
    val rows = SparkEntry.queries("agg_dbscan_grid")(spark, sf).collect()
    val clusters = rows.filter(_.getLong(0) >= 0L)
    val noise = rows.find(_.getLong(0) == -1L).get
    // the three planted centers are ~100 buckets apart (ε-buckets of
    // 400 over centers 10000/50000/90000) → exactly 3 islands
    assert(clusters.length == 3, s"${clusters.length} clusters")
    val centers = Seq(10000L, 50000L, 90000L).map(_ / 400)
    clusters.foreach { r =>
      assert(centers.exists(c => math.abs(r.getLong(0) - c) <= 1),
        s"cluster at bucket ${r.getLong(0)}")
      assert(r.getLong(1) > 0L)
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 4L) // ~500-wide center
    }
    // 70% of points are planted dense — the clusters must hold most mass
    val total = Tables.orders(spark, sf).count()
    val coreMass = clusters.map(_.getLong(1)).sum
    assert(coreMass > total * 6 / 10, s"core $coreMass of $total")
    assert(noise.getLong(2) > 0L)
  }

  test("fn_iban_mod97: invalid census equals the planted corruption exactly") {
    val rows = SparkEntry.queries("fn_iban_mod97")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      // mod 97 detects EVERY single-digit substitution
      assert(r.getLong(3) == r.getLong(4),
        s"cohort ${r.getLong(0)}: invalid ${r.getLong(3)} != corrupted ${r.getLong(4)}")
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1))
    }
    assert(rows.map(_.getLong(4)).sum > 0L)
  }
}
