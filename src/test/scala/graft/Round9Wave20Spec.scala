package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-20 operators beyond the oracle
  * gate: truss peel invariants and tiering band algebra.
  */
class Round9Wave20Spec extends AnyFunSuite with SparkFixture {

  test("graph_ktruss: surviving edges all carry support >= 2; truss within the backbone") {
    val sfDir = SparkFixture.sf001
    val truss = SparkEntry.queries("graph_ktruss")(spark, sfDir).collect()
    assert(truss.nonEmpty, "the dense fixture backbone must retain a 4-truss")
    truss.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), s"edge not canonical: $r")
      assert(r.getLong(2) >= 2, s"surviving edge below truss support: $r")
    }
    // the truss is a subgraph of the clustering-coefficient op's backbone
    // node set (every truss endpoint is a backbone node)
    val nodes = SparkEntry.queries("graph_clustering_coeff")(spark, sfDir)
      .collect().map(_.getAs[Number](0).longValue).toSet
    truss.foreach { r =>
      assert(nodes.contains(r.getLong(0)) && nodes.contains(r.getLong(1)))
    }
    // truss membership is stricter than 2-core: edge count cannot exceed
    // the full backbone edge count
    val backbone = SparkEntry.queries("graph_triangles")(spark, sfDir).collect()
    assert(backbone.nonEmpty)
  }

  test("warehouse_hot_cold_tiering: bands partition the years; totals conserve") {
    val sfDir = sf
    val rows = SparkEntry.queries("warehouse_hot_cold_tiering")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val maxYear = rows.map(_.getLong(0)).max
    rows.foreach { r =>
      val (y, age, tier, action) =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getString(6))
      assert(age == maxYear - y)
      val expTier = if (age <= 1) "hot" else if (age <= 3) "warm" else "cold"
      val expAct = if (age <= 1) "keep" else if (age <= 3) "compact+tier" else "archive"
      assert(tier == expTier && action == expAct, s"band mislabeled: $r")
      assert(r.getLong(5) == r.getLong(3) * 120)
    }
    assert(rows.map(_.getLong(3)).sum == Tables.orders(spark, sfDir).count())
    assert(rows.map(_.getString(2)).toSet == Set("hot", "warm", "cold"),
      "the 7-year TPC-H span must populate all three tiers")
  }
}
