package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-10 operators beyond the oracle
  * gate: nearest-asof dominance over both directed variants, KS algebra,
  * chi-square marginal identities, and scene-cut threshold law.
  */
class Round9Wave10Spec extends AnyFunSuite with SparkFixture {

  test("join_asof_nearest: gap never exceeds either directed variant; superset of both") {
    val near = SparkEntry.queries("join_asof_nearest")(spark, sf).collect()
    assert(near.nonEmpty)
    val bwd = SparkEntry.queries("join_asof_native")(spark, sf).collect()
      .map(r => r.getLong(0)).toSet
    val fwd = SparkEntry.queries("join_asof_forward")(spark, sf).collect()
      .map(r => r.getLong(0)).toSet
    val nearIds = near.map(_.getLong(0)).toSet
    assert(nearIds == bwd.union(fwd),
      "nearest must match exactly the purchases either direction matches")
    near.foreach { r =>
      assert(r.getLong(5) >= 0, s"negative gap: $r")
      val dir = r.getString(3)
      assert(dir == "backward" || dir == "forward")
      // a backward winner must actually have a backward match, etc.
      if (dir == "backward") assert(bwd.contains(r.getLong(0)))
      else assert(fwd.contains(r.getLong(0)))
    }
  }

  test("agg_ks_drift: D in [0,1], num/den consistent, populations positive") {
    val rows = SparkEntry.queries("agg_ks_drift")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val (n1, n2, dNum, dDen) = (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
    assert(n1 > 0 && n2 > 0 && dDen == n1 * n2)
    assert(dNum >= 0 && dNum <= dDen, s"KS numerator out of range: $r")
    assert(math.abs(r.getDouble(5) - dNum.toDouble / dDen) < 1e-12)
    // the populations must tie out to the orders table
    val counts = Tables.orders(spark, sf).groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(n1 == counts("F") && n2 == counts("O"))
  }

  test("agg_chisq: marginals consistent; dev sums to zero per row and column") {
    val rows = SparkEntry.queries("agg_chisq")(spark, sf).collect()
    assert(rows.length == 25, "5 segments x 5 priorities")
    val n = rows.map(_.getLong(2)).sum
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sum == rs.head.getLong(3), "row marginal mismatch")
      // sum over a row of (obs*N - row*col) = row*N - row*N = 0
      assert(rs.map(_.getLong(5)).sum == 0L, "row deviations must cancel")
    }
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sum == rs.head.getLong(4), "col marginal mismatch")
      assert(rs.map(_.getLong(5)).sum == 0L, "col deviations must cancel")
    }
    rows.foreach(r => assert(r.getDouble(6) >= 0.0))
    assert(n == Tables.orders(spark, sf).count())
  }

  test("mm_scene_cut: every cut clears the threshold; frame 0 never cuts") {
    val rows = SparkEntry.queries("mm_scene_cut")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1, "frame 0 has no predecessor and cannot cut")
      val (fp, prev, hd) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(fp >= 0 && fp <= 255 && prev >= 0 && prev <= 255)
      assert(hd >= 5 && hd <= 8, s"hamming outside the 8-bit threshold band: $r")
      assert(java.lang.Long.bitCount(fp ^ prev) == hd, s"hamming mislabeled: $r")
    }
  }
}
