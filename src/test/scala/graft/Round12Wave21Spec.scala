package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-21 semantics: integer geometry — shoelace vs independent replay,
  * ray casting vs java.awt-free winding check, k-NN optimality,
  * Bresenham step laws. */
class Round12Wave21Spec extends AnyFunSuite with SparkFixture {

  test("fn_shoelace_area: matches an independent Scala shoelace replay") {
    val rows = SparkEntry.queries("fn_shoelace_area")(spark, sf)
      .collect()
    assert(rows.length === 5)
    // rebuild the vertex lists exactly as the op defines them
    val pks = graft.Tables.part(spark, sf)
      .where("p_partkey % 7 = 1").select("p_partkey")
      .collect().map(_.getLong(0)).sorted
    rows.foreach { r =>
      val grp = r.getLong(0)
      val vs = pks.filter(_ % 5 == grp)
        .map(pk => (pk * 31 % 512, pk * 17 % 512))
      val n = vs.length
      val area2 = vs.indices.map { i =>
        val (x, y) = vs(i); val (xn, yn) = vs((i + 1) % n)
        x * yn - xn * y
      }.sum
      val perim = vs.indices.map { i =>
        val (x, y) = vs(i); val (xn, yn) = vs((i + 1) % n)
        (xn - x).abs + (yn - y).abs
      }.sum
      assert(r.getLong(1) === n.toLong)
      assert(r.getLong(2) === area2)
      assert(r.getLong(3) === area2.abs)
      assert(r.getLong(4) === perim)
    }
  }

  test("fn_point_in_polygon: agrees with an independent float ray-caster") {
    val rows = SparkEntry.queries("fn_point_in_polygon")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val hex = Seq((100, 20), (180, 60), (180, 140), (100, 180),
      (20, 140), (20, 60))
    def inside(px: Long, py: Long): Boolean = {
      var c = false
      for (i <- hex.indices) {
        val (x1, y1) = hex(i); val (x2, y2) = hex((i + 1) % hex.size)
        if ((y1 > py) != (y2 > py) &&
          px < x1 + (x2 - x1).toDouble * (py - y1) / (y2 - y1)) c = !c
      }
      c
    }
    rows.foreach { r =>
      assert(r.getBoolean(4) === inside(r.getLong(1), r.getLong(2)),
        s"pk=${r.getLong(0)}")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 6)
    }
    // the grid straddles the hexagon: both classes must appear
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)))
  }

  test("fn_grid_knn: returned triple is the true Manhattan top-3") {
    val rows = SparkEntry.queries("fn_grid_knn")(spark, sf)
      .collect()
    val pks = graft.Tables.part(spark, sf)
      .where("p_partkey % 11 = 4").select("p_partkey")
      .collect().map(_.getLong(0))
    (0L to 4L).foreach { rk =>
      val (qx, qy) = (100 + rk * 150, 900 - rk * 130)
      val want = pks.map { id =>
        ((id * 13 % 1000 - qx).abs + (id * 37 % 1000 - qy).abs, id)
      }.sorted.take(3)
      val got = rows.filter(_.getLong(0) == rk).sortBy(_.getLong(1))
        .map(r => (r.getLong(3), r.getLong(2))).toSeq
      assert(got === want.toSeq, s"probe $rk")
    }
  }

  test("fn_bresenham_line: unit x-steps, y monotone with |Δy| <= 1, endpoints exact") {
    val rows = SparkEntry.queries("fn_bresenham_line")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val s = g.sortBy(_.getLong(1))
      val (dx, dy) = (s.head.getLong(4), s.head.getLong(5))
      assert(s.length === dx + 1, "one pixel per x step")
      assert(s.head.getLong(1) === 0L && s.last.getLong(1) === dx)
      // exact endpoints: y(0) = y0 rounds to y0, y(dx) = y0 + dy
      assert(s.last.getLong(3) - s.head.getLong(3) === dy)
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(2) - a.getLong(2) === 1L)
          val step = b.getLong(3) - a.getLong(3)
          assert(step === 0L || step === 1L, "first octant: y never retreats")
        case _ => ()
      }
    }
  }
}
