package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave 4 (Round16Ops): articulation points, bridges, ABA
  * routing checksum. */
class Round16Wave4Spec extends AnyFunSuite with SparkFixture {

  test("graph_articulation: exactly the bridge endpoints cut the chain") {
    val rows = SparkEntry.queries("graph_articulation")(spark, sf).collect()
    assert(rows.length == 120)
    val arts = rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val expected = ((0 to 18).map(c => 6L * c + 5) ++
      (0 to 18).map(c => 6L * c + 6)).toSet
    assert(arts == expected, s"got ${arts.size} articulation points")
    rows.foreach { r =>
      // removing a cut vertex splits the chain in exactly two
      assert(r.getLong(1) == (if (r.getBoolean(2)) 2L else 1L),
        s"node ${r.getLong(0)} comps ${r.getLong(1)}")
    }
  }

  test("graph_bridges: exactly the inter-ring connectors are bridges") {
    val rows = SparkEntry.queries("graph_bridges")(spark, sf).collect()
    assert(rows.length == 139, s"edges ${rows.length}")
    val bridges = rows.filter(_.getBoolean(3)).map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 to 18).map(c => (6L * c + 5, 6L * c + 6)).toSet
    assert(bridges == expected, s"got ${bridges.size} bridges")
    rows.foreach { r =>
      assert(r.getLong(2) == (if (r.getBoolean(3)) 2L else 1L))
    }
  }

  test("fn_aba_routing: the checksum catches every planted substitution") {
    val rows = SparkEntry.queries("fn_aba_routing")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1))
      // mod-10 with unit weights detects EVERY single-digit substitution:
      // invalid census == planted corruption census
      assert(r.getLong(3) == r.getLong(4), s"cohort ${r.getInt(0)}")
      assert(r.getLong(4) > 0L)
    }
  }
}
