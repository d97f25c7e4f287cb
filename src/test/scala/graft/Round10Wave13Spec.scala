package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-13 ops beyond the oracle gate. */
class Round10Wave13Spec extends AnyFunSuite with SparkFixture {

  test("llm_pass_at_k: estimator hits its closed-form anchors") {
    val rows = SparkEntry.queries("llm_pass_at_k")(spark, sf).collect()
    val byC = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // anchors: c=0 -> 0; n-c < k (c >= 6) -> certain pass
    byC.get(0L).foreach(p => assert(p == 0, "zero correct can never pass"))
    byC.filter(_._1 >= 6).values.foreach(p =>
      assert(p == 1000000, "k draws must hit when misses < k"))
    // monotone in c
    val seq = rows.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(seq.zip(seq.tail).forall { case (a, b) => a <= b },
      "pass@k must be monotone in correct count")
  }

  test("agg_two_proportion_z: z ties out against a driver-side recompute") {
    val r = SparkEntry.queries("agg_two_proportion_z")(spark, sf).collect().head
    val (n1, n2, x1, x2, z) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    assert(x1 <= n1 && x2 <= n2)
    val p = (x1 + x2).toDouble / (n1 + n2)
    val expect = (x1.toDouble / n1 - x2.toDouble / n2) /
      math.sqrt(p * (1 - p) * (1.0 / n1 + 1.0 / n2))
    assert(math.abs(z - expect) < 1e-12)
    assert(r.getBoolean(5) == (math.abs(z) > 1.96))
  }

  test("graph_critical_path: layers cover all nodes and start at zero") {
    val rows = SparkEntry.queries("graph_critical_path")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == 25, "layers partition the nodes")
    assert(rows.exists(_.getLong(0) == 0L), "DAG sources sit at layer 0")
    // the chain depth is bounded by the node count
    assert(rows.map(_.getLong(0)).max < 25)
  }
}
