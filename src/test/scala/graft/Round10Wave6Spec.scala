package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-6/7 ops beyond the oracle gate. */
class Round10Wave6Spec extends AnyFunSuite with SparkFixture {

  test("api_sql_recursive: every level halves the ancestor domain to the root") {
    val rows = SparkEntry.queries("api_sql_recursive")(spark, sf).collect()
    assert(rows.nonEmpty)
    // depth 0 is the seed: all 25 nodes, ancestors = nodes themselves
    val d0 = rows.find(_.getLong(0) == 0L).get
    assert(d0.getLong(1) == 25 && d0.getLong(2) == d0.getLong(3))
    // recursion must reach the root and terminate (≤ log2(25)+1 levels)
    assert(rows.map(_.getLong(0)).max <= 6, "binary-tree walk must terminate")
    // each level loses the nodes whose ancestor hit 0 — counts non-increasing
    val byDepth = rows.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(byDepth.zip(byDepth.tail).forall { case (a, b) => a >= b })
  }

  test("warehouse_compaction_plan: bins respect the target except the closing file") {
    val rows = SparkEntry.queries("warehouse_compaction_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, bins) =>
      val sorted = bins.sortBy(_.getLong(1))
      // every bin except the last per partition must be filled past the
      // target minus one file (prefix binning overflows into the next)
      sorted.dropRight(1).foreach { b =>
        assert(b.getLong(3) + 5000 > 16384, s"underfull non-terminal bin: $b")
      }
    }
    rows.foreach(r => assert(r.getLong(2) > 0 && r.getLong(4) > 0))
  }

  test("graph_bipartite_project: weights positive, pair count bounded by C(n,2)") {
    val rows = SparkEntry.queries("graph_bipartite_project")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nSup = Tables.supplier(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum <= nSup * (nSup - 1) / 2)
    rows.foreach(r => assert(r.getLong(0) >= 1 && r.getLong(1) >= 1))
  }

  test("llm_code_detect: counts bounded by chars; flags consistent with corpus score") {
    val rows = SparkEntry.queries("llm_code_detect")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (chars, semis, braces, parens) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(semis + braces + parens <= chars, s"punct exceeds chars: $r")
      assert(r.getLong(6) <= r.getLong(1), "flagged docs bounded by doc count")
    }
  }

  test("agg_mann_whitney: U in range, z consistent with the closed form") {
    val r = SparkEntry.queries("agg_mann_whitney")(spark, sf).collect().head
    val (n1, n2, u2) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(u2 >= 0 && u2 <= 2 * n1 * n2, "doubled U outside [0, 2·n1·n2]")
    val z = r.getDouble(3)
    val expect = (u2.toDouble - n1.toDouble * n2) /
      math.sqrt(n1.toDouble * n2 * (n1 + n2 + 1) / 3)
    assert(math.abs(z - expect) < 1e-12)
  }

  test("llm_sft_chat_template: span arithmetic lands exactly on the assistant text") {
    val rows = SparkEntry.queries("llm_sft_chat_template")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (total, off, alen, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(off > 0 && off + alen + 7 == total, s"span does not tile the render: $r")
      assert(ppm > 0 && ppm < 1000000)
    }
  }

  test("warehouse_partition_skew_audit: ordering, ppm algebra, and flag consistency") {
    val r = SparkEntry.queries("warehouse_partition_skew_audit")(spark, sf)
      .collect().head
    assert(r.getLong(0) > 1, "needs multiple partitions")
    assert(r.getLong(3) >= r.getLong(4) && r.getLong(4) >= r.getLong(2),
      "min ≤ avg ≤ max ordering")
    assert(r.getLong(5) == r.getLong(3) * 1000000L / r.getLong(4), "ppm algebra")
    assert(r.getBoolean(6) == (r.getLong(5) > 2000000L), "flag must follow the ppm")
  }
}
