package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-9 wave-7 operators beyond the oracle
  * gate: link-prediction non-adjacency, walk well-formedness, diff
  * classification tie-outs, k-anonymity release invariants, and
  * drawdown algebra.
  */
class Round9Wave7Spec extends AnyFunSuite with SparkFixture {

  test("graph_jaccard_link_pred: candidates are non-adjacent, scores in [0,1000]") {
    val sfDir = SparkFixture.sf001
    val rows = SparkEntry.queries("graph_jaccard_link_pred")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), s"candidate not canonical: $r")
      assert(r.getLong(2) >= 1, s"candidate without a common neighbor: $r")
      val j = r.getLong(3)
      assert(j >= 0 && j <= 1000, s"jaccard_milli out of range: $r")
    }
    // no predicted link may already exist: bfs layer-1 neighbors of any
    // node are its adjacency — reuse the walk's step-0→1 edges as a probe
    val walks = SparkEntry.queries("graph_random_walk")(spark, sfDir).collect()
    val adj = walks.groupBy(_.getLong(0)).flatMap { case (_, rs) =>
      val byStep = rs.sortBy(_.getLong(2)).map(_.getLong(1))
      byStep.sliding(2).map(p => (p(0).min(p(1)), p(0).max(p(1))))
    }.toSet
    // walk edges ARE graph edges, so none may appear among predictions
    val predicted = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(predicted.intersect(adj.filter(e => e._1 != e._2)).isEmpty,
      "a predicted link already exists as a traversed edge")
  }

  test("graph_random_walk: every start emits a contiguous 5-step walk") {
    val rows = SparkEntry.queries("graph_random_walk")(spark, SparkFixture.sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (start, rs) =>
      val steps = rs.map(_.getLong(2)).sorted.toSeq
      assert(steps == Seq(0L, 1L, 2L, 3L, 4L),
        s"walk from $start is not a contiguous 5-step path: $steps")
      val path = rs.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
      assert(path.head == start, s"walk from $start does not begin at its start")
    }
  }

  test("warehouse_table_diff: classification ties out to the edit script") {
    val sfDir = sf
    val rows = SparkEntry.queries("warehouse_table_diff")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val keys = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").cast("bigint")).collect().map(_.getLong(0))
    val byClass = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byClass.getOrElse("removed", 0) == keys.count(_ % 97 == 0))
    assert(byClass.getOrElse("added", 0) == keys.count(_ % 101 == 0))
    assert(byClass.getOrElse("changed", 0) == keys.count(k => k % 89 == 0 && k % 97 != 0))
    assert(!byClass.contains("unchanged"), "unchanged rows must be filtered")
    rows.filter(_.getString(1) == "changed").foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getDouble(2) - 1.0) < 1e-9,
        s"changed row price delta is not the scripted +1.00: $r")
    }
  }

  test("llm_k_anonymity: released groups are singletons >= k; totals conserve the corpus") {
    val sfDir = sf
    val rows = SparkEntry.queries("llm_k_anonymity")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(4)).sum == total, "released + suppressed must cover the corpus")
    rows.foreach { r =>
      if (r.getBoolean(3)) {
        assert(r.getLong(5) == 1L, s"released QI collapsed more than one group: $r")
        assert(r.getLong(4) >= 5L, s"released group below k: $r")
        assert(r.getString(0) != "*" && r.getLong(2) >= 0L)
      } else {
        assert(r.getString(0) == "*" && r.getString(1) == "*" && r.getLong(2) == -1L,
          s"suppressed row leaked its quasi-identifier: $r")
      }
    }
  }

  test("win_drawdown: drawdown is nonnegative and bounded by the peak") {
    val rows = SparkEntry.queries("win_drawdown")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (peak, dd) = (r.getLong(2), r.getLong(3))
      assert(dd >= 0 && dd <= peak, s"drawdown outside [0, peak]: $r")
      assert(r.getLong(1) >= 1L)
    }
  }
}
