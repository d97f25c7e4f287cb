package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-14 wave 6 (Round14Ops): tool-call audit, column-grain lineage,
  * color quantization.
  */
class Round14Wave6Spec extends AnyFunSuite with SparkFixture {

  test("llm_tool_call_audit: failure classes partition malformed calls") {
    val rows = SparkEntry.queries("llm_tool_call_audit")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mal, rec, hard, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(rec + hard == mal, "every malformed call recovers or hard-fails")
      assert(mal <= n)
      assert(ppm == mal * 1000000L / n)
      // 1-in-17 gate: the malformed share stays a small minority
      if (n >= 100) assert(ppm < 200000)
    }
  }

  test("warehouse_column_lineage: taint reaches the planted depth exactly") {
    val rows = SparkEntry.queries("warehouse_column_lineage")(spark, sf).collect()
    val byHop = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    // hop 0 = the two seeds
    assert(byHop(0) == 2)
    assert(rows.map(_.getLong(1)).sum <= 48, "never more columns than exist")
    // seeds sit on tables 0/1 and every table t>=1 pass-through maps from
    // t-1: the taint must keep spreading through all 4 graded hops
    (0 to 4).foreach(h => assert(byHop.getOrElse(h, 0L) >= 1, s"hop $h empty"))
    // the hop-0 list is exactly the seeded column ids
    assert(rows.find(_.getInt(0) == 0).get.getString(2) == "1,7")
  }

  test("mm_color_quantize: dominant levels are real argmaxes, contrast sane") {
    val rows = SparkEntry.queries("mm_color_quantize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lvl, n, mass, mean) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lvl >= 0 && lvl <= 3)
      assert(mean == mass / n)
      // 32 sampled chars of real text always span more than one byte value
      assert(mass >= n, "zero contrast would mean a constant payload")
    }
    val total = rows.map(_.getLong(2)).sum
    val eligible = Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.expr("length(text) >= 32")).count()
    assert(total == eligible, "every eligible doc gets exactly one dominant level")
  }

  test("join_sanctions_screen: hits split into exact, typo'd and lookalike classes") {
    val rows = SparkEntry.queries("join_sanctions_screen")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("SMITH", "BRAUN", "MEYER", "HARRIS", "WALKER", "JONSON"))
    rows.foreach { r =>
      val (wl, cands, exact, fuzzy) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(exact + fuzzy <= cands)
      assert(exact > 0, s"$wl is in the pool, exact hits must exist")
      // SMITH/BRAUN/MEYER/JONSON each have a distance-1 pool lookalike
      // (SMYTH/BROWN/MAYER/JOHNSON) plus typo'd variants of themselves
      if (Set("SMITH", "BRAUN", "MEYER", "JONSON").contains(wl))
        assert(fuzzy > 0, s"$wl must collect lookalike fuzzy hits")
    }
  }

  test("agg_txn_structuring: flags concentrate on the planted accounts") {
    val rows = SparkEntry.queries("agg_txn_structuring")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(3)).sum == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val (accounts, flagged, txns, mass, bandedMass) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(flagged <= accounts)
      assert(bandedMass <= mass)
      // ~1-in-37 accounts structure: flags are a small minority
      assert(flagged * 10 <= accounts,
        "structuring flags must stay a minority of accounts")
    }
    assert(rows.map(_.getLong(2)).sum >= 1, "the planted structurers must flag")
  }

  test("service_account_takeover: zero false positives by construction") {
    val rows = SparkEntry.queries("service_account_takeover")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(3)).sum == Tables.events(spark, sf).count())
    // compromised principals are exactly flagged users; organic windows
    // hold <= 5 distinct devices so every flag is a planted attacker
    val users = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id")).distinct()
    val planted = users
      .where(org.apache.spark.sql.functions.expr("user_id % 19 = 3")).count()
    val compromised = rows.map(_.getLong(2)).sum
    assert(compromised <= planted,
      "every compromised principal must be in the planted class")
    rows.foreach { r => assert(r.getLong(2) <= r.getLong(1)) }
  }
}
