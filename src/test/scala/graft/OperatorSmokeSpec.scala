package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every SURVEY §2 operator runs at sf0.001 and returns rows; spot-checks
  * pin a few known values so a silently-empty or misaligned query fails
  * here before the driver's t2 gate sees it.
  */
class OperatorSmokeSpec extends AnyFunSuite with SparkFixture {

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows at sf0.001") {
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry() returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every operator has an oracle (the HLL estimate is bound-graded since round 4)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"ops without oracle: $noOracle")
  }

  test("Family.unique rejects a name given twice, inside one family or across two") {
    import graft.ops.Family
    val inOne = intercept[IllegalArgumentException] {
      Family.unique("op_a" -> 1, "op_b" -> 2, "op_a" -> 3)
    }
    assert(inOne.getMessage.contains("op_a") && !inOne.getMessage.contains("op_b"))
    object FamA extends Family {
      val queries: Map[String, Q] = unique("op_x" -> ((s, _) => s.range(1).toDF()))
      val oracles: Map[String, String] = unique("op_x" -> "SELECT 0 AS id")
    }
    object FamB extends Family {
      val queries: Map[String, Q] = unique(
        "op_y" -> ((s, _) => s.range(1).toDF()), "op_x" -> ((s, _) => s.range(2).toDF()))
      val oracles: Map[String, String] = unique("op_y" -> "SELECT 0 AS id")
    }
    val across = intercept[IllegalArgumentException] {
      Family.unique(Seq(FamA, FamB).flatMap(_.queries): _*)
    }
    assert(across.getMessage.contains("op_x") && !across.getMessage.contains("op_y"))
    assert(Family.unique(Seq(FamA, FamB).flatMap(_.oracles): _*).keySet == Set("op_x", "op_y"))
  }

  test("scan_parquet preserves the 25 nations in key order") {
    val rows = SparkEntry.queries("scan_parquet")(spark, sf).collect()
    assert(rows.length == 25)
    assert(rows.map(_.getInt(0)).toSeq == (0 until 25))
  }

  test("join_cross is exactly |region| x |nation|") {
    assert(SparkEntry.queries("join_cross")(spark, sf).count() == 125)
  }

  test("agg_group partitions all lineitem rows across groups") {
    val df = SparkEntry.queries("agg_group")(spark, sf)
    val total = df.select("count_order").collect().map(_.getLong(0)).sum
    val expected = Tables.lineitem(spark, sf)
      .where(org.apache.spark.sql.functions.col("l_shipdate") <= "1998-09-02").count()
    assert(total == expected)
  }

  test("join_semi + join_anti partition customers") {
    val semi = SparkEntry.queries("join_semi")(spark, sf).count()
    val anti = SparkEntry.queries("join_anti")(spark, sf).count()
    assert(semi + anti == Tables.customer(spark, sf).count())
  }

  test("llm_dedup_near finds the planted near-duplicate pairs") {
    val pairs = SparkEntry.queries("llm_dedup_near")(spark, sf).collect()
    assert(pairs.nonEmpty)
    // jaccard ∈ (0.5, 1.0]
    assert(pairs.forall { r => val j = r.getDouble(2); j >= 0.5 && j <= 1.0 })
  }

  test("llm_sim_topk returns exactly 5 ranked neighbors per probe") {
    val rows = SparkEntry.queries("llm_sim_topk")(spark, sf).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size == 10)
    assert(byProbe.values.forall(_.length == 5))
    assert(byProbe.values.forall(_.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
  }
}
