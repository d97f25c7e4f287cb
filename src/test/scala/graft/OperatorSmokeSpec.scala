package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every SURVEY §2 operator runs at sf0.001 and returns rows; spot-checks
  * pin a few known values so a silently-empty or misaligned query fails
  * here before the driver's t2 gate sees it.
  */
class OperatorSmokeSpec extends AnyFunSuite with SparkFixture {

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows at sf0.001") {
      val before = SessionState.of(spark)
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
      val after = SessionState.of(spark)
      val left = before.changedNames(after) -- mayLeave(name)
      assert(left.isEmpty, s"$name left session state behind: ${left.toSeq.sorted.mkString(", ")}")
      assert(after.strategies == before.strategies,
        s"$name changed the planner strategies: ${before.strategies} -> ${after.strategies}")
    }
  }

  /** The function or conf names an operator may leave behind, and why:
    * `udf_scalar` and `udf_sql` demonstrate registering a UDF in the
    * caller's session; the first `service_*` operator starts the JVM's
    * one thrift server, which reads its port and host from the session. */
  private def mayLeave(name: String): Set[String] = name match {
    case "udf_scalar" => Set("rev_words")
    case "udf_sql" => Set("graft_taxed", "graft_size_band")
    case n if n.startsWith("service_") =>
      Set("hive.server2.thrift.port", "hive.server2.thrift.bind.host", "hive.server2.webui.port")
    case _ => Set.empty
  }

  test("entry() returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Op rejects a blank name or a blank oracle") {
    import graft.ops.Op
    val build: Op.Build = (s, _) => s.range(1).toDF()
    for ((name, oracle) <- Seq(("", "SELECT 0 AS id"), (" ", "SELECT 0 AS id"),
        ("op_x", ""), ("op_x", " \n "), ("op_x", null)))
      intercept[IllegalArgumentException](Op(name, build, oracle))
    assert(Op("op_x", build, "SELECT 0 AS id").name == "op_x")
  }

  test("Family.unique rejects a name given twice, inside one family or across two") {
    import graft.ops.{Family, Op}
    def op(name: String, n: Long) = Op(name, (s, _) => s.range(n).toDF(), "SELECT 0 AS id")
    val inOne = intercept[IllegalArgumentException] {
      Family.unique(Seq(op("op_a", 1), op("op_b", 2), op("op_a", 3)))
    }
    assert(inOne.getMessage.contains("op_a") && !inOne.getMessage.contains("op_b"))
    object FamA extends Family {
      val ops: Seq[Op] = Seq(op("op_x", 1))
    }
    object FamB extends Family {
      val ops: Seq[Op] = Seq(op("op_y", 1), op("op_x", 2))
    }
    val across = intercept[IllegalArgumentException] {
      Family.unique(Seq(FamA, FamB).flatMap(_.ops))
    }
    assert(across.getMessage.contains("op_x") && !across.getMessage.contains("op_y"))
    assert(Family.unique(FamA.ops ++ FamB.ops.take(1)).keySet == Set("op_x", "op_y"))
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

/** What an operator call could change in the caller's session: each
  * registered function (by the class that builds it, so a replaced
  * function shows too), the planner's strategies, and the session confs. */
private case class SessionState(
    functions: Map[String, String], strategies: Seq[String], confs: Map[String, String]) {
  def changedNames(after: SessionState): Set[String] = {
    def changed(a: Map[String, String], b: Map[String, String]) =
      (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    changed(functions, after.functions) ++ changed(confs, after.confs)
  }
}

private object SessionState {
  def of(spark: org.apache.spark.sql.SparkSession): SessionState = {
    val st = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val reg = st.functionRegistry
    SessionState(
      reg.listFunction().map(f => f.unquotedString -> reg.lookupFunction(f).map(_.getClassName).orNull).toMap,
      st.planner.strategies.map(_.getClass.getName),
      spark.conf.getAll)
  }
}
