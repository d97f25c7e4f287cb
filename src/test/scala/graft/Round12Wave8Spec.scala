package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-8 semantics: bag difference, IDENTIFIER binding, computus against
  * known Easter dates, closed-form business days against a brute-force
  * day walk, Williams %R zone machine. */
class Round12Wave8Spec extends AnyFunSuite with SparkFixture {

  test("set_except_all subtracts multiplicities with floor zero") {
    val s = spark
    import s.implicits._
    val a = Seq(1, 1, 1, 2, 3).toDF("v")
    val b = Seq(1, 2, 2).toDF("v")
    val got = a.exceptAll(b).groupBy("v").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(1 -> 2L, 3 -> 1L)) // 3-1=2, 1-2 floors to 0, 1-0=1
  }

  test("api_identifier_clause matches the literal-identifier plan") {
    val viaParam = SparkEntry.queries("api_identifier_clause")(spark, sf)
    graft.Tables.orders(spark, sf).createOrReplaceTempView("graft_ident_orders_v")
    val literal = spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM graft_ident_orders_v WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    assert(viaParam.collect().toSeq === literal.collect().toSeq)
  }

  test("fn_easter_computus reproduces known Easter dates") {
    val rows = SparkEntry.queries("fn_easter_computus")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(2024L) === ((3L, 31L))) // 2024-03-31
    assert(rows(2025L) === ((4L, 20L))) // 2025-04-20
    assert(rows(2000L) === ((4L, 23L))) // 2000-04-23
    assert(rows(1954L) === ((4L, 18L))) // the m-correction year class
    assert(rows.size === 200)
    // Easter is always in the canonical March 22 – April 25 band.
    assert(rows.values.forall { case (m, dd) =>
      (m == 3L && dd >= 22) || (m == 4L && dd <= 25) })
  }

  test("business-day closed form equals the brute-force day walk") {
    // g(e) = weekdays in [0, e) with day 0 = Thursday (1970-01-01).
    val r = Array(0, 1, 2, 2, 2, 3, 4)
    def g(e: Long): Long = 5 * (e / 7) + r((e % 7).toInt)
    def brute(e1: Long, e2: Long): Long =
      (e1 + 1 to e2).count { e => val dow = ((e + 4) % 7).toInt; dow >= 1 && dow <= 5 }
    for (e1 <- 0L to 40L; e2 <- e1 to e1 + 40)
      assert(g(e2 + 1) - g(e1 + 1) === brute(e1, e2), s"($e1, $e2]")
  }

  test("win_williams_r zones partition every observation") {
    val out = SparkEntry.queries("win_williams_r")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { row =>
      val (n, ob, os, tr) = (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      assert(ob + os <= n)     // zones are a partition with MID the rest
      assert(tr <= n)          // at most one transition per observation
      assert(ob > 0 || os > 0) // a 10-period extreme always pins one end
    }
  }
}
