package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-24 semantics: IntSqrt exactness sweep + codegen presence, exact
  * stddev floor, index bounds, fib argmin optimality. */
class Round12Wave24Spec extends AnyFunSuite with SparkFixture {

  test("IntSqrt expression: exact on an adversarial sweep incl. square edges") {
    val sqrt = org.apache.spark.sql.graftbridge.IntSqrt(
      org.apache.spark.sql.catalyst.expressions.Literal(0L))
    def eval(x: Long): Long =
      org.apache.spark.sql.graftbridge.IntSqrt(
        org.apache.spark.sql.catalyst.expressions.Literal(x))
        .eval(null).asInstanceOf[Long]
    assert(sqrt.dataType.typeName === "long")
    // perfect squares and their neighbors up to large magnitudes
    val ks = Seq(1L, 2L, 3L, 10L, 999L, 65536L, 1000003L, 94906265L,
      3037000498L)
    ks.foreach { k =>
      assert(eval(k * k) === k, s"isqrt($k^2)")
      assert(eval(k * k - 1) === k - 1, s"isqrt($k^2-1)")
      assert(eval(k * k + 1) === k, s"isqrt($k^2+1)")
    }
    assert(eval(0L) === 0L && eval(-5L) === 0L)
    assert(eval(Long.MaxValue) === 3037000499L)
  }

  test("fn_isqrt_native: per-row law s^2 <= v < (s+1)^2") {
    val rows = SparkEntry.queries("fn_isqrt_native")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, s2) = (r.getLong(1), r.getLong(2))
      assert(s2 * s2 <= v && v < (s2 + 1) * (s2 + 1))
      assert(r.getBoolean(3) === (s2 * s2 == v))
      assert(r.getLong(4) === (s2 + 1) * (s2 + 1) - v)
    }
  }

  test("agg_integer_stddev: floor law n·sd <= sqrt(var_num) < n·(sd+1)") {
    val rows = SparkEntry.queries("agg_integer_stddev")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, vn, sd) = (r.getLong(1), r.getLong(4), r.getLong(5))
      assert(vn >= 0, "variance numerator non-negative")
      assert(BigInt(sd) * sd * n * n <= BigInt(vn))
      assert(BigInt(sd + 1) * (sd + 1) * n * n > BigInt(vn))
    }
  }

  test("agg_price_index: Paasche <= Laspeyres bracket not required, but both positive and Fisher^2 = L·P") {
    val r = SparkEntry.queries("agg_price_index")(spark, sf)
      .collect().head
    val (n, l, p, f2) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n > 0)
    assert(l > 0 && p > 0)
    assert(f2 === l * p)
    // both indices in a sane band (same-distribution synthetic years)
    assert(l > 500 && l < 2000 && p > 500 && p < 2000)
  }

  test("win_fib_retracement: levels ordered, nearest is the true argmin") {
    val rows = SparkEntry.queries("win_fib_retracement")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, hi, lo) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (lv1, lv3, lv5) = (r.getLong(5), r.getLong(6), r.getLong(7))
      assert(lo <= lv1 && lv1 <= lv3 && lv3 <= lv5 && lv5 <= hi)
      assert(lo <= c && c <= hi, "close inside its own trailing range")
      // recompute all five levels and the argmin
      val levels = Seq(236, 382, 500, 618, 786)
        .map(rt => lo + (hi - lo) * rt / 1000)
      val best = levels.zipWithIndex
        .map { case (l, i) => ((c - l).abs, i + 1L) }.min
      assert(r.getLong(8) === best._2)
      assert(r.getLong(9) === best._1)
    }
  }
}
