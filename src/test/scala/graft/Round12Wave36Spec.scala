package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-36 semantics: happy orbit replay, Kaprekar's theorem, digital
  * root law, CV root law. */
class Round12Wave36Spec extends AnyFunSuite with SparkFixture {

  test("fn_happy_number: agrees with the classic cycle-detection replay") {
    val rows = SparkEntry.queries("fn_happy_number")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    def happy(n0: Long): Boolean = {
      var n = n0; val seen = scala.collection.mutable.Set[Long]()
      while (n != 1 && !seen(n)) {
        seen += n
        n = n.toString.map(c => (c - '0') * (c - '0')).sum
      }
      n == 1
    }
    rows.foreach { r =>
      assert(r.getBoolean(3) === happy(r.getLong(1)), s"h0=${r.getLong(1)}")
    }
    // happy density is ~1/7, so only demand both classes on real samples
    if (rows.length >= 40)
      assert(rows.exists(_.getBoolean(3)) && rows.exists(!_.getBoolean(3)))
  }

  test("fn_kaprekar_6174: every non-repdigit seed reaches 6174 (theorem)") {
    val rows = SparkEntry.queries("fn_kaprekar_6174")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"k0=${r.getLong(1)} failed to converge")
      assert(r.getLong(2) === 6174L, "fixed point after 7 steps")
    }
  }

  test("fn_digital_root: closed form == walked steps, persistence replay") {
    val rows = SparkEntry.queries("fn_digital_root")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(5))
      val v = r.getLong(1)
      var x = v; var p = 0L
      while (x >= 10) { x = x.toString.map(_ - '0').sum; p += 1 }
      assert(r.getLong(2) === x, "digital root")
      assert(r.getLong(4) === p, "additive persistence")
    }
  }

  test("agg_coeff_variation: root law and ratio identity") {
    val rows = SparkEntry.queries("agg_coeff_variation")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sm, ssq, sdn, cv) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      val vn = n * ssq - sm * sm
      assert(BigInt(sdn) * sdn <= vn && BigInt(sdn + 1) * (sdn + 1) > vn)
      assert(cv === sdn * 1000 / sm)
      assert(cv >= 0 && cv < 1000, "dollars are positive-shifted: CV < 1")
    }
  }
}
