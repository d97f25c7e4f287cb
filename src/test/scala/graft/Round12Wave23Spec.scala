package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-23 semantics: Knox bucket completeness vs brute force, Damm
  * single-digit error detection, Palma decile laws, TD streak resets. */
class Round12Wave23Spec extends AnyFunSuite with SparkFixture {

  test("agg_knox_test: X <= min(S,T), pair counts consistent") {
    val r = SparkEntry.queries("agg_knox_test")(spark, sf)
      .collect().head
    val (n, np, sp, tp, xp) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    assert(np === n * (n - 1) / 2)
    assert(xp <= sp && xp <= tp)
    assert(sp <= np && tp <= np)
    if (sp > 0 && tp > 0)
      assert(r.getLong(5) === xp * np * 1000 / (sp * tp))
  }

  test("fn_damm_check: detects every single-digit substitution") {
    val rows = SparkEntry.queries("fn_damm_check")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val tbl = ("0317598642" + "7092154863" + "4206871359" + "1750983426" +
      "6123045978" + "3674209581" + "5869720134" + "8945362017" +
      "9438617205" + "2581436790").map(_ - '0')
    def damm(digits: Seq[Int]): Int =
      digits.foldLeft(0)((i, d) => tbl(i * 10 + d))
    rows.foreach { r =>
      val code = r.getString(1).map(_ - '0')
      assert(r.getLong(2) === damm(code).toLong, "chk replay")
      assert(r.getBoolean(3), "zero diagonal revalidation")
    }
    // single-substitution detection on a sample
    rows.take(10).foreach { r =>
      val code = r.getString(1).map(_ - '0')
      val chk = damm(code)
      for (pos <- code.indices; nd <- 0 to 9 if nd != code(pos)) {
        val corrupted = code.updated(pos, nd)
        assert(damm(corrupted) !== chk,
          s"substitution at $pos undetected")
      }
    }
  }

  test("agg_palma_ratio: shares consistent, decile partition sound") {
    val rows = SparkEntry.queries("agg_palma_ratio")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (total, top, bot) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(top + bot <= total)
      assert(r.getLong(4) === top * 1000000 / total)
      assert(r.getLong(5) === bot * 1000000 / total)
      assert(r.getLong(6) === top * 1000 / bot)
      // bottom 40% of people hold ~4x the decile count of the top 10%,
      // but the top decile takes the largest balances: bot share per
      // decile must be below the top decile's share
      assert(top * 4 >= bot - 4 * total / 10)
    }
  }

  test("win_td_setup: streaks reset on breaks, replayed independently") {
    val rows = SparkEntry.queries("win_td_setup")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val s = g.sortBy(_.getLong(1))
      val closes = s.map(_.getLong(2))
      // the first 4 emitted rows compare against bars before the emitted
      // window — seed the replay from the engine's 4th row, then verify
      // the recurrence exactly from there on
      if (s.length > 4) {
        var streak = s(3).getLong(3)
        (4 until s.length).foreach { i =>
          if (closes(i) < closes(i - 4)) streak += 1 else streak = 0
          assert(s(i).getLong(3) === streak, s"row $i")
          assert(s(i).getBoolean(4) === (streak >= 9))
        }
      }
      s.foreach(r => assert(r.getLong(3) >= 0))
    }
  }
}
