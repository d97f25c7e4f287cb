package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 wave 1: Unicode normalization audit, ACID overlapping-
  * compaction read, audio VAD chunk plan. */
class Round13Wave1Spec extends AnyFunSuite with SparkFixture {

  test("llm_unicode_normalize_audit: only the decomposed class is NFC-unstable") {
    val rows = SparkEntry.queries("llm_unicode_normalize_audit")(spark, sf).collect()
    assert(rows.nonEmpty)
    val unstable = rows.filter(!_.getBoolean(1))
    val stable = rows.filter(_.getBoolean(1))
    assert(unstable.nonEmpty && stable.nonEmpty)
    // in the unstable class every doc lost exactly ONE char to
    // composition and carries exactly one combining mark
    unstable.foreach { r =>
      assert(r.getLong(5) == r.getLong(2), s"combining != docs in $r")
      assert(r.getLong(6) == r.getLong(2), s"composed != docs in $r")
      assert(r.getLong(3) == 0L && r.getLong(4) == 0L) // no greek/han there
    }
    // script censuses: 3 greek chars per %5==3 doc, 2 han per %5==4 doc
    val docs = graft.Tables.documents(spark, sf)
    val nGrk = docs.where(col("doc_id") % 5 === 3).count()
    val nHan = docs.where(col("doc_id") % 5 === 4).count()
    assert(rows.map(_.getLong(3)).sum == 3 * nGrk)
    assert(rows.map(_.getLong(4)).sum == 2 * nHan)
    // stable classes never compose
    stable.foreach(r => assert(r.getLong(6) == 0L))
  }

  test("source_hive_acid_overlap: watermark hides decoys, post-deltas apply") {
    val got = SparkEntry.queries("source_hive_acid_overlap")(spark, sf)
      .orderBy("o_orderstatus").collect()
    val want = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey").cast("bigint").as("k"),
        col("o_orderstatus"), col("o_totalprice"))
      .where(!(col("k") % 10 === 6) && !(col("k") % 2 === 1 && col("k") % 9 === 0))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .orderBy("o_orderstatus").collect()
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq)
    // the decoy base doubled every price: a reader that unioned all
    // bases would at least double the cents mass
    val full2x = graft.Tables.orders(spark, sf)
      .agg(sum(expr("CAST(FLOOR(o_totalprice * 2 * 100) AS BIGINT)")))
      .collect()(0).getLong(0)
    assert(got.map(_.getLong(2)).sum < full2x)
  }

  test("mm_audio_vad_chunks: chunk mass is conserved and bounded") {
    val rows = SparkEntry.queries("mm_audio_vad_chunks")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nFiles = rows.map(_.getLong(1)).sum
    assert(nFiles == graft.Tables.part(spark, sf).count())
    rows.foreach { r =>
      val (chunks, vic, span) = (r.getLong(2), r.getLong(3), r.getLong(4))
      if (chunks > 0) {
        assert(vic >= 3 * chunks, s"chunks thinner than the 3-frame floor: $r")
        assert(span >= 3, s"max span below floor: $r")
      }
      // speech ppm mass is bounded by 10^6 per file
      assert(r.getLong(5) <= r.getLong(1) * 1000000L)
    }
    // voiced-in-chunks never exceeds the raw voiced frame census
    val rawVoiced = graft.Tables.part(spark, sf)
      .select(col("p_partkey").cast("bigint").as("file_id"))
      .withColumn("n_frames", col("file_id") % 60 + 40)
      .select(col("file_id"),
        explode(expr("sequence(CAST(0 AS BIGINT), n_frames - 1)")).as("fr"))
      .where(expr(
        "CAST(conv(substring(md5(concat('vad:', CAST(file_id AS STRING), ':', CAST(fr AS STRING))), 1, 6), 16, 10) AS BIGINT) % 1000 >= 550"))
      .count()
    assert(rows.map(_.getLong(3)).sum <= rawVoiced)
  }

  test("llm_robots_txt_gate: blanket-block domains block everything, rule-free block nothing") {
    val rows = SparkEntry.queries("llm_robots_txt_gate")(spark, sf).collect()
    assert(rows.length == 40)
    rows.foreach { r =>
      val dom = r.getString(0)
      val cls = dom.stripPrefix("d").stripSuffix(".example").toLong % 4
      val (n, blocked, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      if (cls == 0) assert(blocked == n && ppm == 1000000L, s"blanket domain leaked: $r")
      if (cls == 1 || cls == 3) assert(blocked == 0L, s"rule-free domain blocked: $r")
      if (cls == 2) assert(blocked < n, s"digit-prefix domain over-blocked: $r")
    }
  }

  test("llm_eval_bootstrap_ci: CI brackets the point estimate and orders correctly") {
    val r = SparkEntry.queries("llm_eval_bootstrap_ci")(spark, sf).collect()(0)
    val (n, b, point, lo, med, hi) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(b == 50L)
    assert(n == graft.Tables.orders(spark, sf).count())
    assert(lo <= med && med <= hi, s"CI disordered: $r")
    assert(lo <= point + 100000 && hi >= point - 100000, s"CI far from point: $r")
    // the draw threshold is 600/1000; the point estimate must sit near it
    assert(point > 400000L && point < 800000L)
  }

  test("win_slo_burn_rate: alert implies both windows above budget") {
    val rows = SparkEntry.queries("win_slo_burn_rate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (r.getBoolean(7))
        assert(r.getLong(5) > 250000L && r.getLong(6) > 220000L, s"bad alert: $r")
      assert(r.getLong(3) >= r.getLong(1) && r.getLong(4) >= r.getLong(2))
    }
  }
}
