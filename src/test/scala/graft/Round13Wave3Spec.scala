package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 wave 3: ACID minor compaction + aborted-txn visibility,
  * admission quota, speculative-decoding plan. */
class Round13Wave3Spec extends AnyFunSuite with SparkFixture {

  test("sink_hive_acid_minor_compact: merged span replaces the originals, deletes still hit") {
    val got = SparkEntry.queries("sink_hive_acid_minor_compact")(spark, sf)
      .orderBy("o_orderstatus").collect()
    val want = graft.Tables.orders(spark, sf)
      .where(!(col("o_orderkey") % 14 === 1))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .orderBy("o_orderstatus").collect()
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq)
    // directory census: the merged span exists, the originals are gone
    val root = java.nio.file.Paths.get(graft.ops.Scratch.opDir("hive_acid_mc", sf))
    assert(java.nio.file.Files.exists(root.resolve("delta_0000002_0000003")))
    assert(!java.nio.file.Files.exists(root.resolve("delta_0000002_0000002")))
    assert(!java.nio.file.Files.exists(root.resolve("delta_0000003_0000003")))
  }

  test("source_hive_acid_aborted: aborted delta invisible, committed delete applies") {
    val got = SparkEntry.queries("source_hive_acid_aborted")(spark, sf)
      .orderBy("o_orderstatus").collect()
    val want = graft.Tables.orders(spark, sf)
      .where(!(col("o_orderkey") % 12 === 5))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .orderBy("o_orderstatus").collect()
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq)
    // the poison check: if the aborted delta leaked, evens would double
    val n = graft.Tables.orders(spark, sf).count()
    assert(got.map(_.getLong(1)).sum < n + 1)
  }

  test("service_admission_quota: rejections are exactly the over-quota tail") {
    val rows = SparkEntry.queries("service_admission_quota")(spark, sf).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (p, n, adm, rej) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(adm + rej == n, s"census mismatch: $r")
      assert(r.getLong(4) == rej * 1000000L / n)
      // a principal can never admit more than quota × observed hours
      val hours = graft.Tables.events(spark, sf)
        .where(col("user_id") % 8 === p)
        .select(expr("ts_us DIV 3600000000")).distinct().count()
      assert(adm <= (p * 5 + 30) * hours)
    }
  }

  test("llm_speculative_plan: acceptance series bounded, speedup in (1x, 5x]") {
    val rows = SparkEntry.queries("llm_speculative_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, e, steps, speed) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a >= 550000L && a < 950000L)
      // E = Σ a^i for i=1..4 < a/(1-a); and E ≥ a
      assert(e >= a && e < 4000000L)
      assert(speed > 1000000L && speed <= 5000000L, s"speedup out of band: $r")
      assert(steps >= 1L)
    }
  }

  test("mm_asr_cer_eval: clean class has zero CER, corrupted classes positive") {
    val rows = SparkEntry.queries("mm_asr_cer_eval")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cls, mass) = (r.getString(1), r.getLong(3))
      if (cls == "clean") assert(mass == 0L, s"clean class drifted: $r")
      else assert(mass > 0L, s"corruption produced no errors: $r")
      assert(r.getLong(4) <= 1000000L)
    }
  }

  test("join_entity_resolution: two-char damage never matches under the <=1 bar") {
    val rows = SparkEntry.queries("join_entity_resolution")(spark, sf).collect()
    val byClass = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = graft.Tables.customer(spark, sf).count()
    assert(byClass.values.sum == n)
    val nZZ = graft.Tables.customer(spark, sf)
      .where(col("c_custkey") % 100 === 7).count()
    val nX = graft.Tables.customer(spark, sf)
      .where(col("c_custkey") % 10 === 3 && !(col("c_custkey") % 100 === 7)).count()
    assert(byClass.getOrElse("unmatched", 0L) == nZZ)
    assert(byClass.getOrElse("fuzzy", 0L) == nX)
    assert(byClass.getOrElse("exact", 0L) == n - nZZ - nX)
  }

  test("fn_name_standardize: diacritics fold, suffixes drop, whitespace collapses") {
    val rows = SparkEntry.queries("fn_name_standardize")(spark, sf).collect()
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    assert(byCls(0).getString(3) == "jose garcia")
    assert(byCls(1).getString(3) == "ana muller")
    assert(byCls(2).getString(3) == "mary anne smith")
    assert(byCls(0).getLong(2) == 1L && byCls(2).getLong(2) == 1L)
    // the per-key class keeps one std form per name
    assert(byCls(3).getLong(2) == byCls(3).getLong(1))
  }

  test("warehouse_gdpr_subject_export: every subject answers, zeros never drop") {
    val rows = SparkEntry.queries("warehouse_gdpr_subject_export")(spark, sf).collect()
    val nSubjects = graft.Tables.customer(spark, sf)
      .where(col("c_custkey") % 97 === 13).count()
    assert(rows.length == nSubjects)
    rows.foreach { r =>
      assert(r.getLong(0) % 97 == 13)
      // items only exist under orders
      if (r.getLong(1) == 0) assert(r.getLong(3) == 0, s"orphan items: $r")
    }
  }

  test("warehouse_bitemporal_asof: the 2x2 belief grid is exact") {
    val rows = SparkEntry.queries("warehouse_bitemporal_asof")(spark, sf).collect()
    assert(rows.length == 4)
    val base = graft.Tables.orders(spark, sf)
      .where(col("o_orderkey") % 50 === 17)
      .agg(count(lit(1)), sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")))
      .collect()(0)
    val (n, cents) = (base.getLong(0), base.getLong(1))
    val byCell = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(byCell((150L, 2L)) == cents)            // original belief
    assert(byCell((150L, 3L)) == cents - 500 * n)  // retroactive correction
    assert(byCell((250L, 2L)) == cents + 1000 * n) // forward update
    assert(byCell((250L, 3L)) == cents + 1000 * n)
    rows.foreach(r => assert(r.getLong(2) == n))
  }

  test("agg_k_anonymity: class sizes partition the table") {
    val rows = SparkEntry.queries("agg_k_anonymity")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == graft.Tables.customer(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) * r.getLong(1), s"k*classes != persons: $r")
      assert(r.getBoolean(3) == (r.getLong(0) < 5))
    }
  }

  test("warehouse_consent_ledger: censuses partition the person-purpose pairs") {
    val rows = SparkEntry.queries("warehouse_consent_ledger")(spark, sf).collect()
    assert(rows.nonEmpty)
    val pairs = graft.Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == pairs)
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(1) + r.getLong(2)))
  }

  test("join_survivorship_merge: precedence wins and the planted conflict classes hold") {
    val rows = SparkEntry.queries("join_survivorship_merge")(spark, sf).collect()
    val byS = rows.map(r => r.getString(0) -> r).toMap
    val n = graft.Tables.customer(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n)
    // crm wins whenever present (k%3!=0); legacy only when crm AND web miss
    val crmN = graft.Tables.customer(spark, sf)
      .where(!(col("c_custkey") % 3 === 0)).count()
    assert(byS("crm").getLong(1) == crmN)
    // email hashes are system-salted -> every multi-source entity conflicts
    assert(byS("crm").getLong(2) > 0)
    // phone agrees between crm and web; legacy-won entities saw only legacy
    assert(byS("legacy").getLong(3) == 0)
  }

  test("llm_corpus_erasure_plan: removal and redaction tiers are disjoint") {
    val rows = SparkEntry.queries("llm_corpus_erasure_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = rows.map(_.getLong(1)).sum
    assert(docs == graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(4) <= r.getLong(1))
      if (r.getLong(2) > 0) assert(r.getLong(3) > 0, s"removed docs with no tokens: $r")
    }
  }

  test("warehouse_scd6_hybrid: type-1/2/3 columns agree per user") {
    val rows = SparkEntry.queries("warehouse_scd6_hybrid")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nv, cur, prev) = (r.getLong(1), r.getString(2), r.getString(3))
      assert(nv >= 1L)
      if (nv == 1L) assert(prev == null, s"single version with a prev: $r")
      else assert(prev != null && prev != cur, s"prev must differ from current: $r")
    }
  }

  test("mm_diarization_turns: turns partition segments, dominance bounded") {
    val rows = SparkEntry.queries("mm_diarization_turns")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (segs, turns, longest, dom) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(turns >= 1L && turns <= segs)
      assert(longest >= 1L && longest <= segs)
      assert(dom >= 1000000L / 4 - 1 && dom <= 1000000L)
    }
  }

  test("fn_json_merge_patch: RFC 7396 classes produce the right key sets") {
    val rows = SparkEntry.queries("fn_json_merge_patch")(spark, sf).collect()
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // cls 0: tier overridden to gold, 3 keys
    assert(byCls(0).getString(2).contains("tier=gold"))
    assert(byCls(0).getLong(4) == 3L)
    // cls 1: region DELETED, 2 keys
    assert(!byCls(1).getString(2).contains("region="))
    assert(byCls(1).getLong(4) == 2L)
    // cls 2: no-op keeps all 3
    assert(byCls(2).getLong(4) == 3L)
    rows.foreach(r => assert(r.getLong(3) == 1L)) // uniform size per class
  }

  test("agg_fairness_parity: planted bias surfaces, best group passes the 80% rule") {
    val rows = SparkEntry.queries("agg_fairness_parity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = graft.Tables.customer(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n)
    val best = rows.maxBy(_.getLong(5))
    assert(best.getLong(5) == 1000L && !best.getBoolean(6))
    // the planted bias grows with group id — visible in the HALVES even
    // at the tiny fixture (per-group n is single digits there)
    val (lo, hi) = rows.partition(_.getLong(0) < 12)
    def rate(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getLong(2)).sum.toDouble / rs.map(_.getLong(1)).sum
    assert(rate(hi) > rate(lo), "planted bias did not surface")
  }

  test("fn_phone_normalize: classes normalize as declared") {
    val rows = SparkEntry.queries("fn_phone_normalize")(spark, sf).collect()
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    assert(byCls(0).getString(3).startsWith("+4420794609"))
    assert(byCls(1).getString(3).startsWith("+4420794609")) // trunk 0 folded
    assert(byCls(2).getLong(2) == 0L)                       // too short: invalid
    assert(byCls(3).getString(3).startsWith("+120255501"))
    assert(byCls(0).getLong(2) == byCls(0).getLong(1))      // all valid
  }

  test("join_fellegi_sunter: thresholds respect the planted disagreement classes") {
    val rows = SparkEntry.queries("join_fellegi_sunter")(spark, sf).collect()
    val byCls = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // same-name pairs always score >= 240-40-60 >= 80: every self pair links
    // or is possible; cross-block pairs within a block can be non_link
    assert(byCls.getOrElse("link", 0L) > 0L)
    assert(byCls.getOrElse("possible", 0L) > 0L || byCls.getOrElse("non_link", 0L) >= 0L)
    // pairs census equals sum over blocks of |dirty block| x |master block|
    val n = byCls.values.sum
    assert(n >= graft.Tables.customer(spark, sf).count())
  }

  test("fn_address_parse: every class parses its declared components") {
    val rows = SparkEntry.queries("fn_address_parse")(spark, sf).collect()
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // postcode parses everywhere
    rows.foreach(r => assert(r.getLong(4) == r.getLong(1), s"postcode missed: $r"))
    // units exist only in Apt/PO/Flat classes
    assert(byCls(0).getLong(3) == byCls(0).getLong(1))
    assert(byCls(1).getLong(3) == 0L)
    assert(byCls(2).getLong(3) == byCls(2).getLong(1))
    assert(byCls(3).getLong(3) == byCls(3).getLong(1))
    // street names parse in street classes
    assert(byCls(0).getString(5).contains("Oak Street"))
    assert(byCls(1).getString(5).contains("Main St"))
  }

  test("win_meter_interpolate: every interior gap interpolates between its brackets") {
    val rows = SparkEntry.queries("win_meter_interpolate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 48L)
      // interior gaps always interpolate; only leading/trailing runs can't
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(2) < 48L, s"a meter lost every reading: $r")
    }
    val totalGaps = rows.map(_.getLong(2)).sum
    assert(totalGaps > 0, "the planted gap rate vanished")
  }

  test("warehouse_freshness_sla: the freshest stream is never stale") {
    val rows = SparkEntry.queries("warehouse_freshness_sla")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.exists(_.getLong(2) == 0L), "no stream at the high-water mark")
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getLong(2) > r.getLong(3)))
      assert(r.getLong(5) > 0L)
    }
  }

  test("agg_linkage_confusion: FN mass is exactly the 2-char damage, precision holds") {
    val r = SparkEntry.queries("agg_linkage_confusion")(spark, sf).collect()(0)
    val (tp, fp, fn, tn) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val n = graft.Tables.customer(spark, sf).count()
    val nZZ = graft.Tables.customer(spark, sf)
      .where(col("c_custkey") % 100 === 7).count()
    assert(tp == n - nZZ, s"TP should be every non-damaged self pair: $r")
    assert(fn == nZZ, s"FN should be exactly the 2-char damage: $r")
    assert(r.getLong(5) == (tp * 1000000L) / (tp + fn))
    assert(tp + fp + fn + tn >= n)
  }

  test("warehouse_generalization_ladder: widening bands never increases exposure") {
    val rows = SparkEntry.queries("warehouse_generalization_ladder")(spark, sf)
      .orderBy("level").collect()
    assert(rows.length == 3)
    val exposed = rows.map(_.getLong(3))
    assert(exposed(0) >= exposed(1) && exposed(1) >= exposed(2),
      s"exposure must fall up the ladder: ${exposed.toSeq}")
    val bands = rows.map(_.getLong(4))
    assert(bands(0) >= bands(1) && bands(1) >= bands(2))
  }

  test("fn_email_normalize: tag/dot/alias variants collapse to one key per who") {
    val rows = SparkEntry.queries("fn_email_normalize")(spark, sf).collect()
    val byCls = rows.map(r => r.getInt(0) -> r).toMap
    // classes 0-2 normalize to johnN@gmail.com forms
    assert(byCls(0).getString(3).endsWith("@gmail.com"))
    assert(!byCls(0).getString(3).split("@")(0).contains("."), "local dots must collapse")
    assert(byCls(1).getString(3).startsWith("john") && !byCls(1).getString(3).contains("+"))
    assert(byCls(2).getString(3).endsWith("@gmail.com"))
    assert(byCls(3).getString(3).endsWith("@example.org"))
  }

  test("service_queue_backlog: Lindley via prefix-min matches a sequential replay") {
    val rows = SparkEntry.queries("service_queue_backlog")(spark, sf).collect()
    assert(rows.length == 5)
    // sequential reference for one service
    val svc = rows.head.getString(0)
    val caps = Map("view" -> 4L, "click" -> 3L, "cart" -> 3L,
      "purchase" -> 3L).withDefaultValue(2L)
    val mins = graft.Tables.events(spark, sf)
      .where(col("event_type") === svc)
      .groupBy(expr("ts_us DIV 60000000").as("m")).count()
      .orderBy("m").collect().map(r => r.getLong(1))
    var b = 0L; var peak = 0L; var congested = 0L; var mass = 0L
    mins.foreach { a =>
      b = math.max(0L, b + a - caps(svc))
      peak = math.max(peak, b); if (b > 0) congested += 1; mass += b
    }
    val r = rows.find(_.getString(0) == svc).get
    assert(r.getLong(2) == peak, s"peak mismatch for $svc")
    assert(r.getLong(3) == congested && r.getLong(4) == mass)
  }

  test("stream_restart_recovery: state survives the stop/restart boundary") {
    val rows = SparkEntry.queries("stream_restart_recovery")(spark, sf).collect()
    val byU = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byU(1L) == (3L, 1500L), "u1 must accumulate across the restart")
    assert(byU(3L) == (1L, 100L), "u3 arrived entirely while the query was down")
    assert(byU(2L) == (1L, 500L))
  }

  test("llm_rubric_judge_panel: trimmed means are robust and bounded") {
    val rows = SparkEntry.queries("llm_rubric_judge_panel")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (n, mass, dis) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(mass >= 0L && mass <= n * 4000L)
      assert(dis <= n)
    }
    val nItems = graft.Tables.documents(spark, sf)
      .where(col("doc_id") % 10 === 3).count()
    rows.foreach(r => assert(r.getLong(1) == nItems))
  }

  test("join_temporal_fk: orphans and ambiguity come only from the planted classes") {
    val rows = SparkEntry.queries("join_temporal_fk")(spark, sf).collect()
    val byO = rows.map(r => r.getString(0) -> r).toMap
    assert(byO.contains("ok") && byO.contains("orphan"))
    byO.get("ambiguous").foreach { r =>
      // ambiguous fact-days sit inside [150,250) for s%11==5 suppliers
      assert(r.getLong(2) == 2 * r.getLong(1), s"ambiguity must be exactly double-covered: $r")
    }
    assert(byO("ok").getLong(2) == byO("ok").getLong(1))
    assert(byO("orphan").getLong(2) == 0L)
  }

  test("llm_agent_trajectory_stats: episode censuses add up") {
    val rows = SparkEntry.queries("llm_agent_trajectory_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    val eps = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts_us DIV 3600000000")).distinct().count()
    assert(rows.map(_.getLong(1)).sum == eps)
    assert(rows.map(_.getLong(2)).sum == graft.Tables.events(spark, sf).count())
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(1)))
  }

  test("warehouse_backfill_ledger: planted gap/overlap cadence is exact") {
    val rows = SparkEntry.queries("warehouse_backfill_ledger")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) == 20L)
      // runs r%4==1 start early: r=1,5,9,13,17 -> 5 overlaps of 10 each,
      // but a short PREVIOUS end (r-1 % 5 == 2) cancels one: r=13 follows
      // r=12 (short by 15) -> 13's early start still overlaps? low(13)=640,
      // high(12)=635 -> gap of 5 instead. So 4 overlaps, and gaps from
      // r%5==3 boundaries plus that one.
      assert(r.getLong(4) == 4L, s"overlap count: $r")
      assert(r.getLong(5) == 40L, s"overlap mass: $r")
      assert(r.getLong(2) >= 3L, s"gap count: $r")
    }
  }

  test("service_rate_limit_sliding: pressure bounds and throttle census") {
    val rows = SparkEntry.queries("service_rate_limit_sliding")(spark, sf).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      assert(r.getLong(3) >= 1L)
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(1))
    }
  }
}
