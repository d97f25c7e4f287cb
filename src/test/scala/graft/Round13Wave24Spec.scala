package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 waves 24+ (Round13cOps): concurrent sessions, A/B exposure
  * integrity, context-growth planning.
  */
class Round13Wave24Spec extends AnyFunSuite with SparkFixture {

  test("service_concurrent_sessions: sweep conserves sessions, overlaps bound") {
    val rows = SparkEntry.queries("service_concurrent_sessions")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (sessions, peak, overlaps, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(peak >= 1, "at least one session is always live at its own start")
      assert(overlaps < sessions, "not every session can overlap-start")
      assert(ppm == overlaps * 1000000L / sessions)
      if (peak >= 2) assert(overlaps >= 1)
    }
  }

  test("service_ab_exposure_integrity: the override plants contamination") {
    val rows = SparkEntry.queries("service_ab_exposure_integrity")(spark, sf)
      .collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(3)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (users, contaminated, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(4))
      assert(contaminated <= users)
      assert(ppm == contaminated * 1000000L / users)
    }
    assert(rows.map(_.getLong(2)).sum >= 1,
      "every-97th-event override must contaminate someone")
  }

  test("llm_context_growth_plan: cumulative tokens overflow exactly once per run") {
    val rows = SparkEntry.queries("llm_context_growth_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (turns, mass, overflowTurns, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))
      assert(mass >= turns * 10, "every turn costs at least the 10-token floor")
      if (!r.isNullAt(3)) {
        val first = r.getInt(3)
        assert(first >= 1 && overflowTurns >= 1)
        assert(overflowTurns <= turns - first + 1,
          s"overflow turns bounded by the tail after first overflow: $r")
      } else assert(overflowTurns == 0)
      assert(ppm == overflowTurns * 1000000L / turns)
    }
  }

  test("join_band_bucketed: bucket expansion finds each band pair once") {
    val rows = SparkEntry.queries("join_band_bucketed")(spark, sf).collect()
    assert(rows.length <= 5 && rows.nonEmpty,
      "priorities with zero candidates legitimately drop out")
    rows.foreach { r =>
      val (cand, band) = (r.getLong(1), r.getLong(2))
      assert(band <= cand, s"band pairs are a candidate subset: $r")
      if (band > 0) {
        assert(!r.isNullAt(3) && r.getLong(3) <= 100L)
        assert(r.getLong(4) == band * 1000000L / cand)
      }
    }
    // brute-force one priority as ground truth
    val o = Tables.orders(spark, sf)
      .where(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100).toLong))
    val want = (for {
      (ka, ca) <- o; (kb, cb) <- o
      if ka < kb && math.abs(ca - cb) <= 100
    } yield 1).size
    val got = rows.find(_.getString(0) == "1-URGENT").map(_.getLong(2)).getOrElse(0L)
    assert(got == want, s"banded join must equal brute force: $got != $want")
  }

  test("fn_money_parse_locale: every locale round-trips to exact cents") {
    val rows = SparkEntry.queries("fn_money_parse_locale")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == Set("us", "eu", "plain"))
    rows.foreach { r =>
      assert(r.getLong(4) == 0, s"parser must be exact: $r")
      assert(r.getBoolean(5))
      assert(r.getLong(2) == r.getLong(3), "cents mass conserved through text")
    }
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
  }

  test("warehouse_access_recert: statuses partition the grant matrix") {
    val rows = SparkEntry.queries("warehouse_access_recert")(spark, sf).collect()
    assert(rows.length == 4)
    val grants = rows.map(_.getLong(1)).sum
    assert(grants == (for (p <- 0 until 16; o <- 0 until 10
      if (p + o) % 3 != 1) yield 1).size)
    rows.foreach { r =>
      val (n, active, stale, never) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(active + stale + never == n, s"status must partition: $r")
      assert(r.getLong(5) == (stale + never) * 1000000L / n)
    }
  }

  test("fn_jwt_parse: decode inverts the mint, expiry splits on the hwm") {
    val rows = SparkEntry.queries("fn_jwt_parse")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count(),
      "every token must decode — a parse failure would drop rows")
    rows.foreach { r =>
      val (n, exp, subs, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(exp <= n && ppm == exp * 1000000L / n)
      assert(subs >= 1 && subs <= 15)
    }
    assert(rows.map(_.getLong(2)).sum >= 1, "short-lived tokens must expire")
  }

  test("llm_gpu_packing_plan: contiguous packing meets the ceil lower bound") {
    val rows = SparkEntry.queries("llm_gpu_packing_plan")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (jobs, mem, nodes, straddlers, util) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))
      assert(nodes == (mem + 79) / 80, "contiguous allocation hits the ceil bound")
      assert(straddlers < nodes, "at most one straddler per node boundary")
      assert(util == mem * 1000000L / (nodes * 80) && util <= 1000000L)
    }
  }

  test("agg_dormancy_reactivation: reactivated is a user subset per week") {
    val rows = SparkEntry.queries("agg_dormancy_reactivation")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (active, events, reacts, rUsers, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(rUsers <= active && rUsers <= reacts || reacts == 0 && rUsers == 0)
      assert(events >= active)
      assert(ppm == rUsers * 1000000L / active)
    }
  }

  test("join_ip_range_lookup: unrouted is exactly the reserved tail mass") {
    val rows = SparkEntry.queries("join_ip_range_lookup")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    val owners = rows.map(_.getString(0)).toSet
    assert(owners.contains("unrouted"),
      "every 8th block's reserved upper half must strand some probes")
    assert((owners - "unrouted").subsetOf(Set("as0", "as1", "as2", "as3", "as4")))
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getString(0) != "unrouted"))
    }
    val unrouted = rows.find(_.getString(0) == "unrouted").get.getLong(1)
    val total = rows.map(_.getLong(1)).sum
    assert(unrouted * 16 < total * 2,
      s"reserved mass is ~1/16 of the address space: $unrouted of $total")
  }

  test("llm_split_leakage_audit: pairs straddling the split leak") {
    val rows = SparkEntry.queries("llm_split_leakage_audit")(spark, sf).collect()
    assert(rows.nonEmpty)
    val (clusters, leaking, testDocs, tainted) =
      (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum,
        rows.map(_.getLong(3)).sum, rows.map(_.getLong(4)).sum)
    val nDocs = Tables.documents(spark, sf).count()
    assert(testDocs < nDocs / 5, "the 10% hash split holds roughly")
    assert(clusters < nDocs, "planted pairs must merge some clusters")
    assert(leaking >= 1, "some pair must straddle the split")
    assert(tainted >= leaking, "a leaking cluster taints >= 1 test doc")
    rows.foreach { r => assert(r.getLong(4) <= r.getLong(3)) }
  }

  test("fn_consent_bitmask_decode: planted purposes pin the extremes") {
    val rows = SparkEntry.queries("fn_consent_bitmask_decode")(spark, sf)
      .orderBy("purpose").collect()
    assert(rows.length == 12)
    val nCust = Tables.customer(spark, sf).count()
    rows.foreach { r => assert(r.getLong(1) == nCust) }
    assert(rows.head.getLong(2) == nCust, "purpose 0 universally granted")
    assert(rows(3).getLong(2) == 0, "purpose 3 universally denied")
    rows.filter(r => r.getInt(0) != 0 && r.getInt(0) != 3).foreach { r =>
      val ppm = r.getLong(3)
      assert(ppm > 300000 && ppm < 700000, s"md5 bits are near-fair: $r")
    }
  }

  test("mm_playback_qoe: switches and rebuffers bound the QoE penalty") {
    val rows = SparkEntry.queries("mm_playback_qoe")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (sessions, events, switches, rebuffers, meanRung, qoe) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(6), r.getLong(7))
      assert(switches < events, "the first event of a session never switches")
      assert(rebuffers <= events && sessions <= events)
      assert(meanRung >= 240 && meanRung <= 1080)
      assert(qoe <= 1000 && qoe > -500)
    }
  }

  test("warehouse_tag_propagation: hops partition, closure is downstream-only") {
    val rows = SparkEntry.queries("warehouse_tag_propagation")(spark, sf)
      .orderBy("hop").collect()
    assert(rows.head.getInt(0) == 0 && rows.head.getLong(1) == 3)
    assert(rows.head.getString(2) == "0,1,2")
    val allTagged = rows.flatMap(_.getString(2).split(",")).map(_.toLong)
    assert(allTagged.distinct.length == allTagged.length,
      "a table is tagged at exactly one hop")
    assert(allTagged.forall(t => t >= 0 && t < 20))
    // hop h tables are reachable: every non-seed has an in-edge from earlier
    assert(rows.length >= 3, "propagation must travel at least two hops")
  }

  test("service_saga_audit: compensation ledger balances except the plant") {
    val rows = SparkEntry.queries("service_saga_audit")(spark, sf).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (sagas, failed, ok, missing, orphans) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(ok + missing == failed,
        s"every failed saga gets exactly one verdict: $r")
      assert(orphans == missing, "the plant removes exactly one compensation")
      assert(r.getLong(6) == missing * 1000000L / sagas)
    }
    assert(rows.map(_.getLong(4)).sum >= 1, "the txn%19 plant must surface")
  }

  test("fn_damerau_edit_eval: the native DL charges transpositions once") {
    val rows = SparkEntry.queries("fn_damerau_edit_eval")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("transpose", "substitute", "delete", "clean"))
    val t = rows("transpose")
    // dl = 1 per corrupted row (0 when the swapped hex chars were equal);
    // lev = 2 there — savings is exactly the planted transposition mass
    assert(t.getLong(5) == t.getLong(2) && t.getLong(5) > 0,
      s"savings must equal dl_mass on the transpose class: $t")
    assert(t.getLong(2) * 2 == t.getLong(3), "lev charges the swap twice")
    Seq("substitute", "delete").foreach { c =>
      val r = rows(c)
      assert(r.getLong(2) == r.getLong(3) && r.getLong(5) == 0,
        s"dl == lev when no transposition exists: $r")
      assert(r.getInt(4) == 1)
    }
    val cl = rows("clean")
    assert(cl.getLong(2) == 0 && cl.getLong(3) == 0)
    // direct probes of the native expression against known DL values
    assert(org.apache.spark.sql.graftbridge.DamerauLevenshtein.distance("CA", "ABC") == 2)
    assert(org.apache.spark.sql.graftbridge.DamerauLevenshtein.distance("ab", "ba") == 1)
    assert(org.apache.spark.sql.graftbridge.DamerauLevenshtein.distance("abcd", "acbd") == 1)
  }

  test("join_entity_resolution_dl: transpositions link under DL, not lev") {
    val rows = SparkEntry.queries("join_entity_resolution_dl")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet ==
      Set("transposed", "shifted", "double_shift", "clean"))
    def parts(c: String) = {
      val r = rows(c)
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    }
    val (tn, te, tf, tu, tm) = parts("transposed")
    assert(te == 0 && tf == tn && tu == 0 && tm == tn,
      s"every transposed record links at DL 1 and lev would miss it: ${rows("transposed")}")
    val (sn, se, sf2, su, sm) = parts("shifted")
    assert(se == 0 && sf2 == sn && su == 0 && sm == 0,
      "shifted records link under both metrics")
    val (dn, de, df, du, dm) = parts("double_shift")
    assert(de == 0 && df == 0 && du == dn && dm == 0,
      "double damage is unmatchable at DL <= 1")
    val (cn, ce, cf, cu, cm) = parts("clean")
    assert(ce == cn && cf == 0 && cu == 0 && cm == 0)
  }

  test("warehouse_dead_column_audit: the masked-off tier is exactly dead") {
    val rows = SparkEntry.queries("warehouse_dead_column_audit")(spark, sf)
      .orderBy("column_id").collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      val (id, refs, dead) = (r.getInt(0), r.getLong(1), r.getBoolean(3))
      if (id >= 13) assert(dead && refs == 0, s"columns 13-15 are planted dead: $r")
      else {
        assert(!dead && refs > 0, s"live columns see md5 traffic: $r")
        assert(!r.isNullAt(2))
      }
    }
  }

  test("agg_shapley_attribution: efficiency — credits sum to the grand value") {
    val rows = SparkEntry.queries("agg_shapley_attribution")(spark, sf)
      .orderBy("channel").collect()
    assert(rows.length == 3)
    val (vFull, vEmpty) = (rows.head.getLong(3), rows.head.getLong(4))
    val sixSum = rows.map(_.getLong(2)).sum
    assert(sixSum == 6 * (vFull - vEmpty),
      s"Shapley efficiency must hold exactly in sixths: $sixSum vs ${6 * (vFull - vEmpty)}")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0, "v is monotone, so marginals are non-negative")
      assert(r.getLong(1) == r.getLong(2) * 1000000L / 6)
    }
  }

  test("service_maxmin_fair_share: allocations exhaust capacity exactly") {
    val rows = SparkEntry.queries("service_maxmin_fair_share")(spark, sf)
      .collect()
    assert(rows.length == 8)
    val demand = rows.map(_.getLong(1)).sum
    val alloc = rows.map(_.getLong(2)).sum
    assert(alloc == demand * 3 / 5, s"water-filling must spend the cap: $alloc")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "never allocate above demand")
      if (!r.getBoolean(3)) assert(r.getLong(2) == r.getLong(1))
    }
    val clippedAllocs = rows.filter(_.getBoolean(3)).map(_.getLong(2))
    if (clippedAllocs.nonEmpty)
      assert(clippedAllocs.max - clippedAllocs.min <= 1,
        s"clipped principals sit at the common level: ${clippedAllocs.toSeq}")
    val unclippedMax = rows.filter(!_.getBoolean(3)).map(_.getLong(1))
    if (unclippedMax.nonEmpty && clippedAllocs.nonEmpty)
      assert(unclippedMax.max <= clippedAllocs.max + 1,
        "satisfied demands sit at or below the fill level")
  }

  test("llm_span_corruption_plan: realized ratio hugs the 15% target") {
    val rows = SparkEntry.queries("llm_span_corruption_plan")(spark, sf)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (tokens, corrupted, sentinels, out, ppm) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(out == tokens - corrupted + sentinels)
      assert(sentinels * 3 >= corrupted, "mean span length is at most 3")
      assert(ppm >= 130000 && ppm <= 190000,
        s"ceil-div bias keeps the ratio near 15%: $r")
    }
  }

  test("service_clock_skew_audit: the minimum filter recovers planted skew") {
    val rows = SparkEntry.queries("service_clock_skew_audit")(spark, sf)
      .orderBy("node").collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (node, n, skew, spread, drift) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val planted = node * 1500L - 4000L
      assert(skew >= planted && skew < planted + 1000,
        s"min filter lands within one jitter draw of the plant: $r")
      assert(spread < 1000 && drift <= n)
      assert(r.getLong(5) == drift * 1000000L / n)
    }
  }

  test("warehouse_watermark_alignment: exactly one straggler pins the barrier") {
    val rows = SparkEntry.queries("warehouse_watermark_alignment")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.count(_.getBoolean(5)) >= 1, "the minimum is attained")
    val barrier = rows.head.getLong(3)
    rows.foreach { r =>
      assert(r.getLong(3) == barrier, "one global barrier")
      assert(r.getLong(4) == r.getLong(2) - barrier && r.getLong(4) >= 0)
      assert(r.getBoolean(5) == (r.getLong(4) == 0))
    }
  }

  test("llm_model_router_sweep: escalation and recall are monotone in the threshold") {
    val rows = SparkEntry.queries("llm_model_router_sweep")(spark, sf)
      .orderBy("threshold").collect()
    assert(rows.length == 4)
    val esc = rows.map(_.getLong(2)).toSeq
    val recall = rows.map(_.getLong(6)).toSeq
    assert(esc == esc.sorted, s"higher threshold escalates more: $esc")
    assert(recall == recall.sorted, s"recall grows with escalation: $recall")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(5), "kept wins bounded by possible")
      assert(r.getLong(3) == r.getLong(2) * 10 + (r.getLong(1) - r.getLong(2)))
    }
  }

  test("llm_html_strip: markup leaves, decoded entities stay as content") {
    val rows = SparkEntry.queries("llm_html_strip")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("block", "attributed", "entities", "plain"))
    val p = rows("plain")
    assert(p.getLong(4) == 0 && p.getLong(5) == 0 &&
      p.getLong(2) == p.getLong(3), s"plain passes through untouched: $p")
    val b = rows("block")
    assert(b.getLong(4) == 2 * b.getLong(1), s"<p></p> per doc: $b")
    val a = rows("attributed")
    assert(a.getLong(4) == 2 * a.getLong(1) && a.getLong(5) == 3 * a.getLong(1),
      s"&amp; &lt; &gt; per attributed doc: $a")
    val e = rows("entities")
    assert(e.getLong(4) == 0 && e.getLong(5) == 4 * e.getLong(1))
    assert(e.getLong(3) < e.getLong(2), "entity decode shrinks the text")
  }

  test("llm_dataset_datasheet: composite stats tie out per source") {
    val rows = SparkEntry.queries("llm_dataset_datasheet")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(5) == r.getLong(2) / r.getLong(1))
      assert(r.getLong(6) == r.getLong(3) * 1000000L / r.getLong(1))
      assert(r.getLong(8) >= 1 && r.getLong(8) <= 5, "five languages exist")
      assert(Set("en", "de", "fr", "es", "zh").contains(r.getString(7)) ||
        r.getString(7).nonEmpty)
    }
  }

  test("llm_lang_rebalance_plan: upsample capped, downsample exact") {
    val rows = SparkEntry.queries("llm_lang_rebalance_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val (docs, natural, target, factor, after) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(natural == docs * 1000000L / total)
      assert(factor <= 3000 && factor >= 1,
        s"sampling factor capped at 3x: $r")
      assert(after == docs * factor / 1000)
      if (factor < 3000)
        assert(math.abs(after - target) <= docs / 100 + 3,
          s"uncapped languages land on the target: $r")
    }
  }

  test("service_composite_slo: chain availability is the exact triple product") {
    val rows = SparkEntry.queries("service_composite_slo")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (avail, weakPpm) = (r.getLong(2), r.getLong(4))
      assert(avail <= 1000000L - weakPpm,
        s"the chain is never better than its weakest link: $r")
      assert(avail > 0 && weakPpm < 1000000L)
      assert(r.getLong(3) / 3 == r.getLong(0),
        "the weakest component belongs to its chain")
    }
  }

  test("agg_diff_in_diff: the planted +700-cent effect is recovered") {
    val rows = SparkEntry.queries("agg_diff_in_diff")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val did = r.getLong(6)
      assert(did > 400L * 1000000L && did < 1000L * 1000000L,
        s"DiD must land near the planted 700 units (in micro): $did")
    }
  }

  test("warehouse_query_fingerprint: three templates per table, hits conserve") {
    val rows = SparkEntry.queries("warehouse_query_fingerprint")(spark, sf)
      .collect()
    assert(rows.length == 7)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (n, templates, ppm, hot) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(templates == 3, s"the three WHERE shapes survive normalization: $r")
      assert(ppm == (n - templates) * 1000000L / n)
      assert(hot >= (n + 2) / 3, "pigeonhole floors the hottest template")
    }
  }

  test("warehouse_recon_rowcounts: the CDC drop is localized to one first day") {
    val rows = SparkEntry.queries("warehouse_recon_rowcounts")(spark, sf)
      .orderBy("day").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    val totalMissing = rows.map(_.getLong(3)).sum
    val want = Tables.events(spark, sf)
      .where(org.apache.spark.sql.functions.col("event_id") % 101 === 13).count()
    assert(totalMissing == want, "every planted drop is found")
    assert(rows.last.getLong(4) == totalMissing, "cumulative closes the books")
    assert(rows.count(_.getBoolean(5)) == (if (want > 0) 1 else 0),
      "exactly one first divergent day")
  }

  test("service_failover_ring_plan: outage traffic lands on healthy neighbors") {
    val rows = SparkEntry.queries("service_failover_ring_plan")(spark, sf)
      .orderBy("region").collect()
    assert(rows.length == 8)
    val unhealthy = rows.filter(!_.getBoolean(1))
    assert(unhealthy.map(_.getLong(0)).toSet == Set(2L, 5L))
    unhealthy.foreach { r =>
      assert(!r.isNullAt(3), "every outage region has a failover target")
      val t = r.getLong(3)
      assert(t != 2L && t != 5L, "never fail over to another outage")
      assert(r.getLong(4) == 0, "an unhealthy region serves nothing")
    }
    assert(unhealthy.map(_.getLong(3)).toSet == Set(3L, 6L),
      "clockwise next-healthy: 2 -> 3, 5 -> 6")
    val conserved = rows.map(_.getLong(4)).sum
    assert(conserved == rows.map(_.getLong(2)).sum,
      "post-failover load conserves total traffic")
  }

  test("join_allen_relations: the 13-class ladder partitions all pairs") {
    val rows = SparkEntry.queries("join_allen_relations")(spark, sf).collect()
    assert(rows.nonEmpty)
    val legal = Set("precedes", "preceded_by", "meets", "met_by", "overlaps",
      "overlapped_by", "finished_by", "finishes", "contains", "during",
      "starts", "started_by", "equals")
    assert(rows.map(_.getString(0)).toSet.subsetOf(legal))
    val total = rows.map(_.getLong(1)).sum
    assert(rows.map(_.getLong(2)).sum <= 1000000L,
      "shares are a sub-unit partition after truncation")
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * 1000000L / total)
    }
    assert(rows.exists(_.getString(0) == "precedes"),
      "well-separated sessions dominate sparse hours")
  }

  test("agg_wilson_lower_bound: the bound always sits below the raw rate") {
    val rows = SparkEntry.queries("agg_wilson_lower_bound")(spark, sf).collect()
    assert(rows.length == 100)
    assert(rows.map(_.getInt(5)).sorted.toSeq == (1 to 100))
    rows.foreach { r =>
      val (n, ns, phat, lb) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ns <= n && phat == ns * 1000000L / n)
      assert(lb <= phat, s"the lower bound never exceeds phat: $r")
      assert(lb >= -2000000L && lb <= 1000000L)
    }
  }

  test("llm_active_label_selection: the batch is strictly more uncertain") {
    val rows = SparkEntry.queries("llm_active_label_selection")(spark, sf)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (cand, sel, selMean, poolMean) =
        (r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(6))
      assert(sel == math.min(25, cand))
      assert(selMean <= poolMean,
        s"selecting minimal uncertainty can only lower the mean: $r")
    }
  }

  test("win_activity_streaks: streak algebra conserves active days") {
    val rows = SparkEntry.queries("win_activity_streaks")(spark, sf).collect()
    assert(rows.nonEmpty)
    val users = rows.map(_.getLong(1)).sum
    val wantUsers = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(users == wantUsers)
    rows.foreach { r =>
      val (n, record, longestMass, dayMass, power) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(record >= 1 && longestMass <= dayMass)
      assert(longestMass >= record && power <= n)
      assert(r.getLong(6) == power * 1000000L / n)
    }
  }

  test("fn_iso8601_duration: render/parse is the identity over the log") {
    val rows = SparkEntry.queries("fn_iso8601_duration")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) == 0 && r.getBoolean(5), s"roundtrip must be exact: $r")
      assert(r.getLong(4) <= 3, "327k seconds caps out under 4 days")
    }
  }

  test("mm_srt_timecode: fixed width makes lex order numeric order") {
    val rows = SparkEntry.queries("mm_srt_timecode")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == 0, s"timecode roundtrip must be exact: $r")
      assert(r.getBoolean(5), s"lexicographic max must be the numeric max: $r")
      assert(r.getString(4).length == 12)
    }
  }

  test("agg_segment_migration: the matrix partitions the customer union") {
    val rows = SparkEntry.queries("agg_segment_migration")(spark, sf).collect()
    assert(rows.nonEmpty)
    val tiers = Set("high", "mid", "low", "absent")
    rows.foreach { r =>
      assert(tiers.contains(r.getString(0)) && tiers.contains(r.getString(1)))
      assert(!(r.getString(0) == "absent" && r.getString(1) == "absent"),
        "a customer absent in both halves cannot exist")
    }
    val total = rows.map(_.getLong(2)).sum
    val want = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(total == want, "every ordering customer lands in exactly one cell")
    rows.foreach(r => assert(r.getLong(3) == r.getLong(2) * 1000000L / total))
  }
}
