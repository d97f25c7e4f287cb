package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 waves 16+ (Round13bOps): Bradley–Terry arena ranking,
  * idempotency-replay audit, MRZ check-digit validation.
  */
class Round13Wave16Spec extends AnyFunSuite with SparkFixture {

  test("agg_bradley_terry: fitted strengths recover the planted order") {
    val rows = SparkEntry.queries("agg_bradley_terry")(spark, sf)
      .orderBy("model").collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val (m, battles, wins, p, rank) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))
      assert(wins >= 1 && wins < battles, s"degenerate wins: $r")
      assert(p > 0, s"non-positive strength: $r")
      assert(rank >= 1 && rank <= 6)
      assert(m >= 0 && m <= 5)
    }
    // planted strengths s_i = i+1: the MM fit must order models 5..0
    val byRank = rows.sortBy(_.getInt(4)).map(_.getLong(0)).toSeq
    assert(byRank == Seq(5L, 4L, 3L, 2L, 1L, 0L),
      s"rank order should follow planted strengths: $byRank")
    // strengths strictly increase with model id (ppm, fitted)
    val ps = rows.sortBy(_.getLong(0)).map(_.getLong(3)).toSeq
    assert(ps == ps.sorted, s"strength not monotone in planted skill: $ps")
  }

  test("service_idempotency_replay: replay census matches the 1-in-7 plant") {
    val rows = SparkEntry.queries("service_idempotency_replay")(spark, sf)
      .collect()
    assert(rows.length == 8)
    val nKeys = rows.map(_.getLong(2)).sum
    val nAttempts = rows.map(_.getLong(1)).sum
    val nEvents = Tables.events(spark, sf).count()
    assert(nAttempts == nEvents, "attempts must cover every event")
    rows.foreach { r =>
      val (att, keys, replayed, maxAtt, wasted, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(6), r.getLong(7))
      assert(att == keys + wasted)
      assert(maxAtt <= 3, s"plant caps attempts at 3: $r")
      assert(replayed <= keys && ppm == replayed * 1000000L / keys)
    }
    // keys ≡ 3 mod 7 triple up: replayed keys ≈ 1/7 of ids ≡ 3 mod 7
    val replayedTotal = rows.map(_.getLong(3)).sum
    assert(replayedTotal * 6 > nKeys / 2 && replayedTotal < nKeys / 4,
      s"replay mass off the planted rate: $replayedTotal of $nKeys")
  }

  test("fn_mrz_check: failures are exactly the corrupted class") {
    val rows = SparkEntry.queries("fn_mrz_check")(spark, sf).collect()
    assert(rows.nonEmpty)
    val (nDocs, nFailed) =
      (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    val want = Tables.customer(spark, sf)
      .where(col("c_custkey") % 11 === 7).count()
    assert(nFailed == want,
      s"every corrupted doc (custkey%11==7) must fail: $nFailed != $want")
    assert(nDocs == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(1))
    }
  }

  test("agg_psi_stability: planted +80 shift drifts its two types only") {
    val rows = SparkEntry.queries("agg_psi_stability")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    byType.foreach { case (t, (bn, cn, used, psi)) =>
      assert(psi >= 0, s"PSI is a divergence, must be >= 0: $t -> $psi")
      assert(used >= 1 && used <= 10)
      assert(bn > 0 && cn > 0)
    }
    val drifted = Seq("error", "purchase").map(byType(_)._4).min
    val calm = byType.filterKeys(k => k != "error" && k != "purchase")
      .values.map(_._4).max
    assert(drifted > calm,
      s"planted drift must dominate sampling noise: $drifted <= $calm")
  }

  test("service_circuit_breaker: planted outage blocks trip the breaker") {
    val rows = SparkEntry.queries("service_circuit_breaker")(spark, sf).collect()
    assert(rows.length == 4)
    val nReq = rows.map(_.getLong(1)).sum
    assert(nReq == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (open, maxW, trips, longest) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(trips >= 1, s"planted 50-event outage blocks must trip: $r")
      assert(open >= trips, "every trip is at least one open request")
      assert(longest <= open && maxW >= 8 && maxW <= 20)
    }
  }

  test("llm_rag_budget_pack: packs never exceed budget, boundary accounted") {
    val rows = SparkEntry.queries("llm_rag_budget_pack")(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).sum == 64, "all 64 queries bucketed")
    rows.foreach { r =>
      val (nq, packed, toks, dropped, util) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(toks <= nq * 256, s"budget violated: $r")
      assert(util == toks * 1000000L / (nq * 256))
      assert(dropped <= nq, "at most one boundary casualty per query")
      assert(packed >= nq, "every query packs at least its top passage")
    }
  }

  test("service_retry_storm: chains conserve attempts, gaps audited") {
    val rows = SparkEntry.queries("service_retry_storm")(spark, sf).collect()
    assert(rows.length == 4)
    val nAttempts = rows.map(_.getLong(2)).sum
    assert(nAttempts == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (chains, attempts, viol, minGap, amp, vppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))
      assert(attempts <= chains * 4 && amp == attempts * 1000000L / chains)
      assert(viol <= chains && vppm == viol * 1000000L / chains)
      assert(viol >= 1, "iid gaps make shrinking gaps certain in bulk")
      assert(minGap >= 0, "total order makes gaps non-negative")
    }
  }

  test("llm_wer_eval: clean class is zero-WER, drop3 dominates") {
    val rows = SparkEntry.queries("llm_wer_eval")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byClass = rows.groupBy(_.getString(1))
    assert(byClass("clean").forall(r => r.getLong(3) == 0 && r.getLong(4) == 0),
      "identity hypothesis must grade zero WER")
    byClass("drop3").foreach { r =>
      assert(r.getLong(3) > 0, "dropping every 3rd word must cost edits")
      assert(r.getLong(4) <= 1000000L, "WER bounded by 1 under deletion")
    }
    byClass("swap").foreach { r =>
      // swapping two adjacent words costs at most 2 edits of >= 2 words
      assert(r.getLong(4) <= 1000000L, s"swap WER bounded: $r")
    }
  }

  test("warehouse_pseudonym_consistent: tokenization is 1:1 and FK-preserving") {
    val rows = SparkEntry.queries("warehouse_pseudonym_consistent")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    assert(rows.map(_.getLong(4)).sum == Tables.orders(spark, sf).count(),
      "every order must survive the pseudonym join")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"collision: $r")
      assert(r.getLong(3) == 1L, s"pseudonym maps multiple keys: $r")
    }
  }

  test("service_impossible_travel: home-cell stays feasible, trips flag") {
    val rows = SparkEntry.queries("service_impossible_travel")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nTrans = rows.map(_.getLong(1)).sum
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(nTrans == Tables.events(spark, sf).count() - nUsers,
      "transitions = events minus one first-login per user")
    rows.foreach { r =>
      val (trans, moves, imp, maxSpeed, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(imp <= moves && moves <= trans, s"ordering violated: $r")
      assert(ppm == imp * 1000000L / trans)
      if (imp > 0) assert(maxSpeed > 900L)
    }
    assert(rows.map(_.getLong(3)).sum >= 1,
      "planted every-17th relocations must trip at least once")
  }

  test("mm_subtitle_align: cues conserve, aligned within matched") {
    val rows = SparkEntry.queries("mm_subtitle_align")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nCues = rows.map(_.getLong(1)).sum
    assert(nCues == Tables.events(spark, sf)
      .where(col("event_id") % 2 === 1).count())
    rows.foreach { r =>
      val (cues, matched, aligned, orphans, mass) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(matched + orphans == cues, s"match census must partition: $r")
      assert(aligned <= matched, s"aligned is a subset of matched: $r")
      assert(mass >= 0)
    }
  }

  test("llm_crawl_frontier_plan: politeness budget bounds every round") {
    val rows = SparkEntry.queries("llm_crawl_frontier_plan")(spark, sf)
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (urls, hosts, rounds, r0, share) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(r0 <= hosts * 2, s"round 0 exceeds 2-per-host politeness: $r")
      assert(rounds >= (urls + 2 * hosts - 1) / (2 * hosts),
        s"cannot drain faster than the budget allows: $r")
      assert(share == r0 * 1000000L / urls)
    }
  }

  test("llm_moe_router_balance: top-2 routing conserves, balance >= 1e6") {
    val rows = SparkEntry.queries("llm_moe_router_balance")(spark, sf).collect()
    assert(rows.length == 4)
    val nAssign = rows.map(_.getLong(2)).sum
    assert(nAssign == 2 * Tables.events(spark, sf).count(),
      "every token routes to exactly two experts")
    rows.foreach { r =>
      val (tokens, assigns, used, maxPpm, bal) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(tokens * 2 == assigns)
      assert(used <= 16 && maxPpm >= 1000000L / 16,
        s"max load cannot undercut the uniform floor: $r")
      assert(bal >= 1000000L - 16, s"L2 balance factor floors at 1e6: $r")
      assert(bal < 2000000L, s"md5 gates should stay near balanced: $r")
    }
  }

  test("mm_frame_dedup_temporal: in-shot jitter drops, shot cuts survive") {
    val rows = SparkEntry.queries("mm_frame_dedup_temporal")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (frames, dropped, kept, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(kept == frames - dropped && ppm == dropped * 1000000L / frames)
      assert(kept >= 1, "the first frame of a session is always kept")
      assert(dropped >= 1, "10-minute shots guarantee in-shot near-dups")
    }
  }

  test("fn_semver_latest: numeric order beats lexicographic where planted") {
    val rows = SparkEntry.queries("fn_semver_latest")(spark, sf).collect()
    assert(rows.length == 12)
    rows.foreach { r =>
      val (latest, lexMax) = (r.getString(3), r.getString(4))
      val Array(maj, min, pat) =
        latest.stripPrefix("v").split("\\.").map(_.toLong)
      assert(maj <= 2 && min <= 9 && pat <= 19)
      assert(r.getBoolean(5) == (latest != lexMax))
      // the true numeric latest dominates the lex pick numerically
      val Array(lm, ln, lp) = lexMax.stripPrefix("v").split("\\.").map(_.toLong)
      assert(maj * 1000000 + min * 1000 + pat >= lm * 1000000 + ln * 1000 + lp,
        s"numeric max must dominate: $latest vs $lexMax")
    }
    assert(rows.exists(_.getBoolean(5)),
      "patch 19 vs 9 must make lexicographic order wrong somewhere")
  }

  test("warehouse_retention_legal_hold: sweep never touches held rows") {
    val rows = SparkEntry.queries("warehouse_retention_legal_hold")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val (n, exp, held, conf, del) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(conf + del == exp, s"expired must partition into held/deletable: $r")
      assert(conf <= held && del <= n)
      assert(exp >= 1, "a 6.5-year corpus has expired rows under any horizon")
    }
    assert(rows.map(_.getLong(4)).sum >= 1, "the planted hold set must conflict")
  }

  test("service_api_version_adoption: only the 0.5% tail is ready") {
    val rows = SparkEntry.queries("service_api_version_adoption")(spark, sf)
      .collect()
    val byV = rows.map(r => r.getString(0) -> r).toMap
    assert(byV.keySet == Set("v0", "v1", "v2"))
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.events(spark, sf).count())
    assert(byV("v2").getLong(1) > byV("v1").getLong(1))
    assert(byV("v1").getLong(1) > byV("v0").getLong(1))
    assert(byV("v0").getBoolean(7), "v0 sits under the 1% deprecation bar")
    assert(!byV("v2").getBoolean(7), "the majority version is never ready")
    assert(byV("v0").getLong(6) < 10000L && byV("v1").getLong(6) > 10000L,
      "trailing-month shares straddle the bar exactly as planted")
  }

  test("llm_distill_agreement: flips land on the next class only") {
    val rows = SparkEntry.queries("llm_distill_agreement")(spark, sf).collect()
    assert(rows.nonEmpty)
    val support = rows.map(_.getLong(1)).sum
    assert(support == Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val (t, sup, agree, conf, ppm) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))
      assert(agree <= sup && ppm == agree * 1000000L / sup)
      if (agree < sup)
        assert(conf == (t + 1) % 8, s"planted flips target the next class: $r")
      assert(ppm > 800000L, "the ~11% flip mass caps disagreement")
    }
  }

  test("warehouse_schema_registry_compat: the planted evolution grades right") {
    val rows = SparkEntry.queries("warehouse_schema_registry_compat")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == (1L to 7L).toSet)
    // v1: no change — fully compatible
    assert(rows(1L).getBoolean(6) && rows(1L).getBoolean(7))
    // v2 adds required field 10 — backward incompatible, forward fine
    assert(!rows(2L).getBoolean(6) && rows(2L).getBoolean(7))
    // v5 drops required field 2 — forward incompatible
    assert(!rows(5L).getBoolean(7))
    rows.values.foreach { r =>
      assert(r.getBoolean(8) == (r.getBoolean(6) && r.getBoolean(7)))
      assert(r.getLong(3) <= r.getLong(1) && r.getLong(4) <= r.getLong(2))
    }
  }

  test("warehouse_dim_drift: planted drift is found, clean keys stay clean") {
    val rows = SparkEntry.queries("warehouse_dim_drift")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    val segDrift = rows.map(_.getLong(2)).sum
    val balDrift = rows.map(_.getLong(3)).sum
    val wantSeg = Tables.customer(spark, sf)
      .where(col("c_custkey") % 13 === 5).count()
    val wantBal = Tables.customer(spark, sf)
      .where(col("c_custkey") % 17 === 2).count()
    assert(segDrift == wantSeg && balDrift == wantBal,
      s"drift census must be exactly the plant: $segDrift/$wantSeg $balDrift/$wantBal")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2) + r.getLong(3))
      assert(r.getLong(6) == r.getLong(4) * 1000000L / r.getLong(1))
    }
  }

  test("llm_prefix_cache_hits: hits + distinct prefixes conserve prompts") {
    val rows = SparkEntry.queries("llm_prefix_cache_hits")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (n, distinct, hits, hottest, ppm, saved) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))
      assert(distinct <= 7, "seven system prompts exist")
      assert(hits == n - distinct, s"hits must be prompts minus misses: $r")
      assert(hottest >= (n + 6) / 7, "pigeonhole floors the hottest prefix")
      assert(ppm == hits * 1000000L / n && saved == hits * 4)
    }
  }

  test("service_load_shedding: strict priority — seniors shed no harder") {
    val rows = SparkEntry.queries("service_load_shedding")(spark, sf)
      .orderBy("priority").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(1))
    }
    val ppms = rows.map(_.getLong(4)).toSeq
    assert(ppms.head <= ppms.last,
      s"top priority must shed no harder than bottom: $ppms")
  }

  test("llm_annotator_qualification: the quality bar splits good from bad") {
    val rows = SparkEntry.queries("llm_annotator_qualification")(spark, sf)
      .collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).sum == 24)
    val qualified = rows.map(_.getLong(2)).sum
    assert(qualified >= 8 && qualified <= 20,
      s"roughly the 2-in-3 good cohort qualifies: $qualified")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), "correct golds bounded by golds")
      assert(r.getLong(6) <= r.getLong(5), "retained bounded by total")
      assert(r.getLong(7) == r.getLong(6) * 1000000L / r.getLong(5))
    }
  }

  test("agg_conversion_lag: converted is a subset with positive lags") {
    val rows = SparkEntry.queries("agg_conversion_lag")(spark, sf).collect()
    assert(rows.nonEmpty)
    val signed = rows.map(_.getLong(1)).sum
    val wantSigned = Tables.events(spark, sf)
      .where(col("event_type") === "signup")
      .select("user_id").distinct().count()
    assert(signed == wantSigned, "every signup user lands in one cohort")
    rows.foreach { r =>
      val (su, conv, ppm) = (r.getLong(1), r.getLong(2), r.getLong(6))
      assert(conv <= su && ppm == conv * 1000000L / su)
      if (conv > 0) {
        assert(r.getLong(3) >= 0, "first purchase is strictly after signup")
        assert(r.getLong(4) >= r.getLong(3))
      }
    }
  }
}
