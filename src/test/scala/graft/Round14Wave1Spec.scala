package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-14 wave 1 (Round14Ops): identity-graph clustering, householding,
  * DSAR fulfilment SLA — the person-service seams from the round-13 brief.
  */
class Round14Wave1Spec extends AnyFunSuite with SparkFixture {

  test("join_identity_clusters: components partition all records, bridges over-link") {
    val rows = SparkEntry.queries("join_identity_clusters")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nPersons = Tables.customer(spark, sf).count()
    // every record lands in exactly one cluster
    assert(rows.map(_.getLong(2)).sum == nPersons * 3)
    rows.foreach { r =>
      val (size, clusters, records, overlinked) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(records == size * clusters)
      assert(overlinked <= clusters)
      // a cluster needs >3 records OR a bridge to span two persons;
      // any cluster larger than 3 records MUST be over-linked
      if (size > 3) assert(overlinked == clusters)
      if (size <= 1) assert(overlinked == 0)
    }
    // the 1-in-50 bridge must produce at least one over-linked cluster
    assert(rows.map(_.getLong(3)).sum >= 1)
  }

  test("join_householding: blocks partition persons, lodgers stay singleton") {
    val rows = SparkEntry.queries("join_householding")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val (size, hh, persons, lodgerHh) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(persons == size * hh)
      assert(lodgerHh <= hh)
      // lodger surnames are unique per person — lodger households are
      // always singletons
      if (size > 1) assert(lodgerHh == 0)
    }
    // family households of size >= 2 must exist (h%3 plants 2..4)
    assert(rows.exists(r => r.getLong(0) >= 2 && r.getLong(1) > 0))
  }

  test("warehouse_dsar_sla: breaches are exact and bounded by volume") {
    val rows = SparkEntry.queries("warehouse_dsar_sla")(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalReq = Tables.events(spark, sf)
      .where(org.apache.spark.sql.functions.expr("event_id % 13 = 4")).count()
    assert(rows.map(_.getLong(1)).sum == totalReq)
    rows.foreach { r =>
      val (status, n, breaches, maxLat, mass, ppm) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      assert(Set("restricted", "standard").contains(status))
      assert(breaches <= n)
      assert(maxLat <= 44)
      assert(mass <= n * 44)
      assert(ppm == breaches * 1000000L / n)
      // latencies are ~uniform 0..44: the standard 30-day SLA must not
      // breach everything, and with >= 20 requests some breach exists
      if (status == "standard" && n >= 20) {
        assert(breaches < n)
        assert(breaches >= 1)
      }
    }
  }

  test("llm_ann_hnsw: beam search visits a bounded set, recall is exact arithmetic") {
    val rows = SparkEntry.queries("llm_ann_hnsw")(spark, sf).collect()
    assert(rows.length == 10, "one row per probe")
    rows.foreach { r =>
      val (visited, annBest, exactBest, hits, ppm) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5))
      // 3 hops x beam 8 x degree 8 caps the candidate set well under the
      // brute-force corpus scan
      assert(visited >= 8 && visited <= 3 * (8 * 8 + 8))
      assert(hits >= 0 && hits <= 5)
      assert(ppm == hits * 200000L)
      // the greedy path can never beat the exact scan
      assert(annBest <= exactBest + 1e-9)
    }
    // the NSW random graph plus 3 greedy hops must find SOMETHING real:
    // at least one probe recalls at least one exact top-5 neighbor
    assert(rows.map(_.getLong(4)).sum >= 1)
  }

  test("fn_soundex_block: homophone groups collapse, pair mass is exact") {
    val rows = SparkEntry.queries("fn_soundex_block")(spark, sf).collect()
    val codes = rows.map(_.getString(0)).toSet
    assert(codes == Set("S530", "J525", "M600", "B650", "T460", "W426", "H620"))
    assert(rows.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val (code, n, spellings, homophone, pairs) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4))
      assert(pairs == n * (n - 1) / 2)
      assert(homophone == (spellings > 1))
      // the planted pool puts 3 spellings behind S530, 2 behind J525/M600/B650
      if (code == "S530") assert(spellings == 3)
      if (Set("J525", "M600", "B650").contains(code)) assert(spellings == 2)
      if (Set("T460", "W426", "H620").contains(code)) assert(spellings == 1)
    }
  }

  test("service_hedged_requests: hedging only ever saves, wins bounded") {
    val rows = SparkEntry.queries("service_hedged_requests")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (n, hedged, wins, mass, saved, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))
      assert(hedged <= n)
      assert(wins <= hedged)
      assert(saved >= 0, "effective latency can never exceed the primary")
      assert(mass <= n * 999)
      if (hedged > 0) assert(ppm == wins * 1000000L / hedged)
      // ~70% of requests exceed the 300ms hedge point; with volume, some
      // hedge must win (l2+300 < l1 needs l1 > 300+l2, ~24% of hedges)
      if (n >= 100) { assert(hedged > 0); assert(wins > 0) }
    }
  }

  test("service_canary_analysis: only the planted service regresses at volume") {
    val rows = SparkEntry.queries("service_canary_analysis")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (svc, nBase, errBase, nCanary, errCanary) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(errBase <= nBase && errCanary <= nCanary)
      // the verdict needs >=200 canary requests; at sparse scales it must
      // simply never fire for the clean services
      if (svc != 2 && r.getLong(7) < 15000) assert(!r.getBoolean(8))
    }
    // error masses exist at every scale (5% gate over >=1000 events)
    assert(rows.map(_.getLong(2)).sum >= 1)
  }

  test("llm_best_of_n_select: advantages conserve to zero, planted winner dominates") {
    val rows = SparkEntry.queries("llm_best_of_n_select")(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getLong(2)).sum == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val (groups, samples, advPos, top, advSum, posPpm, topPpm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))
      assert(advSum == 0L, "per-group advantages must sum to zero exactly")
      assert(top <= groups)
      assert(advPos < samples, "not every sample can beat the group mean")
      assert(posPpm == advPos * 1000000L / samples)
      assert(topPpm == top * 1000000L / groups)
      // the +500 bonus makes the planted member the argmax about 62% of the
      // time; with >=30 groups per cohort it must clear a majority
      if (groups >= 30) assert(topPpm > 500000L)
    }
  }
}
