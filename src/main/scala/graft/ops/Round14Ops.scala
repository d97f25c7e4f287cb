package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-14 operators — same paired impl/oracle style and engine-exactness
  * laws as the Round12/Round13 units: exact integer/DECIMAL(38,0) arithmetic
  * for graded values, `CAST(FLOOR(x) AS BIGINT)` on both sides, DuckDB
  * twins via HUGEINT and the `'g'` regexp flag.
  *
  * Wave 1 targets the person-service identity seams the round-13 verdict
  * called out (VERDICT r13 "Next round" item 6): identity-graph clustering
  * over matcher link pairs, householding over normalized addresses, and
  * DSAR fulfilment-latency SLA against the consent ledger.
  */
object Round14Ops extends Family {
  val ops: Seq[Op] = Seq(
    // Identity-graph clustering — the step AFTER join_fellegi_sunter
    // scores pairs: the matcher's accepted links become an undirected
    // graph over per-system person records (3 source systems, record id
    // = person*3 + sys) and connected components assign one golden
    // cluster id per real-world person. Planted topology: the 0-1 link
    // drops for person%7==3 and the 1-2 link for person%5==2 (matcher
    // misses → fragmented identities), a redundant 0-2 link lands for
    // person%3==0 (CC must not double count), and person%50==7 bridges
    // into the NEXT person (a false match → over-linked cluster, the ER
    // audit signal). Components via 6 synchronous min-label rounds —
    // cluster diameter is ≤5 by construction, each round one
    // edges⋈labels shuffle, linear at any scale (the bounded-diameter
    // little sibling of llm_dedup_cluster's pointer-doubling loop).
    // Graded census per cluster size: clusters, records, over-linked
    // clusters (records from >1 person — the merge queue a steward
    // reviews).
    Op("join_identity_clusters", (s, d) => {
      val p = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("p"))
      // coalesce: total on an empty input dir (max() is null over 0 rows)
      val maxP = p.agg(coalesce(max("p"), lit(0L))).head.getLong(0)
      val recs = p.withColumn("sys", explode(expr("sequence(0, 2)")))
        .select((col("p") * 3 + col("sys")).as("rid"))
      val e01 = p.where(col("p") % 7 =!= 3)
        .select((col("p") * 3).as("a"), (col("p") * 3 + 1).as("b"))
      val e12 = p.where(col("p") % 5 =!= 2)
        .select((col("p") * 3 + 1).as("a"), (col("p") * 3 + 2).as("b"))
      val e02 = p.where(col("p") % 3 === 0)
        .select((col("p") * 3).as("a"), (col("p") * 3 + 2).as("b"))
      val ebr = p.where(col("p") % 50 === 7 && col("p") < maxP)
        .select((col("p") * 3 + 2).as("a"), ((col("p") + 1) * 3).as("b"))
      val und = e01.unionByName(e12).unionByName(e02).unionByName(ebr)
      // checkpoint the edge list ALREADY HASH-PARTITIONED on the per-round
      // join key: every one of the 6 label rounds joins edges on "a", and
      // LogicalRDD preserves the partitioning, so the rounds re-shuffle
      // only the (small) label side instead of the edge list — 6 edge
      // exchanges removed (guide §2.4 "two operations keyed the same way
      // share one exchange"; the bucketed-layout idea applied to an
      // in-memory iteration).
      val edges = und
        .unionByName(und.select(col("b").as("a"), col("a").as("b")))
        .repartition(col("a"))
        .localCheckpoint()
      var lab = recs.withColumn("l", col("rid"))
      for (i <- 1 to 6) {
        val cand = edges
          .join(lab.select(col("rid").as("a"), col("l").as("al")), "a")
          .groupBy(col("b").as("rid")).agg(min("al").as("cand"))
        lab = lab.join(cand, Seq("rid"), "left")
          .select(col("rid"),
            least(col("l"), coalesce(col("cand"), col("l"))).as("l"))
        if (i % 3 == 0) lab = lab.localCheckpoint()
      }
      val clusters = lab.groupBy("l")
        .agg(count(lit(1)).as("cluster_size"),
          countDistinct(expr("rid DIV 3")).as("n_persons"))
      clusters.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum("cluster_size").as("n_records"),
          sum(when(col("n_persons") > 1, 1L).otherwise(0L)).as("n_overlinked"))
        .orderBy("cluster_size")
    },
      """WITH RECURSIVE
        |p AS (SELECT CAST(c_custkey AS BIGINT) AS p FROM customer),
        |mx AS (SELECT MAX(p) AS mp FROM p),
        |recs AS (SELECT p * 3 + s.range AS rid FROM p CROSS JOIN range(0, 3) s),
        |und AS (
        |  SELECT p * 3 AS a, p * 3 + 1 AS b FROM p WHERE p % 7 <> 3
        |  UNION ALL SELECT p * 3 + 1, p * 3 + 2 FROM p WHERE p % 5 <> 2
        |  UNION ALL SELECT p * 3, p * 3 + 2 FROM p WHERE p % 3 = 0
        |  UNION ALL SELECT p * 3 + 2, (p + 1) * 3 FROM p
        |    WHERE p % 50 = 7 AND p < (SELECT mp FROM mx)),
        |edges AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        |reach AS (SELECT rid AS src, rid AS dst FROM recs
        |          UNION
        |          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |lbl AS (SELECT src AS rid, MIN(dst) AS l FROM reach GROUP BY src),
        |cl AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS cluster_size,
        |         COUNT(DISTINCT rid // 3) AS n_persons FROM lbl GROUP BY l)
        |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(cluster_size) AS BIGINT) AS n_records,
        |  CAST(SUM(CASE WHEN n_persons > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlinked
        |FROM cl GROUP BY 1 ORDER BY cluster_size""".stripMargin),

    // Householding — the address+surname blocking every person service
    // runs after fn_address_parse/fn_name_standardize: four authored
    // layout variants of the SAME address (case drift, 'St.'
    // abbreviation, an Apt suffix) normalize to one canonical string
    // (upper → strip unit → strip punctuation → expand ' ST,'), and the
    // (address, surname) block groups co-resident family members into
    // households of planted size 2–4 while same-address LODGERS (unique
    // surnames) stay singletons — the false-merge the surname key
    // prevents. Graded census per household size: households, persons,
    // lodger households. One normalize projection + two rollups, no
    // joins — linear at any scale.
    Op("join_householding", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("h", expr("k DIV 4"))
        .withColumn("v", (col("k") % 4).cast("int"))
        .withColumn("surname",
          when(col("v") < col("h") % 3 + 2,
            concat(lit("fam"), (col("h") % 997).cast("string")))
            .otherwise(concat(lit("ldg"), col("k").cast("string"))))
        .withColumn("num", (col("h") % 9000 + 1).cast("string"))
        .withColumn("zip", lpad((col("h") % 100000).cast("string"), 5, "0"))
        .withColumn("raw",
          when(col("v") === 0, concat(col("num"), lit(" oak street, "), col("zip")))
            .when(col("v") === 1, concat(col("num"), lit(" Oak St., "), col("zip")))
            .when(col("v") === 2, concat(col("num"), lit(" OAK STREET, "), col("zip")))
            .otherwise(concat(col("num"), lit(" Oak St Apt 9, "), col("zip"))))
        .withColumn("addr", regexp_replace(regexp_replace(regexp_replace(
          upper(col("raw")), " APT \\d+", ""), "\\.", ""), " ST,", " STREET,"))
      val hh = t.groupBy("addr", "surname")
        .agg(count(lit(1)).as("household_size"),
          max(when(col("surname").startsWith("ldg"), 1L).otherwise(0L))
            .as("is_lodger"))
      hh.groupBy("household_size")
        .agg(count(lit(1)).as("n_households"),
          sum("household_size").as("n_persons"),
          sum("is_lodger").as("n_lodger_households"))
        .orderBy("household_size")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, c_custkey // 4 AS h,
        |    CAST(c_custkey % 4 AS INT) AS v
        |  FROM customer),
        |m AS (
        |  SELECT k, h, v,
        |    CASE WHEN v < h % 3 + 2 THEN 'fam' || CAST(h % 997 AS VARCHAR)
        |         ELSE 'ldg' || CAST(k AS VARCHAR) END AS surname,
        |    CAST(h % 9000 + 1 AS VARCHAR) AS num,
        |    lpad(CAST(h % 100000 AS VARCHAR), 5, '0') AS zip
        |  FROM t),
        |r AS (
        |  SELECT surname,
        |    regexp_replace(regexp_replace(regexp_replace(upper(
        |      CASE v WHEN 0 THEN num || ' oak street, ' || zip
        |             WHEN 1 THEN num || ' Oak St., ' || zip
        |             WHEN 2 THEN num || ' OAK STREET, ' || zip
        |             ELSE num || ' Oak St Apt 9, ' || zip END),
        |      ' APT \d+', '', 'g'), '\.', '', 'g'), ' ST,', ' STREET,', 'g') AS addr
        |  FROM m),
        |hh AS (SELECT addr, surname, CAST(COUNT(*) AS BIGINT) AS household_size,
        |         MAX(CASE WHEN surname LIKE 'ldg%' THEN 1 ELSE 0 END) AS is_lodger
        |       FROM r GROUP BY 1, 2)
        |SELECT household_size, CAST(COUNT(*) AS BIGINT) AS n_households,
        |  CAST(SUM(household_size) AS BIGINT) AS n_persons,
        |  CAST(SUM(is_lodger) AS BIGINT) AS n_lodger_households
        |FROM hh GROUP BY 1 ORDER BY household_size""".stripMargin),

    // DSAR fulfilment-latency SLA — the privacy-ops telemetry beside
    // warehouse_gdpr_subject_export (which builds the export; this op
    // audits how FAST the program answers): subject-access requests
    // (1-in-13 of the request log) carry an md5-planted fulfilment
    // latency of 0–44 days, the consent ledger (one status row per
    // subject, md5-derived) tightens the SLA to 15 days for restricted
    // subjects vs the statutory 30 — and the census per status reports
    // request volume, breaches, exact breach ppm, worst and total
    // latency. One ledger join (shuffle on subject) + one rollup.
    Op("warehouse_dsar_sla", (s, d) => {
      val req = Tables.events(s, d)
        .where(col("event_id") % 13 === 4)
        .select(col("event_id"), col("user_id"))
        .withColumn("latency_days", expr(
          s"${md5Bits("dsar", "event_id", 6)} % 45"))
      val ledger = Tables.events(s, d).select(col("user_id")).distinct()
        .withColumn("status", when(expr(
          s"${md5Bits("cst", "user_id", 6)} % 11") === 3,
          lit("restricted")).otherwise(lit("standard")))
      req.join(ledger, Seq("user_id"))
        .withColumn("sla_days",
          when(col("status") === "restricted", 15L).otherwise(30L))
        .groupBy("status")
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("latency_days") > col("sla_days"), 1L).otherwise(0L))
            .as("n_breaches"),
          max("latency_days").as("max_latency_days"),
          sum("latency_days").as("latency_mass"))
        .withColumn("breach_ppm", expr("(n_breaches * 1000000) DIV n_requests"))
        .orderBy("status")
    },
      s"""WITH req AS (
        |  SELECT event_id, user_id,
        |    ${duckMd5Bits("dsar", "event_id", 6)} % 45 AS latency_days
        |  FROM events WHERE event_id % 13 = 4),
        |led AS (
        |  SELECT user_id,
        |    CASE WHEN ${duckMd5Bits("cst", "user_id", 6)} % 11 = 3
        |      THEN 'restricted' ELSE 'standard' END AS status
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |j AS (
        |  SELECT status, latency_days,
        |    CASE WHEN status = 'restricted' THEN 15 ELSE 30 END AS sla_days
        |  FROM req JOIN led USING (user_id))
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |  CAST(SUM(CASE WHEN latency_days > sla_days THEN 1 ELSE 0 END) AS BIGINT) AS n_breaches,
        |  CAST(MAX(latency_days) AS BIGINT) AS max_latency_days,
        |  CAST(SUM(latency_days) AS BIGINT) AS latency_mass,
        |  (CAST(SUM(CASE WHEN latency_days > sla_days THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS breach_ppm
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin),

    // Graph-based ANN (HNSW-style, single layer) — the similarity-family
    // completion the round-13 verdict asked for beside brute force
    // (llm_sim_topk) and IVF (llm_sim_ann): a deterministic bounded-
    // degree neighbor graph (8 md5-chosen edges per node — the NSW
    // random-graph baseline every HNSW layer degenerates to), greedy
    // BEAM search from a fixed entry point (3 synchronous hops, beam 8:
    // expand the beam's neighbors, score by cosine, keep the best 8),
    // and the recall@5 audit against the exact top-5 full scan. Each
    // hop scores ≤ 72 candidates per probe against a BROADCAST
    // candidate list — the data-scaled work is the one exact-scan
    // recall baseline (10·n cosines), everything else is O(probes).
    // Rounded sims + id tie-break keep both engines' rankings identical.
    Op("llm_ann_hnsw", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      // max(1, n): the md5 neighbor expr takes `% n` — total on empty input
      val n = math.max(1L, e.count())
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val nbrExpr =
        s"${md5Bits("concat('hnsw:', CAST(node AS STRING), ':', CAST(j AS STRING))", 8)} % $n"
      def expand(beam: DataFrame): DataFrame =
        beam.select(col("probe_id"), col("node"))
          .withColumn("j", explode(expr("sequence(0, 7)")))
          .withColumn("v", expr(nbrExpr))
          .select(col("probe_id"),
            when(col("v") === col("node"), (col("v") + 1) % n)
              .otherwise(col("v")).as("node"))
          .unionByName(beam.select("probe_id", "node"))
          .distinct()
      def score(cand: DataFrame): DataFrame =
        e.join(broadcast(cand), e("vec_id") === cand("node"))
          .join(broadcast(probes), Seq("probe_id"))
          .where(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("node"),
            round(call_function("cosine_sim", col("p_emb"), col("emb")), 4)
              .as("sim"))
      val wB = Window.partitionBy("probe_id").orderBy(desc("sim"), col("node"))
      def top(scored: DataFrame, k: Int): DataFrame =
        scored.withColumn("r", row_number().over(wB)).where(col("r") <= k)
          .select("probe_id", "node")
      val b0 = probes.select(col("probe_id"), lit(0L).as("node"))
      val s1 = score(expand(b0)).localCheckpoint()
      val s2 = score(expand(top(s1, 8))).localCheckpoint()
      val s3 = score(expand(top(s2, 8))).localCheckpoint()
      val visited = s1.unionByName(s2).unionByName(s3)
        .groupBy("probe_id", "node").agg(max("sim").as("sim"))
      val found5 = top(visited, 5)
      val exact = broadcast(probes).join(e, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("node"),
          round(call_function("cosine_sim", col("p_emb"), col("emb")), 4)
            .as("sim"))
      val exact5 = top(exact, 5)
      val hits = exact5
        .join(found5.withColumn("hit", lit(1L)), Seq("probe_id", "node"), "left")
        .groupBy("probe_id").agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      val vstats = visited.groupBy("probe_id")
        .agg(count(lit(1)).as("n_visited"), max("sim").as("ann_best_sim"))
      val estats = exact.groupBy("probe_id").agg(max("sim").as("exact_best_sim"))
      vstats.join(hits, Seq("probe_id")).join(estats, Seq("probe_id"))
        .select(col("probe_id"), col("n_visited"), col("ann_best_sim"),
          col("exact_best_sim"), col("n_hits"),
          expr("n_hits * 200000").as("recall_ppm"))
        .orderBy("probe_id")
    },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |nn AS (SELECT COUNT(*) AS n FROM e),
         |p AS (SELECT vec_id AS probe_id, emb AS p_emb FROM e WHERE vec_id < 10),
         |b0 AS (SELECT probe_id, CAST(0 AS BIGINT) AS node FROM p),
         |${hnswHopSql(1, "b0")},
         |${hnswHopSql(2, "b1")},
         |${hnswHopSql(3, "b2")},
         |visited AS (
         |  SELECT probe_id, node, MAX(sim) AS sim FROM (
         |    SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3) u
         |  GROUP BY 1, 2),
         |found5 AS (
         |  SELECT probe_id, node FROM (
         |    SELECT probe_id, node,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, node) AS r
         |    FROM visited) qf WHERE r <= 5),
         |exact AS (
         |  SELECT p.probe_id, e.vec_id AS node,
         |    ROUND(list_cosine_similarity(p.p_emb, e.emb), 4) AS sim
         |  FROM p, e WHERE e.vec_id <> p.probe_id),
         |exact5 AS (
         |  SELECT probe_id, node FROM (
         |    SELECT probe_id, node,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, node) AS r
         |    FROM exact) qe WHERE r <= 5),
         |hits AS (
         |  SELECT x.probe_id,
         |    CAST(SUM(CASE WHEN f.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact5 x LEFT JOIN found5 f
         |    ON f.probe_id = x.probe_id AND f.node = x.node
         |  GROUP BY 1),
         |v AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_visited,
         |        MAX(sim) AS ann_best_sim FROM visited GROUP BY 1),
         |ex AS (SELECT probe_id, MAX(sim) AS exact_best_sim FROM exact GROUP BY 1)
         |SELECT v.probe_id, n_visited, ann_best_sim, exact_best_sim, n_hits,
         |  n_hits * 200000 AS recall_ppm
         |FROM v JOIN hits USING (probe_id) JOIN ex USING (probe_id)
         |ORDER BY probe_id""".stripMargin),

    // Phonetic blocking (Soundex) — the third blocking key in the ER
    // toolbox beside the prefix block (join_entity_resolution) and the
    // address block (join_householding): a 12-surname authored pool in
    // which SMITH/SMYTH/SCHMIDT, JOHNSON/JONSON, MEYER/MAYER and
    // BROWN/BRAUN are planted homophone groups, coded by the engine's
    // soundex and censused per code — records, distinct spellings,
    // homophone flag, and the candidate-pair mass n(n−1)/2 the block
    // would feed a matcher (the blocking-cost driver). The oracle
    // carries the authored pool's expected codes, so an engine soundex
    // drift on ANY of the 12 names breaks the rollup. One projection +
    // rollup, linear at any scale.
    Op("fn_soundex_block", (s, d) => {
      val pool = array(lit("SMITH"), lit("SMYTH"), lit("SCHMIDT"),
        lit("JOHNSON"), lit("JONSON"), lit("MEYER"), lit("MAYER"),
        lit("BROWN"), lit("BRAUN"), lit("TAYLOR"), lit("WALKER"),
        lit("HARRIS"))
      Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("name", element_at(pool, (col("k") % 12 + 1).cast("int")))
        .withColumn("code", soundex(col("name")))
        .groupBy("code")
        .agg(count(lit(1)).as("n_records"),
          countDistinct("name").as("n_spellings"))
        .withColumn("homophone", col("n_spellings") > 1)
        .withColumn("pair_mass", expr(
          "CAST((CAST(n_records AS DECIMAL(38,0)) * (n_records - 1)) DIV 2 AS BIGINT)"))
        .orderBy("code")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    ['SMITH','SMYTH','SCHMIDT','JOHNSON','JONSON','MEYER','MAYER',
        |     'BROWN','BRAUN','TAYLOR','WALKER','HARRIS'][CAST(c_custkey % 12 AS INT) + 1] AS name
        |  FROM customer),
        |c AS (
        |  -- the authored pool's expected American-Soundex codes: the
        |  -- oracle pins the CONTRACT (engine soundex drift on any of
        |  -- the 12 names breaks the rollup)
        |  SELECT k, name,
        |    CASE name
        |      WHEN 'SMITH' THEN 'S530' WHEN 'SMYTH' THEN 'S530'
        |      WHEN 'SCHMIDT' THEN 'S530'
        |      WHEN 'JOHNSON' THEN 'J525' WHEN 'JONSON' THEN 'J525'
        |      WHEN 'MEYER' THEN 'M600' WHEN 'MAYER' THEN 'M600'
        |      WHEN 'BROWN' THEN 'B650' WHEN 'BRAUN' THEN 'B650'
        |      WHEN 'TAYLOR' THEN 'T460' WHEN 'WALKER' THEN 'W426'
        |      ELSE 'H620' END AS code
        |  FROM t)
        |SELECT code, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(COUNT(DISTINCT name) AS BIGINT) AS n_spellings,
        |  COUNT(DISTINCT name) > 1 AS homophone,
        |  CAST((CAST(COUNT(*) AS HUGEINT) * (COUNT(*) - 1)) // 2 AS BIGINT) AS pair_mass
        |FROM c GROUP BY 1 ORDER BY code""".stripMargin),

    // Hedged requests — the tail-latency defense every serving layer
    // runs (issue a second copy once the first has been in flight past
    // the hedge threshold, take whichever answers first): md5-planted
    // primary latencies 0–999 ms, hedge fires at 300 ms, effective
    // latency = min(primary, 300 + hedge). Per service: requests,
    // hedged, hedge wins (+ exact win ppm), total effective-latency
    // mass and the saved-ms mass — the report that justifies the 2×
    // request cost. One projection + rollup, linear at any scale.
    Op("service_hedged_requests", (s, d) => {
      Tables.events(s, d)
        .select((col("user_id") % 4).as("svc"), col("event_id"))
        .withColumn("l1", expr(
          s"${md5Bits("h1", "event_id", 6)} % 1000"))
        .withColumn("l2", expr(
          s"${md5Bits("h2", "event_id", 6)} % 1000"))
        .withColumn("hedged", col("l1") > 300)
        .withColumn("eff",
          when(col("hedged"), least(col("l1"), col("l2") + 300))
            .otherwise(col("l1")))
        .groupBy("svc")
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("hedged"), 1L).otherwise(0L)).as("n_hedged"),
          sum(when(col("hedged") && col("l2") + 300 < col("l1"), 1L)
            .otherwise(0L)).as("n_wins"),
          sum("eff").as("latency_mass_ms"),
          sum(col("l1") - col("eff")).as("saved_ms"))
        .withColumn("win_ppm",
          expr("(n_wins * 1000000) DIV NULLIF(n_hedged, 0)"))
        .orderBy("svc")
    },
      s"""WITH r AS (
        |  SELECT user_id % 4 AS svc,
        |    ${duckMd5Bits("h1", "event_id", 6)} % 1000 AS l1,
        |    ${duckMd5Bits("h2", "event_id", 6)} % 1000 AS l2
        |  FROM events),
        |e AS (
        |  SELECT svc, l1, l2, l1 > 300 AS hedged,
        |    CASE WHEN l1 > 300 THEN LEAST(l1, l2 + 300) ELSE l1 END AS eff
        |  FROM r)
        |SELECT svc, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |  CAST(SUM(CASE WHEN hedged THEN 1 ELSE 0 END) AS BIGINT) AS n_hedged,
        |  CAST(SUM(CASE WHEN hedged AND l2 + 300 < l1 THEN 1 ELSE 0 END) AS BIGINT) AS n_wins,
        |  CAST(SUM(eff) AS BIGINT) AS latency_mass_ms,
        |  CAST(SUM(l1 - eff) AS BIGINT) AS saved_ms,
        |  (CAST(SUM(CASE WHEN hedged AND l2 + 300 < l1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // NULLIF(CAST(SUM(CASE WHEN hedged THEN 1 ELSE 0 END) AS BIGINT), 0) AS win_ppm
        |FROM e GROUP BY 1 ORDER BY svc""".stripMargin),

    // Canary analysis — the deploy gate beside agg_ab_srm (which checks
    // assignment; this checks OUTCOME): 10% of principals route to the
    // canary, the baseline error gate is 5%, and service 2's canary
    // carries a planted +4-point regression. Per service: exact
    // base/canary error ppm, the delta, and a PRACTICAL-significance
    // verdict on pure integers (delta > 20 000 ppm AND ≥ 200 canary
    // requests — the min-sample gate that keeps sparse fixtures from
    // flapping, the same integer-verdict trick as llm_watermark_detect).
    // One conditional rollup, linear at any scale.
    Op("service_canary_analysis", (s, d) => {
      Tables.events(s, d)
        .select((col("event_id") % 4).as("svc"), col("event_id"), col("user_id"))
        .withColumn("canary", col("user_id") % 10 === 0)
        .withColumn("gate", expr(
          s"${md5Bits("ce", "event_id", 6)} % 1000"))
        .withColumn("err",
          col("gate") < when(col("canary") && col("svc") === 2, 90L).otherwise(50L))
        .groupBy("svc")
        .agg(sum(when(!col("canary"), 1L).otherwise(0L)).as("n_base"),
          sum(when(!col("canary") && col("err"), 1L).otherwise(0L)).as("err_base"),
          sum(when(col("canary"), 1L).otherwise(0L)).as("n_canary"),
          sum(when(col("canary") && col("err"), 1L).otherwise(0L)).as("err_canary"))
        .withColumn("base_err_ppm",
          expr("(err_base * 1000000) DIV NULLIF(n_base, 0)"))
        .withColumn("canary_err_ppm",
          expr("(err_canary * 1000000) DIV NULLIF(n_canary, 0)"))
        .withColumn("delta_ppm", col("canary_err_ppm") - col("base_err_ppm"))
        .withColumn("regression",
          coalesce(col("delta_ppm") > 20000 && col("n_canary") >= 200, lit(false)))
        .orderBy("svc")
    },
      s"""WITH r AS (
        |  SELECT event_id % 4 AS svc, user_id % 10 = 0 AS canary,
        |    ${duckMd5Bits("ce", "event_id", 6)} % 1000 AS gate
        |  FROM events),
        |e AS (
        |  SELECT svc, canary,
        |    gate < CASE WHEN canary AND svc = 2 THEN 90 ELSE 50 END AS err
        |  FROM r),
        |a AS (
        |  SELECT svc,
        |    CAST(SUM(CASE WHEN NOT canary THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        |    CAST(SUM(CASE WHEN NOT canary AND err THEN 1 ELSE 0 END) AS BIGINT) AS err_base,
        |    CAST(SUM(CASE WHEN canary THEN 1 ELSE 0 END) AS BIGINT) AS n_canary,
        |    CAST(SUM(CASE WHEN canary AND err THEN 1 ELSE 0 END) AS BIGINT) AS err_canary
        |  FROM e GROUP BY 1),
        |p AS (
        |  SELECT svc, n_base, err_base, n_canary, err_canary,
        |    (err_base * 1000000) // NULLIF(n_base, 0) AS base_err_ppm,
        |    (err_canary * 1000000) // NULLIF(n_canary, 0) AS canary_err_ppm
        |  FROM a)
        |SELECT svc, n_base, err_base, n_canary, err_canary,
        |  base_err_ppm, canary_err_ppm,
        |  canary_err_ppm - base_err_ppm AS delta_ppm,
        |  COALESCE(canary_err_ppm - base_err_ppm > 20000 AND n_canary >= 200,
        |    FALSE) AS regression
        |FROM p ORDER BY svc""".stripMargin),

    // Best-of-n selection — the rejection-sampling serving pattern
    // (sample 8 completions per prompt, ship the reward argmax; the
    // SELECTION telemetry beside llm_grpo_advantage's training-side
    // advantage math): md5 rewards with the group's v=0 member carrying
    // a +500 planted bonus the selector must rediscover. The group
    // argmax uses the collision-free key r·8 + (7−v), so both engines
    // break reward ties identically; the division-free advantage
    // r·n − Σr conserves to zero per group and is emitted as an
    // invariant. Per cohort: groups, samples, positive-advantage ppm,
    // planted-winner ppm. One group window + two rollups.
    Op("llm_best_of_n_select", (s, d) => {
      val wG = Window.partitionBy("g")
      val samples = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("g", expr("k DIV 8"))
        .withColumn("v", col("k") % 8)
        .withColumn("r", expr(
          s"${md5Bits("r", "k", 6)} % 1000")
          + when(col("v") === 0, 500L).otherwise(0L))
        .withColumn("n", count(lit(1)).over(wG))
        .withColumn("sum_r", sum("r").over(wG))
        .withColumn("adv", col("r") * col("n") - col("sum_r"))
      val groups = samples.groupBy("g")
        .agg(max("n").as("n"),
          sum(when(col("adv") > 0, 1L).otherwise(0L)).as("adv_pos"),
          max_by(col("v"), col("r") * 8 + (lit(7) - col("v"))).as("argmax_v"),
          sum("adv").as("adv_sum"))
      groups.groupBy((col("g") % 6).as("cohort"))
        .agg(count(lit(1)).as("n_groups"),
          sum("n").as("n_samples"),
          sum("adv_pos").as("adv_pos"),
          sum(when(col("argmax_v") === 0, 1L).otherwise(0L)).as("planted_top"),
          sum("adv_sum").as("adv_scaled_sum"))
        .withColumn("pos_ppm", expr("(adv_pos * 1000000) DIV n_samples"))
        .withColumn("planted_top_ppm",
          expr("(planted_top * 1000000) DIV n_groups"))
        .orderBy("cohort")
    },
      s"""WITH s AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderkey // 8 AS g,
        |    CAST(o_orderkey AS BIGINT) % 8 AS v,
        |    ${duckMd5Bits("r", "o_orderkey", 6)} % 1000
        |      + CASE WHEN o_orderkey % 8 = 0 THEN 500 ELSE 0 END AS r
        |  FROM orders),
        |w AS (
        |  SELECT g, v, r,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
        |    CAST(SUM(r) OVER (PARTITION BY g) AS BIGINT) AS sum_r
        |  FROM s),
        |gr AS (
        |  SELECT g, CAST(MAX(n) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN r * n - sum_r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS adv_pos,
        |    arg_max(v, r * 8 + (7 - v)) AS argmax_v,
        |    CAST(SUM(r * n - sum_r) AS BIGINT) AS adv_sum
        |  FROM w GROUP BY 1)
        |SELECT g % 6 AS cohort, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(n) AS BIGINT) AS n_samples,
        |  CAST(SUM(adv_pos) AS BIGINT) AS adv_pos,
        |  CAST(SUM(CASE WHEN argmax_v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS planted_top,
        |  CAST(SUM(adv_sum) AS BIGINT) AS adv_scaled_sum,
        |  (CAST(SUM(adv_pos) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT) AS pos_ppm,
        |  (CAST(SUM(CASE WHEN argmax_v = 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS planted_top_ppm
        |FROM gr GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Equivalised household income — the OECD-modified scale every
    // welfare/segmentation analysis applies after householding (raw
    // household income over-states large households): households of
    // planted size 2–4 (join_householding's quads, lodgers excluded),
    // members v<2 are adults, the rest children, scale_milli = 1000 +
    // 500·(adults−1) + 300·children, equivalised cents = income·1000
    // DIV scale — exact at every step. Census per household size:
    // households, raw income mass, equivalised mass + mean. Two
    // rollups, linear at any scale.
    Op("agg_household_equivalence", (s, d) => {
      val hh = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("h", expr("k DIV 4"))
        .withColumn("v", col("k") % 4)
        .withColumn("hsize", col("h") % 3 + 2)
        .where(col("v") < col("hsize"))
        .withColumn("inc_cents", expr(
          s"${md5Bits("inc", "k", 8)} % 900000 + 100000"))
        .groupBy("h")
        .agg(sum("inc_cents").as("income_cents"),
          count(lit(1)).as("n_members"))
        // partial tail quads can author fewer members than hsize — scale
        // by the members PRESENT so the arithmetic stays conserved
        .withColumn("adults", least(col("n_members"), lit(2L)))
        .withColumn("children", col("n_members") - col("adults"))
        .withColumn("scale_milli",
          lit(1000L) + (col("adults") - 1) * 500 + col("children") * 300)
        .withColumn("equiv_cents",
          expr("(income_cents * 1000) DIV scale_milli"))
      hh.groupBy(col("n_members").as("household_size"))
        .agg(count(lit(1)).as("n_households"),
          sum("income_cents").as("income_mass_cents"),
          sum("equiv_cents").as("equiv_mass_cents"))
        .withColumn("mean_equiv_cents",
          expr("equiv_mass_cents DIV n_households"))
        .orderBy("household_size")
    },
      s"""WITH m AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, c_custkey // 4 AS h,
        |    CAST(c_custkey AS BIGINT) % 4 AS v,
        |    (c_custkey // 4) % 3 + 2 AS hsize,
        |    ${duckMd5Bits("inc", "c_custkey", 8)}
        |      % 900000 + 100000 AS inc_cents
        |  FROM customer),
        |hh AS (
        |  SELECT h, CAST(SUM(inc_cents) AS BIGINT) AS income_cents,
        |    CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM m WHERE v < hsize GROUP BY h),
        |sc AS (
        |  SELECT n_members, income_cents,
        |    1000 + (LEAST(n_members, 2) - 1) * 500
        |      + (n_members - LEAST(n_members, 2)) * 300 AS scale_milli
        |  FROM hh),
        |eq AS (
        |  SELECT n_members AS household_size, income_cents,
        |    (income_cents * 1000) // scale_milli AS equiv_cents
        |  FROM sc)
        |SELECT household_size, CAST(COUNT(*) AS BIGINT) AS n_households,
        |  CAST(SUM(income_cents) AS BIGINT) AS income_mass_cents,
        |  CAST(SUM(equiv_cents) AS BIGINT) AS equiv_mass_cents,
        |  CAST(SUM(equiv_cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_equiv_cents
        |FROM eq GROUP BY 1 ORDER BY household_size""".stripMargin),

    // Deadline-budget propagation — the call-chain timeout arithmetic a
    // distributed person-service must get right (each hop inherits the
    // REMAINING budget, and a request dies at the first hop whose
    // latency exceeds it): md5-planted deadlines 1000–4999 ms, four
    // chained hop latencies 0–799 ms, failure depth = the first hop
    // where the cumulative latency passes the deadline. Per service:
    // completions, the per-hop failure histogram (where the chain
    // actually dies — the timeout-tuning report), and the exact
    // end-to-end slack mass on completions. Pure unrolled projection +
    // rollup, linear at any scale.
    Op("service_deadline_propagation", (s, d) => {
      def hop(i: Int) =
        s"${md5Bits(s"concat('hl:', CAST(event_id AS STRING), ':', '$i')", 6)} % 800"
      Tables.events(s, d)
        .select((col("event_id") % 4).as("svc"), col("event_id"))
        .withColumn("dl", expr(
          s"${md5Bits("dl", "event_id", 6)} % 4000 + 1000"))
        .withColumn("c1", expr(hop(1)))
        .withColumn("c2", col("c1") + expr(hop(2)))
        .withColumn("c3", col("c2") + expr(hop(3)))
        .withColumn("c4", col("c3") + expr(hop(4)))
        .withColumn("fail_hop",
          when(col("c1") > col("dl"), 1L).when(col("c2") > col("dl"), 2L)
            .when(col("c3") > col("dl"), 3L).when(col("c4") > col("dl"), 4L)
            .otherwise(0L))
        .groupBy("svc")
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("fail_hop") === 0, 1L).otherwise(0L)).as("n_completed"),
          sum(when(col("fail_hop") === 1, 1L).otherwise(0L)).as("failed_h1"),
          sum(when(col("fail_hop") === 2, 1L).otherwise(0L)).as("failed_h2"),
          sum(when(col("fail_hop") === 3, 1L).otherwise(0L)).as("failed_h3"),
          sum(when(col("fail_hop") === 4, 1L).otherwise(0L)).as("failed_h4"),
          sum(when(col("fail_hop") === 0, col("dl") - col("c4")).otherwise(0L))
            .as("slack_mass_ms"))
        .withColumn("mean_slack_ms",
          expr("slack_mass_ms DIV NULLIF(n_completed, 0)"))
        .orderBy("svc")
    },
      s"""WITH r AS (
        |  SELECT event_id % 4 AS svc,
        |    ${duckMd5Bits("dl", "event_id", 6)} % 4000 + 1000 AS dl,
        |    ${duckMd5Bits("'hl:' || CAST(event_id AS VARCHAR) || ':1'", 6)} % 800 AS l1,
        |    ${duckMd5Bits("'hl:' || CAST(event_id AS VARCHAR) || ':2'", 6)} % 800 AS l2,
        |    ${duckMd5Bits("'hl:' || CAST(event_id AS VARCHAR) || ':3'", 6)} % 800 AS l3,
        |    ${duckMd5Bits("'hl:' || CAST(event_id AS VARCHAR) || ':4'", 6)} % 800 AS l4
        |  FROM events),
        |c AS (
        |  SELECT svc, dl, l1 AS c1, l1 + l2 AS c2, l1 + l2 + l3 AS c3,
        |    l1 + l2 + l3 + l4 AS c4
        |  FROM r),
        |f AS (
        |  SELECT svc, dl, c4,
        |    CASE WHEN c1 > dl THEN 1 WHEN c2 > dl THEN 2
        |         WHEN c3 > dl THEN 3 WHEN c4 > dl THEN 4 ELSE 0 END AS fail_hop
        |  FROM c)
        |SELECT svc, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |  CAST(SUM(CASE WHEN fail_hop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_completed,
        |  CAST(SUM(CASE WHEN fail_hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS failed_h1,
        |  CAST(SUM(CASE WHEN fail_hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS failed_h2,
        |  CAST(SUM(CASE WHEN fail_hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS failed_h3,
        |  CAST(SUM(CASE WHEN fail_hop = 4 THEN 1 ELSE 0 END) AS BIGINT) AS failed_h4,
        |  CAST(SUM(CASE WHEN fail_hop = 0 THEN dl - c4 ELSE 0 END) AS BIGINT) AS slack_mass_ms,
        |  CAST(SUM(CASE WHEN fail_hop = 0 THEN dl - c4 ELSE 0 END) AS BIGINT)
        |    // NULLIF(CAST(SUM(CASE WHEN fail_hop = 0 THEN 1 ELSE 0 END) AS BIGINT), 0)
        |    AS mean_slack_ms
        |FROM f GROUP BY 1 ORDER BY svc""".stripMargin),

    // Inverse-propensity-weighted ATE — the design-weight causal
    // estimator beside agg_stratified_ate (stratify-then-average) and
    // agg_diff_in_diff (pre/post): treatment assignment is confounded
    // by stratum (p_milli = 200 + z·150), the outcome carries both the
    // stratum drift (+100·z) and the planted +250 treatment effect, and
    // IPTW undoes the confounding with EXACT integer design weights
    // w = 1e6 DIV p (treated) / 1e6 DIV (1000−p) (control). The op
    // emits the per-stratum weighted masses; the global Horvitz–
    // Thompson ratio built from them recovers the +250 (the spec's
    // assertion). One distinct + conditional rollup.
    Op("agg_iptw_ate", (s, d) => {
      Tables.events(s, d).select(col("user_id")).distinct()
        .withColumn("z", col("user_id") % 5)
        .withColumn("p_milli", lit(200L) + col("z") * 150)
        .withColumn("treated", expr(
          s"${md5Bits("t", "user_id", 6)} % 1000") < col("p_milli"))
        .withColumn("y_cents", expr(
          s"${md5Bits("y", "user_id", 6)} % 1000")
          + col("z") * 100 + when(col("treated"), 250L).otherwise(0L))
        .withColumn("w", when(col("treated"), expr("1000000 DIV p_milli"))
          .otherwise(expr("1000000 DIV (1000 - p_milli)")))
        .groupBy("z")
        .agg(count(lit(1)).as("n"),
          sum(when(col("treated"), 1L).otherwise(0L)).as("n_treated"),
          max("p_milli").as("p_milli"),
          sum(when(col("treated"), col("w") * col("y_cents")).otherwise(0L))
            .as("wy_treated"),
          sum(when(col("treated"), col("w")).otherwise(0L)).as("w_treated"),
          sum(when(!col("treated"), col("w") * col("y_cents")).otherwise(0L))
            .as("wy_control"),
          sum(when(!col("treated"), col("w")).otherwise(0L)).as("w_control"))
        .orderBy("z")
    },
      s"""WITH u AS (
        |  SELECT user_id, user_id % 5 AS z, 200 + (user_id % 5) * 150 AS p_milli,
        |    ${duckMd5Bits("t", "user_id", 6)} % 1000
        |      < 200 + (user_id % 5) * 150 AS treated,
        |    ${duckMd5Bits("y", "user_id", 6)} % 1000 AS ybase
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |v AS (
        |  SELECT z, p_milli, treated,
        |    ybase + z * 100 + CASE WHEN treated THEN 250 ELSE 0 END AS y_cents,
        |    CASE WHEN treated THEN 1000000 // p_milli
        |         ELSE 1000000 // (1000 - p_milli) END AS w
        |  FROM u)
        |SELECT z, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
        |  CAST(MAX(p_milli) AS BIGINT) AS p_milli,
        |  CAST(SUM(CASE WHEN treated THEN w * y_cents ELSE 0 END) AS BIGINT) AS wy_treated,
        |  CAST(SUM(CASE WHEN treated THEN w ELSE 0 END) AS BIGINT) AS w_treated,
        |  CAST(SUM(CASE WHEN NOT treated THEN w * y_cents ELSE 0 END) AS BIGINT) AS wy_control,
        |  CAST(SUM(CASE WHEN NOT treated THEN w ELSE 0 END) AS BIGINT) AS w_control
        |FROM v GROUP BY 1 ORDER BY z""".stripMargin),

    // Homoglyph / confusable-script detection — the impersonation screen
    // a person-service runs over handles (a Cyrillic 'а' in a Latin name
    // is the classic account-spoof): authored handles carry planted
    // substitutions (class 1: Latin a → Cyrillic а; class 2: both o → о
    // and e → е), the detector skeleton-maps the confusable set back to
    // Latin with one translate() and flags any handle the mapping
    // changes. Graded per class: handles, flagged, confusable-char mass,
    // and the skeletons that round-trip to the authored clean form (must
    // be ALL of the flagged — the detector recovers identity, not just
    // suspicion). One projection + rollup, linear at any scale.
    Op("fn_homoglyph_detect", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("clean",
          concat(lit("pace"), lpad((col("k") % 1000).cast("string"), 3, "0"),
            lit("oxe")))
        .withColumn("cls", (col("k") % 9).cast("int"))
        .withColumn("handle",
          when(col("cls") === 4, regexp_replace(col("clean"), "a", "а"))
            .when(col("cls") === 5, regexp_replace(
              regexp_replace(col("clean"), "o", "о"), "e", "е"))
            .otherwise(col("clean")))
        .withColumn("skeleton",
          translate(col("handle"), "аеосрх",
            "aeocpx"))
        .withColumn("flagged", col("handle") =!= col("skeleton"))
        .withColumn("n_confusable",
          length(col("handle")) -
            length(translate(col("handle"), "аео", "")))
        .groupBy(when(col("cls") === 4, lit("single_sub"))
          .when(col("cls") === 5, lit("double_sub"))
          .otherwise(lit("clean")).as("cls"))
        .agg(count(lit(1)).as("n_handles"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          sum("n_confusable").as("confusable_mass"),
          sum(when(col("flagged") && col("skeleton") === col("clean"), 1L)
            .otherwise(0L)).as("n_recovered"))
        .orderBy("cls")
    },
      """WITH h AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    'pace' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || 'oxe' AS clean,
        |    CAST(c_custkey % 9 AS INT) AS cls
        |  FROM customer),
        |x AS (
        |  SELECT k, clean, cls,
        |    CASE WHEN cls = 4 THEN regexp_replace(clean, 'a', 'а', 'g')
        |         WHEN cls = 5 THEN regexp_replace(regexp_replace(clean, 'o', 'о', 'g'), 'e', 'е', 'g')
        |         ELSE clean END AS handle
        |  FROM h),
        |f AS (
        |  SELECT cls, clean, handle,
        |    translate(handle, 'аеосрх', 'aeocpx') AS skeleton,
        |    length(handle) - length(translate(handle, 'аео', '')) AS n_confusable
        |  FROM x)
        |SELECT CASE WHEN cls = 4 THEN 'single_sub'
        |            WHEN cls = 5 THEN 'double_sub' ELSE 'clean' END AS cls,
        |  CAST(COUNT(*) AS BIGINT) AS n_handles,
        |  CAST(SUM(CASE WHEN handle <> skeleton THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(n_confusable) AS BIGINT) AS confusable_mass,
        |  CAST(SUM(CASE WHEN handle <> skeleton AND skeleton = clean
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered
        |FROM f GROUP BY 1 ORDER BY cls""".stripMargin),

    // Envelope-encryption key-rotation audit — the crypto-hygiene ledger
    // beside warehouse_crypto_shred (which deletes keys; this tracks the
    // RE-WRAP of data keys after a KEK rotation): 70% of records were
    // written under the retired KEK v1, the re-wrap job has md5-planted
    // ~60% coverage — except segment 3, whose re-wrap is stalled at ~10%
    // (the backlog a KMS on-call hunts). Per segment: records, v1
    // records, re-wrapped, exact backlog ppm over the v1 population, and
    // the stalled verdict at > 500 000 ppm. One conditional rollup.
    Op("warehouse_key_rotation_audit", (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("segment", col("k") % 5)
        .withColumn("kek_v1", col("k") % 100 < 70)
        .withColumn("rw_gate", expr(
          s"${md5Bits("rw", "k", 6)} % 1000"))
        .withColumn("rewrapped", col("kek_v1") &&
          col("rw_gate") < when(col("segment") === 3, 100L).otherwise(600L))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("kek_v1"), 1L).otherwise(0L)).as("v1_records"),
          sum(when(col("rewrapped"), 1L).otherwise(0L)).as("n_rewrapped"))
        .withColumn("backlog", col("v1_records") - col("n_rewrapped"))
        .withColumn("backlog_ppm",
          expr("(backlog * 1000000) DIV NULLIF(v1_records, 0)"))
        .withColumn("stalled", coalesce(col("backlog_ppm") > 500000, lit(false)))
        .orderBy("segment")
    },
      s"""WITH r AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey AS BIGINT) % 5 AS segment,
        |    o_orderkey % 100 < 70 AS kek_v1,
        |    ${duckMd5Bits("rw", "o_orderkey", 6)} % 1000 AS rw_gate
        |  FROM orders),
        |w AS (
        |  SELECT segment, kek_v1,
        |    kek_v1 AND rw_gate < CASE WHEN segment = 3 THEN 100 ELSE 600 END AS rewrapped
        |  FROM r),
        |a AS (
        |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_records,
        |    CAST(SUM(CASE WHEN kek_v1 THEN 1 ELSE 0 END) AS BIGINT) AS v1_records,
        |    CAST(SUM(CASE WHEN rewrapped THEN 1 ELSE 0 END) AS BIGINT) AS n_rewrapped
        |  FROM w GROUP BY 1)
        |SELECT segment, n_records, v1_records, n_rewrapped,
        |  v1_records - n_rewrapped AS backlog,
        |  ((v1_records - n_rewrapped) * 1000000) // NULLIF(v1_records, 0) AS backlog_ppm,
        |  COALESCE(((v1_records - n_rewrapped) * 1000000) // NULLIF(v1_records, 0)
        |    > 500000, FALSE) AS stalled
        |FROM a ORDER BY segment""".stripMargin),

    // Hampel filter — the rolling-median outlier REPLACER every sensor/
    // telemetry ingest runs (win_running_median locates; Hampel decides
    // and repairs): a centered 7-row window per principal in the
    // (ts_us, event_id) total order, lower-median and lower-MAD by exact
    // rank selection inside sorted array HOFs (no float percentiles),
    // outlier ⟺ |x − med| > 4·MAD + 2 (the +2 keeps a zero-MAD window
    // from flagging everything). Per event type: points, outliers
    // replaced, exact replaced-delta mass, outlier ppm. One user window
    // + rollup — no global sort at any scale.
    Op("win_hampel_filter", (s, d) => {
      val w7 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-3, 3)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("c"))
        .withColumn("vals", collect_list("c").over(w7))
        .withColumn("srt", expr("sort_array(vals)"))
        .withColumn("med", expr(
          "element_at(srt, CAST((size(srt) + 1) DIV 2 AS INT))"))
        .withColumn("mad", expr(
          """element_at(sort_array(transform(srt, x -> abs(x - med))),
            |  CAST((size(srt) + 1) DIV 2 AS INT))""".stripMargin))
        .withColumn("outlier", expr("abs(c - med) > 4 * mad + 2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_points"),
          sum(when(col("outlier"), 1L).otherwise(0L)).as("n_outliers"),
          sum(when(col("outlier"), expr("abs(c - med)")).otherwise(0L))
            .as("replaced_delta_mass"))
        .withColumn("outlier_ppm",
          expr("(n_outliers * 1000000) DIV n_points"))
        .orderBy("event_type")
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS c
        |  FROM events),
        |w AS (
        |  SELECT event_type, c,
        |    list_sort(list(c) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS srt
        |  FROM e),
        |m AS (
        |  SELECT event_type, c, srt,
        |    srt[(len(srt) + 1) // 2] AS med
        |  FROM w),
        |o AS (
        |  SELECT event_type, c, med,
        |    list_sort(list_transform(srt, x -> abs(x - med)))[(len(srt) + 1) // 2] AS mad
        |  FROM m)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(SUM(CASE WHEN abs(c - med) > 4 * mad + 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN abs(c - med) > 4 * mad + 2 THEN abs(c - med) ELSE 0 END) AS BIGINT)
        |    AS replaced_delta_mass,
        |  (CAST(SUM(CASE WHEN abs(c - med) > 4 * mad + 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS outlier_ppm
        |FROM o GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Agent tool-call audit — the serving telemetry an LLM agent loop
    // emits (every turn issues 0–3 tool calls; arguments are model-
    // generated JSON that sometimes doesn't parse): per call an md5
    // tool id and an md5 malformed gate (1-in-17); malformed calls are
    // retried once and the retry itself hard-fails 1-in-5. Census per
    // tool: calls, malformed, recovered-by-retry, hard failures, exact
    // malformed ppm — the report that decides which tool needs a schema
    // guard. One bounded explode + rollup, linear at any scale.
    Op("llm_tool_call_audit", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"))
        .withColumn("n_calls", expr(
          s"${md5Bits("tc", "event_id", 4)} % 4"))
        .where(col("n_calls") > 0)
        .withColumn("i", explode(expr("sequence(1, CAST(n_calls AS INT))")))
        .withColumn("tool", expr(
          s"${md5Bits("concat('tt:', CAST(event_id AS STRING), ':', CAST(i AS STRING))", 6)} % 6"))
        .withColumn("malformed", expr(
          s"${md5Bits("concat('tm:', CAST(event_id AS STRING), ':', CAST(i AS STRING))", 6)} % 17") === 3)
        .withColumn("hard_fail", col("malformed") && expr(
          s"${md5Bits("concat('tr:', CAST(event_id AS STRING), ':', CAST(i AS STRING))", 6)} % 5") === 0)
        .groupBy("tool")
        .agg(count(lit(1)).as("n_calls"),
          sum(when(col("malformed"), 1L).otherwise(0L)).as("n_malformed"),
          sum(when(col("malformed") && !col("hard_fail"), 1L).otherwise(0L))
            .as("n_recovered"),
          sum(when(col("hard_fail"), 1L).otherwise(0L)).as("n_hard_failures"))
        .withColumn("malformed_ppm",
          expr("(n_malformed * 1000000) DIV n_calls"))
        .orderBy("tool")
    },
      s"""WITH t AS (
        |  SELECT event_id,
        |    ${duckMd5Bits("tc", "event_id", 4)} % 4 AS n_calls
        |  FROM events),
        |c AS (
        |  SELECT event_id, i.range + 1 AS i FROM t
        |  CROSS JOIN range(0, 3) i WHERE i.range + 1 <= n_calls),
        |x AS (
        |  SELECT
        |    ${duckMd5Bits("'tt:' || CAST(event_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 6)} % 6 AS tool,
        |    ${duckMd5Bits("'tm:' || CAST(event_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 6)} % 17 = 3 AS malformed,
        |    ${duckMd5Bits("'tr:' || CAST(event_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 6)} % 5 = 0 AS retry_dies
        |  FROM c)
        |SELECT tool, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |  CAST(SUM(CASE WHEN malformed THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed,
        |  CAST(SUM(CASE WHEN malformed AND NOT retry_dies THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
        |  CAST(SUM(CASE WHEN malformed AND retry_dies THEN 1 ELSE 0 END) AS BIGINT) AS n_hard_failures,
        |  (CAST(SUM(CASE WHEN malformed THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS malformed_ppm
        |FROM x GROUP BY 1 ORDER BY tool""".stripMargin),

    // Column-grain lineage taint — tag_propagation's finer sibling (the
    // question a DPO actually asks is "which COLUMNS carry PII", not
    // which tables): 12 tables × 4 columns, pass-through mappings
    // (t, c) ← (t−1, c) plus a transform edge (t, c) ← (t−2, (c+1)%4)
    // on even tables; PII seeded on (0,1) and (1,3). The ≤4-hop taint
    // closure is built in ONE plan — walks of length 0..4 via chained
    // self-joins of the 88-row mapping table, min-hop per column = the
    // taint level (the flattened shape VERDICT r13 item 5 prescribed
    // for tag_propagation). Graded per hop: newly tainted columns,
    // sorted list.
    Op("warehouse_column_lineage", (s, d) => {
      def cols0 = s.range(48).select(col("id").as("n"))
      def edges = {
        val t = s.range(12).select(col("id").as("t"))
        val c = s.range(4).select(col("id").as("c"))
        val tc = t.crossJoin(c)
        val pass = tc.where(col("t") >= 1)
          .select(((col("t") - 1) * 4 + col("c")).as("src"),
            (col("t") * 4 + col("c")).as("dst"))
        val xform = tc.where(col("t") >= 2 && col("t") % 2 === 0)
          .select(((col("t") - 2) * 4 + (col("c") + 1) % 4).as("src"),
            (col("t") * 4 + col("c")).as("dst"))
        pass.unionByName(xform)
      }
      def step(w: DataFrame, h: Int): DataFrame = {
        val e = edges
        w.join(e, w("n") === e("src")).select(col("dst").as("n"), lit(h).as("hop"))
      }
      val w0 = cols0.where(col("n") === 1 || col("n") === 7)
        .select(col("n"), lit(0).as("hop"))
      val w1 = step(w0, 1); val w2 = step(w1, 2)
      val w3 = step(w2, 3); val w4 = step(w3, 4)
      w0.unionByName(w1).unionByName(w2).unionByName(w3).unionByName(w4)
        .groupBy("n").agg(min("hop").as("hop"))
        .groupBy("hop")
        .agg(count(lit(1)).as("newly_tainted"),
          expr("array_join(sort_array(collect_list(CAST(n AS STRING))), ',')")
            .as("columns_csv"))
        .orderBy("hop")
    },
      """WITH RECURSIVE
        |tc AS (SELECT t.range AS t, c.range AS c
        |       FROM range(0, 12) t CROSS JOIN range(0, 4) c),
        |edges AS (
        |  SELECT (t - 1) * 4 + c AS src, t * 4 + c AS dst FROM tc WHERE t >= 1
        |  UNION ALL
        |  SELECT (t - 2) * 4 + (c + 1) % 4, t * 4 + c FROM tc
        |    WHERE t >= 2 AND t % 2 = 0),
        |seed AS (SELECT 1 AS n UNION ALL SELECT 7),
        |reach AS (SELECT n, 0 AS hop FROM seed
        |          UNION
        |          SELECT e.dst, r.hop + 1 FROM reach r JOIN edges e ON r.n = e.src
        |          WHERE r.hop < 4),
        |lvl AS (SELECT n, CAST(MIN(hop) AS INT) AS hop FROM reach GROUP BY n)
        |SELECT hop, CAST(COUNT(*) AS BIGINT) AS newly_tainted,
        |  list_aggregate(list_sort(list(CAST(n AS VARCHAR))), 'string_agg', ',')
        |    AS columns_csv
        |FROM lvl GROUP BY 1 ORDER BY hop""".stripMargin),

    // Color-palette quantization — the image-preprocessing census over
    // the opaque payload column (the codec stub convention of
    // mm_decode_meta: real decoders aren't in this container, so the
    // "pixels" are the payload's own bytes at 32 strided offsets — the
    // plumbing, schema and arithmetic are real): 4-level luminance
    // palette (byte DIV 32 capped at 3), dominant level by exact count
    // with lowest-level tie-break, contrast = max−min. Census per
    // (source, dominant level): docs, exact mean contrast. One bounded
    // explode + two rollups + a doc-partitioned argmax window.
    Op("mm_color_quantize", (s, d) => {
      val px = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"),
          length(col("text")).as("len"))
        .where(col("len") >= 32)
        .withColumn("i", explode(expr("sequence(0, 31)")))
        .withColumn("p", expr("ascii(substring(text, (i * 37) % len + 1, 1))"))
        .withColumn("lvl", least(expr("p DIV 32"), lit(3)).cast("long"))
      val perDoc = px.groupBy("doc_id", "source")
        .agg(max("p").as("pmax"), min("p").as("pmin"))
      val wDom = Window.partitionBy("doc_id")
        .orderBy(col("cnt").desc, col("lvl"))
      val dom = px.groupBy("doc_id", "lvl").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wDom))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("lvl").as("dominant_lvl"))
      perDoc.join(dom, Seq("doc_id"))
        .groupBy("source", "dominant_lvl")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pmax") - col("pmin")).as("contrast_mass"))
        .withColumn("mean_contrast", expr("contrast_mass DIV n_docs"))
        .orderBy("source", "dominant_lvl")
    },
      """WITH d AS (
        |  SELECT doc_id, source, text, length(text) AS len FROM documents
        |  WHERE length(text) >= 32),
        |px AS (
        |  SELECT doc_id, source,
        |    ascii(substring(text, CAST((i.range * 37) % len + 1 AS INT), 1)) AS p
        |  FROM d CROSS JOIN range(0, 32) i),
        |lv AS (SELECT doc_id, source, p, LEAST(p // 32, 3) AS lvl FROM px),
        |pd AS (SELECT doc_id, source, CAST(MAX(p) AS BIGINT) AS pmax,
        |         CAST(MIN(p) AS BIGINT) AS pmin FROM lv GROUP BY 1, 2),
        |cnts AS (SELECT doc_id, lvl, COUNT(*) AS cnt FROM lv GROUP BY 1, 2),
        |dom AS (
        |  SELECT doc_id, lvl AS dominant_lvl FROM (
        |    SELECT doc_id, lvl,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, lvl) AS rn
        |    FROM cnts) q WHERE rn = 1)
        |SELECT source, CAST(dominant_lvl AS BIGINT) AS dominant_lvl,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(pmax - pmin) AS BIGINT) AS contrast_mass,
        |  CAST(SUM(pmax - pmin) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_contrast
        |FROM pd JOIN dom USING (doc_id)
        |GROUP BY 1, 2 ORDER BY source, dominant_lvl""".stripMargin),

    // Sanctions / watchlist screening — the KYC gate every person
    // service runs at onboarding: surnames from the 12-name authored
    // pool (1-in-11 carries a position-2 typo), screened against a
    // 6-name broadcast watchlist BLOCKED on the first letter, matched at
    // levenshtein ≤ 1. The pool plants the real screening taxonomy:
    // exact hits, typo'd true hits, and lookalike FALSE positives
    // (SMYTH→SMITH, MAYER→MEYER, BROWN→BRAUN, JOHNSON→JONSON all sit at
    // distance 1) — the clerical-review volume the threshold choice
    // buys. Per watchlist name: exact, fuzzy, candidates compared.
    Op("join_sanctions_screen", (s, d) => {
      val pool = array(lit("SMITH"), lit("SMYTH"), lit("SCHMIDT"),
        lit("JOHNSON"), lit("JONSON"), lit("MEYER"), lit("MAYER"),
        lit("BROWN"), lit("BRAUN"), lit("TAYLOR"), lit("WALKER"),
        lit("HARRIS"))
      val persons = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("name0", element_at(pool, (col("k") % 12 + 1).cast("int")))
        .withColumn("name",
          when(col("k") % 11 === 7, concat(substring(col("name0"), 1, 1),
            lit("Q"), expr("substring(name0, 3)")))
            .otherwise(col("name0")))
        .withColumn("blk", substring(col("name"), 1, 1))
      val wl = s.range(1)
        .select(explode(array(lit("SMITH"), lit("BRAUN"), lit("MEYER"),
          lit("HARRIS"), lit("WALKER"), lit("JONSON"))).as("wl_name"))
        .withColumn("blk", substring(col("wl_name"), 1, 1))
      persons.join(broadcast(wl), Seq("blk"))
        .withColumn("dist", levenshtein(col("name"), col("wl_name")))
        .groupBy("wl_name")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n_fuzzy"))
        .orderBy("wl_name")
    },
      """WITH p AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    ['SMITH','SMYTH','SCHMIDT','JOHNSON','JONSON','MEYER','MAYER',
        |     'BROWN','BRAUN','TAYLOR','WALKER','HARRIS'][CAST(c_custkey % 12 AS INT) + 1] AS name0
        |  FROM customer),
        |n AS (
        |  SELECT k,
        |    CASE WHEN k % 11 = 7
        |      THEN substring(name0, 1, 1) || 'Q' || substring(name0, 3)
        |      ELSE name0 END AS name
        |  FROM p),
        |wl AS (SELECT unnest(['SMITH','BRAUN','MEYER','HARRIS','WALKER','JONSON']) AS wl_name)
        |SELECT wl_name, CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN levenshtein(name, wl_name) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(SUM(CASE WHEN levenshtein(name, wl_name) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy
        |FROM n JOIN wl ON substring(name, 1, 1) = substring(wl_name, 1, 1)
        |GROUP BY 1 ORDER BY wl_name""".stripMargin),

    // Transaction-structuring (smurfing) detection — the AML screen for
    // amounts engineered to sit just under the 10 000 reporting
    // threshold: planted structurer accounts (1-in-37) squeeze ~60% of
    // their transactions into the 9 000–9 999.99 band while organic
    // amounts spread uniformly to 15 000. Per account the sub-threshold
    // band census; an account flags at ≥ 3 banded transactions AND a
    // band share > 400 000 ppm (both integer-exact). Graded per cohort:
    // accounts, flagged accounts, transaction and banded mass. Two
    // rollups, linear at any scale.
    Op("agg_txn_structuring", (s, d) => {
      val acct = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"),
          col("o_custkey").cast("bigint").as("acct"))
        .withColumn("structurer", col("acct") % 37 === 5)
        .withColumn("g", expr(
          md5Bits("am", "k", 8)))
        .withColumn("cents",
          when(col("structurer") && col("g") % 10 < 6,
            lit(900000L) + col("g") % 100000)
            .otherwise(col("g") % 1500000))
        .withColumn("banded",
          col("cents") >= 900000L && col("cents") < 1000000L)
        .groupBy("acct")
        .agg(count(lit(1)).as("n_txn"),
          sum(when(col("banded"), 1L).otherwise(0L)).as("n_banded"),
          sum("cents").as("txn_mass_cents"),
          sum(when(col("banded"), col("cents")).otherwise(0L))
            .as("banded_mass_cents"))
        .withColumn("band_ppm", expr("(n_banded * 1000000) DIV n_txn"))
        .withColumn("flagged",
          col("n_banded") >= 3 && col("band_ppm") > 400000)
      acct.groupBy((col("acct") % 6).as("cohort"))
        .agg(count(lit(1)).as("n_accounts"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          sum("n_txn").as("n_txns"),
          sum("txn_mass_cents").as("txn_mass_cents"),
          sum("banded_mass_cents").as("banded_mass_cents"))
        .orderBy("cohort")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, CAST(o_custkey AS BIGINT) AS acct,
        |    ${duckMd5Bits("am", "o_orderkey", 8)} AS g
        |  FROM orders),
        |a AS (
        |  SELECT acct,
        |    CASE WHEN acct % 37 = 5 AND g % 10 < 6
        |      THEN 900000 + g % 100000 ELSE g % 1500000 END AS cents
        |  FROM t),
        |b AS (
        |  SELECT acct, cents, cents >= 900000 AND cents < 1000000 AS banded FROM a),
        |per AS (
        |  SELECT acct, CAST(COUNT(*) AS BIGINT) AS n_txn,
        |    CAST(SUM(CASE WHEN banded THEN 1 ELSE 0 END) AS BIGINT) AS n_banded,
        |    CAST(SUM(cents) AS BIGINT) AS txn_mass_cents,
        |    CAST(SUM(CASE WHEN banded THEN cents ELSE 0 END) AS BIGINT) AS banded_mass_cents
        |  FROM b GROUP BY 1),
        |v AS (
        |  SELECT acct, n_txn, n_banded, txn_mass_cents, banded_mass_cents,
        |    n_banded >= 3 AND (n_banded * 1000000) // n_txn > 400000 AS flagged
        |  FROM per)
        |SELECT acct % 6 AS cohort, CAST(COUNT(*) AS BIGINT) AS n_accounts,
        |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(n_txn) AS BIGINT) AS n_txns,
        |  CAST(SUM(txn_mass_cents) AS BIGINT) AS txn_mass_cents,
        |  CAST(SUM(banded_mass_cents) AS BIGINT) AS banded_mass_cents
        |FROM v GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Account-takeover detection — the credential-stuffing signal: every
    // principal owns a stable 5-device household (md5 of user and slot),
    // but compromised principals (1-in-19) see a third of their events
    // arrive from UNIQUE attacker devices. The trailing-10-event window
    // counts distinct devices — an organic window can never exceed 5, so
    // the ≥ 7 threshold has zero false positives BY CONSTRUCTION, and
    // the spec asserts exactly that. Per cohort: events, flagged events,
    // compromised principals. One user-partitioned window (collect +
    // array_distinct, bounded at 10) + two rollups.
    Op("service_account_takeover", (s, d) => {
      val w10 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-9, 0)
      val flagged = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("device",
          when(col("user_id") % 19 === 3 && col("event_id") % 3 === 0,
            expr("md5(concat('atk:', CAST(event_id AS STRING)))"))
            .otherwise(expr(
              "md5(concat('dev:', CAST(user_id AS STRING), ':', CAST(event_id % 5 AS STRING)))")))
        .withColumn("devs", collect_list("device").over(w10))
        .withColumn("nd", size(array_distinct(col("devs"))).cast("long"))
        .withColumn("flag", col("nd") >= 7)
      val perUser = flagged.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"))
        .withColumn("compromised", col("n_flagged") > 0)
      perUser.groupBy((col("user_id") % 8).as("cohort"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("compromised"), 1L).otherwise(0L)).as("n_compromised"),
          sum("n_events").as("n_events"),
          sum("n_flagged").as("n_flagged_events"))
        .orderBy("cohort")
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN user_id % 19 = 3 AND event_id % 3 = 0
        |      THEN md5('atk:' || CAST(event_id AS VARCHAR))
        |      ELSE md5('dev:' || CAST(user_id AS VARCHAR) || ':' || CAST(event_id % 5 AS VARCHAR))
        |    END AS device
        |  FROM events),
        |w AS (
        |  SELECT user_id,
        |    len(list_distinct(list(device) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)))
        |      >= 7 AS flag
        |  FROM e),
        |per AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |  FROM w GROUP BY 1)
        |SELECT user_id % 8 AS cohort, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN n_flagged > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_compromised,
        |  CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  CAST(SUM(n_flagged) AS BIGINT) AS n_flagged_events
        |FROM per GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Quorum read staleness — the replication-lag arithmetic of an
    // N=3 / R=2 person-store: each write reaches the two read-quorum
    // replicas with md5 lags of 0–499 ms, the follow-up read lands
    // 0–199 ms later, and the read is STALE iff neither contacted
    // replica has the write yet (min lag > read delay). Per service:
    // reads, stale reads, exact stale ppm, and the staleness-gap mass
    // (how long past the read the data stayed invisible — the
    // consistency-SLA budget). One projection + rollup, linear at any
    // scale.
    Op("service_quorum_staleness", (s, d) => {
      Tables.events(s, d)
        .select((col("user_id") % 4).as("svc"), col("event_id"))
        .withColumn("l1", expr(
          s"${md5Bits("q1", "event_id", 6)} % 500"))
        .withColumn("l2", expr(
          s"${md5Bits("q2", "event_id", 6)} % 500"))
        .withColumn("rd", expr(
          s"${md5Bits("qr", "event_id", 6)} % 200"))
        .withColumn("lag", least(col("l1"), col("l2")))
        .withColumn("stale", col("lag") > col("rd"))
        .groupBy("svc")
        .agg(count(lit(1)).as("n_reads"),
          sum(when(col("stale"), 1L).otherwise(0L)).as("n_stale"),
          sum(when(col("stale"), col("lag") - col("rd")).otherwise(0L))
            .as("gap_mass_ms"))
        .withColumn("stale_ppm", expr("(n_stale * 1000000) DIV n_reads"))
        .withColumn("mean_gap_ms",
          expr("gap_mass_ms DIV NULLIF(n_stale, 0)"))
        .orderBy("svc")
    },
      s"""WITH r AS (
        |  SELECT user_id % 4 AS svc,
        |    ${duckMd5Bits("q1", "event_id", 6)} % 500 AS l1,
        |    ${duckMd5Bits("q2", "event_id", 6)} % 500 AS l2,
        |    ${duckMd5Bits("qr", "event_id", 6)} % 200 AS rd
        |  FROM events),
        |x AS (SELECT svc, LEAST(l1, l2) AS lag, rd FROM r)
        |SELECT svc, CAST(COUNT(*) AS BIGINT) AS n_reads,
        |  CAST(SUM(CASE WHEN lag > rd THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
        |  CAST(SUM(CASE WHEN lag > rd THEN lag - rd ELSE 0 END) AS BIGINT) AS gap_mass_ms,
        |  (CAST(SUM(CASE WHEN lag > rd THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS stale_ppm,
        |  CAST(SUM(CASE WHEN lag > rd THEN lag - rd ELSE 0 END) AS BIGINT)
        |    // NULLIF(CAST(SUM(CASE WHEN lag > rd THEN 1 ELSE 0 END) AS BIGINT), 0)
        |    AS mean_gap_ms
        |FROM x GROUP BY 1 ORDER BY svc""".stripMargin),

    // Vector-clock comparison — the causality classifier a multi-master
    // person-store runs on conflicting updates: 3-node clocks with four
    // PLANTED relationships (equal, A→B happened-before, B→A, and a
    // cross-bumped concurrent pair), classified by the exact
    // all-≤ / all-≥ lattice test. The graded matrix (planted class ×
    // detected verdict) must be DIAGONAL — any off-diagonal cell is a
    // causality bug. One projection + rollup.
    Op("fn_vector_clock_compare", (s, d) => {
      def a(i: Int) =
        s"${md5Bits(s"vc$i", "event_id", 6)} % 100 + 10"
      Tables.events(s, d)
        .select(col("event_id"))
        .withColumn("cls", (col("event_id") % 4).cast("int"))
        .withColumn("a1", expr(a(1))).withColumn("a2", expr(a(2)))
        .withColumn("a3", expr(a(3)))
        .withColumn("b1", col("a1") +
          when(col("cls") === 1 || col("cls") === 2, 5L).otherwise(0L))
        .withColumn("b2", col("a2") -
          when(col("cls") === 2, 5L).otherwise(0L))
        .withColumn("b3", col("a3") -
          when(col("cls") === 3, 5L).otherwise(0L))
        .withColumn("a_le_b",
          col("a1") <= col("b1") && col("a2") <= col("b2") && col("a3") <= col("b3"))
        .withColumn("b_le_a",
          col("b1") <= col("a1") && col("b2") <= col("a2") && col("b3") <= col("a3"))
        .withColumn("verdict",
          when(col("a_le_b") && col("b_le_a"), lit("equal"))
            .when(col("a_le_b"), lit("before"))
            .when(col("b_le_a"), lit("after"))
            .otherwise(lit("concurrent")))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("verdict") === "equal", 1L).otherwise(0L)).as("n_equal"),
          sum(when(col("verdict") === "before", 1L).otherwise(0L)).as("n_before"),
          sum(when(col("verdict") === "after", 1L).otherwise(0L)).as("n_after"),
          sum(when(col("verdict") === "concurrent", 1L).otherwise(0L))
            .as("n_concurrent"))
        .orderBy("cls")
    },
      s"""WITH v AS (
        |  SELECT CAST(event_id % 4 AS INT) AS cls,
        |    ${duckMd5Bits("vc1", "event_id", 6)} % 100 + 10 AS a1,
        |    ${duckMd5Bits("vc2", "event_id", 6)} % 100 + 10 AS a2,
        |    ${duckMd5Bits("vc3", "event_id", 6)} % 100 + 10 AS a3
        |  FROM events),
        |b AS (
        |  SELECT cls, a1, a2, a3,
        |    a1 + CASE WHEN cls IN (1, 2) THEN 5 ELSE 0 END AS b1,
        |    a2 - CASE WHEN cls = 2 THEN 5 ELSE 0 END AS b2,
        |    a3 - CASE WHEN cls = 3 THEN 5 ELSE 0 END AS b3
        |  FROM v),
        |c AS (
        |  SELECT cls,
        |    a1 <= b1 AND a2 <= b2 AND a3 <= b3 AS a_le_b,
        |    b1 <= a1 AND b2 <= a2 AND b3 <= a3 AS b_le_a
        |  FROM b),
        |x AS (
        |  SELECT cls,
        |    CASE WHEN a_le_b AND b_le_a THEN 'equal'
        |         WHEN a_le_b THEN 'before'
        |         WHEN b_le_a THEN 'after'
        |         ELSE 'concurrent' END AS verdict
        |  FROM c)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN verdict = 'equal' THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
        |  CAST(SUM(CASE WHEN verdict = 'before' THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
        |  CAST(SUM(CASE WHEN verdict = 'after' THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
        |  CAST(SUM(CASE WHEN verdict = 'concurrent' THEN 1 ELSE 0 END) AS BIGINT) AS n_concurrent
        |FROM x GROUP BY 1 ORDER BY cls""".stripMargin),

    // Hybrid logical clock — the timestamping every multi-region person
    // ledger needs (physical clocks skew; HLC keeps causal order while
    // staying close to wall time): per node the HLC physical part is the
    // RUNNING MAX of the (deliberately skewed) physical timestamps, and
    // the logical counter counts events since the running max last
    // advanced (the gaps-and-islands form of the HLC recurrence — no
    // iterative state). Per node: events, advances, the max and total
    // logical counter (the drift a skewed node pays). Three stacked
    // node-partitioned windows + one rollup.
    Op("win_hlc_clock", (s, d) => {
      val wSeq = Window.partitionBy("node").orderBy("ts_us", "event_id")
      val wRun = wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select((col("user_id") % 4).as("node"), col("event_id"), col("ts_us"))
        // planted skew: each node's physical clock runs node*500ms ahead,
        // and 1-in-9 events report a 2s-stale physical read
        .withColumn("pt", col("ts_us") + (col("node") * 500000L) -
          when(col("event_id") % 9 === 2, 2000000L).otherwise(0L))
        .withColumn("rmax", max("pt").over(wRun))
        .withColumn("advance",
          when(col("rmax") > coalesce(lag("rmax", 1).over(wSeq), lit(Long.MinValue)),
            1L).otherwise(0L))
        .withColumn("grp", sum("advance").over(wRun))
        .withColumn("c", row_number().over(
          Window.partitionBy("node", "grp").orderBy("ts_us", "event_id"))
          .cast("long") - 1)
        .groupBy("node")
        .agg(count(lit(1)).as("n_events"),
          sum("advance").as("n_advances"),
          max("c").as("max_logical"),
          sum("c").as("logical_mass"))
        .orderBy("node")
    },
      """WITH e AS (
        |  SELECT user_id % 4 AS node, event_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) + (user_id % 4) * 500000
        |      - CASE WHEN event_id % 9 = 2 THEN 2000000 ELSE 0 END AS pt
        |  FROM events),
        |rm AS (
        |  SELECT node, event_id, ts_us,
        |    MAX(pt) OVER (PARTITION BY node ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax
        |  FROM e),
        |ad AS (
        |  SELECT node, event_id, ts_us,
        |    CASE WHEN rmax > COALESCE(lag(rmax) OVER (PARTITION BY node
        |      ORDER BY ts_us, event_id), -9223372036854775807) THEN 1 ELSE 0 END AS advance
        |  FROM rm),
        |g AS (
        |  SELECT node, event_id, ts_us, advance,
        |    CAST(SUM(advance) OVER (PARTITION BY node ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
        |  FROM ad),
        |cc AS (
        |  SELECT node, advance,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY node, grp
        |      ORDER BY ts_us, event_id) AS BIGINT) - 1 AS c
        |  FROM g)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(advance) AS BIGINT) AS n_advances,
        |  CAST(MAX(c) AS BIGINT) AS max_logical,
        |  CAST(SUM(c) AS BIGINT) AS logical_mass
        |FROM cc GROUP BY 1 ORDER BY node""".stripMargin),

    // Constrained-decoding mask telemetry — the grammar-guided JSON
    // generation a structured-output endpoint runs: an 8-step decode per
    // request cycles the 4-state JSON automaton (key → colon → value →
    // comma), each state admits a known mask of the 50 000-token vocab
    // (5 000 / 1 / 30 000 / 2), and the model's raw sample misses the
    // mask with probability 1 − mask/50 000 (md5 gate) forcing a
    // resample. Per state: steps, mask mass, forced resamples, exact
    // resample ppm — the constrained-decode overhead report. One
    // bounded explode + rollup.
    Op("llm_constrained_decode_mask", (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("i", explode(expr("sequence(0, 7)")))
        .withColumn("state", (col("i") % 4).cast("long"))
        .withColumn("mask", expr(
          "element_at(array(5000L, 1L, 30000L, 2L), CAST(state AS INT) + 1)"))
        .withColumn("draw", expr(
          s"${md5Bits("concat('cd:', CAST(k AS STRING), ':', CAST(i AS STRING))", 8)} % 50000"))
        .withColumn("forced", col("draw") >= col("mask"))
        .groupBy("state")
        .agg(count(lit(1)).as("n_steps"),
          sum("mask").as("mask_mass"),
          sum(when(col("forced"), 1L).otherwise(0L)).as("n_forced"))
        .withColumn("resample_ppm",
          expr("(n_forced * 1000000) DIV n_steps"))
        .orderBy("state")
    },
      s"""WITH st AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, i.range AS i,
        |    i.range % 4 AS state,
        |    [5000, 1, 30000, 2][CAST(i.range % 4 AS INT) + 1] AS mask,
        |    ${duckMd5Bits("'cd:' || CAST(o_orderkey AS VARCHAR) || ':' || CAST(i.range AS VARCHAR)", 8)} % 50000 AS draw
        |  FROM orders CROSS JOIN range(0, 8) i)
        |SELECT state, CAST(COUNT(*) AS BIGINT) AS n_steps,
        |  CAST(SUM(mask) AS BIGINT) AS mask_mass,
        |  CAST(SUM(CASE WHEN draw >= mask THEN 1 ELSE 0 END) AS BIGINT) AS n_forced,
        |  (CAST(SUM(CASE WHEN draw >= mask THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS resample_ppm
        |FROM st GROUP BY 1 ORDER BY state""".stripMargin),

    // Glitch-token screen — the vocabulary hygiene audit before a
    // tokenizer ships (tokens IN the vocab but absent from the corpus
    // are the 'SolidGoldMagikarp' class: their embeddings never
    // trained): the vocab is the corpus' own distinct tokens PLUS 40
    // planted phantom entries, left-joined back to the corpus term
    // frequencies; glitch = zero occurrences, rare = under 3. Census
    // per class: vocab entries, occurrence mass. One token rollup + one
    // left join + rollup — the corpus scan dominates, linear at scale.
    Op("llm_glitch_token_screen", (s, d) => {
      val tf = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val vocab = tf.select(col("tok"))
        .unionByName(s.range(40)
          .select(concat(lit("zzglitch"), col("id").cast("string")).as("tok")))
      vocab.join(tf, Seq("tok"), "left")
        .withColumn("f", coalesce(col("freq"), lit(0L)))
        .withColumn("cls",
          when(col("f") === 0, lit("glitch"))
            .when(col("f") < 3, lit("rare"))
            .otherwise(lit("common")))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_tokens"), sum("f").as("occurrence_mass"))
        .orderBy("cls")
    },
      """WITH tf AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) q
        |  WHERE tok <> '' GROUP BY tok),
        |vocab AS (
        |  SELECT tok FROM tf
        |  UNION ALL
        |  SELECT 'zzglitch' || CAST(i.range AS VARCHAR) FROM range(0, 40) i),
        |j AS (
        |  SELECT COALESCE(freq, 0) AS f FROM vocab LEFT JOIN tf USING (tok)),
        |c AS (
        |  SELECT CASE WHEN f = 0 THEN 'glitch'
        |              WHEN f < 3 THEN 'rare' ELSE 'common' END AS cls, f
        |  FROM j)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(f) AS BIGINT) AS occurrence_mass
        |FROM c GROUP BY 1 ORDER BY cls""".stripMargin),

    // Cache-stampede (dogpile) census — the thundering herd a cache
    // expiry triggers: requests bucket into hourly TTL epochs per key,
    // and the first FIVE arrivals of each (key, epoch) all recompute
    // (they arrive before the first recompute finishes — the
    // request-indexed form that holds at sparse and dense traffic
    // alike); later arrivals hit the warm entry. Per key shard: epochs,
    // requests, recomputes, the wasted duplicate work (recomputes −
    // epochs) and exact waste ppm — the case for a single-flight lock.
    // One (key, epoch) window + two rollups.
    Op("service_cache_stampede", (s, d) => {
      val wKE = Window.partitionBy("key", "epoch").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("event_id"), col("ts_us"), (col("user_id") % 32).as("key"))
        .withColumn("epoch", expr("ts_us DIV 3600000000"))
        .withColumn("arrival", row_number().over(wKE).cast("long"))
        .withColumn("recompute", col("arrival") <= 5)
        .groupBy((col("key") % 8).as("shard"))
        .agg(count(lit(1)).as("n_requests"),
          countDistinct("key", "epoch").as("n_epochs"),
          sum(when(col("recompute"), 1L).otherwise(0L)).as("n_recomputes"))
        .withColumn("wasted", col("n_recomputes") - col("n_epochs"))
        .withColumn("waste_ppm",
          expr("(wasted * 1000000) DIV n_requests"))
        .orderBy("shard")
    },
      """WITH r AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id % 32 AS key,
        |    epoch_us(ts) // 3600000000 AS epoch
        |  FROM events),
        |w AS (
        |  SELECT key, epoch,
        |    ROW_NUMBER() OVER (PARTITION BY key, epoch ORDER BY ts_us, event_id)
        |      <= 5 AS recompute
        |  FROM r),
        |a AS (
        |  SELECT key % 8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |    CAST(COUNT(DISTINCT (key, epoch)) AS BIGINT) AS n_epochs,
        |    CAST(SUM(CASE WHEN recompute THEN 1 ELSE 0 END) AS BIGINT) AS n_recomputes
        |  FROM w GROUP BY 1)
        |SELECT shard, n_requests, n_epochs, n_recomputes,
        |  n_recomputes - n_epochs AS wasted,
        |  ((n_recomputes - n_epochs) * 1000000) // n_requests AS waste_ppm
        |FROM a ORDER BY shard""".stripMargin),

    // Diacritics transliteration fold — the accent-insensitive name
    // matching beside fn_homoglyph_detect (that one catches foreign
    // lookalikes; this one RECOVERS legitimate accented spellings):
    // four planted accent classes (MÜLLER, GARCÍA, FRANÇOIS, ØRSTED)
    // against their folded canonical forms, folded by one translate().
    // Raw equality must MISS every accented class and fold-equality
    // must recover 100% — both censused per class. One projection +
    // rollup, linear at any scale.
    Op("fn_transliterate_fold", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 5).cast("int"))
        .withColumn("clean",
          element_at(array(lit("MULLER"), lit("MULLER"), lit("GARCIA"),
            lit("FRANCOIS"), lit("ORSTED")), col("cls") + 1))
        .withColumn("name",
          element_at(array(lit("MULLER"), lit("MÜLLER"), lit("GARCÍA"),
            lit("FRANÇOIS"), lit("ØRSTED")), col("cls") + 1))
        .withColumn("fold", translate(col("name"), "ÜÍÇØ", "UICO"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_names"),
          sum(when(col("name") === col("clean"), 1L).otherwise(0L))
            .as("raw_matches"),
          sum(when(col("fold") === col("clean"), 1L).otherwise(0L))
            .as("fold_matches"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey % 5 AS INT) AS cls,
        |    ['MULLER','MULLER','GARCIA','FRANCOIS','ORSTED'][CAST(c_custkey % 5 AS INT) + 1] AS clean,
        |    ['MULLER','MÜLLER','GARCÍA','FRANÇOIS','ØRSTED'][CAST(c_custkey % 5 AS INT) + 1] AS name
        |  FROM customer),
        |f AS (SELECT cls, clean, name, translate(name, 'ÜÍÇØ', 'UICO') AS fold FROM t)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_names,
        |  CAST(SUM(CASE WHEN name = clean THEN 1 ELSE 0 END) AS BIGINT) AS raw_matches,
        |  CAST(SUM(CASE WHEN fold = clean THEN 1 ELSE 0 END) AS BIGINT) AS fold_matches
        |FROM f GROUP BY 1 ORDER BY cls""".stripMargin),

    // Synthetic-identity detection — the attribute-sharing signal a
    // fraud desk hunts (real identities own their SSN token; synthetic
    // rings RECYCLE one): every person carries a unique md5 token
    // except the planted rings (persons with k%43==11 inside each
    // 200-person block share one ring token → rings of ~4-5). The
    // token fan-out census answers "how many identities share each
    // attribute": share size → tokens, persons — everything above
    // size 1 is a ring. One token rollup + one size rollup.
    Op("join_synthetic_identity", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("ssn_token",
          when(col("k") % 43 === 11,
            expr("md5(concat('ring:', CAST(k DIV 200 AS STRING)))"))
            .otherwise(expr("md5(concat('ssn:', CAST(k AS STRING)))")))
        .groupBy("ssn_token").agg(count(lit(1)).as("share_size"))
        .groupBy("share_size")
        .agg(count(lit(1)).as("n_tokens"),
          sum("share_size").as("n_persons"))
        .orderBy("share_size")
    },
      """WITH p AS (
        |  SELECT CASE WHEN c_custkey % 43 = 11
        |    THEN md5('ring:' || CAST(c_custkey // 200 AS VARCHAR))
        |    ELSE md5('ssn:' || CAST(c_custkey AS VARCHAR)) END AS ssn_token
        |  FROM customer),
        |g AS (SELECT ssn_token, CAST(COUNT(*) AS BIGINT) AS share_size FROM p GROUP BY 1)
        |SELECT share_size, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(share_size) AS BIGINT) AS n_persons
        |FROM g GROUP BY 1 ORDER BY share_size""".stripMargin),

    // Chargeback-lag (delayed feedback) census — the label-latency
    // problem every fraud model trains under: 1-in-23 purchases
    // eventually charge back after an md5 lag of 0–89 days, but a
    // model trained at the 30-day cutoff sees only the early arrivals.
    // Per cohort: purchases, eventual chargebacks, the subset visible
    // at 30 days, exact visibility ppm and the lag mass — the bias
    // correction a delayed-feedback loss needs. One conditional rollup.
    Op("agg_chargeback_lag", (s, d) => {
      Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"))
        .withColumn("cb", expr(
          s"${md5Bits("cb", "event_id", 6)} % 23") === 4)
        .withColumn("lag_days", expr(
          s"${md5Bits("cl", "event_id", 6)} % 90"))
        .groupBy((col("user_id") % 6).as("cohort"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("cb"), 1L).otherwise(0L)).as("n_chargebacks"),
          sum(when(col("cb") && col("lag_days") <= 30, 1L).otherwise(0L))
            .as("visible_at_30d"),
          sum(when(col("cb"), col("lag_days")).otherwise(0L)).as("lag_mass_days"))
        .withColumn("visibility_ppm",
          expr("(visible_at_30d * 1000000) DIV NULLIF(n_chargebacks, 0)"))
        .orderBy("cohort")
    },
      s"""WITH p AS (
        |  SELECT user_id % 6 AS cohort,
        |    ${duckMd5Bits("cb", "event_id", 6)} % 23 = 4 AS cb,
        |    ${duckMd5Bits("cl", "event_id", 6)} % 90 AS lag_days
        |  FROM events WHERE event_type = 'purchase')
        |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN cb THEN 1 ELSE 0 END) AS BIGINT) AS n_chargebacks,
        |  CAST(SUM(CASE WHEN cb AND lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS visible_at_30d,
        |  CAST(SUM(CASE WHEN cb THEN lag_days ELSE 0 END) AS BIGINT) AS lag_mass_days,
        |  (CAST(SUM(CASE WHEN cb AND lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // NULLIF(CAST(SUM(CASE WHEN cb THEN 1 ELSE 0 END) AS BIGINT), 0) AS visibility_ppm
        |FROM p GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Cohen's kappa — the inter-annotator agreement behind every
    // labeling program (raw agreement flatters; kappa subtracts the
    // chance level the marginals imply): two md5 annotators over 4
    // classes (annotator B agrees ~70% and otherwise drifts), kappa on
    // PURE integers via the cross-multiplied form (agree·n − Σ nᵃ·nᵇ)
    // ·1e6 DIV (n² − Σ nᵃ·nᵇ), the wide products routed through
    // DECIMAL(38,0)/HUGEINT per the repo convention. Per cohort: n,
    // agreement, po/pe/kappa ppm. One conditional rollup.
    Op("agg_cohen_kappa", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("a", expr(
          s"${md5Bits("an1", "k", 6)} % 4"))
        .withColumn("g", expr(
          s"${md5Bits("an2", "k", 6)} % 10"))
        .withColumn("b", when(col("g") < 7, col("a"))
          .otherwise((col("a") + 1 + expr(
            s"${md5Bits("an3", "k", 6)} % 3")) % 4))
      val agg = t.groupBy((col("k") % 3).as("cohort"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"),
          sum(when(col("a") === 0, 1L).otherwise(0L)).as("a0"),
          sum(when(col("a") === 1, 1L).otherwise(0L)).as("a1"),
          sum(when(col("a") === 2, 1L).otherwise(0L)).as("a2"),
          sum(when(col("a") === 3, 1L).otherwise(0L)).as("a3"),
          sum(when(col("b") === 0, 1L).otherwise(0L)).as("b0"),
          sum(when(col("b") === 1, 1L).otherwise(0L)).as("b1"),
          sum(when(col("b") === 2, 1L).otherwise(0L)).as("b2"),
          sum(when(col("b") === 3, 1L).otherwise(0L)).as("b3"))
        .withColumn("pe_num", expr(
          """CAST(a0 AS DECIMAL(38,0)) * b0 + CAST(a1 AS DECIMAL(38,0)) * b1
            |  + CAST(a2 AS DECIMAL(38,0)) * b2 + CAST(a3 AS DECIMAL(38,0)) * b3"""
            .stripMargin))
      agg.select(col("cohort"), col("n"), col("agree"),
        expr("(agree * 1000000) DIV n").as("po_ppm"),
        expr("CAST((pe_num * 1000000) DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("pe_ppm"),
        expr("""CAST(((CAST(agree AS DECIMAL(38,0)) * n - pe_num) * 1000000)
               |  DIV (CAST(n AS DECIMAL(38,0)) * n - pe_num) AS BIGINT)"""
          .stripMargin).as("kappa_ppm"))
        .orderBy("cohort")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    ${duckMd5Bits("an1", "o_orderkey", 6)} % 4 AS a,
        |    ${duckMd5Bits("an2", "o_orderkey", 6)} % 10 AS g,
        |    ${duckMd5Bits("an3", "o_orderkey", 6)} % 3 AS dr
        |  FROM orders),
        |x AS (
        |  SELECT k % 3 AS cohort, a,
        |    CASE WHEN g < 7 THEN a ELSE (a + 1 + dr) % 4 END AS b
        |  FROM t),
        |m AS (
        |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
        |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS HUGEINT) * SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END)
        |      + CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS HUGEINT) * SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END)
        |      + CAST(SUM(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS HUGEINT) * SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END)
        |      + CAST(SUM(CASE WHEN a = 3 THEN 1 ELSE 0 END) AS HUGEINT) * SUM(CASE WHEN b = 3 THEN 1 ELSE 0 END)
        |      AS pe_num
        |  FROM x GROUP BY 1)
        |SELECT cohort, n, agree,
        |  (agree * 1000000) // n AS po_ppm,
        |  CAST((pe_num * 1000000) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
        |  CAST(((CAST(agree AS HUGEINT) * n - pe_num) * 1000000)
        |    // (CAST(n AS HUGEINT) * n - pe_num) AS BIGINT) AS kappa_ppm
        |FROM m ORDER BY cohort""".stripMargin),

    // Label-noise audit — the class-conditional noise census a labeling
    // program runs against its gold set: observed labels flip away from
    // gold at a planted 10% — except class 3, whose annotators drift at
    // 30% (the asymmetric noise that silently poisons a classifier).
    // Per gold class: items, flips, exact noise ppm, and the full
    // confusion row into the four observed classes. One projection +
    // conditional rollup.
    Op("llm_label_noise_audit", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"))
        .withColumn("gold", col("doc_id") % 4)
        .withColumn("flip", expr(
          s"${md5Bits("nl", "doc_id", 6)} % 100")
          < when(col("gold") === 3, 30L).otherwise(10L))
        .withColumn("obs", when(!col("flip"), col("gold"))
          .otherwise((col("gold") + 1 + expr(
            s"${md5Bits("nf", "doc_id", 6)} % 3")) % 4))
        .groupBy("gold")
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("flip"), 1L).otherwise(0L)).as("n_flipped"),
          sum(when(col("obs") === 0, 1L).otherwise(0L)).as("obs0"),
          sum(when(col("obs") === 1, 1L).otherwise(0L)).as("obs1"),
          sum(when(col("obs") === 2, 1L).otherwise(0L)).as("obs2"),
          sum(when(col("obs") === 3, 1L).otherwise(0L)).as("obs3"))
        .withColumn("noise_ppm", expr("(n_flipped * 1000000) DIV n_items"))
        .orderBy("gold")
    },
      s"""WITH t AS (
        |  SELECT doc_id % 4 AS gold,
        |    ${duckMd5Bits("nl", "doc_id", 6)} % 100
        |      < CASE WHEN doc_id % 4 = 3 THEN 30 ELSE 10 END AS flip,
        |    ${duckMd5Bits("nf", "doc_id", 6)} % 3 AS dr
        |  FROM documents),
        |x AS (
        |  SELECT gold, flip,
        |    CASE WHEN NOT flip THEN gold ELSE (gold + 1 + dr) % 4 END AS obs
        |  FROM t)
        |SELECT gold, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CASE WHEN flip THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped,
        |  CAST(SUM(CASE WHEN obs = 0 THEN 1 ELSE 0 END) AS BIGINT) AS obs0,
        |  CAST(SUM(CASE WHEN obs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS obs1,
        |  CAST(SUM(CASE WHEN obs = 2 THEN 1 ELSE 0 END) AS BIGINT) AS obs2,
        |  CAST(SUM(CASE WHEN obs = 3 THEN 1 ELSE 0 END) AS BIGINT) AS obs3,
        |  (CAST(SUM(CASE WHEN flip THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS noise_ppm
        |FROM x GROUP BY 1 ORDER BY gold""".stripMargin),

    // Example-forgetting score — the training-dynamics census (Toneva
    // et al.: examples that flip correct → incorrect across epochs are
    // the hard/noisy ones worth curating): six md5 epochs per example
    // with accuracy rising 48% → 88%, forgetting events counted inside
    // one array HOF (no per-epoch shuffle — the 6-epoch axis never
    // leaves the row). Per cohort: examples, never-learned,
    // forgettable (≥1 event), total event mass. One projection +
    // rollup.
    Op("win_forgetting_score", (s, d) => {
      val corr = (e: String) =>
        s"${md5Bits(s"concat('fg:', CAST(k AS STRING), ':', CAST($e AS STRING))", 6)} % 100 < 40 + ($e) * 8"
      Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("forget_events", expr(
          s"CAST(size(filter(sequence(2, 6), e -> (${corr("e - 1")}) AND NOT (${corr("e")}))) AS BIGINT)"))
        .withColumn("learned", expr(
          s"size(filter(sequence(1, 6), e -> ${corr("e")})) > 0"))
        .groupBy((col("k") % 5).as("cohort"))
        .agg(count(lit(1)).as("n_examples"),
          sum(when(!col("learned"), 1L).otherwise(0L)).as("never_learned"),
          sum(when(col("forget_events") >= 1, 1L).otherwise(0L))
            .as("forgettable"),
          sum("forget_events").as("forget_event_mass"))
        .orderBy("cohort")
    },
      {
      def corr(e: String) =
        s"${duckMd5Bits(s"'fg:' || CAST(k AS VARCHAR) || ':' || CAST($e AS VARCHAR)", 6)} % 100 < 40 + ($e) * 8"
      s"""WITH t AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
         |f AS (
         |  SELECT k % 5 AS cohort,
         |    CAST(len(list_filter(generate_series(2, 6),
         |      e -> (${corr("e - 1")}) AND NOT (${corr("e")}))) AS BIGINT) AS forget_events,
         |    len(list_filter(generate_series(1, 6), e -> ${corr("e")})) > 0 AS learned
         |  FROM t)
         |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_examples,
         |  CAST(SUM(CASE WHEN NOT learned THEN 1 ELSE 0 END) AS BIGINT) AS never_learned,
         |  CAST(SUM(CASE WHEN forget_events >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS forgettable,
         |  CAST(SUM(forget_events) AS BIGINT) AS forget_event_mass
         |FROM f GROUP BY 1 ORDER BY cohort""".stripMargin
    })
  )

  /** One greedy-search hop of the llm_ann_hnsw oracle: expand `prev`'s
    * md5 neighbor lists (self-loops redirected), score the candidate set
    * against the probe embeddings. Mirrors the Spark expand/score pair. */
  private def hnswHopSql(i: Int, prev: String): String =
    s"""x$i AS (
       |  SELECT DISTINCT probe_id, node FROM (
       |    SELECT probe_id,
       |      CASE WHEN v = node THEN (v + 1) % (SELECT n FROM nn) ELSE v END AS node
       |    FROM (SELECT probe_id, node,
       |            ${duckMd5Bits("'hnsw:' || CAST(node AS VARCHAR) || ':' || CAST(j.range AS VARCHAR)", 8)}
       |              % (SELECT n FROM nn) AS v
       |          FROM $prev CROSS JOIN range(0, 8) j) q1
       |    UNION ALL SELECT probe_id, node FROM $prev) q2),
       |s$i AS (
       |  SELECT x.probe_id, x.node,
       |    ROUND(list_cosine_similarity(p.p_emb, e.emb), 4) AS sim
       |  FROM x$i x JOIN e ON e.vec_id = x.node JOIN p ON p.probe_id = x.probe_id
       |  WHERE x.node <> x.probe_id),
       |b$i AS (
       |  SELECT probe_id, node FROM (
       |    SELECT probe_id, node,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, node) AS r
       |    FROM s$i) q3 WHERE r <= 8)""".stripMargin
}
