package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-13 operators, third compilation unit (waves 24+) — same paired
  * impl/oracle style and engine-exactness laws as Round13Ops/Round13bOps.
  */
object Round13cOps extends Family {
  val ops: Seq[Op] = Seq(
    // Concurrent-session detection — the account-sharing signal a person
    // service audits (one principal, overlapping live sessions): each
    // login opens a session of value-seconds; the classic sweep-line
    // (+1 at start, −1 at end, running sum in the (t, delta DESC,
    // event_id) total order so a start that touches an end counts as
    // concurrent) yields the live-session count at every boundary. Per
    // principal: sessions, peak concurrency, and the boundary census at
    // ≥ 2 live (the sharing evidence). The sweep is one user-partitioned
    // window over 2 rows per session — linear at any scale.
    Op("service_concurrent_sessions", (s, d) => {
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          expr("CAST(FLOOR(value * 1000000) AS BIGINT)").as("dur_us"))
      val marks = sess.select(col("user_id"), col("event_id"),
          col("ts_us").as("t"), lit(1L).as("delta"))
        .unionByName(sess.select(col("user_id"), col("event_id"),
          (col("ts_us") + col("dur_us")).as("t"), lit(-1L).as("delta")))
      val wSweep = Window.partitionBy("user_id")
        .orderBy(col("t"), col("delta").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      marks.withColumn("live", sum("delta").over(wSweep))
        .groupBy((col("user_id") % 8).as("principal"))
        .agg((count(lit(1)) / 2).cast("long").as("n_sessions"),
          max("live").as("peak_concurrent"),
          sum(when(col("delta") === 1L && col("live") >= 2L, 1L)
            .otherwise(0L)).as("overlapping_starts"))
        .withColumn("overlap_ppm",
          expr("(overlapping_starts * 1000000) DIV n_sessions"))
        .orderBy("principal")
    },
      """WITH sess AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 1000000) AS BIGINT) AS dur_us
        |  FROM events),
        |marks AS (
        |  SELECT user_id, event_id, ts_us AS t, CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL
        |  SELECT user_id, event_id, ts_us + dur_us, CAST(-1 AS BIGINT) FROM sess),
        |sw AS (
        |  SELECT user_id, delta,
        |    SUM(delta) OVER (PARTITION BY user_id
        |      ORDER BY t, delta DESC, event_id
        |      ROWS UNBOUNDED PRECEDING) AS live
        |  FROM marks)
        |SELECT user_id % 8 AS principal,
        |  CAST(COUNT(*) // 2 AS BIGINT) AS n_sessions,
        |  CAST(MAX(live) AS BIGINT) AS peak_concurrent,
        |  CAST(SUM(CASE WHEN delta = 1 AND live >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS overlapping_starts,
        |  (CAST(SUM(CASE WHEN delta = 1 AND live >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // (CAST(COUNT(*) AS BIGINT) // 2) AS overlap_ppm
        |FROM sw GROUP BY 1 ORDER BY principal""".stripMargin),

    // A/B exposure integrity — the experimentation-hygiene audit beside
    // agg_ab_srm (which checks ASSIGNMENT ratios; this one checks that a
    // user ever SEES one variant): assignment is the deterministic
    // hash(user, flag), but a planted client-side override flips every
    // 97th event — those users are CONTAMINATED (both variants observed)
    // and their data is unusable for the readout. Per flag: exposed
    // users, contaminated users + ppm, exposure events. Two rollups, the
    // distinct-variant count per (flag, user) in between.
    Op("service_ab_exposure_integrity", (s, d) => {
      val exposures = Tables.events(s, d)
        .select(col("user_id"), col("event_id"))
        .withColumn("flag", (col("event_id") % 3).as("flag"))
        .withColumn("assigned", expr(
          s"${md5Bits("concat(CAST(user_id AS STRING), ':f', CAST(flag AS STRING))", 6)} % 2"))
        .withColumn("seen",
          when(col("event_id") % 97 === 13, lit(1L) - col("assigned"))
            .otherwise(col("assigned")))
      exposures.groupBy("flag", "user_id")
        .agg(count(lit(1)).as("events"),
          countDistinct("seen").as("variants_seen"))
        .groupBy("flag")
        .agg(count(lit(1)).as("exposed_users"),
          sum(when(col("variants_seen") >= 2, 1L).otherwise(0L))
            .as("contaminated_users"),
          sum("events").as("exposure_events"))
        .withColumn("contamination_ppm",
          expr("(contaminated_users * 1000000) DIV exposed_users"))
        .orderBy("flag")
    },
      s"""WITH e AS (
        |  SELECT user_id, event_id, event_id % 3 AS flag,
        |    ${duckMd5Bits("CAST(user_id AS VARCHAR) || ':f' || CAST(event_id % 3 AS VARCHAR)", 6)} % 2 AS assigned
        |  FROM events),
        |seen AS (
        |  SELECT flag, user_id,
        |    CASE WHEN event_id % 97 = 13 THEN 1 - assigned ELSE assigned END AS seen
        |  FROM e),
        |pu AS (
        |  SELECT flag, user_id, CAST(COUNT(*) AS BIGINT) AS events,
        |    CAST(COUNT(DISTINCT seen) AS BIGINT) AS variants_seen
        |  FROM seen GROUP BY 1, 2)
        |SELECT flag, CAST(COUNT(*) AS BIGINT) AS exposed_users,
        |  CAST(SUM(CASE WHEN variants_seen >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS contaminated_users,
        |  CAST(SUM(events) AS BIGINT) AS exposure_events,
        |  (CAST(SUM(CASE WHEN variants_seen >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // CAST(COUNT(*) AS BIGINT) AS contamination_ppm
        |FROM pu GROUP BY 1 ORDER BY flag""".stripMargin),

    // Conversation context-growth plan — the serving-capacity question
    // for multi-turn chat (when does a conversation blow the 4096-token
    // context?): per conversation (user) the turns accumulate
    // floor(value)+10 tokens each in the total order; graded per
    // principal: conversations' turn count, token mass, the first turn
    // index past the limit (min over the window-flagged rows) and the
    // overflow-turn mass that would need truncation/summarization. One
    // cumsum window + one rollup.
    Op("llm_context_growth_plan", (s, d) => {
      val wc = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          (expr("CAST(FLOOR(value) AS BIGINT)") + 10L).as("turn_tokens"))
        .withColumn("cum_tokens", sum("turn_tokens").over(wc))
        .withColumn("turn_idx", row_number().over(
          Window.partitionBy("user_id").orderBy("ts_us", "event_id")))
        .groupBy((col("user_id") % 8).as("principal"))
        .agg(count(lit(1)).as("n_turns"),
          sum("turn_tokens").as("token_mass"),
          min(when(col("cum_tokens") > 4096L, col("turn_idx")))
            .as("first_overflow_turn"),
          sum(when(col("cum_tokens") > 4096L, 1L).otherwise(0L))
            .as("overflow_turns"))
        .withColumn("overflow_ppm",
          expr("(overflow_turns * 1000000) DIV n_turns"))
        .orderBy("principal")
    },
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value) AS BIGINT) + 10 AS turn_tokens
        |  FROM events),
        |w AS (
        |  SELECT user_id, turn_tokens,
        |    SUM(turn_tokens) OVER win AS cum_tokens,
        |    CAST(ROW_NUMBER() OVER win AS INT) AS turn_idx
        |  FROM t WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id % 8 AS principal, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |  CAST(SUM(turn_tokens) AS BIGINT) AS token_mass,
        |  CAST(MIN(CASE WHEN cum_tokens > 4096 THEN turn_idx END) AS INT)
        |    AS first_overflow_turn,
        |  CAST(SUM(CASE WHEN cum_tokens > 4096 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS overflow_turns,
        |  (CAST(SUM(CASE WHEN cum_tokens > 4096 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // CAST(COUNT(*) AS BIGINT) AS overflow_ppm
        |FROM w GROUP BY 1 ORDER BY principal""".stripMargin),

    // Band (theta) join by bucket expansion — the |a−b| ≤ δ join a naive
    // planner turns into a cartesian product: bucket both sides at the
    // band width, explode ONE side into its 3 neighbor buckets, and
    // equi-join on (priority, bucket) — |ca−cb| ≤ 100¢ implies the
    // buckets differ by ≤ 1, so every qualifying pair is found EXACTLY
    // once, and the join stays an equi-shuffle with a 3× fan-out instead
    // of |A|×|B|. Graded per priority: bucket-join candidates vs band
    // survivors (the pruning ratio) and the tightest pair. The a<b key
    // order kills self-pairs and mirrors.
    Op("join_band_bucketed", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("prio"),
        expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").as("c"))
        .withColumn("bucket", expr("c DIV 100"))
      val probe = o.withColumn("off", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("k").as("ka"), col("prio"), col("c").as("ca"),
          (col("bucket") + col("off")).as("bucket"))
      probe.join(o.select(col("k").as("kb"), col("prio"),
          col("c").as("cb"), col("bucket")), Seq("prio", "bucket"))
        .where(col("ka") < col("kb"))
        .withColumn("in_band", abs(col("ca") - col("cb")) <= 100L)
        .groupBy("prio")
        .agg(count(lit(1)).as("candidate_pairs"),
          sum(when(col("in_band"), 1L).otherwise(0L)).as("band_pairs"),
          min(when(col("in_band"), abs(col("ca") - col("cb"))))
            .as("tightest_diff_cents"))
        .withColumn("survival_ppm",
          expr("(band_pairs * 1000000) DIV candidate_pairs"))
        .orderBy("prio")
    },
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) // 100 AS bucket
        |  FROM orders),
        |probe AS (
        |  SELECT k AS ka, prio, c AS ca, bucket + off.off AS bucket
        |  FROM o CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS off) off),
        |j AS (
        |  SELECT probe.prio, ca, cb,
        |    abs(ca - cb) <= 100 AS in_band
        |  FROM probe JOIN (SELECT k AS kb, prio, c AS cb, bucket FROM o) b
        |    ON probe.prio = b.prio AND probe.bucket = b.bucket
        |  WHERE probe.ka < b.kb)
        |SELECT prio, CAST(COUNT(*) AS BIGINT) AS candidate_pairs,
        |  CAST(SUM(CASE WHEN in_band THEN 1 ELSE 0 END) AS BIGINT) AS band_pairs,
        |  CAST(MIN(CASE WHEN in_band THEN abs(ca - cb) END) AS BIGINT)
        |    AS tightest_diff_cents,
        |  (CAST(SUM(CASE WHEN in_band THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS survival_ppm
        |FROM j GROUP BY 1 ORDER BY prio""".stripMargin),

    // Locale-aware money parsing — the ETL staple behind every ledger
    // ingest: amounts arrive as '$1,234.56' (US), '1.234,56 €' (EU,
    // separators swapped) or bare '1234.56'; the parser strips currency
    // marks, removes grouping separators, normalizes the decimal comma
    // and reassembles EXACT integer cents. The fixture renders each
    // class from the order's own cents, so the graded round-trip (parsed
    // cents mass == source cents mass, zero mismatches) is a proof, not
    // a spot check. Pure string surgery — codegen'd, no UDF.
    Op("fn_money_parse_locale", (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"),
          expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("d", expr("cents DIV 100"))
        .withColumn("f", expr("cents % 100"))
        .withColumn("grouped", when(col("d") >= 1000L,
          concat(expr("CAST(d DIV 1000 AS STRING)"), lit(","),
            lpad(expr("CAST(d % 1000 AS STRING)"), 3, "0")))
          .otherwise(expr("CAST(d AS STRING)")))
        .withColumn("cls",
          when(col("o_orderkey") % 3 === 0, lit("us"))
            .when(col("o_orderkey") % 3 === 1, lit("eu")).otherwise(lit("plain")))
        .withColumn("raw",
          when(col("cls") === "us", concat(lit("$"), col("grouped"), lit("."),
            lpad(expr("CAST(f AS STRING)"), 2, "0")))
            .when(col("cls") === "eu", concat(
              translate(col("grouped"), ",", "."), lit(","),
              lpad(expr("CAST(f AS STRING)"), 2, "0"), lit(" €")))
            .otherwise(concat(col("d").cast("string"), lit("."),
              lpad(expr("CAST(f AS STRING)"), 2, "0"))))
      base
        .withColumn("norm",
          when(col("cls") === "eu",
            translate(regexp_replace(col("raw"), "[€ ]", ""), ".,", ",."))
            .otherwise(regexp_replace(col("raw"), "[$]", "")))
        .withColumn("clean", regexp_replace(col("norm"), ",", ""))
        .withColumn("parsed_cents",
          expr("CAST(split(clean, '\\\\.')[0] AS BIGINT) * 100 + CAST(split(clean, '\\\\.')[1] AS BIGINT)"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_amounts"),
          sum("cents").as("source_cents"),
          sum("parsed_cents").as("parsed_cents"),
          sum(when(col("parsed_cents") =!= col("cents"), 1L).otherwise(0L))
            .as("mismatches"))
        .withColumn("roundtrip_exact", col("mismatches") === 0L)
        .orderBy("cls")
    },
      """WITH b AS (
        |  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) // 100 AS d,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) % 100 AS f
        |  FROM orders),
        |g AS (
        |  SELECT *, CASE WHEN d >= 1000 THEN
        |      CAST(d // 1000 AS VARCHAR) || ',' || lpad(CAST(d % 1000 AS VARCHAR), 3, '0')
        |    ELSE CAST(d AS VARCHAR) END AS grouped,
        |    CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'us'
        |      WHEN 1 THEN 'eu' ELSE 'plain' END AS cls
        |  FROM b),
        |raws AS (
        |  SELECT cls, cents,
        |    CASE cls
        |      WHEN 'us' THEN '$' || grouped || '.' || lpad(CAST(f AS VARCHAR), 2, '0')
        |      WHEN 'eu' THEN replace(grouped, ',', '.') || ',' ||
        |        lpad(CAST(f AS VARCHAR), 2, '0') || ' €'
        |      ELSE CAST(d AS VARCHAR) || '.' || lpad(CAST(f AS VARCHAR), 2, '0')
        |    END AS raw
        |  FROM g),
        |n AS (
        |  SELECT cls, cents,
        |    replace(CASE WHEN cls = 'eu'
        |      THEN translate(regexp_replace(raw, '[€ ]', '', 'g'), '.,', ',.')
        |      ELSE regexp_replace(raw, '[$]', '', 'g') END, ',', '') AS clean
        |  FROM raws),
        |p AS (
        |  SELECT cls, cents,
        |    CAST(str_split(clean, '.')[1] AS BIGINT) * 100 +
        |    CAST(str_split(clean, '.')[2] AS BIGINT) AS parsed_cents
        |  FROM n)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_amounts,
        |  CAST(SUM(cents) AS BIGINT) AS source_cents,
        |  CAST(SUM(parsed_cents) AS BIGINT) AS parsed_cents,
        |  CAST(SUM(CASE WHEN parsed_cents <> cents THEN 1 ELSE 0 END) AS BIGINT)
        |    AS mismatches,
        |  SUM(CASE WHEN parsed_cents <> cents THEN 1 ELSE 0 END) = 0 AS roundtrip_exact
        |FROM p GROUP BY 1 ORDER BY cls""".stripMargin),

    // Access recertification — the quarterly governance sweep over the
    // grant matrix (warehouse_grants declares WHO may; this op audits
    // whether they still DO): a bounded principal×object grant matrix
    // joined against last-use telemetry from the event log; grants never
    // used revoke immediately, grants idle past 30 days (vs the corpus
    // high-water mark, so the audit replays exactly) go to the recert
    // queue. Per principal cohort: grants, active, stale, never-used,
    // revoke-candidate ppm. Usage rollup is the only data-scaled work;
    // the matrix side is broadcast.
    Op("warehouse_access_recert", (s, d) => {
      val grants = s.range(16).select(col("id").as("p"))
        .crossJoin(s.range(10).select(col("id").as("o")))
        .where((col("p") + col("o")) % 3 =!= 1)
      val usage = Tables.events(s, d)
        .select((col("user_id") % 16).as("p"), (col("event_id") % 10).as("o"),
          col("ts_us"))
        .groupBy("p", "o").agg(max("ts_us").as("last_use"))
      val hwm = Tables.events(s, d).agg(max("ts_us").as("hwm"))
      usage.join(broadcast(grants), Seq("p", "o"), "right")
        .crossJoin(broadcast(hwm))
        .withColumn("status",
          when(col("last_use").isNull, lit("never_used"))
            .when(col("hwm") - col("last_use") > 2592000000000L, lit("stale"))
            .otherwise(lit("active")))
        .groupBy((col("p") % 4).as("cohort"))
        .agg(count(lit(1)).as("n_grants"),
          sum(when(col("status") === "active", 1L).otherwise(0L)).as("active"),
          sum(when(col("status") === "stale", 1L).otherwise(0L)).as("stale"),
          sum(when(col("status") === "never_used", 1L).otherwise(0L))
            .as("never_used"))
        .withColumn("revoke_ppm",
          expr("((stale + never_used) * 1000000) DIV n_grants"))
        .orderBy("cohort")
    },
      """WITH grants AS (
        |  SELECT p.range AS p, o.range AS o
        |  FROM range(0, 16) p CROSS JOIN range(0, 10) o
        |  WHERE (p.range + o.range) % 3 <> 1),
        |usage AS (
        |  SELECT user_id % 16 AS p, event_id % 10 AS o,
        |    MAX(epoch_us(ts)) AS last_use
        |  FROM events GROUP BY 1, 2),
        |hwm AS (SELECT MAX(epoch_us(ts)) AS h FROM events),
        |st AS (
        |  SELECT grants.p,
        |    CASE WHEN last_use IS NULL THEN 'never_used'
        |         WHEN (SELECT h FROM hwm) - last_use > 2592000000000 THEN 'stale'
        |         ELSE 'active' END AS status
        |  FROM grants LEFT JOIN usage
        |    ON grants.p = usage.p AND grants.o = usage.o)
        |SELECT p % 4 AS cohort, CAST(COUNT(*) AS BIGINT) AS n_grants,
        |  CAST(SUM(CASE WHEN status = 'active' THEN 1 ELSE 0 END) AS BIGINT) AS active,
        |  CAST(SUM(CASE WHEN status = 'stale' THEN 1 ELSE 0 END) AS BIGINT) AS stale,
        |  CAST(SUM(CASE WHEN status = 'never_used' THEN 1 ELSE 0 END) AS BIGINT) AS never_used,
        |  (CAST(SUM(CASE WHEN status IN ('stale', 'never_used') THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // CAST(COUNT(*) AS BIGINT) AS revoke_ppm
        |FROM st GROUP BY 1 ORDER BY cohort""".stripMargin),

    // JWT claims parsing + expiry validation — the auth gate in front of
    // every person-service endpoint: tokens carry a base64url payload
    // (fixture-minted from the event's own fields, padding stripped like
    // real JWTs); the parser re-pads, maps the url alphabet back to
    // base64, decodes, and extracts claims by JSON path; a token is
    // EXPIRED when its exp claim sits at or before the corpus
    // high-water second (exact integer compare). Per scope: tokens,
    // expired + ppm, distinct subjects. All codegen'd string/JSON
    // builtins — no UDF.
    Op("fn_jwt_parse", (s, d) => {
      val hwm = Tables.events(s, d)
        .agg(expr("MAX(ts_us DIV 1000000)").as("now_sec"))
      val minted = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_us DIV 1000000").as("ts_sec"),
          expr("CAST(FLOOR(value) AS BIGINT)").as("v"))
        .withColumn("payload", concat(lit("{\"sub\":\"u"),
          col("user_id").cast("string"), lit("\",\"exp\":"),
          (col("ts_sec") + col("v") * 10000L).cast("string"),
          lit(",\"scope\":\""), col("event_type"), lit("\"}")))
        .withColumn("token", concat(lit("eyJhbGciOiJIUzI1NiJ9."),
          regexp_replace(translate(expr("base64(CAST(payload AS BINARY))"),
            "+/", "-_"), "=", ""), lit(".sig")))
      minted
        .withColumn("p64", expr("split(token, '\\\\.')[1]"))
        .withColumn("p64pad", concat(col("p64"),
          expr("repeat('=', (4 - length(p64) % 4) % 4)")))
        .withColumn("claims",
          expr("CAST(unbase64(translate(p64pad, '-_', '+/')) AS STRING)"))
        .withColumn("sub", expr("get_json_object(claims, '$.sub')"))
        .withColumn("exp", expr("CAST(get_json_object(claims, '$.exp') AS BIGINT)"))
        .withColumn("scope", expr("get_json_object(claims, '$.scope')"))
        .crossJoin(broadcast(hwm))
        .withColumn("expired", col("exp") <= col("now_sec"))
        .groupBy("scope")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("expired"), 1L).otherwise(0L)).as("n_expired"),
          countDistinct("sub").as("n_subjects"))
        .withColumn("expired_ppm", expr("(n_expired * 1000000) DIV n_tokens"))
        .orderBy("scope")
    },
      """WITH hwm AS (SELECT MAX(epoch_us(ts) // 1000000) AS now_sec FROM events),
        |minted AS (
        |  SELECT user_id, event_type,
        |    '{"sub":"u' || CAST(user_id AS VARCHAR) || '","exp":' ||
        |    CAST(epoch_us(ts) // 1000000 +
        |      CAST(FLOOR(value) AS BIGINT) * 10000 AS VARCHAR) ||
        |    ',"scope":"' || event_type || '"}' AS payload
        |  FROM events),
        |tok AS (
        |  SELECT 'eyJhbGciOiJIUzI1NiJ9.' ||
        |    replace(translate(to_base64(encode(payload)), '+/', '-_'), '=', '')
        |    || '.sig' AS token
        |  FROM minted),
        |p AS (
        |  SELECT str_split(token, '.')[2] AS p64 FROM tok),
        |dec AS (
        |  SELECT decode(from_base64(translate(
        |    p64 || repeat('=', (4 - length(p64) % 4) % 4), '-_', '+/'))) AS claims
        |  FROM p),
        |c AS (
        |  SELECT json_extract_string(claims, '$.sub') AS sub,
        |    CAST(json_extract_string(claims, '$.exp') AS BIGINT) AS exp,
        |    json_extract_string(claims, '$.scope') AS scope
        |  FROM dec)
        |SELECT scope, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN exp <= (SELECT now_sec FROM hwm)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
        |  CAST(COUNT(DISTINCT sub) AS BIGINT) AS n_subjects,
        |  (CAST(SUM(CASE WHEN exp <= (SELECT now_sec FROM hwm)
        |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS expired_ppm
        |FROM c GROUP BY 1 ORDER BY scope""".stripMargin),

    // GPU bin-packing plan — the training-cluster capacity question: jobs
    // (memory demand from doc size) packed pool-by-pool in size-DESC
    // order onto 80 GB nodes by contiguous cumulative allocation; a job
    // whose span crosses a node boundary pays a migration (the straddler
    // census — the cost of NOT solving true bin packing, reported
    // honestly). Per pool: jobs, memory mass, nodes used (= the ceil
    // lower bound under contiguous allocation), straddlers + ppm, and
    // node utilization ppm. One pool-partitioned cumsum window + rollup.
    Op("llm_gpu_packing_plan", (s, d) => {
      val wp = Window.partitionBy("pool")
        .orderBy(col("mem_gb").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source").as("pool"),
          (expr("n_chars DIV 100") + 1L).as("mem_gb"))
        .withColumn("cum", sum("mem_gb").over(wp))
        .withColumn("straddle",
          when(expr("(cum - 1) DIV 80") =!= expr("(cum - mem_gb) DIV 80"), 1L)
            .otherwise(0L))
        .groupBy("pool")
        .agg(count(lit(1)).as("n_jobs"), sum("mem_gb").as("mem_total_gb"),
          expr("(MAX(cum) + 79) DIV 80").as("nodes_used"),
          sum("straddle").as("straddlers"))
        .withColumn("straddle_ppm", expr("(straddlers * 1000000) DIV n_jobs"))
        .withColumn("utilization_ppm",
          expr("(mem_total_gb * 1000000) DIV (nodes_used * 80)"))
        .orderBy("pool")
    },
      """WITH j AS (
        |  SELECT doc_id, source AS pool, n_chars // 100 + 1 AS mem_gb
        |  FROM documents),
        |w AS (
        |  SELECT pool, mem_gb,
        |    SUM(mem_gb) OVER (PARTITION BY pool ORDER BY mem_gb DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM j),
        |st AS (
        |  SELECT pool, mem_gb, cum,
        |    CASE WHEN (cum - 1) // 80 <> (cum - mem_gb) // 80
        |      THEN 1 ELSE 0 END AS straddle
        |  FROM w)
        |SELECT pool, CAST(COUNT(*) AS BIGINT) AS n_jobs,
        |  CAST(SUM(mem_gb) AS BIGINT) AS mem_total_gb,
        |  CAST((MAX(cum) + 79) // 80 AS BIGINT) AS nodes_used,
        |  CAST(SUM(straddle) AS BIGINT) AS straddlers,
        |  (CAST(SUM(straddle) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
        |    AS straddle_ppm,
        |  (CAST(SUM(mem_gb) AS BIGINT) * 1000000)
        |    // (CAST((MAX(cum) + 79) // 80 AS BIGINT) * 80) AS utilization_ppm
        |FROM st GROUP BY 1 ORDER BY pool""".stripMargin),

    // Dormancy → reactivation census — the growth-analytics counterpart
    // of agg_cohort_retention (retention asks who stays; this asks who
    // COMES BACK): a user event after a > 7-day silence is a
    // reactivation; graded per calendar week: active users, reactivated
    // users, events, reactivation ppm — the resurrection curve a growth
    // team plots. One user-partitioned lag + one week rollup.
    Op("agg_dormancy_reactivation", (s, d) => {
      val wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(wu))
        .withColumn("reactivated",
          when(col("gap_us") > 604800000000L, 1L).otherwise(0L))
        .groupBy(expr("ts_us DIV 604800000000").as("week"))
        .agg(countDistinct("user_id").as("active_users"),
          count(lit(1)).as("n_events"),
          sum("reactivated").as("reactivations"),
          countDistinct(when(col("reactivated") === 1L, col("user_id")))
            .as("reactivated_users"))
        .withColumn("reactivation_ppm",
          expr("(reactivated_users * 1000000) DIV active_users"))
        .orderBy("week")
    },
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |r AS (
        |  SELECT user_id, ts_us // 604800000000 AS week,
        |    CASE WHEN gap_us > 604800000000 THEN 1 ELSE 0 END AS reactivated
        |  FROM g)
        |SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(reactivated) AS BIGINT) AS reactivations,
        |  CAST(COUNT(DISTINCT CASE WHEN reactivated = 1 THEN user_id END) AS BIGINT)
        |    AS reactivated_users,
        |  (CAST(COUNT(DISTINCT CASE WHEN reactivated = 1 THEN user_id END) AS BIGINT)
        |    * 1000000) // CAST(COUNT(DISTINCT user_id) AS BIGINT) AS reactivation_ppm
        |FROM r GROUP BY 1 ORDER BY week""".stripMargin),

    // IP-range lookup join — the classic geo/ASN enrich that a naive
    // planner executes as a range-predicate cartesian: the range dim
    // (256 /8 blocks, each split at a planted offset into two owners) is
    // BUCKETED at /8 granularity so the probe joins on an exact equi-key
    // (ip DIV 2²⁴) and only the in-bucket containment check remains —
    // the range join becomes one broadcast equi-join at any traffic
    // volume. Per owner class: lookups, matched, unmatched (the planted
    // reserved blocks), match ppm.
    Op("join_ip_range_lookup", (s, d) => {
      val ranges = s.range(256).select(col("id").as("block"))
        .withColumn("split_at", expr(
          s"${md5Bits("ip", "block", 6)} % 16777216"))
        .select(
          struct(col("block"), (col("block") * 16777216L).as("lo"),
            (col("block") * 16777216L + col("split_at")).as("hi"),
            concat(lit("as"), (col("block") % 5).cast("string")).as("owner")).as("r"))
        .unionByName(s.range(256).select(col("id").as("block"))
          .withColumn("split_at", expr(
            s"${md5Bits("ip", "block", 6)} % 16777216"))
          .where(col("block") % 8 =!= 3) // every 8th block's upper half is reserved
          .select(struct(col("block"),
            (col("block") * 16777216L + col("split_at")).as("lo"),
            ((col("block") + 1) * 16777216L).as("hi"),
            concat(lit("as"), ((col("block") + 2) % 5).cast("string")).as("owner")).as("r")))
        .select(col("r.block").as("block"), col("r.lo").as("lo"),
          col("r.hi").as("hi"), col("r.owner").as("owner"))
      val probes = Tables.events(s, d)
        .select(col("event_id"), expr(
          s"${md5Bits("addr", "event_id", 8)} % 4294967296").as("ip"))
        .withColumn("block", expr("ip DIV 16777216"))
      probes.join(broadcast(ranges), Seq("block"), "left")
        .withColumn("hit",
          when(col("ip") >= col("lo") && col("ip") < col("hi"), 1L).otherwise(0L))
        .groupBy("event_id", "ip")
        .agg(max(when(col("hit") === 1L, col("owner"))).as("owner"))
        .groupBy(coalesce(col("owner"), lit("unrouted")).as("owner"))
        .agg(count(lit(1)).as("n_lookups"))
        .withColumn("routed", col("owner") =!= "unrouted")
        .orderBy("owner")
    },
      s"""WITH blocks AS (
        |  SELECT b.range AS block,
        |    ${duckMd5Bits("ip", "b.range", 6)}
        |      % 16777216 AS split_at
        |  FROM range(0, 256) b),
        |ranges AS (
        |  SELECT block, block * 16777216 AS lo,
        |    block * 16777216 + split_at AS hi,
        |    'as' || CAST(block % 5 AS VARCHAR) AS owner
        |  FROM blocks
        |  UNION ALL
        |  SELECT block, block * 16777216 + split_at,
        |    (block + 1) * 16777216,
        |    'as' || CAST((block + 2) % 5 AS VARCHAR)
        |  FROM blocks WHERE block % 8 <> 3),
        |probes AS (
        |  SELECT event_id,
        |    ${duckMd5Bits("addr", "event_id", 8)}
        |      % 4294967296 AS ip
        |  FROM events),
        |m AS (
        |  SELECT p.event_id, p.ip,
        |    MAX(CASE WHEN p.ip >= r.lo AND p.ip < r.hi THEN r.owner END) AS owner
        |  FROM probes p LEFT JOIN ranges r ON p.ip // 16777216 = r.block
        |  GROUP BY 1, 2)
        |SELECT COALESCE(owner, 'unrouted') AS owner,
        |  CAST(COUNT(*) AS BIGINT) AS n_lookups,
        |  COALESCE(owner, 'unrouted') <> 'unrouted' AS routed
        |FROM m GROUP BY 1 ORDER BY owner""".stripMargin),

    // Train/test split-leakage audit — the contamination check BETWEEN
    // llm_dedup_* (which dedups one corpus) and llm_decontam_ngram
    // (which screens against a known eval set): docs hash-split 90/10
    // into train/test, near-dup clusters keyed by a fingerprint (planted
    // pairs: every doc_id ≡ 1 mod 6 clusters with its predecessor — the
    // dedup stage's output, consumed here as the cluster key), and any
    // cluster spanning BOTH sides leaks test signal into training. Per
    // source:
    // clusters, leaking clusters, test docs, tainted test docs + ppm
    // (the fraction of the eval set whose score is untrustworthy). Two
    // rollups over one scan.
    Op("llm_split_leakage_audit", (s, d) => {
      val split = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          expr("""md5(concat('fp:', CAST(doc_id -
                 |  (CASE WHEN doc_id % 6 = 1 THEN 1 ELSE 0 END) AS STRING)))"""
            .stripMargin).as("fp"))
        .withColumn("side", when(expr(
          s"${md5Bits("split", "doc_id", 6)} % 10") === 7,
          lit("test")).otherwise(lit("train")))
      val clusters = split.groupBy("fp")
        .agg(expr("min_by(source, doc_id)").as("source"),
          sum(when(col("side") === "train", 1L).otherwise(0L)).as("train_docs"),
          sum(when(col("side") === "test", 1L).otherwise(0L)).as("test_docs"))
        .withColumn("leaks", col("train_docs") > 0L && col("test_docs") > 0L)
      clusters.groupBy("source")
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("leaks"), 1L).otherwise(0L)).as("leaking_clusters"),
          sum("test_docs").as("test_docs"),
          sum(when(col("leaks"), col("test_docs")).otherwise(0L))
            .as("tainted_test_docs"))
        .withColumn("taint_ppm",
          when(col("test_docs") > 0L,
            expr("(tainted_test_docs * 1000000) DIV test_docs")).otherwise(0L))
        .orderBy("source")
    },
      s"""WITH sp AS (
        |  SELECT doc_id, source,
        |    md5('fp:' || CAST(doc_id -
        |      (CASE WHEN doc_id % 6 = 1 THEN 1 ELSE 0 END) AS VARCHAR)) AS fp,
        |    CASE WHEN ${duckMd5Bits("split", "doc_id", 6)} % 10 = 7
        |      THEN 'test' ELSE 'train' END AS side
        |  FROM documents),
        |cl AS (
        |  SELECT fp, min_by(source, doc_id) AS source,
        |    CAST(SUM(CASE WHEN side = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS train_docs,
        |    CAST(SUM(CASE WHEN side = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS test_docs
        |  FROM sp GROUP BY 1),
        |lk AS (SELECT *, train_docs > 0 AND test_docs > 0 AS leaks FROM cl)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(CASE WHEN leaks THEN 1 ELSE 0 END) AS BIGINT) AS leaking_clusters,
        |  CAST(SUM(test_docs) AS BIGINT) AS test_docs,
        |  CAST(SUM(CASE WHEN leaks THEN test_docs ELSE 0 END) AS BIGINT) AS tainted_test_docs,
        |  CASE WHEN SUM(test_docs) > 0 THEN
        |    (CAST(SUM(CASE WHEN leaks THEN test_docs ELSE 0 END) AS BIGINT) * 1000000)
        |      // CAST(SUM(test_docs) AS BIGINT)
        |  ELSE 0 END AS taint_ppm
        |FROM lk GROUP BY 1 ORDER BY source""".stripMargin),

    // Consent bitmask decode — the ad-tech/privacy purpose-string gate
    // (TCF-style): each user carries a 12-purpose consent bitmask; the
    // decoder explodes the bounded purpose axis and tests bits by shift
    // — a 12× fixed fan-out, linear at any scale. Planted: purpose 3 is
    // universally denied (masked off), purpose 0 universally granted.
    // Per purpose: users, granted + ppm — the audience-size readout a
    // consent-management platform serves.
    Op("fn_consent_bitmask_decode", (s, d) => {
      val masks = Tables.customer(s, d)
        .select(col("c_custkey"),
          (expr(s"${md5Bits("cm", "c_custkey", 4)} % 4096")
            .bitwiseOR(lit(1L))).bitwiseAND(lit(4087L)).as("mask"))
      masks
        .withColumn("purpose", explode(expr("sequence(0, 11)")))
        .withColumn("granted", expr("shiftright(mask, purpose) % 2"))
        .groupBy("purpose")
        .agg(count(lit(1)).as("n_users"), sum("granted").as("n_granted"))
        .withColumn("grant_ppm", expr("(n_granted * 1000000) DIV n_users"))
        .orderBy("purpose")
    },
      s"""WITH m AS (
        |  SELECT c_custkey,
        |    ((${duckMd5Bits("cm", "c_custkey", 4)}
        |      % 4096) | 1) & 4087 AS mask
        |  FROM customer),
        |e AS (
        |  SELECT mask, p.range AS purpose FROM m
        |  CROSS JOIN range(0, 12) p)
        |SELECT CAST(purpose AS INT) AS purpose, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM((mask >> CAST(purpose AS INT)) % 2) AS BIGINT) AS n_granted,
        |  (CAST(SUM((mask >> CAST(purpose AS INT)) % 2) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS grant_ppm
        |FROM e GROUP BY 1 ORDER BY purpose""".stripMargin),

    // Playback QoE rollup — the streaming-video telemetry triple every
    // player team tracks: per (user, day) viewing session the bitrate
    // ladder rung is md5-assigned per event, SWITCHES are lag-detected
    // rung changes (the instability cost), REBUFFERS are the error
    // events; the session QoE in exact milli = 1000 − rebuffer-rate
    // penalty − half the switch rate. One session-partitioned lag + two
    // rollups; everything integer.
    Op("mm_playback_qoe", (s, d) => {
      val wSess = Window.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("day", expr("ts_us DIV 86400000000"))
        .withColumn("rung", expr(
          s"element_at(array(240, 360, 480, 720, 1080), CAST(${md5Bits("br", "event_id", 4)} % 5 AS INT) + 1)"))
        .withColumn("switched",
          when(col("rung") =!= lag("rung", 1).over(wSess), 1L).otherwise(0L))
        .withColumn("rebuffer",
          when(col("event_type") === "error", 1L).otherwise(0L))
        .groupBy((col("user_id") % 8).as("principal"))
        .agg(countDistinct("user_id", "day").as("n_sessions"),
          count(lit(1)).as("n_events"),
          sum("switched").as("switches"),
          sum("rebuffer").as("rebuffers"),
          sum("rung").as("rung_mass"))
        .withColumn("mean_rung", expr("rung_mass DIV n_events"))
        .withColumn("qoe_milli", expr(
          "1000 - (rebuffers * 1000) DIV n_events - (switches * 500) DIV n_events"))
        .orderBy("principal")
    },
      s"""WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    ([240, 360, 480, 720, 1080])[CAST(${duckMd5Bits("br", "event_id", 4)}
        |      % 5 AS INT) + 1] AS rung
        |  FROM events),
        |l AS (
        |  SELECT user_id, day, event_type, rung,
        |    CASE WHEN rung <> LAG(rung) OVER (PARTITION BY user_id, day
        |      ORDER BY ts_us, event_id) THEN 1 ELSE 0 END AS switched
        |  FROM ev)
        |SELECT user_id % 8 AS principal,
        |  CAST(COUNT(DISTINCT (user_id, day)) AS BIGINT) AS n_sessions,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(switched) AS BIGINT) AS switches,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS rebuffers,
        |  CAST(SUM(rung) AS BIGINT) AS rung_mass,
        |  CAST(SUM(rung) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_rung,
        |  1000 - (CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000) // CAST(COUNT(*) AS BIGINT)
        |  - (CAST(SUM(switched) AS BIGINT) * 500) // CAST(COUNT(*) AS BIGINT) AS qoe_milli
        |FROM l GROUP BY 1 ORDER BY principal""".stripMargin),

    // PII tag propagation through lineage — the governance closure every
    // catalog runs (tag the sources, and every derived table downstream
    // inherits the tag): a bounded 20-table lineage DAG (edges strictly
    // increasing, so it IS a DAG), PII seeded on the three ingest tables.
    // The ≤4-hop closure is built in ONE plan — walks of length 0..4 via
    // chained self-joins of the 20-row edge table (≤48 walks total), then
    // min-hop per table = the BFS level. The r13 shape ran four
    // SEQUENTIAL frontier anti-join job waves and paid ~8 calib-units of
    // pure stage-scheduling latency for 20 rows of metadata (VERDICT r13
    // item 5); one declarative plan schedules once.
    Op("warehouse_tag_propagation", (s, d) => {
      def tables = s.range(20).select(col("id").as("t"))
      def edges = tables.select(col("t").as("src"), (col("t") + 3).as("dst"))
        .where(col("dst") < 20)
        .unionByName(tables.where(col("t") % 2 === 0)
          .select(col("t").as("src"), (col("t") + 5).as("dst"))
          .where(col("dst") < 20))
      def step(w: DataFrame, h: Int): DataFrame = {
        val e = edges
        w.join(e, w("n") === e("src")).select(col("dst").as("n"), lit(h).as("hop"))
      }
      val w0 = tables.where(col("t") <= 2)
        .select(col("t").as("n"), lit(0).as("hop"))
      val w1 = step(w0, 1); val w2 = step(w1, 2)
      val w3 = step(w2, 3); val w4 = step(w3, 4)
      val tagged = w0.unionByName(w1).unionByName(w2).unionByName(w3)
        .unionByName(w4)
        .groupBy(col("n").as("t")).agg(min("hop").as("hop"))
      tagged.groupBy("hop")
        .agg(count(lit(1)).as("newly_tagged"),
          expr("array_join(sort_array(collect_list(CAST(t AS STRING))), ',')")
            .as("tables_csv"))
        .orderBy("hop")
    },
      """WITH tables AS (SELECT range AS t FROM range(0, 20)),
        |edges AS (
        |  SELECT t AS src, t + 3 AS dst FROM tables WHERE t + 3 < 20
        |  UNION ALL
        |  SELECT t, t + 5 FROM tables WHERE t % 2 = 0 AND t + 5 < 20),
        |h0 AS (SELECT t, 0 AS hop FROM tables WHERE t <= 2),
        |f1 AS (SELECT DISTINCT dst AS t FROM edges
        |       WHERE src IN (SELECT t FROM h0) AND dst NOT IN (SELECT t FROM h0)),
        |a1 AS (SELECT t FROM h0 UNION SELECT t FROM f1),
        |f2 AS (SELECT DISTINCT dst AS t FROM edges
        |       WHERE src IN (SELECT t FROM f1) AND dst NOT IN (SELECT t FROM a1)),
        |a2 AS (SELECT t FROM a1 UNION SELECT t FROM f2),
        |f3 AS (SELECT DISTINCT dst AS t FROM edges
        |       WHERE src IN (SELECT t FROM f2) AND dst NOT IN (SELECT t FROM a2)),
        |a3 AS (SELECT t FROM a2 UNION SELECT t FROM f3),
        |f4 AS (SELECT DISTINCT dst AS t FROM edges
        |       WHERE src IN (SELECT t FROM f3) AND dst NOT IN (SELECT t FROM a3)),
        |tagged AS (
        |  SELECT t, hop FROM h0
        |  UNION ALL SELECT t, 1 FROM f1
        |  UNION ALL SELECT t, 2 FROM f2
        |  UNION ALL SELECT t, 3 FROM f3
        |  UNION ALL SELECT t, 4 FROM f4)
        |SELECT CAST(hop AS INT) AS hop, CAST(COUNT(*) AS BIGINT) AS newly_tagged,
        |  string_agg(CAST(t AS VARCHAR), ',' ORDER BY CAST(t AS VARCHAR)) AS tables_csv
        |FROM tagged GROUP BY 1 ORDER BY hop""".stripMargin),

    // Saga compensation audit — the distributed-transaction ledger check
    // for a microservice person-store: the request log as 6-step sagas;
    // a quarter of sagas fail at an md5-chosen step, and every executed
    // step of a failed saga must log a compensation in reverse — except
    // the planted txn ≡ 3 mod 19 class, which lost one (the dangling
    // side-effect an auditor hunts). Per shard: sagas, failed, fully
    // compensated, missing-compensation count + ppm, and the orphaned
    // step mass. One rollup over the txn grouping.
    Op("service_saga_audit", (s, d) => {
      Tables.events(s, d)
        .select(expr("event_id DIV 6").as("txn"))
        .groupBy("txn")
        .agg(count(lit(1)).as("observed_steps"))
        .withColumn("h", expr(
          md5Bits("saga", "txn", 6)))
        .withColumn("failed", col("h") % 4 === 0)
        .withColumn("fail_at", when(col("failed"), col("h") % 6 + 1))
        .withColumn("executed",
          when(col("failed"), least(col("observed_steps"), col("fail_at") - 1))
            .otherwise(col("observed_steps")))
        .withColumn("compensations",
          when(!col("failed"), lit(0L))
            .when(col("txn") % 19 === 3, greatest(col("executed") - 1, lit(0L)))
            .otherwise(col("executed")))
        .withColumn("missing",
          col("failed") && col("compensations") < col("executed"))
        .groupBy((col("txn") % 8).as("shard"))
        .agg(count(lit(1)).as("n_sagas"),
          sum(when(col("failed"), 1L).otherwise(0L)).as("n_failed"),
          sum(when(col("failed") && !col("missing"), 1L).otherwise(0L))
            .as("fully_compensated"),
          sum(when(col("missing"), 1L).otherwise(0L)).as("missing_compensation"),
          sum(when(col("missing"), col("executed") - col("compensations"))
            .otherwise(0L)).as("orphaned_steps"))
        .withColumn("missing_ppm",
          expr("(missing_compensation * 1000000) DIV n_sagas"))
        .orderBy("shard")
    },
      s"""WITH tx AS (
        |  SELECT event_id // 6 AS txn, CAST(COUNT(*) AS BIGINT) AS observed_steps
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT *, ${duckMd5Bits("saga", "txn", 6)} AS hv
        |  FROM tx),
        |st AS (
        |  SELECT txn, observed_steps, hv % 4 = 0 AS failed,
        |    CASE WHEN hv % 4 = 0 THEN hv % 6 + 1 END AS fail_at
        |  FROM h),
        |ex AS (
        |  SELECT txn, failed,
        |    CASE WHEN failed THEN LEAST(observed_steps, fail_at - 1)
        |         ELSE observed_steps END AS executed
        |  FROM st),
        |cp AS (
        |  SELECT txn, failed, executed,
        |    CASE WHEN NOT failed THEN 0
        |         WHEN txn % 19 = 3 THEN GREATEST(executed - 1, 0)
        |         ELSE executed END AS compensations
        |  FROM ex),
        |ms AS (
        |  SELECT txn, failed, executed, compensations,
        |    failed AND compensations < executed AS missing
        |  FROM cp)
        |SELECT txn % 8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_sagas,
        |  CAST(SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
        |  CAST(SUM(CASE WHEN failed AND NOT missing THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fully_compensated,
        |  CAST(SUM(CASE WHEN missing THEN 1 ELSE 0 END) AS BIGINT) AS missing_compensation,
        |  CAST(SUM(CASE WHEN missing THEN executed - compensations ELSE 0 END) AS BIGINT)
        |    AS orphaned_steps,
        |  (CAST(SUM(CASE WHEN missing THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS missing_ppm
        |FROM ms GROUP BY 1 ORDER BY shard""".stripMargin),

    // Damerau–Levenshtein edit eval — exercises the new NATIVE
    // graftbridge expression (true Lowrance–Wagner DL, not OSA; Spark
    // ships only plain levenshtein): 16-char md5 keys corrupted per
    // class — adjacent TRANSPOSITION (DL charges 1 where levenshtein
    // charges 2 — the point of the algorithm), single substitution,
    // single deletion, clean. Graded per class: both distance masses and
    // the transposition SAVINGS (lev − dl), positive exactly where
    // transpositions were planted. DuckDB's damerau_levenshtein has the
    // identical true-DL semantics ("CA"→"ABC" = 2) — the oracle twin.
    Op("fn_damerau_edit_eval", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("substring(md5(concat('dl:', CAST(c_custkey AS STRING))), 1, 16)")
            .as("ref"))
        .withColumn("cls",
          when(col("c_custkey") % 4 === 0, lit("transpose"))
            .when(col("c_custkey") % 4 === 1, lit("substitute"))
            .when(col("c_custkey") % 4 === 2, lit("delete"))
            .otherwise(lit("clean")))
        .withColumn("hyp",
          when(col("cls") === "transpose", expr(
            "concat(substring(ref, 1, 4), substring(ref, 6, 1), substring(ref, 5, 1), substring(ref, 7, 10))"))
            .when(col("cls") === "substitute", expr(
              """concat(substring(ref, 1, 8),
                |  CASE WHEN substring(ref, 9, 1) = '9' THEN '0'
                |       WHEN substring(ref, 9, 1) = 'f' THEN 'a'
                |       ELSE chr(ascii(substring(ref, 9, 1)) + 1) END,
                |  substring(ref, 10, 7))""".stripMargin))
            .when(col("cls") === "delete", expr(
              "concat(substring(ref, 1, 2), substring(ref, 4, 13))"))
            .otherwise(col("ref")))
        .withColumn("dl", expr("graft_damerau(ref, hyp)"))
        .withColumn("lev", expr("levenshtein(ref, hyp)"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n"),
          sum("dl").as("dl_mass"), sum("lev").as("lev_mass"),
          max("dl").as("max_dl"))
        .withColumn("transposition_savings", col("lev_mass") - col("dl_mass"))
        .orderBy("cls")
    },
      """WITH r AS (
        |  SELECT c_custkey,
        |    substring(md5('dl:' || CAST(c_custkey AS VARCHAR)), 1, 16) AS ref,
        |    CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'transpose'
        |      WHEN 1 THEN 'substitute' WHEN 2 THEN 'delete'
        |      ELSE 'clean' END AS cls
        |  FROM customer),
        |h AS (
        |  SELECT cls, ref,
        |    CASE cls
        |      WHEN 'transpose' THEN substring(ref, 1, 4) || substring(ref, 6, 1)
        |        || substring(ref, 5, 1) || substring(ref, 7, 10)
        |      WHEN 'substitute' THEN substring(ref, 1, 8) ||
        |        (CASE WHEN substring(ref, 9, 1) = '9' THEN '0'
        |              WHEN substring(ref, 9, 1) = 'f' THEN 'a'
        |              ELSE chr(ascii(substring(ref, 9, 1)) + 1) END) ||
        |        substring(ref, 10, 7)
        |      WHEN 'delete' THEN substring(ref, 1, 2) || substring(ref, 4, 13)
        |      ELSE ref END AS hyp
        |  FROM r)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(damerau_levenshtein(ref, hyp)) AS BIGINT) AS dl_mass,
        |  CAST(SUM(levenshtein(ref, hyp)) AS BIGINT) AS lev_mass,
        |  CAST(MAX(damerau_levenshtein(ref, hyp)) AS INT) AS max_dl,
        |  CAST(SUM(levenshtein(ref, hyp)) - SUM(damerau_levenshtein(ref, hyp)) AS BIGINT)
        |    AS transposition_savings
        |FROM h GROUP BY 1 ORDER BY cls""".stripMargin),

    // Entity resolution under transposition-aware matching — the person-
    // linkage upgrade join_entity_resolution can't express with plain
    // levenshtein: every master key carries a constant 'xy' checksum
    // suffix and the dirty roster corrupts ONLY that suffix ('yx'
    // transposed / 'xz' shifted / 'zw' double-damaged / clean), so a
    // cross-candidate in the same 8-char block always sits at key-digit
    // distance ≥ 1 PLUS suffix distance ≥ 1 — no false links by
    // construction, bounded candidates, corruptions never touch the
    // block key. Matched at true-DL ≤ 1: the transposed class links at
    // DL 1 where levenshtein says 2 — `lev_missed` counts exactly the
    // records a plain-edit matcher would orphan; the double-damaged
    // class is provably unmatchable at ≤ 1. Per class: exact/fuzzy/
    // unmatched + lev_missed.
    Op("join_entity_resolution_dl", (s, d) => {
      val master = Tables.customer(s, d)
        .select(expr("concat('p', lpad(CAST(c_custkey AS STRING), 9, '0'), 'xy')")
          .as("m_name"))
        .withColumn("block", expr("substring(m_name, 1, 8)"))
      val dirty = Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("concat('p', lpad(CAST(c_custkey AS STRING), 9, '0'))").as("stem"))
        .withColumn("cls",
          when(col("c_custkey") % 5 === 1, lit("transposed"))
            .when(col("c_custkey") % 5 === 2, lit("shifted"))
            .when(col("c_custkey") % 5 === 3, lit("double_shift"))
            .otherwise(lit("clean")))
        .withColumn("d_name", concat(col("stem"),
          when(col("cls") === "transposed", lit("yx"))
            .when(col("cls") === "shifted", lit("xz"))
            .when(col("cls") === "double_shift", lit("zw"))
            .otherwise(lit("xy"))))
        .withColumn("block", expr("substring(d_name, 1, 8)"))
      val scored = dirty.join(master, Seq("block"), "left")
        .withColumn("dl", expr("graft_damerau(d_name, m_name)"))
        .withColumn("lev", expr("levenshtein(d_name, m_name)"))
        .groupBy("c_custkey", "cls")
        .agg(min(when(col("dl") <= 1, col("dl"))).as("best_dl"),
          min(when(col("dl") <= 1, col("lev"))).as("best_lev"))
      scored.groupBy("cls")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("best_dl") === 0, 1L).otherwise(0L)).as("matched_exact"),
          sum(when(col("best_dl") === 1, 1L).otherwise(0L)).as("matched_fuzzy"),
          sum(when(col("best_dl").isNull, 1L).otherwise(0L)).as("unmatched"),
          sum(when(col("best_dl") <= 1 && col("best_lev") > 1, 1L).otherwise(0L))
            .as("lev_missed"))
        .orderBy("cls")
    },
      """WITH master AS (
        |  SELECT 'p' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') || 'xy' AS m_name,
        |    substring('p' || lpad(CAST(c_custkey AS VARCHAR), 9, '0'), 1, 8) AS block
        |  FROM customer),
        |dirty AS (
        |  SELECT c_custkey,
        |    CASE CAST(c_custkey % 5 AS INT) WHEN 1 THEN 'transposed'
        |      WHEN 2 THEN 'shifted' WHEN 3 THEN 'double_shift'
        |      ELSE 'clean' END AS cls,
        |    'p' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') ||
        |    CASE CAST(c_custkey % 5 AS INT) WHEN 1 THEN 'yx'
        |      WHEN 2 THEN 'xz' WHEN 3 THEN 'zw' ELSE 'xy' END AS d_name
        |  FROM customer),
        |sc AS (
        |  SELECT d.c_custkey, d.cls,
        |    MIN(CASE WHEN damerau_levenshtein(d.d_name, m.m_name) <= 1
        |      THEN damerau_levenshtein(d.d_name, m.m_name) END) AS best_dl,
        |    MIN(CASE WHEN damerau_levenshtein(d.d_name, m.m_name) <= 1
        |      THEN levenshtein(d.d_name, m.m_name) END) AS best_lev
        |  FROM dirty d LEFT JOIN master m
        |    ON substring(d.d_name, 1, 8) = m.block
        |  GROUP BY 1, 2)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(CASE WHEN best_dl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched_exact,
        |  CAST(SUM(CASE WHEN best_dl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS matched_fuzzy,
        |  CAST(SUM(CASE WHEN best_dl IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unmatched,
        |  CAST(SUM(CASE WHEN best_dl <= 1 AND best_lev > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS lev_missed
        |FROM sc GROUP BY 1 ORDER BY cls""".stripMargin),

    // Dead-column audit — the warehouse hygiene sweep before a schema
    // diet: the query log references a 16-column bitmask per query
    // (md5-drawn, with columns 13–15 masked off — the planted dead
    // tier); per column: referencing queries, the last week it was
    // touched, and the DEAD flag that feeds the drop-column proposal.
    // Bounded 16× explode over the log + one rollup.
    Op("warehouse_dead_column_audit", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"), expr("ts_us DIV 604800000000").as("week"),
          expr(s"${md5Bits("q", "event_id", 4)} % 65536")
            .bitwiseAND(lit(8191L)).as("mask"))
        .withColumn("column_id", explode(expr("sequence(0, 15)")))
        .withColumn("referenced", expr("shiftright(mask, column_id) % 2"))
        .groupBy("column_id")
        .agg(sum("referenced").as("ref_queries"),
          max(when(col("referenced") === 1L, col("week"))).as("last_ref_week"))
        .withColumn("dead", col("ref_queries") === 0L)
        .orderBy("column_id")
    },
      s"""WITH q AS (
        |  SELECT event_id, epoch_us(ts) // 604800000000 AS week,
        |    (${duckMd5Bits("q", "event_id", 4)}
        |      % 65536) & 8191 AS mask
        |  FROM events),
        |e AS (
        |  SELECT mask, week, c.range AS column_id FROM q
        |  CROSS JOIN range(0, 16) c)
        |SELECT CAST(column_id AS INT) AS column_id,
        |  CAST(SUM((mask >> CAST(column_id AS INT)) % 2) AS BIGINT) AS ref_queries,
        |  CAST(MAX(CASE WHEN (mask >> CAST(column_id AS INT)) % 2 = 1
        |    THEN week END) AS BIGINT) AS last_ref_week,
        |  SUM((mask >> CAST(column_id AS INT)) % 2) = 0 AS dead
        |FROM e GROUP BY 1 ORDER BY column_id""".stripMargin),

    // Shapley-value channel attribution — the game-theoretic upgrade of
    // linear attribution (win_attribution splits credit by position; this
    // op computes the EXACT Shapley value of the 3-channel cooperative
    // game): journeys = (user, week) with touched-channel flags, a
    // conversion is a purchase that week; v(S) = conversions whose
    // touched set fits inside coalition S. With n = 3 the formula is a
    // bounded 8-coalition algebra — subset sums by bitmask join, Shapley
    // weights 2/6, 1/6, 1/6, 2/6 in exact sixths of a micro-credit. The
    // graded efficiency law Σφ = v(N) − v(∅) ties the whole table out.
    // One journey rollup is the only data-scaled work.
    Op("agg_shapley_attribution", (s, d) => {
      val journeys = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us DIV 604800000000").as("week"),
          col("event_type"))
        .groupBy("user_id", "week")
        .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("c0"),
          max(when(col("event_type") === "view", 1).otherwise(0)).as("c1"),
          max(when(col("event_type") === "signup", 1).otherwise(0)).as("c2"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
        .where(col("conv") === 1)
        .select((col("c0") + col("c1") * 2 + col("c2") * 4).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .localCheckpoint() // bounded 8 rows
      val coalitions = s.range(8).select(col("id").cast("int").as("coalition"))
      val v = coalitions.join(journeys,
          (col("cell").bitwiseAND(col("coalition"))) === col("cell"))
        .groupBy("coalition").agg(sum("n").as("v"))
      val vFull = coalitions.join(v, Seq("coalition"), "left")
        .na.fill(0L, Seq("v"))
      val channels = s.range(3).select(col("id").cast("int").as("channel"))
      channels
        .join(vFull.select(col("coalition").as("s"), col("v").as("vs")),
          (col("s").bitwiseAND(expr("shiftleft(1, channel)"))) === 0)
        .join(vFull.select(col("coalition").as("si"), col("v").as("vsi")),
          col("si") === col("s") + expr("shiftleft(1, channel)"))
        .withColumn("wnum",
          when(expr("bit_count(s)") === 0, 2L)
            .when(expr("bit_count(s)") === 1, 1L).otherwise(2L))
        .groupBy("channel")
        .agg(sum(col("wnum") * (col("vsi") - col("vs"))).as("six_marginals"))
        .withColumn("phi_micro", expr("(six_marginals * 1000000) DIV 6"))
        .crossJoin(broadcast(vFull.where(col("coalition") === 7)
          .select(col("v").as("v_full"))))
        .crossJoin(broadcast(vFull.where(col("coalition") === 0)
          .select(col("v").as("v_empty"))))
        .select("channel", "phi_micro", "six_marginals", "v_full", "v_empty")
        .orderBy("channel")
    },
      """WITH j AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS week,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c0,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
        |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c2,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |cells AS (
        |  SELECT c0 + c1 * 2 + c2 * 4 AS cell, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM j WHERE conv = 1 GROUP BY 1),
        |co AS (SELECT CAST(range AS INT) AS coalition FROM range(0, 8)),
        |v AS (
        |  SELECT coalition, CAST(COALESCE(SUM(n), 0) AS BIGINT) AS v
        |  FROM co LEFT JOIN cells ON (cell & coalition) = cell
        |  GROUP BY 1),
        |ch AS (SELECT CAST(range AS INT) AS channel FROM range(0, 3)),
        |marg AS (
        |  SELECT ch.channel,
        |    CASE WHEN bit_count(vs.coalition) = 0 THEN 2
        |         WHEN bit_count(vs.coalition) = 1 THEN 1 ELSE 2 END
        |      * (vsi.v - vs.v) AS m
        |  FROM ch
        |  JOIN v vs ON (vs.coalition & (1 << ch.channel)) = 0
        |  JOIN v vsi ON vsi.coalition = vs.coalition + (1 << ch.channel))
        |SELECT channel, CAST(SUM(m) AS BIGINT) AS six_marginals,
        |  (CAST(SUM(m) AS BIGINT) * 1000000) // 6 AS phi_micro,
        |  (SELECT v FROM v WHERE coalition = 7) AS v_full,
        |  (SELECT v FROM v WHERE coalition = 0) AS v_empty
        |FROM marg GROUP BY 1 ORDER BY channel""".stripMargin),

    // Max-min fair share (water-filling) — the multi-tenant allocator
    // every shared cluster runs: demands per principal, capacity = 60%
    // of total demand, the fill level found by the classic sorted-prefix
    // test (d_i affordable for everyone from rank i up ⇔ satisfied), the
    // unsatisfied tail split at the integer level with the remainder
    // handed one unit each to the largest demands (deterministic total
    // order). Graded per principal: demand, allocation, clipped — and
    // the allocations sum EXACTLY to capacity. The demand rollup is the
    // only data-scaled work; the fill algebra runs on 8 rows.
    Op("service_maxmin_fair_share", (s, d) => {
      val demands = Tables.events(s, d)
        .groupBy((col("user_id") % 8).as("principal"))
        .agg(count(lit(1)).as("demand"))
      val wAsc = Window.orderBy(col("demand"), col("principal"))
      val n = 8
      val ranked = demands
        .withColumn("idx", row_number().over(wAsc))
        .withColumn("prefix", sum("demand").over(
          wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(demands.agg(
          expr("(SUM(demand) * 3) DIV 5").as("cap"))))
        .withColumn("affordable",
          col("demand") * (lit(n) - col("idx") + 1) + col("prefix")
            - col("demand") <= col("cap"))
      val k = ranked.agg(
        sum(when(col("affordable"), 1).otherwise(0)).as("k"),
        max(when(col("affordable"), col("prefix"))).as("prefix_k")).na.fill(0)
      ranked.crossJoin(broadcast(k))
        .withColumn("level", expr(
          "(cap - coalesce(prefix_k, 0)) DIV (CASE WHEN k < 8 THEN 8 - k ELSE 1 END)"))
        .withColumn("rem", expr(
          "(cap - coalesce(prefix_k, 0)) % (CASE WHEN k < 8 THEN 8 - k ELSE 1 END)"))
        .withColumn("allocation",
          when(col("affordable"), col("demand"))
            .otherwise(col("level") +
              when(col("idx") > lit(n) - col("rem"), 1L).otherwise(0L)))
        .withColumn("clipped", !col("affordable"))
        .select("principal", "demand", "allocation", "clipped")
        .orderBy("principal")
    },
      """WITH dm AS (
        |  SELECT user_id % 8 AS principal, CAST(COUNT(*) AS BIGINT) AS demand
        |  FROM events GROUP BY 1),
        |cp AS (SELECT CAST((SUM(demand) * 3) // 5 AS BIGINT) AS cap FROM dm),
        |rk AS (
        |  SELECT principal, demand,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS idx,
        |    SUM(demand) OVER (w ROWS UNBOUNDED PRECEDING) AS prefix
        |  FROM dm WINDOW w AS (ORDER BY demand, principal)),
        |af AS (
        |  SELECT *, demand * (8 - idx + 1) + prefix - demand
        |    <= (SELECT cap FROM cp) AS affordable
        |  FROM rk),
        |kk AS (
        |  SELECT CAST(SUM(CASE WHEN affordable THEN 1 ELSE 0 END) AS BIGINT) AS k,
        |    COALESCE(MAX(CASE WHEN affordable THEN prefix END), 0) AS prefix_k
        |  FROM af)
        |SELECT principal, demand,
        |  CAST(CASE WHEN affordable THEN demand
        |    ELSE ((SELECT cap FROM cp) - (SELECT prefix_k FROM kk))
        |           // (CASE WHEN (SELECT k FROM kk) < 8
        |               THEN 8 - (SELECT k FROM kk) ELSE 1 END)
        |      + (CASE WHEN idx > 8 - (((SELECT cap FROM cp) - (SELECT prefix_k FROM kk))
        |             % (CASE WHEN (SELECT k FROM kk) < 8
        |                 THEN 8 - (SELECT k FROM kk) ELSE 1 END))
        |          THEN 1 ELSE 0 END)
        |  END AS BIGINT) AS allocation,
        |  NOT affordable AS clipped
        |FROM af ORDER BY principal""".stripMargin),

    // T5-style span-corruption plan — the pretraining-objective budget:
    // 15% of each doc's tokens corrupted in mean-length-3 spans, one
    // sentinel token per span; graded per source: token mass, corrupted
    // mass, sentinel mass, denoised output length and the realized
    // corruption ratio ppm (≈ 150000 with the exact ceil-div bias the
    // plan must account for). One projection + one rollup.
    Op("llm_span_corruption_plan", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), expr("n_chars DIV 4").as("tokens"))
        .withColumn("target", expr("(tokens * 150000) DIV 1000000"))
        .withColumn("spans", expr("(target + 2) DIV 3"))
        .withColumn("corrupted", least(col("spans") * 3, col("tokens")))
        .withColumn("out_len",
          col("tokens") - col("corrupted") + col("spans"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("token_mass"),
          sum("corrupted").as("corrupted_mass"),
          sum("spans").as("sentinel_mass"),
          sum("out_len").as("output_mass"))
        .withColumn("realized_ratio_ppm",
          expr("(corrupted_mass * 1000000) DIV token_mass"))
        .orderBy("source")
    },
      """WITH t AS (
        |  SELECT doc_id, source, n_chars // 4 AS tokens FROM documents),
        |p AS (
        |  SELECT source, tokens,
        |    (tokens * 150000) // 1000000 AS target
        |  FROM t),
        |sp AS (
        |  SELECT source, tokens, (target + 2) // 3 AS spans,
        |    LEAST(((target + 2) // 3) * 3, tokens) AS corrupted
        |  FROM p)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tokens) AS BIGINT) AS token_mass,
        |  CAST(SUM(corrupted) AS BIGINT) AS corrupted_mass,
        |  CAST(SUM(spans) AS BIGINT) AS sentinel_mass,
        |  CAST(SUM(tokens - corrupted + spans) AS BIGINT) AS output_mass,
        |  (CAST(SUM(corrupted) AS BIGINT) * 1000000) // CAST(SUM(tokens) AS BIGINT)
        |    AS realized_ratio_ppm
        |FROM sp GROUP BY 1 ORDER BY source""".stripMargin),

    // Distributed clock-skew audit — the NTP-style minimum filter over
    // observed offsets: each node (user % 8) stamps events with a
    // planted constant skew (node·1500 − 4000 µs) plus md5 jitter in
    // [0, 1000); the receive-side offset series per node is filtered by
    // MIN (jitter is strictly additive, so the minimum recovers the true
    // skew to within the smallest jitter draw — the classic argument).
    // Per node: events, estimated skew, jitter spread, and the
    // second-boundary drift mass (events whose send and receive stamps
    // land in different wall-clock seconds — the bucketing disagreement
    // any per-second rollup downstream inherits).
    Op("service_clock_skew_audit", (s, d) => {
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("node", col("user_id") % 8)
        .withColumn("offset", col("node") * 1500L - 4000L +
          expr(s"${md5Bits("j", "event_id", 4)} % 1000"))
        .withColumn("recv_us", col("ts_us") + col("offset"))
        .withColumn("crossed",
          when(expr("recv_us DIV 1000000") =!= expr("ts_us DIV 1000000"), 1L)
            .otherwise(0L))
        .groupBy("node")
        .agg(count(lit(1)).as("n_events"),
          min("offset").as("est_skew_us"),
          (max("offset") - min("offset")).as("jitter_spread_us"),
          sum("crossed").as("bucket_drift"))
        .withColumn("drift_ppm", expr("(bucket_drift * 1000000) DIV n_events"))
        .orderBy("node")
    },
      s"""WITH o AS (
        |  SELECT user_id % 8 AS node, event_id, epoch_us(ts) AS ts_us,
        |    (user_id % 8) * 1500 - 4000 +
        |    ${duckMd5Bits("j", "event_id", 4)}
        |      % 1000 AS off_us
        |  FROM events),
        |c AS (
        |  SELECT node, off_us,
        |    CASE WHEN (ts_us + off_us) // 1000000 <> ts_us // 1000000
        |      THEN 1 ELSE 0 END AS crossed
        |  FROM o)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MIN(off_us) AS BIGINT) AS est_skew_us,
        |  CAST(MAX(off_us) - MIN(off_us) AS BIGINT) AS jitter_spread_us,
        |  CAST(SUM(crossed) AS BIGINT) AS bucket_drift,
        |  (CAST(SUM(crossed) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
        |    AS drift_ppm
        |FROM c GROUP BY 1 ORDER BY node""".stripMargin),

    // Ingest watermark alignment — the multi-source barrier every
    // incremental pipeline computes before advancing: per source stream
    // (event type) the high-water mark, the GLOBAL SAFE BARRIER is the
    // minimum of them, and each source's lead over the barrier names the
    // straggler holding everyone back. Exact µs integers; one rollup +
    // one broadcast scalar.
    Op("warehouse_watermark_alignment", (s, d) => {
      val marks = Tables.events(s, d)
        .groupBy("event_type")
        .agg(max("ts_us").as("hwm_us"), count(lit(1)).as("n_rows"))
      val barrier = marks.agg(min("hwm_us").as("barrier_us"))
      marks.crossJoin(broadcast(barrier))
        .withColumn("lead_us", col("hwm_us") - col("barrier_us"))
        .withColumn("is_straggler", col("lead_us") === 0L)
        .select("event_type", "n_rows", "hwm_us", "barrier_us", "lead_us",
          "is_straggler")
        .orderBy("event_type")
    },
      """WITH m AS (
        |  SELECT event_type, MAX(epoch_us(ts)) AS hwm_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(hwm_us) AS barrier_us FROM m)
        |SELECT event_type, n_rows, hwm_us,
        |  (SELECT barrier_us FROM b) AS barrier_us,
        |  hwm_us - (SELECT barrier_us FROM b) AS lead_us,
        |  hwm_us - (SELECT barrier_us FROM b) = 0 AS is_straggler
        |FROM m ORDER BY event_type""".stripMargin),

    // Model-router threshold sweep — the serving cost/quality frontier:
    // requests carry an md5 router confidence (milli) and a planted
    // quality structure (the large model wins the low-confidence tail);
    // FOUR candidate thresholds are swept in one pass (a bounded 4×
    // explode — the whole frontier from one scan, the way a router is
    // actually tuned offline): below the threshold the request escalates
    // to the large model at 10× cost. Per threshold: requests escalated,
    // cost units, quality wins kept vs always-large, and the
    // cost-per-win frontier point in exact milli.
    Op("llm_model_router_sweep", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"))
        .withColumn("conf_milli", expr(
          s"${md5Bits("rc", "event_id", 6)} % 1000"))
        .withColumn("large_wins", expr(
          s"${md5Bits("rq", "event_id", 6)} % 1000") <
          (lit(900L) - col("conf_milli")))
        .withColumn("threshold", explode(expr("array(200, 400, 600, 800)")))
        .withColumn("escalated", col("conf_milli") < col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("escalated"), 1L).otherwise(0L)).as("n_escalated"),
          sum(when(col("escalated"), 10L).otherwise(1L)).as("cost_units"),
          sum(when(col("escalated") && col("large_wins"), 1L).otherwise(0L))
            .as("wins_kept"),
          sum(when(col("large_wins"), 1L).otherwise(0L)).as("wins_possible"))
        .withColumn("recall_milli",
          expr("(wins_kept * 1000) DIV NULLIF(wins_possible, 0)"))
        .withColumn("cost_per_win_milli",
          expr("(cost_units * 1000) DIV (wins_kept + 1)"))
        .orderBy("threshold")
    },
      s"""WITH r AS (
        |  SELECT event_id,
        |    ${duckMd5Bits("rc", "event_id", 6)}
        |      % 1000 AS conf_milli,
        |    ${duckMd5Bits("rq", "event_id", 6)}
        |      % 1000 AS q
        |  FROM events),
        |x AS (
        |  SELECT conf_milli, q < (900 - conf_milli) AS large_wins,
        |    t.range * 200 + 200 AS threshold
        |  FROM r CROSS JOIN range(0, 4) t),
        |e AS (
        |  SELECT CAST(threshold AS INT) AS threshold, large_wins,
        |    conf_milli < threshold AS escalated
        |  FROM x)
        |SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |  CAST(SUM(CASE WHEN escalated THEN 1 ELSE 0 END) AS BIGINT) AS n_escalated,
        |  CAST(SUM(CASE WHEN escalated THEN 10 ELSE 1 END) AS BIGINT) AS cost_units,
        |  CAST(SUM(CASE WHEN escalated AND large_wins THEN 1 ELSE 0 END) AS BIGINT)
        |    AS wins_kept,
        |  CAST(SUM(CASE WHEN large_wins THEN 1 ELSE 0 END) AS BIGINT) AS wins_possible,
        |  (CAST(SUM(CASE WHEN escalated AND large_wins THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000) // NULLIF(CAST(SUM(CASE WHEN large_wins THEN 1 ELSE 0 END) AS BIGINT), 0)
        |    AS recall_milli,
        |  (CAST(SUM(CASE WHEN escalated THEN 10 ELSE 1 END) AS BIGINT) * 1000)
        |    // (CAST(SUM(CASE WHEN escalated AND large_wins THEN 1 ELSE 0 END) AS BIGINT) + 1)
        |    AS cost_per_win_milli
        |FROM e GROUP BY 1 ORDER BY threshold""".stripMargin),

    // HTML stripping + entity decoding — the first pass of every web
    // corpus: planted markup per class (block tags, attributed tags with
    // escaped entities, entity-only, plain), tags removed by one regex
    // sweep, entities decoded in the STANDARD order (&amp; strictly
    // last, so '&amp;lt;' decodes to the literal '&lt;' and not '<' —
    // the double-decode bug this op guards against). Graded per class:
    // docs, chars in/out, tags removed, entities decoded — all counted
    // by the engines' regex machinery, no UDF.
    Op("llm_html_strip", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("cls",
          when(col("doc_id") % 4 === 0, lit("block"))
            .when(col("doc_id") % 4 === 1, lit("attributed"))
            .when(col("doc_id") % 4 === 2, lit("entities")).otherwise(lit("plain")))
        .withColumn("html",
          when(col("cls") === "block", concat(lit("<p>"), col("text"), lit("</p>")))
            .when(col("cls") === "attributed", concat(
              lit("<div class=\"a\">"), col("text"), lit(" &amp; &lt;tag&gt;</div>")))
            .when(col("cls") === "entities", concat(
              col("text"), lit(" &quot;q&quot; &#39;s&#39;")))
            .otherwise(col("text")))
        .withColumn("tags", regexp_count(col("html"), lit("<[^>]*>")))
        .withColumn("entities", regexp_count(col("html"),
          lit("&(amp|lt|gt|quot|#39);")))
        .withColumn("stripped", regexp_replace(col("html"), "<[^>]*>", ""))
        .withColumn("decoded",
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(col("stripped"),
              "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
            "&amp;", "&"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("html"))).as("chars_in"),
          sum(length(col("decoded"))).as("chars_out"),
          sum("tags").as("tags_removed"),
          sum("entities").as("entities_decoded"))
        .withColumn("shrink_ppm",
          expr("((chars_in - chars_out) * 1000000) DIV chars_in"))
        .orderBy("cls")
    },
      """WITH c AS (
        |  SELECT doc_id, text,
        |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'block'
        |      WHEN 1 THEN 'attributed' WHEN 2 THEN 'entities'
        |      ELSE 'plain' END AS cls
        |  FROM documents),
        |h AS (
        |  SELECT cls,
        |    CASE cls
        |      WHEN 'block' THEN '<p>' || text || '</p>'
        |      WHEN 'attributed' THEN '<div class="a">' || text || ' &amp; &lt;tag&gt;</div>'
        |      WHEN 'entities' THEN text || ' &quot;q&quot; &#39;s&#39;'
        |      ELSE text END AS html
        |  FROM c),
        |st AS (
        |  SELECT cls, html,
        |    CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS tags,
        |    CAST(len(regexp_extract_all(html, '&(amp|lt|gt|quot|#39);')) AS BIGINT)
        |      AS entities,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(html, '<[^>]*>', '', 'g'),
        |              '&lt;', '<', 'g'),
        |            '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |        '&#39;', chr(39), 'g'),
        |      '&amp;', '&', 'g') AS decoded
        |  FROM h)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(length(html)) AS BIGINT) AS chars_in,
        |  CAST(SUM(length(decoded)) AS BIGINT) AS chars_out,
        |  CAST(SUM(tags) AS BIGINT) AS tags_removed,
        |  CAST(SUM(entities) AS BIGINT) AS entities_decoded,
        |  ((CAST(SUM(length(html)) AS BIGINT) - CAST(SUM(length(decoded)) AS BIGINT))
        |    * 1000000) // CAST(SUM(length(html)) AS BIGINT) AS shrink_ppm
        |FROM st GROUP BY 1 ORDER BY cls""".stripMargin),

    // Dataset datasheet — the one-row-per-source summary a corpus ships
    // with (the "datasheets for datasets" practice): doc census, token
    // mass and mean, language diversity (distinct + dominant via max_by
    // over the language sub-rollup), the flagged-content rate (planted
    // 1-in-50 md5 tier) and the short-doc tail. Two rollups + one
    // broadcast join — the composite read every downstream consumer
    // starts from.
    Op("llm_dataset_datasheet", (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .withColumn("flagged", expr(
          s"${md5Bits("tox", "doc_id", 6)} % 50") === 7L)
      val counts = base.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      val wDom = Window.partitionBy("source")
        .orderBy(col("n").desc, col("lang").desc)
      val perLang = counts
        .withColumn("rn", row_number().over(wDom)).where(col("rn") === 1)
        .select(col("source"), col("lang").as("dominant_lang"))
        .join(counts.groupBy("source").agg(countDistinct("lang").as("n_langs")),
          Seq("source"))
      base.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("n_chars DIV 4")).as("token_mass"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("flagged_docs"),
          sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("short_docs"))
        .withColumn("mean_tokens", expr("token_mass DIV n_docs"))
        .withColumn("flagged_ppm", expr("(flagged_docs * 1000000) DIV n_docs"))
        .join(broadcast(perLang), Seq("source"))
        .orderBy("source")
    },
      s"""WITH base AS (
        |  SELECT doc_id, source, lang, n_chars,
        |    ${duckMd5Bits("tox", "doc_id", 6)}
        |      % 50 = 7 AS flagged
        |  FROM documents),
        |counts AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1, 2),
        |dom AS (
        |  SELECT source, lang AS dominant_lang FROM (
        |    SELECT source, lang,
        |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang DESC) AS rn
        |    FROM counts) WHERE rn = 1),
        |nl AS (
        |  SELECT source, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM counts GROUP BY 1),
        |agg AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars // 4) AS BIGINT) AS token_mass,
        |    CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
        |    CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
        |  FROM base GROUP BY 1)
        |SELECT agg.source, n_docs, token_mass, flagged_docs, short_docs,
        |  token_mass // n_docs AS mean_tokens,
        |  (flagged_docs * 1000000) // n_docs AS flagged_ppm,
        |  dominant_lang, n_langs
        |FROM agg JOIN dom ON agg.source = dom.source
        |JOIN nl ON agg.source = nl.source
        |ORDER BY agg.source""".stripMargin),

    // Language rebalancing plan — the multilingual sampling policy
    // upstream of training (English dominates every web crawl; the plan
    // upsamples tail languages under a 3× cap so no language is ever
    // repeated more than thrice): per language the natural share, the
    // uniform target, the capped sampling factor in exact milli and the
    // corpus size after resampling. One rollup + broadcast totals.
    Op("llm_lang_rebalance_plan", (s, d) => {
      val byLang = Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("docs"))
      val tot = byLang.agg(sum("docs").as("total"),
        count(lit(1)).as("n_langs"))
      byLang.crossJoin(broadcast(tot))
        .withColumn("natural_ppm", expr("(docs * 1000000) DIV total"))
        .withColumn("target_docs", expr("total DIV n_langs"))
        .withColumn("factor_milli",
          least(expr("(target_docs * 1000) DIV docs"), lit(3000L)))
        .withColumn("docs_after", expr("(docs * factor_milli) DIV 1000"))
        .select("lang", "docs", "natural_ppm", "target_docs", "factor_milli",
          "docs_after")
        .orderBy("lang")
    },
      """WITH bl AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(docs) AS BIGINT) AS total,
        |        CAST(COUNT(*) AS BIGINT) AS n_langs FROM bl)
        |SELECT lang, docs,
        |  (docs * 1000000) // (SELECT total FROM t) AS natural_ppm,
        |  (SELECT total FROM t) // (SELECT n_langs FROM t) AS target_docs,
        |  LEAST((((SELECT total FROM t) // (SELECT n_langs FROM t)) * 1000) // docs,
        |    1000 * 3) AS factor_milli,
        |  (docs * LEAST((((SELECT total FROM t) // (SELECT n_langs FROM t)) * 1000)
        |    // docs, 3000)) // 1000 AS docs_after
        |FROM bl ORDER BY lang""".stripMargin),

    // Composite-SLO chain availability — the SRE dependency math: four
    // serving chains of three components each, per-component error ppm
    // from the request log, chain availability = the EXACT product
    // Π(1e6 − err_c) carried in DECIMAL(38,0)/HUGEINT (a 10¹⁸-scale
    // triple product that double arithmetic would round), plus the
    // weakest link per chain (tie-safe window). One rollup + bounded
    // algebra — the "your SLO is the product of your dependencies'"
    // lesson, made exact.
    Op("service_composite_slo", (s, d) => {
      val comp = Tables.events(s, d)
        .select((col("event_id") % 12).as("component"), col("event_type"))
        .groupBy("component")
        .agg(count(lit(1)).as("requests"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"))
        .withColumn("err_ppm", expr("(errors * 1000000) DIV requests"))
        .withColumn("chain", expr("component DIV 3"))
      val wWeak = Window.partitionBy("chain")
        .orderBy(col("err_ppm").desc, col("component").desc)
      val weak = comp.withColumn("rn", row_number().over(wWeak))
        .where(col("rn") === 1)
        .select(col("chain"), col("component").as("weakest_component"),
          col("err_ppm").as("weakest_err_ppm"))
      comp.groupBy("chain")
        .agg(sum("requests").as("requests"),
          expr("""CAST(
                 |  CAST(MIN(CASE WHEN component % 3 = 0 THEN 1000000 - err_ppm END) AS DECIMAL(38,0))
                 |  * MIN(CASE WHEN component % 3 = 1 THEN 1000000 - err_ppm END)
                 |  * MIN(CASE WHEN component % 3 = 2 THEN 1000000 - err_ppm END)
                 |  DIV 1000000000000 AS BIGINT)""".stripMargin)
            .as("composite_avail_ppm"))
        .join(broadcast(weak), Seq("chain"))
        .orderBy("chain")
    },
      """WITH c AS (
        |  SELECT event_id % 12 AS component,
        |    CAST(COUNT(*) AS BIGINT) AS requests,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT component, requests,
        |    (errors * 1000000) // requests AS err_ppm,
        |    component // 3 AS chain
        |  FROM c),
        |weak AS (
        |  SELECT chain, component AS weakest_component, err_ppm AS weakest_err_ppm
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY chain
        |          ORDER BY err_ppm DESC, component DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |ch AS (
        |  SELECT chain, CAST(SUM(requests) AS BIGINT) AS requests,
        |    CAST(
        |      CAST(MIN(CASE WHEN component % 3 = 0 THEN 1000000 - err_ppm END) AS HUGEINT)
        |      * MIN(CASE WHEN component % 3 = 1 THEN 1000000 - err_ppm END)
        |      * MIN(CASE WHEN component % 3 = 2 THEN 1000000 - err_ppm END)
        |      // 1000000000000 AS BIGINT) AS composite_avail_ppm
        |  FROM e GROUP BY 1)
        |SELECT ch.chain, requests, composite_avail_ppm,
        |  weakest_component, weakest_err_ppm
        |FROM ch JOIN weak ON ch.chain = weak.chain
        |ORDER BY ch.chain""".stripMargin),

    // Difference-in-differences — the causal workhorse beside
    // agg_stratified_ate (which adjusts a cross-section; DiD removes
    // time-invariant confounding with a pre/post × treat/control grid):
    // treatment by user parity, the post period opens at the corpus
    // midpoint (broadcast bounds, so the split replays exactly), a
    // planted +700 effect lands ONLY on treated-post (the outcome is the
    // bounded cents-mod-1000 band so the effect dominates sampling noise
    // at every scale). All four cell means in exact micro-units, DiD =
    // the double difference. One
    // conditional rollup per event type — no joins, no windows.
    Op("agg_diff_in_diff", (s, d) => {
      val bounds = Tables.events(s, d)
        .agg(min("ts_us").as("lo"), max("ts_us").as("hi"))
      Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("ts_us"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
        .crossJoin(broadcast(bounds))
        .withColumn("treated", col("user_id") % 2 === 1)
        .withColumn("post", (col("ts_us") - col("lo")) * 2 >= col("hi") - col("lo"))
        .withColumn("y", col("cents") % 1000 +
          when(col("treated") && col("post"), 700L).otherwise(0L))
        .groupBy("event_type")
        .agg(
          expr("(SUM(CASE WHEN treated AND post THEN y ELSE 0 END) * 1000000) DIV NULLIF(SUM(CASE WHEN treated AND post THEN 1 ELSE 0 END), 0)").as("m_t_post"),
          expr("(SUM(CASE WHEN treated AND NOT post THEN y ELSE 0 END) * 1000000) DIV NULLIF(SUM(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END), 0)").as("m_t_pre"),
          expr("(SUM(CASE WHEN NOT treated AND post THEN y ELSE 0 END) * 1000000) DIV NULLIF(SUM(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END), 0)").as("m_c_post"),
          expr("(SUM(CASE WHEN NOT treated AND NOT post THEN y ELSE 0 END) * 1000000) DIV NULLIF(SUM(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END), 0)").as("m_c_pre"),
          count(lit(1)).as("n_obs"))
        .withColumn("did_micro",
          (col("m_t_post") - col("m_t_pre")) - (col("m_c_post") - col("m_c_pre")))
        .orderBy("event_type")
    },
      """WITH b AS (
        |  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
        |g AS (
        |  SELECT event_type, user_id % 2 = 1 AS treated,
        |    (epoch_us(ts) - (SELECT lo FROM b)) * 2 >=
        |      (SELECT hi FROM b) - (SELECT lo FROM b) AS post,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |y AS (
        |  SELECT event_type, treated, post,
        |    cents % 1000 + CASE WHEN treated AND post THEN 700 ELSE 0 END AS y
        |  FROM g),
        |m AS (
        |  SELECT event_type,
        |    CAST((SUM(CASE WHEN treated AND post THEN y ELSE 0 END) * 1000000)
        |      // NULLIF(SUM(CASE WHEN treated AND post THEN 1 ELSE 0 END), 0) AS BIGINT) AS m_t_post,
        |    CAST((SUM(CASE WHEN treated AND NOT post THEN y ELSE 0 END) * 1000000)
        |      // NULLIF(SUM(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END), 0) AS BIGINT) AS m_t_pre,
        |    CAST((SUM(CASE WHEN NOT treated AND post THEN y ELSE 0 END) * 1000000)
        |      // NULLIF(SUM(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END), 0) AS BIGINT) AS m_c_post,
        |    CAST((SUM(CASE WHEN NOT treated AND NOT post THEN y ELSE 0 END) * 1000000)
        |      // NULLIF(SUM(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END), 0) AS BIGINT) AS m_c_pre,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM y GROUP BY 1)
        |SELECT event_type, m_t_post, m_t_pre, m_c_post, m_c_pre, n_obs,
        |  (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_micro
        |FROM m ORDER BY event_type""".stripMargin),

    // Query-fingerprint cache analysis — the DBA's statement-cache
    // telemetry: the query log rendered from its own fields, literals
    // normalized away by one digit-sweep regex, and the surviving
    // TEMPLATE census per table answers "how big need the plan cache
    // be": distinct templates, cache hit ppm (repeat executions), the
    // hottest template's share. Per-table rollup + tie-safe hottest
    // window.
    Op("warehouse_query_fingerprint", (s, d) => {
      val q = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("tbl", concat(lit("t"), (col("event_id") % 7).cast("string")))
        .withColumn("qtext",
          when(col("event_id") % 3 === 0, expr(
            "concat('SELECT v FROM ', tbl, ' WHERE user_id = ', CAST(user_id AS STRING))"))
            .when(col("event_id") % 3 === 1, expr(
              "concat('SELECT v FROM ', tbl, ' WHERE v > ', CAST(CAST(FLOOR(value) AS BIGINT) AS STRING))"))
            .otherwise(expr(
              "concat('SELECT v FROM ', tbl, ' WHERE v BETWEEN 0 AND ', CAST(CAST(FLOOR(value) AS BIGINT) AS STRING))")))
        .withColumn("template", regexp_replace(col("qtext"), "[0-9]+", "?"))
      val perTemplate = q.groupBy("tbl", "template")
        .agg(count(lit(1)).as("execs"))
      val wHot = Window.partitionBy("tbl")
        .orderBy(col("execs").desc, col("template").desc)
      val hottest = perTemplate.withColumn("rn", row_number().over(wHot))
        .where(col("rn") === 1)
        .select(col("tbl"), col("execs").as("hottest_execs"))
      perTemplate.groupBy("tbl")
        .agg(sum("execs").as("n_queries"),
          count(lit(1)).as("n_templates"))
        .withColumn("cache_hit_ppm",
          expr("((n_queries - n_templates) * 1000000) DIV n_queries"))
        .join(broadcast(hottest), Seq("tbl"))
        .orderBy("tbl")
    },
      """WITH q AS (
        |  SELECT 't' || CAST(event_id % 7 AS VARCHAR) AS tbl,
        |    regexp_replace(
        |      CASE CAST(event_id % 3 AS INT)
        |        WHEN 0 THEN 'SELECT v FROM t' || CAST(event_id % 7 AS VARCHAR)
        |          || ' WHERE user_id = ' || CAST(user_id AS VARCHAR)
        |        WHEN 1 THEN 'SELECT v FROM t' || CAST(event_id % 7 AS VARCHAR)
        |          || ' WHERE v > ' || CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR)
        |        ELSE 'SELECT v FROM t' || CAST(event_id % 7 AS VARCHAR)
        |          || ' WHERE v BETWEEN 0 AND ' || CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR)
        |      END, '[0-9]+', '?', 'g') AS template
        |  FROM events),
        |pt AS (
        |  SELECT tbl, template, CAST(COUNT(*) AS BIGINT) AS execs
        |  FROM q GROUP BY 1, 2),
        |hot AS (
        |  SELECT tbl, execs AS hottest_execs FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY tbl
        |      ORDER BY execs DESC, template DESC) AS rn FROM pt)
        |  WHERE rn = 1),
        |agg AS (
        |  SELECT tbl, CAST(SUM(execs) AS BIGINT) AS n_queries,
        |    CAST(COUNT(*) AS BIGINT) AS n_templates
        |  FROM pt GROUP BY 1)
        |SELECT agg.tbl, n_queries, n_templates,
        |  ((n_queries - n_templates) * 1000000) // n_queries AS cache_hit_ppm,
        |  hottest_execs
        |FROM agg JOIN hot ON agg.tbl = hot.tbl
        |ORDER BY agg.tbl""".stripMargin),

    // Cross-system row-count reconciliation — the nightly data-eng
    // ritual: the replica silently dropped every event_id ≡ 13 mod 101
    // (a planted CDC bug), and the per-day recon report must localize
    // it: source vs replica counts, the per-day and cumulative missing
    // mass, and the FIRST divergent day (where the incident review
    // starts). One conditional rollup + one ~30-row day window.
    Op("warehouse_recon_rowcounts", (s, d) => {
      val wDay = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy("day")
        .agg(count(lit(1)).as("src_n"),
          sum(when(col("event_id") % 101 === 13, 0L).otherwise(1L)).as("rep_n"))
        .withColumn("missing", col("src_n") - col("rep_n"))
        .withColumn("cum_missing", sum("missing").over(wDay))
        .withColumn("is_first_divergent",
          col("missing") > 0L && col("cum_missing") === col("missing"))
        .orderBy("day")
    },
      """WITH r AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS src_n,
        |    CAST(SUM(CASE WHEN event_id % 101 = 13 THEN 0 ELSE 1 END) AS BIGINT) AS rep_n
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT day, src_n, rep_n, src_n - rep_n AS missing,
        |    CAST(SUM(src_n - rep_n) OVER (ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_missing
        |  FROM r)
        |SELECT day, src_n, rep_n, missing, cum_missing,
        |  missing > 0 AND cum_missing = missing AS is_first_divergent
        |FROM w ORDER BY day""".stripMargin),

    // Failover ring plan — the multi-region capacity rehearsal: eight
    // regions in a ring, two planted outages (regions 2 and 5), each
    // unhealthy region fails over to the NEXT HEALTHY region clockwise
    // (bounded ring self-join, min hop wins); graded per region: own
    // load, failover target, the post-failover load including adopted
    // traffic, and the headroom pressure vs the uniform mean in exact
    // ppm — the question a failover drill must answer BEFORE the outage.
    Op("service_failover_ring_plan", (s, d) => {
      val loads = Tables.events(s, d)
        .groupBy((col("user_id") % 8).as("region"))
        .agg(count(lit(1)).as("load"))
        .withColumn("healthy", !col("region").isin(2L, 5L))
        .localCheckpoint() // bounded 8 rows, reused by the ring join
      val hops = s.range(1, 8).select(col("id").as("hop"))
      val targets = loads.where(!col("healthy"))
        .select(col("region").as("src"), col("load").as("moved_load"))
        .crossJoin(hops)
        .withColumn("cand", (col("src") + col("hop")) % 8)
        .join(loads.where(col("healthy")).select(col("region").as("cand")),
          Seq("cand"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("src").orderBy("hop")))
        .where(col("rn") === 1)
        .select(col("src"), col("cand").as("target"), col("moved_load"))
      val adopted = targets.groupBy(col("target").as("region"))
        .agg(sum("moved_load").as("adopted_load"))
      val mean = loads.agg(expr("SUM(load) DIV 8").as("mean_load"))
      loads.join(broadcast(targets.select(col("src").as("region"), col("target"))),
          Seq("region"), "left")
        .join(broadcast(adopted), Seq("region"), "left")
        .na.fill(0L, Seq("adopted_load"))
        .withColumn("post_failover_load",
          when(col("healthy"), col("load") + col("adopted_load")).otherwise(0L))
        .crossJoin(broadcast(mean))
        .withColumn("pressure_ppm",
          expr("(post_failover_load * 1000000) DIV mean_load"))
        .select("region", "healthy", "load", "target", "post_failover_load",
          "pressure_ppm")
        .orderBy("region")
    },
      """WITH loads AS (
        |  SELECT user_id % 8 AS region, CAST(COUNT(*) AS BIGINT) AS load,
        |    user_id % 8 NOT IN (2, 5) AS healthy
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT src, cand AS target, moved_load FROM (
        |    SELECT u.region AS src, u.load AS moved_load, h.hop,
        |      (u.region + h.hop) % 8 AS cand,
        |      ROW_NUMBER() OVER (PARTITION BY u.region ORDER BY h.hop) AS rn
        |    FROM loads u
        |    CROSS JOIN (SELECT range AS hop FROM range(1, 8)) h
        |    JOIN loads c ON (u.region + h.hop) % 8 = c.region AND c.healthy
        |    WHERE NOT u.healthy)
        |  WHERE rn = 1),
        |ad AS (
        |  SELECT target AS region, CAST(SUM(moved_load) AS BIGINT) AS adopted_load
        |  FROM t GROUP BY 1),
        |m AS (SELECT CAST(SUM(load) // 8 AS BIGINT) AS mean_load FROM loads)
        |SELECT l.region, l.healthy, l.load, t.target,
        |  CAST(CASE WHEN l.healthy THEN l.load + COALESCE(ad.adopted_load, 0)
        |       ELSE 0 END AS BIGINT) AS post_failover_load,
        |  (CAST(CASE WHEN l.healthy THEN l.load + COALESCE(ad.adopted_load, 0)
        |        ELSE 0 END AS BIGINT) * 1000000) // (SELECT mean_load FROM m)
        |    AS pressure_ppm
        |FROM loads l
        |LEFT JOIN t ON l.region = t.src
        |LEFT JOIN ad ON l.region = ad.region
        |ORDER BY l.region""".stripMargin),

    // Allen's interval algebra census — the formal 13-relation
    // classification (precedes/meets/overlaps/starts/during/finishes,
    // their inverses, equals) over session intervals (value·3e7 µs, up
    // to ~2.7 h, so the overlap classes actually occur at sparse and
    // dense traffic alike), pairs BLOCKED on
    // the (user, hour) cell exactly like mm_subtitle_align (bounded
    // candidates, linear at any scale); the CASE ladder is exhaustive
    // and mutually exclusive on exact µs endpoints, so the census
    // partitions the pair set — the relationship histogram every
    // temporal-reasoning engine is validated against.
    Op("join_allen_relations", (s, d) => {
      val iv = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us").as("s"),
          (col("ts_us") + expr("CAST(FLOOR(value * 30000000) AS BIGINT)")).as("e"))
        .withColumn("hour", expr("s DIV 3600000000"))
      val a = iv.select(col("user_id"), col("hour"), col("event_id").as("a_id"),
        col("s").as("a_s"), col("e").as("a_e"))
      val b = iv.select(col("user_id"), col("hour"), col("event_id").as("b_id"),
        col("s").as("b_s"), col("e").as("b_e"))
      val pairs = a.join(b, Seq("user_id", "hour"))
        .where(col("a_id") < col("b_id"))
        .withColumn("relation", expr(
          """CASE
            |  WHEN a_e < b_s THEN 'precedes'
            |  WHEN b_e < a_s THEN 'preceded_by'
            |  WHEN a_e = b_s THEN 'meets'
            |  WHEN b_e = a_s THEN 'met_by'
            |  WHEN a_s < b_s AND a_e < b_e THEN 'overlaps'
            |  WHEN a_s < b_s AND a_e = b_e THEN 'finished_by'
            |  WHEN a_s < b_s THEN 'contains'
            |  WHEN a_s = b_s AND a_e < b_e THEN 'starts'
            |  WHEN a_s = b_s AND a_e = b_e THEN 'equals'
            |  WHEN a_s = b_s THEN 'started_by'
            |  WHEN a_e < b_e THEN 'during'
            |  WHEN a_e = b_e THEN 'finishes'
            |  ELSE 'overlapped_by'
            |END""".stripMargin))
      val tot = pairs.agg(count(lit(1)).as("total"))
      pairs.groupBy("relation").agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("(n_pairs * 1000000) DIV total"))
        .select("relation", "n_pairs", "share_ppm")
        .orderBy("relation")
    },
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(FLOOR(value * 30000000) AS BIGINT) AS e,
        |    epoch_us(ts) // 3600000000 AS hour
        |  FROM events),
        |p AS (
        |  SELECT a.s AS a_s, a.e AS a_e, b.s AS b_s, b.e AS b_e
        |  FROM iv a JOIN iv b
        |    ON a.user_id = b.user_id AND a.hour = b.hour
        |   AND a.event_id < b.event_id),
        |c AS (
        |  SELECT CASE
        |    WHEN a_e < b_s THEN 'precedes'
        |    WHEN b_e < a_s THEN 'preceded_by'
        |    WHEN a_e = b_s THEN 'meets'
        |    WHEN b_e = a_s THEN 'met_by'
        |    WHEN a_s < b_s AND a_e < b_e THEN 'overlaps'
        |    WHEN a_s < b_s AND a_e = b_e THEN 'finished_by'
        |    WHEN a_s < b_s THEN 'contains'
        |    WHEN a_s = b_s AND a_e < b_e THEN 'starts'
        |    WHEN a_s = b_s AND a_e = b_e THEN 'equals'
        |    WHEN a_s = b_s THEN 'started_by'
        |    WHEN a_e < b_e THEN 'during'
        |    WHEN a_e = b_e THEN 'finishes'
        |    ELSE 'overlapped_by'
        |  END AS relation
        |  FROM p),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM c)
        |SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  (CAST(COUNT(*) AS BIGINT) * 1000000) // (SELECT total FROM tt)
        |    AS share_ppm
        |FROM c GROUP BY 1 ORDER BY relation""".stripMargin),

    // Wilson lower-bound ranking — the comment-sort classic (rank by the
    // LOWER confidence bound, never the raw rate, so a 2/2 item cannot
    // outrank a 95/100 one): per item the z=2 Wilson bound computed
    // ENTIRELY in integers — LB = (ns + 2 − 2·√(ns·nf/n + 1))/(n + 4)
    // in ppm, the root taken by the native IntSqrt expression (exact
    // integer floor; the DuckDB twin is the corrected FLOOR(SQRT)) — and
    // the global rank over the bounded item table. The item rollup is
    // the only data-scaled work. phat is carried beside the bound so the
    // small-sample demotion is visible in the graded output.
    Op("agg_wilson_lower_bound", (s, d) => {
      val items = Tables.orders(s, d)
        .groupBy((col("o_orderkey") % 100).as("item"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("ns"))
        .withColumn("nf", col("n") - col("ns"))
        .withColumn("phat_ppm", expr("(ns * 1000000) DIV n"))
        .withColumn("root", expr(
          "isqrt(((ns * nf) DIV n + 1) * 1000000000000)"))
        .withColumn("wilson_lb_ppm", expr(
          "(ns * 1000000 + 2000000 - 2 * root) DIV (n + 4)"))
      items
        .withColumn("rank_wilson", row_number().over(
          Window.orderBy(col("wilson_lb_ppm").desc, col("item"))))
        .select("item", "n", "ns", "phat_ppm", "wilson_lb_ppm", "rank_wilson")
        .orderBy("item")
    },
      {
      val root = Round12cOps.duckIsqrt("((ns * nf) // n + 1) * 1000000000000")
      s"""WITH i AS (
         |  SELECT o_orderkey % 100 AS item, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ns
         |  FROM orders GROUP BY 1),
         |w AS (
         |  SELECT item, n, ns, n - ns AS nf,
         |    (ns * 1000000) // n AS phat_ppm
         |  FROM i),
         |lb AS (
         |  SELECT item, n, ns, phat_ppm,
         |    (ns * 1000000 + 2000000 - 2 * $root) // (n + 4) AS wilson_lb_ppm
         |  FROM w)
         |SELECT item, n, ns, phat_ppm, wilson_lb_ppm,
         |  CAST(ROW_NUMBER() OVER (ORDER BY wilson_lb_ppm DESC, item) AS INT)
         |    AS rank_wilson
         |FROM lb ORDER BY item""".stripMargin
    }),

    // Active-learning batch selection — the labeling-ops loop: model
    // scores in milli, uncertainty = distance from the 500 decision
    // boundary, the next annotation batch is the 25 MOST UNCERTAIN per
    // pool (rank window, deterministic ties); graded per pool: the
    // selected batch's mean uncertainty vs the pool's — the gap that
    // justifies active over random labeling. One rank window + one
    // rollup.
    Op("llm_active_label_selection", (s, d) => {
      val wU = Window.partitionBy("source")
        .orderBy(col("uncertainty"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("score_milli", expr(
          s"${md5Bits("al", "doc_id", 6)} % 1000"))
        .withColumn("uncertainty", abs(col("score_milli") - 500L))
        .withColumn("selected", row_number().over(wU) <= 25)
        .groupBy("source")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
          sum(when(col("selected"), col("uncertainty")).otherwise(0L))
            .as("sel_uncertainty_mass"),
          sum("uncertainty").as("pool_uncertainty_mass"))
        .withColumn("mean_sel_unc_milli",
          expr("sel_uncertainty_mass DIV n_selected"))
        .withColumn("mean_pool_unc_milli",
          expr("pool_uncertainty_mass DIV n_candidates"))
        .orderBy("source")
    },
      s"""WITH sc AS (
        |  SELECT doc_id, source,
        |    abs(${duckMd5Bits("al", "doc_id", 6)}
        |      % 1000 - 500) AS uncertainty
        |  FROM documents),
        |r AS (
        |  SELECT source, uncertainty,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY uncertainty, doc_id) <= 25 AS selected
        |  FROM sc)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
        |  CAST(SUM(CASE WHEN selected THEN uncertainty ELSE 0 END) AS BIGINT)
        |    AS sel_uncertainty_mass,
        |  CAST(SUM(uncertainty) AS BIGINT) AS pool_uncertainty_mass,
        |  CAST(SUM(CASE WHEN selected THEN uncertainty ELSE 0 END) AS BIGINT)
        |    // CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
        |    AS mean_sel_unc_milli,
        |  CAST(SUM(uncertainty) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
        |    AS mean_pool_unc_milli
        |FROM r GROUP BY 1 ORDER BY source""".stripMargin),

    // Daily-activity streaks — the engagement metric every consumer
    // product reports: per user the DISTINCT active days collapse into
    // consecutive-day islands (day − row_number, the gaps-and-islands
    // identity on the calendar axis), longest streak per user, then per
    // principal cohort: users, the record streak, streak mass, and the
    // ≥ 7-day power-user census. Distinct-day rollup + user window +
    // cohort rollup.
    Op("win_activity_streaks", (s, d) => {
      val wDay = Window.partitionBy("user_id").orderBy("day")
      val streaks = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
        .distinct()
        .withColumn("island", col("day") - row_number().over(wDay))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("longest"), count(lit(1)).as("n_streaks"),
          sum("len").as("active_days"))
      streaks.groupBy((col("user_id") % 8).as("principal"))
        .agg(count(lit(1)).as("n_users"),
          max("longest").as("record_streak"),
          sum("longest").as("longest_mass"),
          sum("active_days").as("active_day_mass"),
          sum(when(col("longest") >= 7L, 1L).otherwise(0L)).as("power_users"))
        .withColumn("power_ppm", expr("(power_users * 1000000) DIV n_users"))
        .orderBy("principal")
    },
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM days),
        |st AS (
        |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM isl GROUP BY 1, 2),
        |pu AS (
        |  SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest,
        |    CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |    CAST(SUM(len) AS BIGINT) AS active_days
        |  FROM st GROUP BY 1)
        |SELECT user_id % 8 AS principal, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MAX(longest) AS BIGINT) AS record_streak,
        |  CAST(SUM(longest) AS BIGINT) AS longest_mass,
        |  CAST(SUM(active_days) AS BIGINT) AS active_day_mass,
        |  CAST(SUM(CASE WHEN longest >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS power_users,
        |  (CAST(SUM(CASE WHEN longest >= 7 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS power_ppm
        |FROM pu GROUP BY 1 ORDER BY principal""".stripMargin),

    // ISO-8601 duration round-trip — the API serialization gate (PnDTnHnMnS
    // is how a person-service wire carries intervals): durations rendered
    // from exact integer seconds, re-parsed by anchored regexp_extract,
    // and the graded round-trip (zero mismatches, seconds mass conserved)
    // is a proof over the whole log. Pure integer/string surgery, both
    // engines codegen'd.
    Op("fn_iso8601_duration", (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(FLOOR(value * 1000) AS BIGINT)").as("secs"))
        .withColumn("iso", expr(
          """concat('P', CAST(secs DIV 86400 AS STRING), 'DT',
            |  CAST(secs % 86400 DIV 3600 AS STRING), 'H',
            |  CAST(secs % 3600 DIV 60 AS STRING), 'M',
            |  CAST(secs % 60 AS STRING), 'S')""".stripMargin))
        .withColumn("parsed", expr(
          """CAST(regexp_extract(iso, '^P(\\d+)DT(\\d+)H(\\d+)M(\\d+)S$', 1) AS BIGINT) * 86400
            |+ CAST(regexp_extract(iso, '^P(\\d+)DT(\\d+)H(\\d+)M(\\d+)S$', 2) AS BIGINT) * 3600
            |+ CAST(regexp_extract(iso, '^P(\\d+)DT(\\d+)H(\\d+)M(\\d+)S$', 3) AS BIGINT) * 60
            |+ CAST(regexp_extract(iso, '^P(\\d+)DT(\\d+)H(\\d+)M(\\d+)S$', 4) AS BIGINT)"""
            .stripMargin))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("parsed") =!= col("secs"), 1L).otherwise(0L))
            .as("mismatches"),
          sum("secs").as("seconds_mass"),
          max(expr("secs DIV 86400")).as("max_days"))
        .withColumn("roundtrip_exact", col("mismatches") === 0L)
        .orderBy("event_type")
    },
      """WITH t AS (
        |  SELECT event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS secs
        |  FROM events),
        |r AS (
        |  SELECT event_type, secs,
        |    'P' || CAST(secs // 86400 AS VARCHAR) || 'DT' ||
        |    CAST(secs % 86400 // 3600 AS VARCHAR) || 'H' ||
        |    CAST(secs % 3600 // 60 AS VARCHAR) || 'M' ||
        |    CAST(secs % 60 AS VARCHAR) || 'S' AS iso
        |  FROM t),
        |p AS (
        |  SELECT event_type, secs,
        |    CAST(regexp_extract(iso, '^P(\d+)DT(\d+)H(\d+)M(\d+)S$', 1) AS BIGINT) * 86400
        |    + CAST(regexp_extract(iso, '^P(\d+)DT(\d+)H(\d+)M(\d+)S$', 2) AS BIGINT) * 3600
        |    + CAST(regexp_extract(iso, '^P(\d+)DT(\d+)H(\d+)M(\d+)S$', 3) AS BIGINT) * 60
        |    + CAST(regexp_extract(iso, '^P(\d+)DT(\d+)H(\d+)M(\d+)S$', 4) AS BIGINT) AS parsed
        |  FROM r)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN parsed <> secs THEN 1 ELSE 0 END) AS BIGINT) AS mismatches,
        |  CAST(SUM(secs) AS BIGINT) AS seconds_mass,
        |  CAST(MAX(secs // 86400) AS BIGINT) AS max_days,
        |  SUM(CASE WHEN parsed <> secs THEN 1 ELSE 0 END) = 0 AS roundtrip_exact
        |FROM p GROUP BY 1 ORDER BY event_type""".stripMargin),

    // SRT timecode round-trip — the subtitle-file serialization beside
    // mm_subtitle_align: millisecond offsets rendered as the fixed-width
    // HH:MM:SS,mmm cue stamp, re-parsed by position, round-trip proven;
    // and because the rendering is FIXED-WIDTH, lexicographic MAX equals
    // the numeric max — the graded `lex_is_numeric_max` column proves the
    // property subtitle tooling silently relies on when sorting cue
    // files as text (the same property fn_semver_latest proves violated
    // for variable-width versions).
    Op("mm_srt_timecode", (s, d) => {
      Tables.events(s, d)
        .select((col("user_id") % 8).as("principal"),
          expr("CAST(FLOOR(value * 100000) AS BIGINT) % 86400000").as("ms"))
        .withColumn("tc", expr(
          """concat(lpad(CAST(ms DIV 3600000 AS STRING), 2, '0'), ':',
            |  lpad(CAST(ms % 3600000 DIV 60000 AS STRING), 2, '0'), ':',
            |  lpad(CAST(ms % 60000 DIV 1000 AS STRING), 2, '0'), ',',
            |  lpad(CAST(ms % 1000 AS STRING), 3, '0'))""".stripMargin))
        .withColumn("parsed", expr(
          """CAST(substring(tc, 1, 2) AS BIGINT) * 3600000
            |+ CAST(substring(tc, 4, 2) AS BIGINT) * 60000
            |+ CAST(substring(tc, 7, 2) AS BIGINT) * 1000
            |+ CAST(substring(tc, 10, 3) AS BIGINT)""".stripMargin))
        .groupBy("principal")
        .agg(count(lit(1)).as("n"),
          sum(when(col("parsed") =!= col("ms"), 1L).otherwise(0L))
            .as("mismatches"),
          max("ms").as("max_ms"), max("tc").as("lex_max_tc"))
        .withColumn("lex_is_numeric_max", expr(
          """lex_max_tc = concat(lpad(CAST(max_ms DIV 3600000 AS STRING), 2, '0'), ':',
            |  lpad(CAST(max_ms % 3600000 DIV 60000 AS STRING), 2, '0'), ':',
            |  lpad(CAST(max_ms % 60000 DIV 1000 AS STRING), 2, '0'), ',',
            |  lpad(CAST(max_ms % 1000 AS STRING), 3, '0'))""".stripMargin))
        .orderBy("principal")
    },
      """WITH t AS (
        |  SELECT user_id % 8 AS principal,
        |    CAST(FLOOR(value * 100000) AS BIGINT) % 86400000 AS ms
        |  FROM events),
        |r AS (
        |  SELECT principal, ms,
        |    lpad(CAST(ms // 3600000 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(ms % 3600000 // 60000 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(ms % 60000 // 1000 AS VARCHAR), 2, '0') || ',' ||
        |    lpad(CAST(ms % 1000 AS VARCHAR), 3, '0') AS tc
        |  FROM t),
        |p AS (
        |  SELECT principal, ms, tc,
        |    CAST(substring(tc, 1, 2) AS BIGINT) * 3600000
        |    + CAST(substring(tc, 4, 2) AS BIGINT) * 60000
        |    + CAST(substring(tc, 7, 2) AS BIGINT) * 1000
        |    + CAST(substring(tc, 10, 3) AS BIGINT) AS parsed
        |  FROM r)
        |SELECT principal, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN parsed <> ms THEN 1 ELSE 0 END) AS BIGINT) AS mismatches,
        |  CAST(MAX(ms) AS BIGINT) AS max_ms,
        |  MAX(tc) AS lex_max_tc,
        |  MAX(tc) = lpad(CAST(MAX(ms) // 3600000 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(MAX(ms) % 3600000 // 60000 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(MAX(ms) % 60000 // 1000 AS VARCHAR), 2, '0') || ',' ||
        |    lpad(CAST(MAX(ms) % 1000 AS VARCHAR), 3, '0') AS lex_is_numeric_max
        |FROM p GROUP BY 1 ORDER BY principal""".stripMargin),

    // RFM segment-migration matrix — the CRM follow-on to agg_rfm (which
    // scores ONE period; retention marketing lives on the TRANSITIONS):
    // customers tiered by spend in each half of the order history
    // (1995–97 vs 1998+), the full-outer join yields the migration
    // matrix with 'absent' pseudo-tiers for churned and newly-acquired
    // customers; census per (from, to) cell with share ppm — the
    // movement report a lifecycle team acts on.
    Op("agg_segment_migration", (s, d) => {
      def half(pred: org.apache.spark.sql.Column) = Tables.orders(s, d)
        .where(pred)
        .groupBy("o_custkey")
        .agg(sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .withColumn("tier",
          when(col("cents") >= 30000000L, lit("high"))
            .when(col("cents") >= 15000000L, lit("mid")).otherwise(lit("low")))
      val p1 = half(col("o_orderdate") < "1998-01-01")
        .select(col("o_custkey"), col("tier").as("tier_from"))
      val p2 = half(col("o_orderdate") >= "1998-01-01")
        .select(col("o_custkey"), col("tier").as("tier_to"))
      val m = p1.join(p2, Seq("o_custkey"), "full")
        .select(coalesce(col("tier_from"), lit("absent")).as("tier_from"),
          coalesce(col("tier_to"), lit("absent")).as("tier_to"))
      val tot = m.agg(count(lit(1)).as("total"))
      m.groupBy("tier_from", "tier_to").agg(count(lit(1)).as("customers"))
        .crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("(customers * 1000000) DIV total"))
        .select("tier_from", "tier_to", "customers", "share_ppm")
        .orderBy("tier_from", "tier_to")
    },
      """WITH h1 AS (
        |  SELECT o_custkey,
        |    CASE WHEN SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) >= 30000000 THEN 'high'
        |         WHEN SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) >= 15000000 THEN 'mid'
        |         ELSE 'low' END AS tier_from
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
        |h2 AS (
        |  SELECT o_custkey,
        |    CASE WHEN SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) >= 30000000 THEN 'high'
        |         WHEN SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) >= 15000000 THEN 'mid'
        |         ELSE 'low' END AS tier_to
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(tier_from, 'absent') AS tier_from,
        |    COALESCE(tier_to, 'absent') AS tier_to
        |  FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM m)
        |SELECT tier_from, tier_to, CAST(COUNT(*) AS BIGINT) AS customers,
        |  (CAST(COUNT(*) AS BIGINT) * 1000000) // (SELECT total FROM tt)
        |    AS share_ppm
        |FROM m GROUP BY 1, 2 ORDER BY tier_from, tier_to""".stripMargin)
  )
}
