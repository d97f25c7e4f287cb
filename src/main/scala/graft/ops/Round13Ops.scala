package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-13 operators — north-star surfaces per the round-12 verdict's
  * brief item 5 (service/LLM-pipeline shapes, not numerology): Unicode
  * normalization audit, Hive ACID overlapping-compaction read, audio
  * VAD chunk planning. Same paired impl/oracle style and engine-
  * exactness laws as Round11/12Ops: money in integer cents, rates in
  * ppm, DuckDB SUMs re-CAST from HUGEINT, sign-split DIV where a
  * negative could reach it.
  */
object Round13Ops extends Family {
  import scala.jdk.CollectionConverters._

  val ops: Seq[Op] = Seq(
    // Unicode NORMALIZATION audit — the canonicalization gate every
    // multi-script corpus passes before fingerprinting/dedup ("café" has
    // two code-point spellings; an un-normalized corpus hashes it both
    // ways and near-dup recall silently drops). Planted per doc_id%5:
    // a DECOMPOSED e+U+0301 (NFC composes it — the unstable class), the
    // precomposed form (stable), Greek and Han runs (stable, script
    // census targets). Graded per (lang, nfc_stable): doc count, exact
    // per-script char censuses (regex script classes — Java \p{IsX} and
    // RE2 \p{X} agree on the planted letters), combining-mark count,
    // and the total chars REMOVED by composition. The normalizer is a
    // native codegen'd Catalyst expression (UnicodeNormalize — Spark
    // has no builtin); one linear scan projection + one tiny rollup,
    // no shuffle beyond the groupBy.
    Op("llm_unicode_normalize_audit", (s, d) => {
      val dec = " cafe\u0301" // e + combining acute: NFC composes
      val pre = " caf\u00e9"  // precomposed: NFC-stable
      val grk = " \u03b1\u03b2\u03b3"
      val han = " \u4e00\u4e8c"
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .withColumn("audit", concat(col("text"),
          when(col("doc_id") % 5 === 1, lit(dec))
            .when(col("doc_id") % 5 === 2, lit(pre))
            .when(col("doc_id") % 5 === 3, lit(grk))
            .when(col("doc_id") % 5 === 4, lit(han))
            .otherwise(lit(""))))
        .withColumn("nfc", call_function("graft_nfc", col("audit")))
        .withColumn("nfc_stable", col("nfc") === col("audit"))
        .withColumn("g", regexp_count(col("audit"), lit("\\p{IsGreek}")))
        .withColumn("h", regexp_count(col("audit"), lit("\\p{IsHan}")))
        .withColumn("m", regexp_count(col("audit"), lit("\\p{Mn}")))
        .withColumn("dlen", length(col("audit")) - length(col("nfc")))
        .groupBy("lang", "nfc_stable")
        .agg(count(lit(1)).as("n_docs"),
          sum("g").as("greek_chars"), sum("h").as("han_chars"),
          sum("m").as("combining_marks"), sum("dlen").as("chars_composed"))
        .orderBy("lang", "nfc_stable")
    },
      """WITH t AS (
        |  SELECT doc_id, lang, text ||
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 1 THEN ' cafe' || chr(769)
        |      WHEN 2 THEN ' caf' || chr(233)
        |      WHEN 3 THEN ' ' || chr(945) || chr(946) || chr(947)
        |      WHEN 4 THEN ' ' || chr(19968) || chr(20108)
        |      ELSE '' END AS audit
        |  FROM documents),
        |n AS (
        |  SELECT lang,
        |    nfc_normalize(audit) = audit AS nfc_stable,
        |    CAST(len(regexp_extract_all(audit, '[\p{Greek}]')) AS BIGINT) AS g,
        |    CAST(len(regexp_extract_all(audit, '[\p{Han}]')) AS BIGINT) AS h,
        |    CAST(len(regexp_extract_all(audit, '[\p{Mn}]')) AS BIGINT) AS m,
        |    CAST(length(audit) - length(nfc_normalize(audit)) AS BIGINT) AS dlen
        |  FROM t)
        |SELECT lang, nfc_stable, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(g) AS BIGINT) AS greek_chars,
        |  CAST(SUM(h) AS BIGINT) AS han_chars,
        |  CAST(SUM(m) AS BIGINT) AS combining_marks,
        |  CAST(SUM(dlen) AS BIGINT) AS chars_composed
        |FROM n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Hive ACID OVERLAPPING-COMPACTION read — the snapshot-resolution
    // grammar source_hive_acid_read's single-epoch layout doesn't
    // exercise: after a compaction lands base_N, the directory still
    // holds the PRE-compaction base and deltas (cleaner lag is the
    // normal steady state) PLUS post-compaction deltas that the new
    // base does NOT absorb. A correct reader picks the HIGHEST base as
    // the watermark, serves base_N plus only deltas with txn > N, and
    // applies only post-watermark delete deltas. The staged decoy dirs
    // (base_0000001 with doubled prices, delta_0000002) are poison: a
    // reader that unions every base or every delta grades wrong
    // immediately. Merge work is one union + one distributed anti-join
    // on the 3-part row identity — O(visible rows), never a collected
    // delete set.
    Op("source_hive_acid_overlap", (s, d) => {
      val root = Scratch.staged("hive_acid_ov", d) { root =>
        val o = HiveAcid.orders(s, d)
        // decoys BELOW the compaction watermark: a stale full base with
        // doubled prices and a stale delta — both must be invisible
        HiveAcid.acidify(o.withColumn("o_totalprice", col("o_totalprice") * 2), 1L)
          .write.mode("overwrite").orc(s"$root/base_0000001")
        HiveAcid.acidify(o.where(col("k") % 2 === 1), 2L)
          .write.mode("overwrite").orc(s"$root/delta_0000002_0000002")
        // the compacted base (even keys) + a post-compaction insert
        // delta (odd keys) the base does not absorb
        HiveAcid.acidify(o.where(col("k") % 2 === 0), 3L)
          .write.mode("overwrite").orc(s"$root/base_0000003")
        HiveAcid.acidify(o.where(col("k") % 2 === 1), 4L)
          .write.mode("overwrite").orc(s"$root/delta_0000004_0000004")
        // post-compaction delete delta: kills every k%10==6 base row
        // (originalTransaction 3) and every odd multiple of 9 from the
        // new insert delta (originalTransaction 4); identity-only rows
        o.where(col("k") % 10 === 6 || (col("k") % 2 === 1 && col("k") % 9 === 0))
          .select(lit(2).as("operation"),
            when(col("k") % 2 === 0, 3L).otherwise(4L).as("originalTransaction"),
            (col("k") % 4).cast("int").as("bucket"),
            col("k").as("rowId"),
            lit(5L).as("currentTransaction"))
          .write.mode("overwrite").orc(s"$root/delete_delta_0000005_0000005")
      }
      val rootP = java.nio.file.Paths.get(root)
      // the native ORC reader remaps the 6-field ACID tuple (see
      // source_hive_acid_read); Hive's path is pinned for the scans
      withConfs(s)("spark.sql.orc.impl" -> "hive") {
        val dirs = java.nio.file.Files.list(rootP).iterator().asScala
          .map(_.getFileName.toString).toSeq.sorted
        val DeltaRe = """delta_(\d+)_(\d+)""".r
        val DelRe = """delete_delta_(\d+)_(\d+)""".r
        val watermark = dirs.collect {
          case n if n.startsWith("base_") => n.stripPrefix("base_").toLong
        }.max
        val live = Seq(s"base_%07d".format(watermark)) ++ dirs.collect {
          case n @ DeltaRe(a, _) if a.toLong > watermark => n
        }
        val dels = dirs.collect { case n @ DelRe(a, _) if a.toLong > watermark => n }
        val rows = live.map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
        val merged =
          if (dels.isEmpty) rows
          else rows.join(
            dels.map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
              .select("originalTransaction", "bucket", "rowId"),
            Seq("originalTransaction", "bucket", "rowId"), "left_anti")
        merged
          .select(col("row.o_orderstatus").as("o_orderstatus"),
            col("row.o_totalprice").as("o_totalprice"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .orderBy("o_orderstatus")
          .localCheckpoint()
      }
    },
      // The overlapping-compaction snapshot replayed as predicates over the
      // source: live = compacted evens minus k%10=6, plus post-compaction
      // odds minus odd multiples of 9; decoy dirs contribute nothing.
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus, o_totalprice FROM orders),
        |live AS (
        |  SELECT * FROM o
        |  WHERE NOT (k % 10 = 6)
        |    AND NOT (k % 2 = 1 AND k % 9 = 0))
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM live GROUP BY 1 ORDER BY 1""".stripMargin),

    // Audio VAD chunk plan — the speech-segmentation pass an audio
    // pipeline runs before transcription/training: per file (one row
    // per `part` key), 20 ms frames carry a deterministic md5-derived
    // energy; voiced = energy ≥ 550; a chunk is a voiced island
    // tolerating single-frame dropouts (gap ≤ 2 merges) and must hold
    // ≥ 3 voiced frames to survive. Graded per file-length decile:
    // file count, chunk count, voiced-in-chunk mass, widest chunk span,
    // and exact speech ppm mass — the accounting that sizes the
    // downstream ASR batch. One explode (frames ∝ corpus seconds), one
    // per-file window pass, one rollup; the island merge is the
    // gaps-and-islands cumsum, never a self-join.
    Op("mm_audio_vad_chunks", (s, d) => {
      val files = Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("file_id"))
        .withColumn("n_frames", col("file_id") % 60 + 40)
      val frames = files
        .select(col("file_id"), col("n_frames"),
          explode(expr("sequence(CAST(0 AS BIGINT), n_frames - 1)")).as("fr"))
        .withColumn("energy", expr(
          s"${md5Bits("concat('vad:', CAST(file_id AS STRING), ':', CAST(fr AS STRING))", 6)} % 1000"))
      val voiced = frames.where(col("energy") >= 550)
      val wF = Window.partitionBy("file_id").orderBy("fr")
      val chunks = voiced
        .withColumn("gap", col("fr") - lag("fr", 1).over(wF))
        .withColumn("brk", when(col("gap").isNull || col("gap") > 2, 1L).otherwise(0L))
        .withColumn("chunk_id", sum("brk").over(
          wF.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("file_id", "chunk_id")
        .agg(min("fr").as("c_start"), max("fr").as("c_end"),
          count(lit(1)).as("n_voiced"))
        .where(col("n_voiced") >= 3)
      val perFile = files.join(
        chunks.groupBy("file_id").agg(
          count(lit(1)).as("n_chunks"),
          sum("n_voiced").as("voiced_in_chunks"),
          max(col("c_end") - col("c_start") + 1).as("max_span")),
        Seq("file_id"), "left")
        .select(col("file_id"), col("n_frames"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("voiced_in_chunks"), lit(0L)).as("vic"),
          coalesce(col("max_span"), lit(0L)).as("max_span"))
        .withColumn("speech_ppm", expr("(vic * 1000000) DIV n_frames"))
      perFile
        .groupBy(expr("n_frames DIV 10").as("len_decile"))
        .agg(count(lit(1)).as("n_files"),
          sum("n_chunks").as("total_chunks"),
          sum("vic").as("voiced_in_chunks"),
          max("max_span").as("max_chunk_span"),
          sum("speech_ppm").as("speech_ppm_mass"))
        .orderBy("len_decile")
    },
      s"""WITH f AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS file_id,
        |    CAST(p_partkey AS BIGINT) % 60 + 40 AS n_frames
        |  FROM part),
        |pos AS (SELECT CAST(t.i AS BIGINT) AS i FROM generate_series(0, 99) AS t(i)),
        |fr AS (
        |  SELECT file_id, n_frames, pos.i AS fr,
        |    ${duckMd5Bits("'vad:' || CAST(file_id AS VARCHAR) || ':' || CAST(pos.i AS VARCHAR)", 6)} % 1000 AS energy
        |  FROM f JOIN pos ON pos.i < f.n_frames),
        |v AS (SELECT * FROM fr WHERE energy >= 550),
        |g AS (
        |  SELECT file_id, fr,
        |    CASE WHEN fr - LAG(fr) OVER (PARTITION BY file_id ORDER BY fr) > 2
        |           OR LAG(fr) OVER (PARTITION BY file_id ORDER BY fr) IS NULL
        |      THEN 1 ELSE 0 END AS brk
        |  FROM v),
        |c AS (
        |  SELECT file_id, fr,
        |    SUM(brk) OVER (PARTITION BY file_id ORDER BY fr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
        |  FROM g),
        |ch AS (
        |  SELECT file_id, chunk_id, MIN(fr) AS c_start, MAX(fr) AS c_end,
        |    CAST(COUNT(*) AS BIGINT) AS n_voiced
        |  FROM c GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |pf AS (
        |  SELECT f.file_id, f.n_frames,
        |    COALESCE(s.n_chunks, 0) AS n_chunks,
        |    COALESCE(s.vic, 0) AS vic,
        |    COALESCE(s.max_span, 0) AS max_span
        |  FROM f LEFT JOIN (
        |    SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |      CAST(SUM(n_voiced) AS BIGINT) AS vic,
        |      CAST(MAX(c_end - c_start + 1) AS BIGINT) AS max_span
        |    FROM ch GROUP BY 1) s ON f.file_id = s.file_id)
        |SELECT n_frames // 10 AS len_decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
        |  CAST(SUM(vic) AS BIGINT) AS voiced_in_chunks,
        |  CAST(MAX(max_span) AS BIGINT) AS max_chunk_span,
        |  CAST(SUM((vic * 1000000) // n_frames) AS BIGINT) AS speech_ppm_mass
        |FROM pf GROUP BY 1 ORDER BY 1""".stripMargin),

    // robots.txt crawl-compliance gate — the FIRST filter a responsible
    // corpus build runs: per-domain disallow prefixes (the synthetic
    // rule table drives three rule classes: full-path block, unrelated
    // path, leading-digit prefix) matched against each doc's URL path;
    // a doc is blocked if ANY of its domain's rules prefix-match. The
    // rule table is metadata (BROADCAST to the scan); the per-doc
    // max-over-rules keeps multi-rule domains correct. Graded per
    // domain: doc census, blocked census, exact block ppm.
    Op("llm_robots_txt_gate", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"))
        .withColumn("domain",
          concat(lit("d"), (col("doc_id") % 40).cast("string"), lit(".example")))
        .withColumn("path", concat(lit("/p/"), col("doc_id").cast("string")))
      val rules = s.range(0, 40).select(
        concat(lit("d"), col("id").cast("string"), lit(".example")).as("domain"),
        when(col("id") % 4 === 0, lit("/p/"))        // blanket block
          .when(col("id") % 4 === 1, lit("/private/")) // matches nothing here
          .when(col("id") % 4 === 2, lit("/p/1"))    // leading-digit prefix
          .otherwise(lit(null)).as("disallow"))
        .where(col("disallow").isNotNull)
      docs.join(broadcast(rules), Seq("domain"), "left")
        .withColumn("hit",
          when(col("disallow").isNotNull && col("path").startsWith(col("disallow")), 1L)
            .otherwise(0L))
        .groupBy("doc_id", "domain")
        .agg(max("hit").as("blocked"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"), sum("blocked").as("n_blocked"))
        .withColumn("block_ppm", expr("(n_blocked * 1000000) DIV n_docs"))
        .orderBy("domain")
    },
      """WITH docs AS (
        |  SELECT doc_id,
        |    'd' || CAST(doc_id % 40 AS VARCHAR) || '.example' AS domain,
        |    '/p/' || CAST(doc_id AS VARCHAR) AS path
        |  FROM documents),
        |rules AS (
        |  SELECT 'd' || CAST(t.i AS VARCHAR) || '.example' AS domain,
        |    CASE CAST(t.i % 4 AS INT)
        |      WHEN 0 THEN '/p/' WHEN 1 THEN '/private/' WHEN 2 THEN '/p/1' END AS disallow
        |  FROM generate_series(0, 39) AS t(i)
        |  WHERE t.i % 4 IN (0, 1, 2)),
        |f AS (
        |  SELECT d.doc_id, d.domain,
        |    MAX(CASE WHEN r.disallow IS NOT NULL AND starts_with(d.path, r.disallow)
        |      THEN 1 ELSE 0 END) AS blocked
        |  FROM docs d LEFT JOIN rules r ON d.domain = r.domain
        |  GROUP BY 1, 2)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(blocked) AS BIGINT) AS n_blocked,
        |  CAST((SUM(blocked) * 1000000) // COUNT(*) AS BIGINT) AS block_ppm
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // License classifier — the compliance census beside the robots gate:
    // planted license snippets per doc_id%6 (MIT / Apache-2.0 / GPL /
    // CC-BY / all-rights-reserved / none), detected by substring screen
    // and folded into the classes a curation policy keys on (permissive
    // / copyleft / restricted / none) with the commercial-use verdict.
    // Graded per (source, license_class): doc census, exact token mass.
    // One linear projection + rollup; the lexicon is a literal, the
    // screen is the real shape (contains over the doc body).
    Op("llm_license_classifier", (s, d) => {
      val snip = when(col("doc_id") % 6 === 1, lit(" licensed under the mit license"))
        .when(col("doc_id") % 6 === 2, lit(" apache license version 2.0"))
        .when(col("doc_id") % 6 === 3, lit(" gnu general public license"))
        .when(col("doc_id") % 6 === 4, lit(" creative commons attribution 4.0"))
        .when(col("doc_id") % 6 === 5, lit(" all rights reserved"))
        .otherwise(lit(""))
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
        .withColumn("body", concat(col("text"), snip))
        .withColumn("license_class",
          when(col("body").contains("mit license")
            || col("body").contains("apache license")
            || col("body").contains("creative commons"), lit("permissive"))
            .when(col("body").contains("general public license"), lit("copyleft"))
            .when(col("body").contains("all rights reserved"), lit("restricted"))
            .otherwise(lit("none")))
        .withColumn("commercial_ok",
          col("license_class") === "permissive" || col("license_class") === "none")
        .withColumn("toks", size(split(col("body"), " ")).cast("bigint"))
        .groupBy("source", "license_class", "commercial_ok")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("token_mass"))
        .orderBy("source", "license_class")
    },
      """WITH t AS (
        |  SELECT source, text ||
        |    CASE CAST(doc_id % 6 AS INT)
        |      WHEN 1 THEN ' licensed under the mit license'
        |      WHEN 2 THEN ' apache license version 2.0'
        |      WHEN 3 THEN ' gnu general public license'
        |      WHEN 4 THEN ' creative commons attribution 4.0'
        |      WHEN 5 THEN ' all rights reserved'
        |      ELSE '' END AS body
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    CASE
        |      WHEN contains(body, 'mit license') OR contains(body, 'apache license')
        |        OR contains(body, 'creative commons') THEN 'permissive'
        |      WHEN contains(body, 'general public license') THEN 'copyleft'
        |      WHEN contains(body, 'all rights reserved') THEN 'restricted'
        |      ELSE 'none' END AS license_class,
        |    CAST(len(string_split(body, ' ')) AS BIGINT) AS toks
        |  FROM t)
        |SELECT source, license_class,
        |  license_class IN ('permissive', 'none') AS commercial_ok,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS token_mass
        |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin),

    // Bootstrap confidence interval for an eval metric — the error-bar
    // machinery a leaderboard needs before calling a 0.4-point gap real:
    // per-task correctness (deterministic md5 draw), B=50 deterministic
    // md5 RESAMPLES of the task set (with replacement — each resample
    // draws n dense-indexed tasks), per-resample accuracy in exact ppm,
    // and the 5/50/95 percentile of the resample means by exact rank.
    // The resample draw is a join against the dense task index (hash-
    // shardable at scale; the fixture uses one row_number pass), never
    // a driver-side loop. Nothing random: same corpus -> same CI.
    Op("llm_eval_bootstrap_ci", (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("task"))
        .withColumn("ok", (expr(
          s"${md5Bits("bsok", "task", 6)} % 1000") < 600).cast("long"))
      // Dense 0..n-1 task index WITHOUT a global single-partition sort:
      // range-bucket on the key (task DIV c is monotonic, so buckets are
      // ordered key ranges), per-bucket counts rolled into cumulative
      // offsets (a ≤33-row bounded window), broadcast back, then a
      // PARTITIONED row_number within each bucket — zipWithIndex as one
      // declarative plan. Same dense order as ROW_NUMBER() OVER (ORDER BY
      // task); the oracle is unchanged.
      // coalesce: total on an empty input dir (max() is null over 0 rows).
      // ONE driver pass yields BOTH scalars the plan needs (max for the
      // bucket width, count for the draw modulus) — this was two separate
      // actions (agg().head + tasks.count()), i.e. one full extra job.
      val hdr = base.agg(coalesce(max("task"), lit(0L)), count(lit(1))).head
      val maxTask = hdr.getLong(0)
      val n = hdr.getLong(1)
      // bucket count follows the session's parallelism, not a literal 32
      // (guide §2.6/§1.2: the hardcoded constant under-partitions at real
      // core counts and over-partitions below them); the dense idx is the
      // global rank by task regardless of the bucket width, so the result
      // is identical at any parallelism.
      val par = math.max(1, s.sparkContext.defaultParallelism)
      val withB = base.withColumn("bkt", expr(s"task DIV ${maxTask / par + 1}"))
      val wOff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = withB.groupBy("bkt").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum("cnt").over(wOff), lit(0L)))
        .select("bkt", "off")
      val wB = Window.partitionBy("bkt").orderBy("task")
      val tasks = withB.join(broadcast(offsets), Seq("bkt"))
        .withColumn("idx", (col("off") + row_number().over(wB) - 1).cast("bigint"))
        .select("task", "ok", "idx")
        .localCheckpoint()
      // Round-robin the draw source: tasks is hash(bkt)-partitioned over
      // ~par+1 keys, which leaves some slots empty — the 50×n draw
      // expansion needs EVEN partitions. BROADCAST the dense index so the
      // draw rows never shuffle.
      val draws = tasks.select(col("task").as("src_task")).repartition(par)
        .crossJoin(broadcast(s.range(0, 50).select(col("id").as("b"))))
        .select(col("b"), expr(
          s"${md5Bits("concat('bs:', CAST(b AS STRING), ':', CAST(src_task AS STRING))", 8)} % $n")
          .as("idx"))
      val means = draws.join(broadcast(tasks.select("idx", "ok")), Seq("idx"))
        .groupBy("b")
        .agg(expr(s"(sum(ok) * 1000000) DIV $n").as("mean_ppm"))
      val wR = Window.orderBy("mean_ppm", "b")
      // all three percentile ranks picked in ONE aggregate over the 50
      // ranked rows (rk is a dense 1..50 bijection, so max(when(rk=k)) IS
      // the rank-k value) — this replaces a localCheckpoint plus three
      // broadcast-filter re-reads of it: one job and one broadcast instead
      // of four jobs (guide §5: fewer driver actions / jobs per query).
      val ci = means.withColumn("rk", row_number().over(wR))
        .agg(max(when(col("rk") === 3, col("mean_ppm"))).as("ci_low_ppm"),
          max(when(col("rk") === 25, col("mean_ppm"))).as("ci_med_ppm"),
          max(when(col("rk") === 48, col("mean_ppm"))).as("ci_high_ppm"))
      val point = tasks.agg(expr(s"(sum(ok) * 1000000) DIV $n").as("point_ppm"))
      point
        .crossJoin(broadcast(ci))
        .select(lit(n).as("n_tasks"), lit(50L).as("n_resamples"),
          col("point_ppm"), col("ci_low_ppm"), col("ci_med_ppm"),
          col("ci_high_ppm"))
    },
      s"""WITH tasks AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS task,
        |    CASE WHEN ${duckMd5Bits("bsok", "o_orderkey", 6)} % 1000 < 600
        |      THEN 1 ELSE 0 END AS ok,
        |    ROW_NUMBER() OVER (ORDER BY CAST(o_orderkey AS BIGINT)) - 1 AS idx
        |  FROM orders),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tasks),
        |draws AS (
        |  SELECT CAST(b.i AS BIGINT) AS b,
        |    ${duckMd5Bits("'bs:' || CAST(b.i AS VARCHAR) || ':' || CAST(t.task AS VARCHAR)", 8)} % (SELECT n FROM n) AS idx
        |  FROM tasks t, generate_series(0, 49) AS b(i)),
        |means AS (
        |  SELECT d.b, (SUM(t.ok) * 1000000) // (SELECT n FROM n) AS mean_ppm
        |  FROM draws d JOIN tasks t ON d.idx = t.idx
        |  GROUP BY d.b),
        |ranked AS (
        |  SELECT mean_ppm, ROW_NUMBER() OVER (ORDER BY mean_ppm, b) AS rk
        |  FROM means)
        |SELECT (SELECT n FROM n) AS n_tasks, CAST(50 AS BIGINT) AS n_resamples,
        |  CAST((SELECT (SUM(ok) * 1000000) // (SELECT n FROM n) FROM tasks) AS BIGINT) AS point_ppm,
        |  CAST((SELECT mean_ppm FROM ranked WHERE rk = 3) AS BIGINT) AS ci_low_ppm,
        |  CAST((SELECT mean_ppm FROM ranked WHERE rk = 25) AS BIGINT) AS ci_med_ppm,
        |  CAST((SELECT mean_ppm FROM ranked WHERE rk = 48) AS BIGINT) AS ci_high_ppm""".stripMargin),

    // Multi-window SLO burn rate — the SRE alerting arithmetic a serving
    // layer runs over its own event stream: per-hour error rate (refunds
    // = errors) plus a 6-hour trailing window via RANGE framing (gap-
    // correct on the hour axis), both in exact ppm; the alert fires only
    // when BOTH windows burn above budget (the standard fast+slow guard
    // against blips and stale pages). One hour-rollup shuffle + one
    // ordered window over the small hourly series.
    Op("win_slo_burn_rate", (s, d) => {
      val hourly = Tables.events(s, d)
        .withColumn("hour", expr("ts_us DIV 3600000000"))
        .groupBy("hour")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "refund", 1L).otherwise(0L)).as("err"))
      val w6 = Window.orderBy("hour").rangeBetween(-5, 0)
      hourly
        .withColumn("n6", sum("n").over(w6))
        .withColumn("err6", sum("err").over(w6))
        .withColumn("burn_short_ppm", expr("(err * 1000000) DIV n"))
        .withColumn("burn_long_ppm", expr("(err6 * 1000000) DIV n6"))
        .withColumn("alert",
          col("burn_short_ppm") > 250000 && col("burn_long_ppm") > 220000)
        .select("hour", "n", "err", "n6", "err6",
          "burn_short_ppm", "burn_long_ppm", "alert")
        .orderBy("hour")
    },
      """WITH h AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'refund' THEN 1 ELSE 0 END) AS BIGINT) AS err
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT hour, n, err,
        |    CAST(SUM(n) OVER win AS BIGINT) AS n6,
        |    CAST(SUM(err) OVER win AS BIGINT) AS err6
        |  FROM h
        |  WINDOW win AS (ORDER BY hour RANGE BETWEEN 5 PRECEDING AND CURRENT ROW))
        |SELECT hour, n, err, n6, err6,
        |  (err * 1000000) // n AS burn_short_ppm,
        |  (err6 * 1000000) // n6 AS burn_long_ppm,
        |  (err * 1000000) // n > 250000 AND (err6 * 1000000) // n6 > 220000 AS alert
        |FROM w ORDER BY hour""".stripMargin),

    // Hive ACID MINOR compaction — the other half of the maintenance
    // pair beside sink_hive_acid_compact's major pass: fold the INSERT
    // DELTAS into one merged delta (directory span delta_2_3), leave
    // the base AND the delete deltas untouched, and PRESERVE every row
    // identity (minor compaction never re-stamps — a delete delta
    // written against the old deltas must still hit after the merge,
    // which is exactly what the graded read proves: the post-compaction
    // state serves base + merged delta − deletes bit-for-bit). Spec
    // asserts the directory census (merged span present, originals
    // gone).
    Op("sink_hive_acid_minor_compact", (s, d) => {
      withConfs(s)("spark.sql.orc.impl" -> "hive") {
        val root = Scratch.staged("hive_acid_mc", d) { root =>
          val o = HiveAcid.orders(s, d)
          HiveAcid.acidify(o.where(col("k") % 2 === 0), 1L)
            .write.mode("overwrite").orc(s"$root/base_0000001")
          HiveAcid.acidify(o.where(col("k") % 4 === 1), 2L)
            .write.mode("overwrite").orc(s"$root/delta_0000002_0000002")
          HiveAcid.acidify(o.where(col("k") % 4 === 3), 3L)
            .write.mode("overwrite").orc(s"$root/delta_0000003_0000003")
          // delete delta targets DELTA rows only (k%14==1 is always odd):
          // identity preservation across the merge is the graded law
          o.where(col("k") % 14 === 1)
            .select(lit(2).as("operation"),
              when(col("k") % 4 === 1, 2L).otherwise(3L).as("originalTransaction"),
              (col("k") % 4).cast("int").as("bucket"),
              col("k").as("rowId"),
              lit(4L).as("currentTransaction"))
            .write.mode("overwrite").orc(s"$root/delete_delta_0000004_0000004")
        }
        val rootP = java.nio.file.Paths.get(root)
        if (!java.nio.file.Files.exists(rootP.resolve("_MINOR_COMPACTED"))) {
          // the minor compaction: insert deltas 2..3 → one merged delta,
          // identities untouched, originals removed
          val merged = Seq("delta_0000002_0000002", "delta_0000003_0000003")
            .map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
          merged.write.mode("overwrite").orc(s"$root/delta_0000002_0000003")
          def rmTree(p: java.nio.file.Path): Unit = {
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.list(p).iterator().asScala.foreach(rmTree)
            java.nio.file.Files.delete(p)
          }
          rmTree(rootP.resolve("delta_0000002_0000002"))
          rmTree(rootP.resolve("delta_0000003_0000003"))
          java.nio.file.Files.createFile(rootP.resolve("_MINOR_COMPACTED"))
        }
        val rows = Seq("base_0000001", "delta_0000002_0000003")
          .map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
        val dels = s.read.orc(s"$root/delete_delta_0000004_0000004")
          .select("originalTransaction", "bucket", "rowId")
        rows.join(dels, Seq("originalTransaction", "bucket", "rowId"), "left_anti")
          .select(col("row.o_orderstatus").as("o_orderstatus"),
            col("row.o_totalprice").as("o_totalprice"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .orderBy("o_orderstatus")
          .localCheckpoint()
      }
    },
      // Post-minor-compaction state replayed as predicates: deletes hit
      // k%14==1 (delta rows), identities preserved through the merge.
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE NOT (o_orderkey % 14 = 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Hive ACID ABORTED-TRANSACTION visibility — the third leg of the
    // snapshot grammar (read → compaction → txn state): a delta written
    // by a transaction that ABORTED must be invisible even though its
    // files sit in the directory (the cleaner removes them later; the
    // reader cannot wait for it). The abort list is a tiny metadata
    // sidecar (driver-side read, like any snapshot resolution); the
    // aborted delta here is poison (doubled prices for even keys — a
    // reader that unions every delta double-counts half the table).
    // Committed delete deltas still apply.
    Op("source_hive_acid_aborted", (s, d) => {
      val root = Scratch.staged("hive_acid_ab", d) { root =>
        val o = HiveAcid.orders(s, d)
        HiveAcid.acidify(o.where(col("k") % 2 === 0), 1L)
          .write.mode("overwrite").orc(s"$root/base_0000001")
        HiveAcid.acidify(o.where(col("k") % 2 === 1), 2L)
          .write.mode("overwrite").orc(s"$root/delta_0000002_0000002")
        // the ABORTED writer's files: even keys again, doubled prices
        HiveAcid.acidify(o.where(col("k") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), 3L)
          .write.mode("overwrite").orc(s"$root/delta_0000003_0000003")
        // committed delete delta: kills k%12==5 (odd → delta_2, txn 2)
        o.where(col("k") % 12 === 5)
          .select(lit(2).as("operation"), lit(2L).as("originalTransaction"),
            (col("k") % 4).cast("int").as("bucket"), col("k").as("rowId"),
            lit(4L).as("currentTransaction"))
          .write.mode("overwrite").orc(s"$root/delete_delta_0000004_0000004")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_aborted"), "3\n")
      }
      val rootP = java.nio.file.Paths.get(root)
      withConfs(s)("spark.sql.orc.impl" -> "hive") {
        val aborted = java.nio.file.Files.readAllLines(rootP.resolve("_aborted"))
          .asScala.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
        val DeltaRe = """delta_(\d+)_(\d+)""".r
        val dirs = java.nio.file.Files.list(rootP).iterator().asScala
          .map(_.getFileName.toString).toSeq.sorted
        val live = dirs.filter {
          case n if n.startsWith("base_") => true
          case DeltaRe(a, _) => !aborted.contains(a.toLong)
          case _ => false
        }
        val dels = dirs.collect {
          case n if n.startsWith("delete_delta_") &&
            !aborted.contains(n.stripPrefix("delete_delta_").split("_")(0).toLong) => n
        }
        val rows = live.map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
        rows.join(
          dels.map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
            .select("originalTransaction", "bucket", "rowId"),
          Seq("originalTransaction", "bucket", "rowId"), "left_anti")
          .select(col("row.o_orderstatus").as("o_orderstatus"),
            col("row.o_totalprice").as("o_totalprice"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .orderBy("o_orderstatus")
          .localCheckpoint()
      }
    },
      // Aborted txn 3 contributes nothing; committed delete kills k%12==5.
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE NOT (o_orderkey % 12 = 5)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Admission-control quota — the serving layer's per-principal rate
    // gate: a broadcast quota table (principal → per-hour budget), the
    // request log ordered by the (ts_us, event_id) total order inside
    // each (principal, hour), admission = arrival index ≤ budget (the
    // deterministic token-bucket refilled hourly). Graded per
    // principal: request/admitted/rejected census + exact reject ppm.
    // The window partitions by (principal, hour) — embarrassingly
    // parallel; the quota side is metadata.
    Op("service_admission_quota", (s, d) => {
      val reqs = Tables.events(s, d)
        .select((col("user_id") % 8).as("principal"),
          expr("ts_us DIV 3600000000").as("hour"),
          col("ts_us"), col("event_id"))
      val quotas = s.range(0, 8).select(col("id").as("principal"),
        (col("id") * 5 + 30).as("hourly_quota"))
      val w = Window.partitionBy("principal", "hour").orderBy("ts_us", "event_id")
      reqs.join(broadcast(quotas), Seq("principal"))
        .withColumn("arrival_idx", row_number().over(w).cast("bigint"))
        .withColumn("admitted",
          when(col("arrival_idx") <= col("hourly_quota"), 1L).otherwise(0L))
        .groupBy("principal")
        .agg(count(lit(1)).as("n_requests"), sum("admitted").as("n_admitted"),
          (count(lit(1)) - sum("admitted")).as("n_rejected"))
        .withColumn("reject_ppm", expr("(n_rejected * 1000000) DIV n_requests"))
        .orderBy("principal")
    },
      """WITH r AS (
        |  SELECT user_id % 8 AS principal,
        |    epoch_us(ts) // 3600000000 AS hour,
        |    epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |q AS (SELECT CAST(t.i AS BIGINT) AS principal, CAST(t.i * 5 + 30 AS BIGINT) AS hourly_quota
        |  FROM generate_series(0, 7) AS t(i)),
        |a AS (
        |  SELECT r.principal,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY r.principal, r.hour
        |        ORDER BY r.ts_us, r.event_id) <= q.hourly_quota
        |      THEN 1 ELSE 0 END AS admitted
        |  FROM r JOIN q ON r.principal = q.principal)
        |SELECT principal, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |  CAST(SUM(admitted) AS BIGINT) AS n_admitted,
        |  CAST(COUNT(*) - SUM(admitted) AS BIGINT) AS n_rejected,
        |  CAST(((COUNT(*) - SUM(admitted)) * 1000000) // COUNT(*) AS BIGINT) AS reject_ppm
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),

    // Speculative-decoding plan — the inference-cost arithmetic beside
    // llm_kv_cache_plan / llm_act_ckpt_plan: per statement class the
    // draft-model acceptance rate a (ppm, md5-derived), k=4 drafted
    // tokens per verify step, expected accepted per step E = Σ_{i=1..4}
    // aⁱ (each term exact ppm via DECIMAL(38,0) powers — a⁴ ≤ 10²⁴,
    // no float), tokens/step = 1 + E, steps = ceil(n·10⁶ / tps), and
    // the speedup over one-token-per-step decoding in exact ppm. The
    // plan that decides whether the draft model earns its keep.
    Op("llm_speculative_plan", (s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_tokens"))
        .withColumn("a_ppm", expr(
          s"${md5Bits("concat('spec:', event_type)", 6)} % 400000 + 550000"))
        .withColumn("e_accept_ppm", expr(
          """a_ppm
            |+ CAST(CAST(a_ppm AS DECIMAL(38,0)) * a_ppm DIV 1000000 AS BIGINT)
            |+ CAST(CAST(a_ppm AS DECIMAL(38,0)) * a_ppm * a_ppm DIV 1000000000000 AS BIGINT)
            |+ CAST(CAST(a_ppm AS DECIMAL(38,0)) * a_ppm * a_ppm * a_ppm DIV 1000000000000000000 AS BIGINT)""".stripMargin))
        .withColumn("tps_ppm", expr("1000000 + e_accept_ppm"))
        .withColumn("steps_spec", expr(
          "(n_tokens * 1000000 + tps_ppm - 1) DIV tps_ppm"))
        .withColumn("speedup_ppm", expr("(n_tokens * 1000000) DIV steps_spec"))
        .select("event_type", "n_tokens", "a_ppm", "e_accept_ppm",
          "steps_spec", "speedup_ppm")
        .orderBy("event_type")
    },
      s"""WITH t AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    ${duckMd5Bits("'spec:' || event_type", 6)} % 400000 + 550000 AS a_ppm
        |  FROM events GROUP BY 1),
        |e AS (
        |  SELECT event_type, n_tokens, a_ppm,
        |    a_ppm
        |      + CAST(CAST(a_ppm AS HUGEINT) * a_ppm // 1000000 AS BIGINT)
        |      + CAST(CAST(a_ppm AS HUGEINT) * a_ppm * a_ppm // 1000000000000 AS BIGINT)
        |      + CAST(CAST(a_ppm AS HUGEINT) * a_ppm * a_ppm * a_ppm // 1000000000000000000 AS BIGINT)
        |      AS e_accept_ppm
        |  FROM t),
        |p AS (
        |  SELECT event_type, n_tokens, a_ppm, e_accept_ppm,
        |    (n_tokens * 1000000 + (1000000 + e_accept_ppm) - 1) // (1000000 + e_accept_ppm) AS steps_spec
        |  FROM e)
        |SELECT event_type, n_tokens, a_ppm, e_accept_ppm, steps_spec,
        |  (n_tokens * 1000000) // steps_spec AS speedup_ppm
        |FROM p ORDER BY event_type""".stripMargin),

    // ASR character-error-rate eval — the transcription-quality gate an
    // audio pipeline grades hypotheses with: reference = the doc's
    // leading 64 chars, hypothesis = a deterministic per-class
    // corruption (vowel substitution / deletion / clean), CER = exact
    // Levenshtein distance over reference length in ppm (both engines
    // ship the same classic DP — the graded numbers are bit-equal).
    // Bounding the ref window keeps the per-row DP constant (64² cells)
    // so the scan stays linear in docs at any corpus size. Graded per
    // (source, corruption class): doc census, CER ppm mass, worst CER.
    Op("mm_asr_cer_eval", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          substring(col("text"), 1, 64).as("ref"))
        .withColumn("corruption",
          when(col("doc_id") % 3 === 0, lit("substitute"))
            .when(col("doc_id") % 3 === 1, lit("delete"))
            .otherwise(lit("clean")))
        .withColumn("hyp",
          when(col("corruption") === "substitute",
            expr("replace(ref, 'a', 'x')"))
            .when(col("corruption") === "delete",
              expr("replace(ref, 'e', '')"))
            .otherwise(col("ref")))
        .withColumn("cer_ppm", expr(
          "(levenshtein(ref, hyp) * CAST(1000000 AS BIGINT)) DIV length(ref)"))
        .groupBy("source", "corruption")
        .agg(count(lit(1)).as("n_docs"),
          sum("cer_ppm").as("cer_ppm_mass"), max("cer_ppm").as("worst_cer_ppm"))
        .orderBy("source", "corruption")
    },
      """WITH t AS (
        |  SELECT doc_id, source, substring(text, 1, 64) AS ref,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN 'substitute' WHEN 1 THEN 'delete' ELSE 'clean' END AS corruption
        |  FROM documents),
        |h AS (
        |  SELECT source, corruption, ref,
        |    CASE corruption
        |      WHEN 'substitute' THEN replace(ref, 'a', 'x')
        |      WHEN 'delete' THEN replace(ref, 'e', '')
        |      ELSE ref END AS hyp
        |  FROM t),
        |c AS (
        |  SELECT source, corruption,
        |    (CAST(levenshtein(ref, hyp) AS BIGINT) * 1000000) // length(ref) AS cer_ppm
        |  FROM h)
        |SELECT source, corruption, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(cer_ppm) AS BIGINT) AS cer_ppm_mass,
        |  CAST(MAX(cer_ppm) AS BIGINT) AS worst_cer_ppm
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Blocked fuzzy entity resolution — the person-service record-linkage
    // core: a dirty roster (one-char typos for k%10==3, two-char damage
    // for k%100==7) matched against the master by BLOCKING on the 11-char name
    // prefix (candidate pairs per block, never an all-pairs product) and
    // scoring candidates with exact Levenshtein ≤ 1; best match = (min
    // distance, min master id) total order. Graded census: exact /
    // fuzzy-matched / unmatched record counts — the two-char rows MUST
    // land unmatched (the threshold proof). At 100 TB the block key is
    // the shuffle key and block sizes stay bounded by construction.
    Op("join_entity_resolution", (s, d) => {
      val master = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("mk"))
        .withColumn("mname", concat(lit("cust_"), lpad(col("mk").cast("string"), 7, "0")))
        .withColumn("block", substring(col("mname"), 1, 11))
      val dirty = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("dk"))
        .withColumn("base", concat(lit("cust_"), lpad(col("dk").cast("string"), 7, "0")))
        .withColumn("dname",
          when(col("dk") % 100 === 7,
            concat(expr("substring(base, 1, length(base) - 2)"), lit("zz")))
            .when(col("dk") % 10 === 3,
              concat(expr("substring(base, 1, length(base) - 1)"), lit("x")))
            .otherwise(col("base")))
        .withColumn("block", substring(col("dname"), 1, 11))
      val cand = dirty.join(master, Seq("block"))
        .withColumn("dist", expr("levenshtein(dname, mname)"))
        .where(col("dist") <= 1)
      val wBest = Window.partitionBy("dk").orderBy(col("dist"), col("mk"))
      val best = cand.withColumn("rn", row_number().over(wBest))
        .where(col("rn") === 1)
        .select(col("dk"), col("dist"))
      dirty.join(best, Seq("dk"), "left")
        .withColumn("match_class",
          when(col("dist").isNull, lit("unmatched"))
            .when(col("dist") === 0, lit("exact"))
            .otherwise(lit("fuzzy")))
        .groupBy("match_class")
        .agg(count(lit(1)).as("n_records"))
        .orderBy("match_class")
    },
      """WITH master AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS mk,
        |    'cust_' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') AS mname
        |  FROM customer),
        |dirty AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS dk,
        |    CASE
        |      WHEN c_custkey % 100 = 7 THEN
        |        substring('cust_' || lpad(CAST(c_custkey AS VARCHAR), 7, '0'), 1, 10) || 'zz'
        |      WHEN c_custkey % 10 = 3 THEN
        |        substring('cust_' || lpad(CAST(c_custkey AS VARCHAR), 7, '0'), 1, 11) || 'x'
        |      ELSE 'cust_' || lpad(CAST(c_custkey AS VARCHAR), 7, '0')
        |    END AS dname
        |  FROM customer),
        |cand AS (
        |  SELECT d.dk, m.mk, levenshtein(d.dname, m.mname) AS dist
        |  FROM dirty d JOIN master m
        |    ON substring(d.dname, 1, 11) = substring(m.mname, 1, 11)
        |  WHERE levenshtein(d.dname, m.mname) <= 1),
        |best AS (
        |  SELECT dk, dist FROM (
        |    SELECT dk, dist,
        |      ROW_NUMBER() OVER (PARTITION BY dk ORDER BY dist, mk) AS rn
        |    FROM cand) WHERE rn = 1)
        |SELECT CASE WHEN b.dist IS NULL THEN 'unmatched'
        |    WHEN b.dist = 0 THEN 'exact' ELSE 'fuzzy' END AS match_class,
        |  CAST(COUNT(*) AS BIGINT) AS n_records
        |FROM dirty d LEFT JOIN best b ON d.dk = b.dk
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Person-name standardization — the cleanup pass every person
    // service runs before identity joins: NFD + combining-mark strip
    // (diacritic folding via the native UnicodeNormalize expression;
    // DuckDB twin strip_accents), lowercase, whitespace collapse,
    // generational-suffix removal, trim. Planted classes: decomposed
    // diacritic + suffix + padding, combining diaeresis, double-space +
    // suffix, already-clean. Graded per class: name census, distinct
    // standardized forms, the lexicographically-first standardized name
    // (the join key the downstream identity graph would use).
    Op("fn_name_standardize", (s, d) => {
      val jose = "jose\u0301 GARCIA jr." // decomposed e + combining acute
      val anna = "Ana Mu\u0308ller"       // combining diaeresis
      Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 4).cast("int"))
        .withColumn("raw",
          when(col("cls") === 0, concat(lit("  "), lit(jose), lit(" ")))
            .when(col("cls") === 1, lit(anna))
            .when(col("cls") === 2, lit("MARY  ANNE  smith sr"))
            .otherwise(concat(lit("bob lee "), col("k").cast("string"))))
        .withColumn("folded",
          regexp_replace(call_function("graft_nfd", col("raw")), "\\p{Mn}", ""))
        .withColumn("std", regexp_replace(
          trim(regexp_replace(lower(col("folded")), " +", " ")),
          " (jr|sr)\\.?$", ""))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_names"),
          countDistinct(col("std")).as("n_distinct_std"),
          min("std").as("std_example"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey % 4 AS INT) AS cls,
        |    CASE CAST(c_custkey % 4 AS INT)
        |      WHEN 0 THEN '  jose' || chr(769) || ' GARCIA jr. '
        |      WHEN 1 THEN 'Ana Mu' || chr(776) || 'ller'
        |      WHEN 2 THEN 'MARY  ANNE  smith sr'
        |      ELSE 'bob lee ' || CAST(c_custkey AS VARCHAR) END AS raw
        |  FROM customer),
        |n AS (
        |  SELECT cls,
        |    regexp_replace(
        |      trim(regexp_replace(lower(strip_accents(raw)), ' +', ' ', 'g')),
        |      ' (jr|sr)\.?$', '') AS std
        |  FROM t)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_names,
        |  CAST(COUNT(DISTINCT std) AS BIGINT) AS n_distinct_std,
        |  MIN(std) AS std_example
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin),

    // GDPR subject-access export (DSAR) — the read-side twin of
    // warehouse_erasure_audit/crypto_shred: for every data subject in
    // the request batch (custkey % 97 == 13), gather their footprint
    // ACROSS the fact tables — orders (count + exact cents), line items
    // through the order join (count + quantity), events by user id —
    // into one per-subject manifest. The subject list BROADCASTS into
    // every fact scan (semi-join pushdown); missing facts export as
    // zeros, never dropped subjects (a DSAR must answer even when the
    // answer is 'nothing held').
    Op("warehouse_gdpr_subject_export", (s, d) => {
      val subjects = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("subject_id"))
        .where(col("subject_id") % 97 === 13)
        .localCheckpoint()
      val ords = Tables.orders(s, d)
        .join(broadcast(subjects), col("o_custkey") === col("subject_id"))
        .groupBy("subject_id")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("order_cents"))
      val items = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(subjects), col("o_custkey") === col("subject_id"))
        .groupBy("subject_id")
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT)")).as("total_qty"))
      val evts = Tables.events(s, d)
        .join(broadcast(subjects), col("user_id") === col("subject_id"))
        .groupBy("subject_id")
        .agg(count(lit(1)).as("n_events"))
      subjects
        .join(ords, Seq("subject_id"), "left")
        .join(items, Seq("subject_id"), "left")
        .join(evts, Seq("subject_id"), "left")
        .select(col("subject_id"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("order_cents"), lit(0L)).as("order_cents"),
          coalesce(col("n_items"), lit(0L)).as("n_items"),
          coalesce(col("total_qty"), lit(0L)).as("total_qty"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("subject_id")
    },
      """WITH subjects AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS subject_id FROM customer
        |  WHERE c_custkey % 97 = 13),
        |o AS (
        |  SELECT subject_id, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS order_cents
        |  FROM orders JOIN subjects ON o_custkey = subject_id GROUP BY 1),
        |li AS (
        |  SELECT subject_id, CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN subjects ON o_custkey = subject_id GROUP BY 1),
        |e AS (
        |  SELECT subject_id, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events JOIN subjects ON user_id = subject_id GROUP BY 1)
        |SELECT s.subject_id,
        |  COALESCE(o.n_orders, 0) AS n_orders,
        |  COALESCE(o.order_cents, 0) AS order_cents,
        |  COALESCE(li.n_items, 0) AS n_items,
        |  COALESCE(li.total_qty, 0) AS total_qty,
        |  COALESCE(e.n_events, 0) AS n_events
        |FROM subjects s
        |LEFT JOIN o ON s.subject_id = o.subject_id
        |LEFT JOIN li ON s.subject_id = li.subject_id
        |LEFT JOIN e ON s.subject_id = e.subject_id
        |ORDER BY s.subject_id""".stripMargin),

    // Bi-temporal as-of — the correction-aware history query a person
    // service must answer ("what did we BELIEVE on tx-time T about the
    // state valid at V?"): per subject three stored versions — the
    // original (closed in TX time by a later correction), a forward
    // price update, and the RETROACTIVE correction rewriting the same
    // valid interval under a new transaction. The graded 2×2 (valid,
    // tx) grid proves all four belief states: pre-correction reads see
    // the original, post-correction reads see the corrected row, and
    // the forward update is visible from its tx on. Pure projection +
    // interval predicates — at scale this is one scan per grid cell
    // over a tx/valid-pruned version table.
    Op("warehouse_bitemporal_asof", (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"),
          expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").as("cents"))
        .where(col("k") % 50 === 17)
      val versions = base.select(col("k"), lit(100L).as("valid_from"),
          lit(200L).as("valid_to"), lit(1L).as("tx_from"), lit(3L).as("tx_to"),
          col("cents"))
        .unionByName(base.select(col("k"), lit(200L).as("valid_from"),
          lit(999L).as("valid_to"), lit(2L).as("tx_from"), lit(99L).as("tx_to"),
          (col("cents") + 1000L).as("cents")))
        .unionByName(base.select(col("k"), lit(100L).as("valid_from"),
          lit(200L).as("valid_to"), lit(3L).as("tx_from"), lit(99L).as("tx_to"),
          (col("cents") - 500L).as("cents")))
      val grid = s.range(0, 4).select(
        when(col("id") % 2 === 0, 150L).otherwise(250L).as("valid_t"),
        when(col("id") < 2, 2L).otherwise(3L).as("tx_t"))
      versions.join(broadcast(grid),
          col("valid_from") <= col("valid_t") && col("valid_t") < col("valid_to") &&
            col("tx_from") <= col("tx_t") && col("tx_t") < col("tx_to"))
        .groupBy("valid_t", "tx_t")
        .agg(count(lit(1)).as("n_subjects"), sum("cents").as("cents_sum"))
        .orderBy("valid_t", "tx_t")
    },
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 50 = 17),
        |versions AS (
        |  SELECT k, 100 AS valid_from, 200 AS valid_to, 1 AS tx_from, 3 AS tx_to, cents FROM base
        |  UNION ALL
        |  SELECT k, 200, 999, 2, 99, cents + 1000 FROM base
        |  UNION ALL
        |  SELECT k, 100, 200, 3, 99, cents - 500 FROM base),
        |grid AS (
        |  SELECT CASE WHEN t.i % 2 = 0 THEN 150 ELSE 250 END AS valid_t,
        |    CASE WHEN t.i < 2 THEN 2 ELSE 3 END AS tx_t
        |  FROM generate_series(0, 3) AS t(i))
        |SELECT CAST(valid_t AS BIGINT) AS valid_t, CAST(tx_t AS BIGINT) AS tx_t,
        |  CAST(COUNT(*) AS BIGINT) AS n_subjects,
        |  CAST(SUM(cents) AS BIGINT) AS cents_sum
        |FROM versions JOIN grid
        |  ON valid_from <= valid_t AND valid_t < valid_to
        |  AND tx_from <= tx_t AND tx_t < tx_to
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // k-anonymity audit — the privacy gate before a person table ships
    // to analytics: quasi-identifier tuple (nation, market segment,
    // account-balance band), equivalence-class sizes, and the k-size
    // distribution with the under-k₅ at-risk flag (the rows a
    // suppression pass would redact). One groupBy for the classes, one
    // for the distribution — the audit is two shuffles at any scale.
    Op("agg_k_anonymity", (s, d) => {
      val classes = Tables.customer(s, d)
        .select(col("c_nationkey").cast("bigint").as("nation"),
          col("c_mktsegment").as("segment"),
          expr("CAST(FLOOR(c_acctbal / 1000) AS BIGINT)").as("bal_band"))
        .groupBy("nation", "segment", "bal_band")
        .agg(count(lit(1)).as("k_size"))
      classes.groupBy("k_size")
        .agg(count(lit(1)).as("n_classes"),
          sum("k_size").as("n_persons"))
        .withColumn("at_risk", col("k_size") < 5)
        .orderBy("k_size")
    },
      """WITH classes AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
        |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    CAST(COUNT(*) AS BIGINT) AS k_size
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT k_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(k_size) AS BIGINT) AS n_persons,
        |  k_size < 5 AS at_risk
        |FROM classes GROUP BY 1 ORDER BY 1""".stripMargin),

    // l-diversity audit — k-anonymity's necessary companion: a class
    // can be large (k-safe) yet expose everyone if all its members
    // share the SENSITIVE value. Per quasi-identifier class (nation,
    // balance band) the distinct count of the sensitive attribute
    // (market segment); graded distribution of l with the l<2
    // homogeneous-class flag (the attribute-disclosure risk a k-only
    // audit misses). Two shuffles at any scale.
    Op("agg_l_diversity", (s, d) => {
      val classes = Tables.customer(s, d)
        .select(col("c_nationkey").cast("bigint").as("nation"),
          expr("CAST(FLOOR(c_acctbal / 1000) AS BIGINT)").as("bal_band"),
          col("c_mktsegment").as("sensitive"))
        .groupBy("nation", "bal_band")
        .agg(count(lit(1)).as("k_size"),
          countDistinct("sensitive").as("l_diversity"))
      classes.groupBy("l_diversity")
        .agg(count(lit(1)).as("n_classes"),
          sum("k_size").as("n_persons"))
        .withColumn("homogeneous", col("l_diversity") < 2)
        .orderBy("l_diversity")
    },
      """WITH classes AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    CAST(COUNT(*) AS BIGINT) AS k_size,
        |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_diversity
        |  FROM customer GROUP BY 1, 2)
        |SELECT l_diversity, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(k_size) AS BIGINT) AS n_persons,
        |  l_diversity < 2 AS homogeneous
        |FROM classes GROUP BY 1 ORDER BY 1""".stripMargin),

    // Health-check flap detection + debounce — the probe-series
    // hygiene a serving fleet runs before paging: per service (event
    // type) the check series in the (ts_us, event_id) total order,
    // status = value ≥ 50, transitions counted via lag, and CONFIRMED
    // down incidents = maximal down-runs of ≥ 3 consecutive checks
    // (the debounce that keeps single-probe blips from paging).
    // Gaps-and-islands cumsum per service; flap rate in exact milli.
    Op("service_health_flap_debounce", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
      val checks = Tables.events(s, d)
        .select(col("event_type"), col("ts_us"), col("event_id"),
          (col("value") >= 50.0).cast("long").as("up"))
        .withColumn("prev", lag("up", 1).over(w))
        .withColumn("trans",
          when(col("prev").isNotNull && col("prev") =!= col("up"), 1L).otherwise(0L))
        .withColumn("run_id", sum(
          when(col("prev").isNull || col("prev") =!= col("up"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val downRuns = checks.where(col("up") === 0)
        .groupBy("event_type", "run_id")
        .agg(count(lit(1)).as("run_len"))
        .where(col("run_len") >= 3)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_confirmed_down"))
      checks.groupBy("event_type")
        .agg(count(lit(1)).as("n_checks"),
          sum(expr("1 - up")).as("n_down"),
          sum("trans").as("n_transitions"))
        .join(downRuns, Seq("event_type"), "left")
        .select(col("event_type"), col("n_checks"), col("n_down"),
          col("n_transitions"),
          coalesce(col("n_confirmed_down"), lit(0L)).as("n_confirmed_down"))
        .withColumn("flap_milli", expr("(n_transitions * 1000) DIV n_checks"))
        .orderBy("event_type")
    },
      """WITH c AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS up
        |  FROM events),
        |l AS (
        |  SELECT event_type, ts_us, event_id, up,
        |    LAG(up) OVER w AS prev
        |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT event_type, up,
        |    CASE WHEN prev IS NOT NULL AND prev <> up THEN 1 ELSE 0 END AS trans,
        |    SUM(CASE WHEN prev IS NULL OR prev <> up THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM l),
        |dr AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_confirmed_down
        |  FROM (
        |    SELECT event_type, run_id, COUNT(*) AS run_len
        |    FROM r WHERE up = 0 GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |  GROUP BY 1),
        |t AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_checks,
        |    CAST(SUM(1 - up) AS BIGINT) AS n_down,
        |    CAST(SUM(trans) AS BIGINT) AS n_transitions
        |  FROM r GROUP BY 1)
        |SELECT t.event_type, n_checks, n_down, n_transitions,
        |  COALESCE(dr.n_confirmed_down, 0) AS n_confirmed_down,
        |  (n_transitions * 1000) // n_checks AS flap_milli
        |FROM t LEFT JOIN dr ON t.event_type = dr.event_type
        |ORDER BY t.event_type""".stripMargin),

    // Consent ledger — the per-(person, purpose) grant/revoke state
    // machine a person service must serve from: consent events in the
    // (ts_us, event_id) total order (value ≥ 50 = grant, else revoke),
    // current state = LAST event, churn = transition count. Graded per
    // purpose: granted/revoked person census + flip-floppers (≥3
    // transitions — the consent-fatigue signal a DPO watches). One
    // (person, purpose) window + two rollups; the ledger shape scales
    // on the person-purpose key.
    Op("warehouse_consent_ledger", (s, d) => {
      val w = Window.partitionBy("person", "purpose").orderBy("ts_us", "event_id")
      val ledger = Tables.events(s, d)
        .select(col("user_id").as("person"), col("event_type").as("purpose"),
          col("ts_us"), col("event_id"),
          (col("value") >= 50.0).cast("long").as("granted"))
        .withColumn("prev", lag("granted", 1).over(w))
        .withColumn("trans",
          when(col("prev").isNotNull && col("prev") =!= col("granted"), 1L)
            .otherwise(0L))
        .withColumn("rn_desc", row_number().over(
          Window.partitionBy("person", "purpose")
            .orderBy(desc("ts_us"), desc("event_id"))))
      val state = ledger.groupBy("person", "purpose")
        .agg(max(when(col("rn_desc") === 1, col("granted"))).as("final_granted"),
          sum("trans").as("n_transitions"))
      state.groupBy("purpose")
        .agg(sum("final_granted").as("n_granted"),
          sum(expr("1 - final_granted")).as("n_revoked"),
          sum(when(col("n_transitions") >= 3, 1L).otherwise(0L)).as("n_flip_floppers"),
          sum("n_transitions").as("total_transitions"))
        .orderBy("purpose")
    },
      """WITH l AS (
        |  SELECT user_id AS person, event_type AS purpose,
        |    epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS granted
        |  FROM events),
        |w AS (
        |  SELECT person, purpose, granted,
        |    LAG(granted) OVER win AS prev,
        |    ROW_NUMBER() OVER (PARTITION BY person, purpose
        |      ORDER BY ts_us DESC, event_id DESC) AS rn_desc
        |  FROM l WINDOW win AS (PARTITION BY person, purpose ORDER BY ts_us, event_id)),
        |st AS (
        |  SELECT person, purpose,
        |    MAX(CASE WHEN rn_desc = 1 THEN granted END) AS final_granted,
        |    SUM(CASE WHEN prev IS NOT NULL AND prev <> granted THEN 1 ELSE 0 END) AS n_transitions
        |  FROM w GROUP BY 1, 2)
        |SELECT purpose, CAST(SUM(final_granted) AS BIGINT) AS n_granted,
        |  CAST(SUM(1 - final_granted) AS BIGINT) AS n_revoked,
        |  CAST(SUM(CASE WHEN n_transitions >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flip_floppers,
        |  CAST(SUM(n_transitions) AS BIGINT) AS total_transitions
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin),

    // Golden-record survivorship — the MDM merge after entity
    // resolution: three source systems (crm > web > legacy by declared
    // precedence) each observe a person attribute with planted gaps
    // (crm misses k%3==0, web misses k%4==1) and systematic conflicts;
    // the golden value = highest-priority non-null via max_by over the
    // (-priority) order, and the CONFLICT census counts entities where
    // a surviving value disagrees with another system's observation
    // (the data-steward queue). Explode-by-source projection + one
    // max_by rollup + one census — two shuffles on the entity key.
    Op("join_survivorship_merge", (s, d) => {
      def obs(sys: String, prio: Int, missing: String) =
        Tables.customer(s, d)
          .select(col("c_custkey").cast("bigint").as("entity"))
          .where(expr(s"NOT ($missing)"))
          .withColumn("system", lit(sys))
          .withColumn("priority", lit(prio.toLong))
          .withColumn("email_h", expr(
            s"${md5Bits(s"$sys:em", "entity", 6)} % 100000"))
          .withColumn("phone_h", expr(
            // crm and web AGREE on phone (shared upstream); legacy drifts
            if (sys == "legacy")
              s"${md5Bits("lg:ph", "entity", 6)} % 100000"
            else
              s"${md5Bits("ph", "entity", 6)} % 100000"))
      val all = obs("crm", 1, "entity % 3 = 0")
        .unionByName(obs("web", 2, "entity % 4 = 1"))
        .unionByName(obs("legacy", 3, "1 = 0"))
        .localCheckpoint()
      val golden = all.groupBy("entity")
        .agg(max_by(col("system"), -col("priority")).as("won_system"),
          max_by(col("email_h"), -col("priority")).as("golden_email"),
          max_by(col("phone_h"), -col("priority")).as("golden_phone"))
      val conflicts = all.join(golden, Seq("entity"))
        .groupBy("entity", "won_system")
        .agg(max(when(col("email_h") =!= col("golden_email"), 1L).otherwise(0L))
            .as("email_conflict"),
          max(when(col("phone_h") =!= col("golden_phone"), 1L).otherwise(0L))
            .as("phone_conflict"))
      conflicts.groupBy("won_system")
        .agg(count(lit(1)).as("n_entities"),
          sum("email_conflict").as("email_conflicts"),
          sum("phone_conflict").as("phone_conflicts"))
        .orderBy("won_system")
    },
      s"""WITH ent AS (SELECT CAST(c_custkey AS BIGINT) AS entity FROM customer),
        |o AS (
        |  SELECT entity, 'crm' AS system, CAST(1 AS BIGINT) AS priority,
        |    ${duckMd5Bits("crm:em", "entity", 6)} % 100000 AS email_h,
        |    ${duckMd5Bits("ph", "entity", 6)} % 100000 AS phone_h
        |  FROM ent WHERE NOT (entity % 3 = 0)
        |  UNION ALL
        |  SELECT entity, 'web', 2,
        |    ${duckMd5Bits("web:em", "entity", 6)} % 100000,
        |    ${duckMd5Bits("ph", "entity", 6)} % 100000
        |  FROM ent WHERE NOT (entity % 4 = 1)
        |  UNION ALL
        |  SELECT entity, 'legacy', 3,
        |    ${duckMd5Bits("legacy:em", "entity", 6)} % 100000,
        |    ${duckMd5Bits("lg:ph", "entity", 6)} % 100000
        |  FROM ent),
        |g AS (
        |  SELECT entity,
        |    arg_max(system, -priority) AS won_system,
        |    arg_max(email_h, -priority) AS golden_email,
        |    arg_max(phone_h, -priority) AS golden_phone
        |  FROM o GROUP BY 1),
        |c AS (
        |  SELECT o.entity, g.won_system,
        |    MAX(CASE WHEN o.email_h <> g.golden_email THEN 1 ELSE 0 END) AS email_conflict,
        |    MAX(CASE WHEN o.phone_h <> g.golden_phone THEN 1 ELSE 0 END) AS phone_conflict
        |  FROM o JOIN g ON o.entity = g.entity
        |  GROUP BY 1, 2)
        |SELECT won_system, CAST(COUNT(*) AS BIGINT) AS n_entities,
        |  CAST(SUM(email_conflict) AS BIGINT) AS email_conflicts,
        |  CAST(SUM(phone_conflict) AS BIGINT) AS phone_conflicts
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // Corpus erasure plan — the right-to-be-forgotten meets training
    // data: an opt-out batch (persons user_id%13==4) maps to AUTHORED
    // docs (author = doc_id%150, signed when doc_id%6==0) which the
    // plan removes outright, and to residual MENTIONS in surviving
    // docs (doc_id%7==2 mentions person (doc_id·3)%150) which need a
    // redaction pass instead. Graded per source: removed docs + token
    // mass, surviving docs flagged for redaction — the two-tier plan an
    // LLM-era person service must produce before retraining. Opt-out
    // list BROADCAST into both scans.
    Op("llm_corpus_erasure_plan", (s, d) => {
      val optOut = s.range(0, 150).select(col("id").as("person"))
        .where(col("person") % 13 === 4)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("toks"))
        .withColumn("author",
          when(col("doc_id") % 6 === 0, col("doc_id") % 150).otherwise(lit(null)))
        .withColumn("mentions",
          when(col("doc_id") % 7 === 2, (col("doc_id") * 3) % 150).otherwise(lit(null)))
      val flagged = docs
        .join(broadcast(optOut.select(col("person").as("author"),
          lit(1L).as("author_opted"))), Seq("author"), "left")
        .join(broadcast(optOut.select(col("person").as("mentions"),
          lit(1L).as("mention_opted"))), Seq("mentions"), "left")
        .withColumn("remove", coalesce(col("author_opted"), lit(0L)))
        .withColumn("redact",
          when(col("remove") === 0L, coalesce(col("mention_opted"), lit(0L)))
            .otherwise(0L))
      flagged.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("remove").as("docs_removed"),
          sum(col("remove") * col("toks")).as("tokens_removed"),
          sum("redact").as("docs_to_redact"))
        .orderBy("source")
    },
      """WITH opt AS (SELECT CAST(t.i AS BIGINT) AS person
        |  FROM generate_series(0, 149) AS t(i) WHERE t.i % 13 = 4),
        |docs AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CASE WHEN doc_id % 6 = 0 THEN doc_id % 150 END AS author,
        |    CASE WHEN doc_id % 7 = 2 THEN (doc_id * 3) % 150 END AS mentions
        |  FROM documents),
        |f AS (
        |  SELECT d.source, d.toks,
        |    CASE WHEN oa.person IS NOT NULL THEN 1 ELSE 0 END AS remove,
        |    CASE WHEN oa.person IS NULL AND om.person IS NOT NULL THEN 1 ELSE 0 END AS redact
        |  FROM docs d
        |  LEFT JOIN opt oa ON d.author = oa.person
        |  LEFT JOIN opt om ON d.mentions = om.person)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(remove) AS BIGINT) AS docs_removed,
        |  CAST(SUM(remove * toks) AS BIGINT) AS tokens_removed,
        |  CAST(SUM(redact) AS BIGINT) AS docs_to_redact
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // SCD TYPE-6 hybrid — the 1+2+3 composite beside warehouse_scd2's
    // pure type-2 history: version rows from per-user event-type
    // changes (type 2), every row carrying the CURRENT value (type 1,
    // denormalized for point reads) and the PREVIOUS version's value
    // (type 3, the one-hop diff). Graded per user: version count,
    // current/previous values, the open version's start — the shape a
    // person-dim consumer reads without touching history. One (user)
    // window pass; versions shuffle on the user key.
    Op("warehouse_scd6_hybrid", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val chg = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("value"))
        .withColumn("prev_row", lag("value", 1).over(w))
        .where(col("prev_row").isNull || col("prev_row") =!= col("value"))
      val wV = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val versions = chg
        .withColumn("version_no", row_number().over(wV).cast("bigint"))
        .withColumn("prev_value", lag("value", 1).over(wV))
        .withColumn("rn_desc", row_number().over(
          Window.partitionBy("user_id").orderBy(desc("ts_us"), desc("event_id"))))
      versions.groupBy("user_id")
        .agg(max("version_no").as("n_versions"),
          max(when(col("rn_desc") === 1, col("value"))).as("current_value"),
          max(when(col("rn_desc") === 1, col("prev_value"))).as("prev_value"),
          max(when(col("rn_desc") === 1, col("ts_us"))).as("current_from_us"))
        .orderBy("user_id")
    },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type AS value,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_row
        |  FROM events),
        |chg AS (SELECT user_id, ts_us, event_id, value FROM e
        |  WHERE prev_row IS NULL OR prev_row <> value),
        |v AS (
        |  SELECT user_id, ts_us, value,
        |    ROW_NUMBER() OVER w AS version_no,
        |    LAG(value) OVER w AS prev_value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn_desc
        |  FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, CAST(MAX(version_no) AS BIGINT) AS n_versions,
        |  MAX(CASE WHEN rn_desc = 1 THEN value END) AS current_value,
        |  MAX(CASE WHEN rn_desc = 1 THEN prev_value END) AS prev_value,
        |  CAST(MAX(CASE WHEN rn_desc = 1 THEN ts_us END) AS BIGINT) AS current_from_us
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),

    // Speaker-turn diarization census — the meeting-audio analytics a
    // transcript pipeline emits: per hour-long session, segments in the
    // (ts_us, event_id) total order, speaker = the segment's channel
    // (user_id % 4), a TURN = a maximal same-speaker run (islands via
    // the lag-break cumsum), dominant-speaker share in exact ppm.
    // Graded per session: segment/turn censuses, longest turn, balance.
    Op("mm_diarization_turns", (s, d) => {
      val w = Window.partitionBy("session").orderBy("ts_us", "event_id")
      val segs = Tables.events(s, d)
        .select(expr("ts_us DIV 3600000000").as("session"),
          col("ts_us"), col("event_id"), (col("user_id") % 4).as("speaker"))
        .withColumn("prev", lag("speaker", 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("prev") =!= col("speaker"), 1L).otherwise(0L))
        .withColumn("turn_id", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val turns = segs.groupBy("session", "turn_id")
        .agg(count(lit(1)).as("turn_len"))
      val bySpeaker = segs.groupBy("session", "speaker")
        .agg(count(lit(1)).as("n_seg"))
        .groupBy("session")
        .agg(max("n_seg").as("dom_segs"), sum("n_seg").as("n_segments"))
      turns.groupBy("session")
        .agg(count(lit(1)).as("n_turns"), max("turn_len").as("longest_turn"))
        .join(bySpeaker, Seq("session"))
        .withColumn("dominant_ppm", expr("(dom_segs * 1000000) DIV n_segments"))
        .select("session", "n_segments", "n_turns", "longest_turn", "dominant_ppm")
        .orderBy("session")
    },
      """WITH segs AS (
        |  SELECT epoch_us(ts) // 3600000000 AS session,
        |    epoch_us(ts) AS ts_us, event_id, user_id % 4 AS speaker
        |  FROM events),
        |l AS (
        |  SELECT session, ts_us, event_id, speaker,
        |    LAG(speaker) OVER w AS prev
        |  FROM segs WINDOW w AS (PARTITION BY session ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT session, speaker,
        |    SUM(CASE WHEN prev IS NULL OR prev <> speaker THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY session ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS turn_id
        |  FROM l),
        |t AS (
        |  SELECT session, CAST(COUNT(DISTINCT turn_id) AS BIGINT) AS n_turns,
        |    CAST(MAX(cnt) AS BIGINT) AS longest_turn
        |  FROM (SELECT session, turn_id, COUNT(*) AS cnt FROM r GROUP BY 1, 2)
        |  GROUP BY 1),
        |sp AS (
        |  SELECT session, CAST(MAX(n_seg) AS BIGINT) AS dom_segs,
        |    CAST(SUM(n_seg) AS BIGINT) AS n_segments
        |  FROM (SELECT session, speaker, COUNT(*) AS n_seg FROM segs GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT t.session, sp.n_segments, t.n_turns, t.longest_turn,
        |  (sp.dom_segs * 1000000) // sp.n_segments AS dominant_ppm
        |FROM t JOIN sp ON t.session = sp.session
        |ORDER BY t.session""".stripMargin),

    // RFC 7396 JSON MERGE PATCH — the partial-update wire every person
    // API speaks (PATCH /person/{id}): base profile object, per-class
    // patches (value update / null-deletes-key / empty no-op), merge =
    // patch keys override, null patch values DELETE. The Spark side
    // works on typed maps (map_filter/map_concat — codegen'd, no UDF);
    // the DuckDB twin is its native json_merge_patch. Canonical
    // 'k=v|…' rendering on both engines makes the result hash-exact.
    Op("fn_json_merge_patch", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("bigint").as("nat"))
        .withColumn("cls", (col("k") % 3).cast("int"))
      val merged = t
        .withColumn("base", map(
          lit("name"), concat(lit("cust_"), col("k").cast("string")),
          lit("tier"), col("seg"),
          lit("region"), col("nat").cast("string")))
        // patch as a map where a NULL value means RFC-7396 delete
        .withColumn("patch",
          when(col("cls") === 0, map(lit("tier"), lit("gold")))
            .when(col("cls") === 1,
              map(lit("region"), lit(null).cast("string")))
            .otherwise(expr("map()")))
        .withColumn("merged", expr(
          """map_concat(
            |  map_filter(base, (bk, bv) -> NOT array_contains(map_keys(patch), bk)),
            |  map_filter(patch, (pk, pv) -> pv IS NOT NULL))""".stripMargin))
        .withColumn("canon", expr(
          """concat_ws('|', transform(array_sort(map_keys(merged)),
            |  mk -> concat(mk, '=', element_at(merged, mk))))""".stripMargin))
      merged.groupBy("cls")
        .agg(count(lit(1)).as("n_profiles"),
          min("canon").as("canon_example"),
          countDistinct(expr("size(merged)")).as("n_distinct_sizes"),
          max(expr("size(merged)")).cast("bigint").as("max_keys"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey % 3 AS INT) AS cls,
        |    json_object('name', 'cust_' || CAST(c_custkey AS VARCHAR),
        |      'tier', c_mktsegment,
        |      'region', CAST(CAST(c_nationkey AS BIGINT) AS VARCHAR)) AS base,
        |    CASE CAST(c_custkey % 3 AS INT)
        |      WHEN 0 THEN '{"tier": "gold"}'
        |      WHEN 1 THEN '{"region": null}'
        |      ELSE '{}' END AS patch
        |  FROM customer),
        |m AS (
        |  SELECT cls, json_merge_patch(base, patch) AS mg FROM t),
        |c AS (
        |  SELECT cls,
        |    concat_ws('|',
        |      CASE WHEN json_extract_string(mg, '$.name') IS NOT NULL
        |        THEN 'name=' || json_extract_string(mg, '$.name') END,
        |      CASE WHEN json_extract_string(mg, '$.region') IS NOT NULL
        |        THEN 'region=' || json_extract_string(mg, '$.region') END,
        |      CASE WHEN json_extract_string(mg, '$.tier') IS NOT NULL
        |        THEN 'tier=' || json_extract_string(mg, '$.tier') END) AS canon,
        |    CAST(len(json_keys(mg)) AS BIGINT) AS nk
        |  FROM m)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_profiles,
        |  MIN(canon) AS canon_example,
        |  CAST(COUNT(DISTINCT nk) AS BIGINT) AS n_distinct_sizes,
        |  CAST(MAX(nk) AS BIGINT) AS max_keys
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // Demographic-parity fairness audit — the governance gate before a
    // person-scoring model ships: per protected group (nation) the
    // positive-decision rate in exact ppm (decisions md5-derived with a
    // PLANTED per-group bias so the audit has real signal), the signed
    // gap against the overall rate, and the disparate-impact ratio vs
    // the best-treated group in exact milli via cross-multiplication
    // (the EEOC 80% rule flags di < 800). Two rollups; group count is
    // the nation alphabet.
    Op("agg_fairness_parity", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("grp"))
        .withColumn("pos", (expr(
          s"${md5Bits("fair", "k", 6)} % 1000")
          < (lit(450L) + col("grp") * 10L)).cast("long"))
      val g = t.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
        .withColumn("rate_ppm", expr("(n_pos * 1000000) DIV n"))
        .localCheckpoint()
      val overall = g.agg(sum("n").as("nn"), sum("n_pos").as("pp"))
        .select(expr("(pp * 1000000) DIV nn").as("overall_ppm"))
      val best = g.orderBy(desc("rate_ppm"), col("grp")).limit(1)
        .select(col("n").as("n_b"), col("n_pos").as("p_b"))
      g.crossJoin(broadcast(overall)).crossJoin(broadcast(best))
        .withColumn("gap_ppm", col("rate_ppm") - col("overall_ppm"))
        .withColumn("di_milli", expr("(n_pos * n_b * 1000) DIV (n * p_b)"))
        .withColumn("fails_80pct_rule", col("di_milli") < 800)
        .select("grp", "n", "n_pos", "rate_ppm", "gap_ppm",
          "di_milli", "fails_80pct_rule")
        .orderBy("grp")
    },
      s"""WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS BIGINT) AS grp,
        |    CASE WHEN ${duckMd5Bits("fair", "c_custkey", 6)} % 1000
        |      < 450 + CAST(c_nationkey AS BIGINT) * 10 THEN 1 ELSE 0 END AS pos
        |  FROM customer),
        |g AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    (CAST(SUM(pos) AS BIGINT) * 1000000) // COUNT(*) AS rate_ppm
        |  FROM t GROUP BY 1),
        |ov AS (SELECT (SUM(n_pos) * 1000000) // SUM(n) AS overall_ppm FROM g),
        |b AS (
        |  SELECT n AS n_b, n_pos AS p_b FROM g
        |  ORDER BY rate_ppm DESC, grp LIMIT 1)
        |SELECT grp, n, n_pos, CAST(rate_ppm AS BIGINT) AS rate_ppm,
        |  CAST(rate_ppm - overall_ppm AS BIGINT) AS gap_ppm,
        |  CAST((n_pos * n_b * 1000) // (n * p_b) AS BIGINT) AS di_milli,
        |  (n_pos * n_b * 1000) // (n * p_b) < 800 AS fails_80pct_rule
        |FROM g, ov, b ORDER BY grp""".stripMargin),

    // Phone E.164 normalization — the contact-hygiene pass of a person
    // service: four planted dial formats (international with
    // punctuation, national with trunk '0' → +44, too-short invalid,
    // NANP with dashes), normalized by regex surgery (strip
    // non-digits, trunk-zero replacement, NANP default) and validated
    // by E.164 length bounds. Per class: census, valid count, the
    // canonical example — the join key the identity graph dials on.
    Op("fn_phone_normalize", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 4).cast("int"))
        .withColumn("tail", lpad((col("k") % 100).cast("string"), 2, "0"))
        .withColumn("raw",
          when(col("cls") === 0, concat(lit("+44 20 7946 09"), col("tail")))
            .when(col("cls") === 1, concat(lit("020 7946 09"), col("tail")))
            .when(col("cls") === 2, concat(lit("555-12"), col("tail")))
            .otherwise(concat(lit("+1-202-555-01"), col("tail"))))
        // keep a leading +, drop every other non-digit
        .withColumn("digits", regexp_replace(col("raw"), "[^0-9+]", ""))
        .withColumn("e164",
          when(col("digits").startsWith("+"), col("digits"))
            .when(col("digits").startsWith("0"),
              concat(lit("+44"), expr("substring(digits, 2)")))
            .otherwise(concat(lit("+1"), col("digits"))))
        .withColumn("valid",
          (length(col("e164")) >= 12 && length(col("e164")) <= 14).cast("long"))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_phones"), sum("valid").as("n_valid"),
          min("e164").as("e164_example"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey % 4 AS INT) AS cls,
        |    lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS tail
        |  FROM customer),
        |r AS (
        |  SELECT k, cls,
        |    CASE cls
        |      WHEN 0 THEN '+44 20 7946 09' || tail
        |      WHEN 1 THEN '020 7946 09' || tail
        |      WHEN 2 THEN '555-12' || tail
        |      ELSE '+1-202-555-01' || tail END AS raw
        |  FROM t),
        |n AS (
        |  SELECT cls, regexp_replace(raw, '[^0-9+]', '', 'g') AS digits
        |  FROM r),
        |e AS (
        |  SELECT cls,
        |    CASE
        |      WHEN starts_with(digits, '+') THEN digits
        |      WHEN starts_with(digits, '0') THEN '+44' || substring(digits, 2)
        |      ELSE '+1' || digits END AS e164
        |  FROM n)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_phones,
        |  CAST(SUM(CASE WHEN length(e164) BETWEEN 12 AND 14 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  MIN(e164) AS e164_example
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // Fellegi–Sunter probabilistic record linkage — the scoring layer
    // over blocked candidate pairs (the decision-theoretic classic
    // beside join_entity_resolution's pure edit distance): per pair the
    // name/city/birth-year field comparisons earn declared integer
    // log-odds weights (agree +24/+8/+10, disagree −12/−4/−6, ×10 déci-
    // bans), planted disagreements (city drifts for k%15==2, yob shifts
    // for k%9==5), and the score classifies link / possible / non-link
    // at the 30/8 thresholds. Graded per class: pair census, exact
    // score mass — the clerical-review queue sizing.
    Op("join_fellegi_sunter", (s, d) => {
      def roster(side: String) = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("city0"))
        .withColumn("name", concat(lit("cust_"), lpad(col("k").cast("string"), 7, "0")))
        .withColumn("yob", lit(1950L) + col("k") % 50)
        .withColumn("city",
          if (side == "dirty")
            when(col("k") % 15 === 2, (col("city0") + 1) % 25).otherwise(col("city0"))
          else col("city0"))
        .withColumn("yob",
          if (side == "dirty")
            when(col("k") % 9 === 5, col("yob") + 1).otherwise(col("yob"))
          else col("yob"))
        .withColumn("block", substring(col("name"), 1, 11))
      val m = roster("master").select(col("k").as("mk"), col("name").as("mname"),
        col("city").as("mcity"), col("yob").as("myob"), col("block"))
      val dd = roster("dirty").select(col("k").as("dk"), col("name").as("dname"),
        col("city").as("dcity"), col("yob").as("dyob"), col("block"))
      dd.join(m, Seq("block"))
        .withColumn("score",
          when(col("dname") === col("mname"), 240L).otherwise(-120L) +
            when(col("dcity") === col("mcity"), 80L).otherwise(-40L) +
            when(col("dyob") === col("myob"), 100L).otherwise(-60L))
        .withColumn("classification",
          when(col("score") >= 300L, lit("link"))
            .when(col("score") >= 80L, lit("possible"))
            .otherwise(lit("non_link")))
        .groupBy("classification")
        .agg(count(lit(1)).as("n_pairs"), sum("score").as("score_mass"))
        .orderBy("classification")
    },
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS BIGINT) AS city0,
        |    'cust_' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') AS name,
        |    1950 + CAST(c_custkey AS BIGINT) % 50 AS yob0
        |  FROM customer),
        |m AS (SELECT k AS mk, name AS mname, city0 AS mcity, yob0 AS myob,
        |    substring(name, 1, 11) AS block FROM base),
        |dd AS (
        |  SELECT k AS dk, name AS dname,
        |    CASE WHEN k % 15 = 2 THEN (city0 + 1) % 25 ELSE city0 END AS dcity,
        |    CASE WHEN k % 9 = 5 THEN yob0 + 1 ELSE yob0 END AS dyob,
        |    substring(name, 1, 11) AS block
        |  FROM base),
        |p AS (
        |  SELECT (CASE WHEN dname = mname THEN 240 ELSE -120 END
        |    + CASE WHEN dcity = mcity THEN 80 ELSE -40 END
        |    + CASE WHEN dyob = myob THEN 100 ELSE -60 END) AS score
        |  FROM dd JOIN m ON dd.block = m.block)
        |SELECT CASE WHEN score >= 300 THEN 'link'
        |    WHEN score >= 80 THEN 'possible' ELSE 'non_link' END AS classification,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(score) AS BIGINT) AS score_mass
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),

    // Postal-address component parsing — the other half of the person
    // cleanup pair beside fn_name_standardize: four planted layout
    // classes (US street + unit, bare street, PO box, UK flat) parsed
    // by anchored regexp_extract into house/street/unit/postcode, with
    // a per-class parse-complete census (a component the layout lacks
    // parses empty by design, never by accident). One linear
    // projection + rollup; both engines share the regex dialect for
    // these patterns.
    Op("fn_address_parse", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 4).cast("int"))
        .withColumn("hn", (col("k") % 9000 + 1).cast("string"))
        .withColumn("zip", lpad((col("k") % 100000).cast("string"), 5, "0"))
        .withColumn("raw",
          when(col("cls") === 0, concat(col("hn"), lit(" Oak Street Apt 7, "), col("zip")))
            .when(col("cls") === 1, concat(col("hn"), lit(" Main St, "), col("zip")))
            .when(col("cls") === 2, concat(lit("PO Box "), col("hn"), lit(", "), col("zip")))
            .otherwise(concat(lit("Flat 3 "), col("hn"), lit(" High Road, "), col("zip"))))
        .withColumn("house_no", regexp_extract(col("raw"), "^(?:Flat \\d+ )?(\\d+) ", 1))
        .withColumn("street", regexp_extract(col("raw"), "\\d+ ([A-Za-z ]+?)(?: Apt \\d+)?, ", 1))
        .withColumn("unit", regexp_extract(col("raw"), "(Apt \\d+|Flat \\d+|PO Box \\d+)", 1))
        .withColumn("postcode", regexp_extract(col("raw"), ", (\\d{5})$", 1))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_addresses"),
          sum(when(col("house_no") =!= "", 1L).otherwise(0L)).as("with_house"),
          sum(when(col("unit") =!= "", 1L).otherwise(0L)).as("with_unit"),
          sum(when(col("postcode") =!= "", 1L).otherwise(0L)).as("with_postcode"),
          min("street").as("street_example"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, CAST(c_custkey % 4 AS INT) AS cls,
        |    CAST(c_custkey % 9000 + 1 AS VARCHAR) AS hn,
        |    lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') AS zip
        |  FROM customer),
        |r AS (
        |  SELECT cls,
        |    CASE cls
        |      WHEN 0 THEN hn || ' Oak Street Apt 7, ' || zip
        |      WHEN 1 THEN hn || ' Main St, ' || zip
        |      WHEN 2 THEN 'PO Box ' || hn || ', ' || zip
        |      ELSE 'Flat 3 ' || hn || ' High Road, ' || zip END AS raw
        |  FROM t),
        |p AS (
        |  SELECT cls,
        |    regexp_extract(raw, '^(?:Flat \d+ )?(\d+) ', 1) AS house_no,
        |    regexp_extract(raw, '\d+ ([A-Za-z ]+?)(?: Apt \d+)?, ', 1) AS street,
        |    regexp_extract(raw, '(Apt \d+|Flat \d+|PO Box \d+)', 1) AS unit,
        |    regexp_extract(raw, ', (\d{5})$', 1) AS postcode
        |  FROM r)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_addresses,
        |  CAST(SUM(CASE WHEN house_no <> '' THEN 1 ELSE 0 END) AS BIGINT) AS with_house,
        |  CAST(SUM(CASE WHEN unit <> '' THEN 1 ELSE 0 END) AS BIGINT) AS with_unit,
        |  CAST(SUM(CASE WHEN postcode <> '' THEN 1 ELSE 0 END) AS BIGINT) AS with_postcode,
        |  MIN(street) AS street_example
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),

    // Meter-reading gap interpolation — the time-series fill that
    // RESAMPLES VALUES, not zeros (agg_resample_gapfill's sibling for
    // monotone counters): per meter an hourly grid with planted gaps
    // (md5-dropped hours), missing readings linearly interpolated
    // between the bracketing real readings in EXACT integer arithmetic
    // (pv + Δv·Δt DIV span — every division floor on both engines).
    // Per-meter census: hours, gaps, interpolated mass; the billing
    // shape that cannot tolerate a float. One ignore-nulls window pair
    // per meter.
    Op("win_meter_interpolate", (s, d) => {
      val grid = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("meter"))
        .select(col("meter"), explode(expr("sequence(CAST(0 AS BIGINT), 47)")).as("h"))
        .withColumn("present", expr(
          s"${md5Bits("concat('mr:', CAST(meter AS STRING), ':', CAST(h AS STRING))", 6)} % 3 <> 0"))
        .withColumn("reading",
          when(col("present"),
            col("meter") * 100000L + col("h") * 1000L +
              expr(s"${md5Bits("concat('rv:', CAST(meter AS STRING), ':', CAST(h AS STRING))", 6)} % 500"))
            .otherwise(lit(null)))
      val w = Window.partitionBy("meter").orderBy("h")
      val filled = grid
        .withColumn("pv", last("reading", ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("ph", last(when(col("reading").isNotNull, col("h")), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("nv", first("reading", ignoreNulls = true)
          .over(w.rowsBetween(1, Window.unboundedFollowing)))
        .withColumn("nh", first(when(col("reading").isNotNull, col("h")), ignoreNulls = true)
          .over(w.rowsBetween(1, Window.unboundedFollowing)))
        .withColumn("interp",
          when(col("reading").isNotNull, col("reading"))
            .when(col("pv").isNotNull && col("nv").isNotNull, expr(
              "pv + ((nv - pv) * (h - ph)) DIV (nh - ph)"))
            .otherwise(lit(null)))
      filled.groupBy("meter")
        .agg(count(lit(1)).as("n_hours"),
          sum(when(col("reading").isNull, 1L).otherwise(0L)).as("n_gaps"),
          sum(when(col("reading").isNull && col("interp").isNotNull, 1L)
            .otherwise(0L)).as("n_interpolated"),
          sum(when(col("reading").isNull, col("interp"))).as("interpolated_mass"))
        .orderBy("meter")
    },
      s"""WITH pos AS (SELECT CAST(t.i AS BIGINT) AS h FROM generate_series(0, 47) AS t(i)),
        |grid AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS meter, pos.h,
        |    ${duckMd5Bits("'mr:' || CAST(s_suppkey AS VARCHAR) || ':' || CAST(pos.h AS VARCHAR)", 6)} % 3 <> 0 AS present
        |  FROM supplier, pos),
        |rd AS (
        |  SELECT meter, h,
        |    CASE WHEN present THEN
        |      meter * 100000 + h * 1000 +
        |      ${duckMd5Bits("'rv:' || CAST(meter AS VARCHAR) || ':' || CAST(h AS VARCHAR)", 6)} % 500
        |    END AS reading
        |  FROM grid),
        |f AS (
        |  SELECT meter, h, reading,
        |    LAST_VALUE(reading IGNORE NULLS) OVER
        |      (PARTITION BY meter ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |    LAST_VALUE(CASE WHEN reading IS NOT NULL THEN h END IGNORE NULLS) OVER
        |      (PARTITION BY meter ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
        |    FIRST_VALUE(reading IGNORE NULLS) OVER
        |      (PARTITION BY meter ORDER BY h ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(CASE WHEN reading IS NOT NULL THEN h END IGNORE NULLS) OVER
        |      (PARTITION BY meter ORDER BY h ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh
        |  FROM rd),
        |i AS (
        |  SELECT meter, reading,
        |    CASE WHEN reading IS NOT NULL THEN reading
        |      WHEN pv IS NOT NULL AND nv IS NOT NULL
        |        THEN pv + ((nv - pv) * (h - ph)) // (nh - ph)
        |    END AS interp
        |  FROM f)
        |SELECT meter, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |  CAST(SUM(CASE WHEN reading IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(SUM(CASE WHEN reading IS NULL AND interp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_interpolated,
        |  CAST(SUM(CASE WHEN reading IS NULL THEN interp END) AS BIGINT) AS interpolated_mass
        |FROM i GROUP BY 1 ORDER BY 1""".stripMargin),

    // Table-freshness SLA audit — the first data-quality page every
    // warehouse on-call reads: per stream (event type) the last-arrival
    // age against a declared per-stream SLA, plus the worst
    // inter-arrival gap (the burst/stall detector). 'Now' is the
    // corpus high-water mark, so the audit is a pure function of the
    // data (replayable). One type rollup + one lag window.
    Op("warehouse_freshness_sla", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
      val gaps = Tables.events(s, d)
        .select(col("event_type"), col("ts_us"), col("event_id"))
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
      val perType = gaps.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), max("ts_us").as("last_ts_us"),
          max("gap_us").as("max_gap_us"))
      val now = perType.agg(max("last_ts_us").as("now_us"))
      perType.crossJoin(broadcast(now))
        .withColumn("age_hours", expr("(now_us - last_ts_us) DIV 3600000000"))
        .withColumn("sla_hours", expr(
          """CAST(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
            |WHEN 'cart' THEN 6 WHEN 'purchase' THEN 24 ELSE 48 END AS BIGINT)""".stripMargin))
        .withColumn("stale", col("age_hours") > col("sla_hours"))
        .select("event_type", "n_events", "age_hours", "sla_hours",
          "stale", "max_gap_us")
        .orderBy("event_type")
    },
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER
        |      (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |pt AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(MAX(ts_us) AS BIGINT) AS last_ts_us,
        |    CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        |  FROM e GROUP BY 1),
        |nw AS (SELECT MAX(last_ts_us) AS now_us FROM pt)
        |SELECT event_type, n_events,
        |  CAST((now_us - last_ts_us) // 3600000000 AS BIGINT) AS age_hours,
        |  CAST(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |    WHEN 'cart' THEN 6 WHEN 'purchase' THEN 24 ELSE 48 END AS BIGINT) AS sla_hours,
        |  (now_us - last_ts_us) // 3600000000 >
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |      WHEN 'cart' THEN 6 WHEN 'purchase' THEN 24 ELSE 48 END AS stale,
        |  max_gap_us
        |FROM pt, nw ORDER BY event_type""".stripMargin),

    // Linkage confusion matrix — the quality gate over the record-
    // linkage ops: candidate pairs from the same 11-char blocking as
    // join_entity_resolution, planted TRUTH = same entity key, predicted
    // = Levenshtein ≤ 1, confusion census (TP/FP/FN/TN) with exact
    // precision/recall ppm via cross-multiplication. The planted 2-char
    // damage contributes the FN mass (truth says match, the threshold
    // says no) — exactly the recall cost a linkage tuner reads.
    Op("agg_linkage_confusion", (s, d) => {
      val master = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("mk"))
        .withColumn("mname", concat(lit("cust_"), lpad(col("mk").cast("string"), 7, "0")))
        .withColumn("block", substring(col("mname"), 1, 11))
      val dirty = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("dk"))
        .withColumn("base", concat(lit("cust_"), lpad(col("dk").cast("string"), 7, "0")))
        .withColumn("dname",
          when(col("dk") % 100 === 7,
            concat(expr("substring(base, 1, length(base) - 2)"), lit("zz")))
            .when(col("dk") % 10 === 3,
              concat(expr("substring(base, 1, length(base) - 1)"), lit("x")))
            .otherwise(col("base")))
        .withColumn("block", substring(col("base"), 1, 11))
      val pairs = dirty.join(master, Seq("block"))
        .withColumn("truth", (col("dk") === col("mk")).cast("long"))
        .withColumn("pred", (expr("levenshtein(dname, mname)") <= 1).cast("long"))
      val cm = pairs.agg(
        sum(expr("truth * pred")).as("tp"),
        sum(expr("(1 - truth) * pred")).as("fp"),
        sum(expr("truth * (1 - pred)")).as("fn"),
        sum(expr("(1 - truth) * (1 - pred)")).as("tn"))
      cm.select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(tp * 1000000) DIV (tp + fp)").as("precision_ppm"),
        expr("(tp * 1000000) DIV (tp + fn)").as("recall_ppm"))
    },
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    'cust_' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') AS name
        |  FROM customer),
        |m AS (SELECT k AS mk, name AS mname, substring(name, 1, 11) AS block FROM base),
        |dd AS (
        |  SELECT k AS dk,
        |    CASE WHEN k % 100 = 7 THEN substring(name, 1, 10) || 'zz'
        |      WHEN k % 10 = 3 THEN substring(name, 1, 11) || 'x'
        |      ELSE name END AS dname,
        |    substring(name, 1, 11) AS block
        |  FROM base),
        |p AS (
        |  SELECT CASE WHEN dk = mk THEN 1 ELSE 0 END AS truth,
        |    CASE WHEN levenshtein(dname, mname) <= 1 THEN 1 ELSE 0 END AS pred
        |  FROM dd JOIN m ON dd.block = m.block),
        |cm AS (
        |  SELECT CAST(SUM(truth * pred) AS BIGINT) AS tp,
        |    CAST(SUM((1 - truth) * pred) AS BIGINT) AS fp,
        |    CAST(SUM(truth * (1 - pred)) AS BIGINT) AS fn,
        |    CAST(SUM((1 - truth) * (1 - pred)) AS BIGINT) AS tn
        |  FROM p)
        |SELECT tp, fp, fn, tn,
        |  (tp * 1000000) // (tp + fp) AS precision_ppm,
        |  (tp * 1000000) // (tp + fn) AS recall_ppm
        |FROM cm""".stripMargin),

    // Generalization ladder — the remediation step AFTER the
    // k-anonymity audit flags classes: balance-band width doubles up a
    // declared 3-level ladder (1000 / 2000 / 4000) until every
    // (nation, band) class reaches k ≥ 5; graded per level: classes,
    // violating classes, exposed persons, and the INFO LOSS (distinct
    // bands surrendered vs level 0). The audit-remediate pair a privacy
    // officer actually runs.
    Op("warehouse_generalization_ladder", (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_nationkey").cast("bigint").as("nation"),
          col("c_acctbal"))
      val levels = Seq(0, 1, 2).map { lvl =>
        val width = 1000 * (1 << lvl)
        base.withColumn("level", lit(lvl.toLong))
          .withColumn("band", expr(s"CAST(FLOOR(c_acctbal / $width) AS BIGINT)"))
      }.reduce(_ unionByName _)
      val classes = levels.groupBy("level", "nation", "band")
        .agg(count(lit(1)).as("k_size"))
      classes.groupBy("level")
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("k_size") < 5, 1L).otherwise(0L)).as("violating_classes"),
          sum(when(col("k_size") < 5, col("k_size")).otherwise(0L)).as("exposed_persons"),
          countDistinct("band").as("distinct_bands"))
        .orderBy("level")
    },
      """WITH lv AS (SELECT CAST(t.i AS BIGINT) AS level, 1000 * (1 << t.i) AS width
        |  FROM generate_series(0, 2) AS t(i)),
        |b AS (
        |  SELECT lv.level, CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(FLOOR(c_acctbal / lv.width) AS BIGINT) AS band
        |  FROM customer, lv),
        |classes AS (
        |  SELECT level, nation, band, CAST(COUNT(*) AS BIGINT) AS k_size
        |  FROM b GROUP BY 1, 2, 3)
        |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(CASE WHEN k_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS violating_classes,
        |  CAST(SUM(CASE WHEN k_size < 5 THEN k_size ELSE 0 END) AS BIGINT) AS exposed_persons,
        |  CAST(COUNT(DISTINCT band) AS BIGINT) AS distinct_bands
        |FROM classes GROUP BY 1 ORDER BY 1""".stripMargin),

    // Email normalization — the third contact-hygiene key beside phone
    // and address: case fold, plus-addressing tag strip (local+tag@ →
    // local@), gmail dot-collapse (dots in the local part are not
    // significant there), domain alias fold (googlemail → gmail).
    // Planted classes exercise each rule; per class: census, distinct
    // normalized keys, canonical example — the identity-graph email key.
    Op("fn_email_normalize", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 4).cast("int"))
        .withColumn("who", concat(lit("user"), expr("CAST(k DIV 4 AS STRING)")))
        .withColumn("raw",
          when(col("cls") === 0, concat(lit("John."), col("who"), lit("@Gmail.com")))
            .when(col("cls") === 1, concat(lit("john"), col("who"), lit("+promo@gmail.com")))
            .when(col("cls") === 2, concat(lit("john"), col("who"), lit("@googlemail.com")))
            .otherwise(concat(lit("JOHN"), col("who"), lit("@example.org"))))
        .withColumn("lower", lower(col("raw")))
        .withColumn("local", regexp_extract(col("lower"), "^([^@]+)@", 1))
        .withColumn("domain", regexp_extract(col("lower"), "@(.+)$", 1))
        .withColumn("domain",
          when(col("domain") === "googlemail.com", lit("gmail.com"))
            .otherwise(col("domain")))
        .withColumn("local", regexp_replace(col("local"), "\\+.*$", ""))
        .withColumn("local",
          when(col("domain") === "gmail.com",
            regexp_replace(col("local"), "\\.", "")).otherwise(col("local")))
        .withColumn("norm", concat(col("local"), lit("@"), col("domain")))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_emails"),
          countDistinct("norm").as("n_distinct"),
          min("norm").as("norm_example"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, CAST(c_custkey % 4 AS INT) AS cls,
        |    'user' || CAST(CAST(c_custkey AS BIGINT) // 4 AS VARCHAR) AS who
        |  FROM customer),
        |r AS (
        |  SELECT cls,
        |    lower(CASE cls
        |      WHEN 0 THEN 'John.' || who || '@Gmail.com'
        |      WHEN 1 THEN 'john' || who || '+promo@gmail.com'
        |      WHEN 2 THEN 'john' || who || '@googlemail.com'
        |      ELSE 'JOHN' || who || '@example.org' END) AS em
        |  FROM t),
        |s AS (
        |  SELECT cls,
        |    regexp_replace(regexp_extract(em, '^([^@]+)@', 1), '\+.*$', '') AS local0,
        |    CASE WHEN regexp_extract(em, '@(.+)$', 1) = 'googlemail.com'
        |      THEN 'gmail.com' ELSE regexp_extract(em, '@(.+)$', 1) END AS domain
        |  FROM r),
        |n AS (
        |  SELECT cls,
        |    (CASE WHEN domain = 'gmail.com'
        |      THEN regexp_replace(local0, '\.', '', 'g') ELSE local0 END)
        |      || '@' || domain AS norm
        |  FROM s)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_emails,
        |  CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_distinct,
        |  MIN(norm) AS norm_example
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin),

    // Service queue backlog — Lindley's recursion B_t = max(0, B_{t-1}
    // + arrivals_t − capacity) computed WITHOUT a sequential scan: over
    // the per-minute net-load series, B_t = cum_t − min(0, min prefix
    // of cum up to t) (the classic prefix-min identity), so one cumsum
    // window + one running-min window replace the loop — the form that
    // survives 10⁹ ticks. Graded per service (event type): peak
    // backlog, minutes congested, total overflow-minutes; capacity
    // declared per service.
    Op("service_queue_backlog", (s, d) => {
      val perMin = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us DIV 60000000").as("minute"))
        .agg(count(lit(1)).as("arrivals"))
      val w = Window.partitionBy("event_type").orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val caps = expr(
        """CAST(CASE event_type WHEN 'view' THEN 4 WHEN 'click' THEN 3
          |WHEN 'cart' THEN 3 WHEN 'purchase' THEN 3 ELSE 2 END AS BIGINT)""".stripMargin)
      perMin
        .withColumn("cap", caps)
        .withColumn("net", col("arrivals") - col("cap"))
        .withColumn("cum", sum("net").over(w))
        .withColumn("minpref", least(min("cum").over(w), lit(0L)))
        .withColumn("backlog", col("cum") - col("minpref"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_minutes"),
          max("backlog").as("peak_backlog"),
          sum(when(col("backlog") > 0, 1L).otherwise(0L)).as("congested_minutes"),
          sum("backlog").as("backlog_minute_mass"))
        .orderBy("event_type")
    },
      """WITH pm AS (
        |  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
        |    CAST(COUNT(*) AS BIGINT) AS arrivals
        |  FROM events GROUP BY 1, 2),
        |n AS (
        |  SELECT event_type, minute, arrivals,
        |    arrivals - CASE event_type WHEN 'view' THEN 4 WHEN 'click' THEN 3
        |      WHEN 'cart' THEN 3 WHEN 'purchase' THEN 3 ELSE 2 END AS net
        |  FROM pm),
        |c1 AS (
        |  SELECT event_type, minute, SUM(net) OVER w AS cum
        |  FROM n
        |  WINDOW w AS (PARTITION BY event_type ORDER BY minute
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c2 AS (
        |  SELECT event_type, cum,
        |    LEAST(MIN(cum) OVER w2, 0) AS minpref
        |  FROM c1
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY minute
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |b AS (SELECT event_type, cum - minpref AS backlog FROM c2)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_minutes,
        |  CAST(MAX(backlog) AS BIGINT) AS peak_backlog,
        |  CAST(SUM(CASE WHEN backlog > 0 THEN 1 ELSE 0 END) AS BIGINT) AS congested_minutes,
        |  CAST(SUM(backlog) AS BIGINT) AS backlog_minute_mass
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // LLM-judge rubric panel — the aggregation layer of judge-based
    // evals: 5 judges score each sampled item on 3 rubric dimensions
    // (0–4, md5-derived), the per-(item, dim) verdict is the TRIMMED
    // mean (drop min and max, exact milli over the middle 3 — robust to
    // one rogue judge by construction), and a disagreement flag fires
    // when the judge range hits 3+ (the re-adjudication queue). Graded
    // per dimension: item census, trimmed-score mass, disagreements.
    // One 15× explode + two rollups.
    Op("llm_rubric_judge_panel", (s, d) => {
      val items = Tables.documents(s, d)
        .where(col("doc_id") % 10 === 3).select(col("doc_id"))
      val scores = items
        .crossJoin(broadcast(s.range(0, 5).select(col("id").as("judge"))))
        .crossJoin(broadcast(s.createDataFrame(Seq(
          Tuple1("helpfulness"), Tuple1("correctness"), Tuple1("style")))
          .toDF("dim")))
        .withColumn("score", expr(
          s"${md5Bits("concat('rub:', CAST(doc_id AS STRING), ':', CAST(judge AS STRING), ':', dim)", 6)} % 5"))
      val perItem = scores.groupBy("doc_id", "dim")
        .agg(sum("score").as("s"), min("score").as("lo"), max("score").as("hi"))
        .withColumn("trimmed_milli", expr("((s - lo - hi) * 1000) DIV 3"))
        .withColumn("disagree", (col("hi") - col("lo") >= 3).cast("long"))
      perItem.groupBy("dim")
        .agg(count(lit(1)).as("n_items"),
          sum("trimmed_milli").as("trimmed_score_mass"),
          sum("disagree").as("n_disagreements"))
        .orderBy("dim")
    },
      s"""WITH items AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 3),
        |dims AS (SELECT unnest(['helpfulness', 'correctness', 'style']) AS dim),
        |judges AS (SELECT CAST(t.i AS BIGINT) AS judge FROM generate_series(0, 4) AS t(i)),
        |sc AS (
        |  SELECT i.doc_id, d.dim, j.judge,
        |    ${duckMd5Bits("'rub:' || CAST(i.doc_id AS VARCHAR) || ':' || CAST(j.judge AS VARCHAR) || ':' || d.dim", 6)} % 5 AS score
        |  FROM items i, judges j, dims d),
        |pi AS (
        |  SELECT doc_id, dim,
        |    ((SUM(score) - MIN(score) - MAX(score)) * 1000) // 3 AS trimmed_milli,
        |    CASE WHEN MAX(score) - MIN(score) >= 3 THEN 1 ELSE 0 END AS disagree
        |  FROM sc GROUP BY 1, 2)
        |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(trimmed_milli) AS BIGINT) AS trimmed_score_mass,
        |  CAST(SUM(disagree) AS BIGINT) AS n_disagreements
        |FROM pi GROUP BY 1 ORDER BY 1""".stripMargin),

    // Temporal foreign-key integrity — warehouse_referential_audit's
    // time-aware sibling: every fact must join a dim version VALID AT
    // the fact's event day (SCD2 windows), and the audit counts the
    // three outcomes exactly — ok (exactly one valid version), orphan
    // (no version covers the day: planted via the uncovered day range
    // and a deleted middle version for s%7==3), and ambiguous (overlap
    // planted via an extra version for s%11==5 — the double-count bug
    // a naive join silently commits). One fact⨝version range join on
    // the supplier key.
    Op("join_temporal_fk", (s, d) => {
      val versions = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("sk"))
        .select(col("sk"), explode(expr("sequence(0, 2)")).as("v"))
        .where(!(col("v") === 1 && col("sk") % 7 === 3)) // deleted middle version
        .select(col("sk"), (col("v") * 100).cast("bigint").as("vf"),
          ((col("v") + 1) * 100).cast("bigint").as("vt"))
        .unionByName(Tables.supplier(s, d)
          .select(col("s_suppkey").cast("bigint").as("sk"))
          .where(col("sk") % 11 === 5) // planted overlap
          .select(col("sk"), lit(150L).as("vf"), lit(250L).as("vt")))
      val facts = Tables.lineitem(s, d)
        .select(col("l_suppkey").cast("bigint").as("sk"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1992-01-01') % 350 AS BIGINT)")
            .as("fact_day"))
        .distinct() // audit DISTINCT (key, day) pairs: multiplicity is load, not integrity
      val matched = facts.join(versions,
          facts("sk") === versions("sk") &&
            col("vf") <= col("fact_day") && col("fact_day") < col("vt"), "left")
        .groupBy(facts("sk"), col("fact_day"))
        .agg(count(col("vf")).as("n_versions"))
      matched
        .withColumn("outcome",
          when(col("n_versions") === 0, lit("orphan"))
            .when(col("n_versions") === 1, lit("ok"))
            .otherwise(lit("ambiguous")))
        .groupBy("outcome")
        .agg(count(lit(1)).as("n_fact_days"), sum("n_versions").as("version_mass"))
        .orderBy("outcome")
    },
      """WITH vs AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS sk,
        |    CAST(t.v * 100 AS BIGINT) AS vf, CAST((t.v + 1) * 100 AS BIGINT) AS vt
        |  FROM supplier, generate_series(0, 2) AS t(v)
        |  WHERE NOT (t.v = 1 AND s_suppkey % 7 = 3)
        |  UNION ALL
        |  SELECT CAST(s_suppkey AS BIGINT), 150, 250 FROM supplier
        |  WHERE s_suppkey % 11 = 5),
        |facts AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS sk,
        |    CAST(datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) % 350 AS BIGINT) AS fact_day
        |  FROM lineitem),
        |m AS (
        |  SELECT f.sk, f.fact_day, COUNT(v.vf) AS n_versions
        |  FROM facts f LEFT JOIN vs v
        |    ON f.sk = v.sk AND v.vf <= f.fact_day AND f.fact_day < v.vt
        |  GROUP BY 1, 2)
        |SELECT CASE WHEN n_versions = 0 THEN 'orphan'
        |    WHEN n_versions = 1 THEN 'ok' ELSE 'ambiguous' END AS outcome,
        |  CAST(COUNT(*) AS BIGINT) AS n_fact_days,
        |  CAST(SUM(n_versions) AS BIGINT) AS version_mass
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),

    // Agent trajectory statistics — the post-hoc audit of agentic
    // traces (llm_tool_trace_audit parses per-doc JSON; THIS op reads
    // the step SEQUENCE): an episode is a (user, hour) run of events in
    // the total order, steps counted, action ratio (cart/purchase =
    // tool actions) in exact ppm, LOOPS = ≥3 consecutive identical
    // step types (the stuck-agent signature, islands cumsum), and the
    // terminal step type. Graded per terminal type: episode census,
    // step mass, looping episodes, action ppm mass.
    Op("llm_agent_trajectory_stats", (s, d) => {
      val w = Window.partitionBy("user_id", "episode").orderBy("ts_us", "event_id")
      val steps = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us DIV 3600000000").as("episode"),
          col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run_id", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn_desc", row_number().over(
          Window.partitionBy("user_id", "episode")
            .orderBy(desc("ts_us"), desc("event_id"))))
      val runs = steps.groupBy("user_id", "episode", "run_id")
        .agg(count(lit(1)).as("run_len"))
      val loops = runs.where(col("run_len") >= 3)
        .groupBy("user_id", "episode")
        .agg(count(lit(1)).as("n_loops"))
      val eps = steps.groupBy("user_id", "episode")
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("event_type") === "cart" || col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("n_actions"),
          max(when(col("rn_desc") === 1, col("event_type"))).as("terminal"))
        .join(loops, Seq("user_id", "episode"), "left")
        .withColumn("n_loops", coalesce(col("n_loops"), lit(0L)))
        .withColumn("action_ppm", expr("(n_actions * 1000000) DIV n_steps"))
      eps.groupBy("terminal")
        .agg(count(lit(1)).as("n_episodes"), sum("n_steps").as("step_mass"),
          sum(when(col("n_loops") > 0, 1L).otherwise(0L)).as("looping_episodes"),
          sum("action_ppm").as("action_ppm_mass"))
        .orderBy("terminal")
    },
      """WITH st AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS episode,
        |    epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |l AS (
        |  SELECT *,
        |    LAG(event_type) OVER w AS prev,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, episode
        |      ORDER BY ts_us DESC, event_id DESC) AS rn_desc
        |  FROM st WINDOW w AS (PARTITION BY user_id, episode ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT *,
        |    SUM(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id, episode ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM l),
        |runs AS (
        |  SELECT user_id, episode, run_id, COUNT(*) AS run_len
        |  FROM r GROUP BY 1, 2, 3),
        |lo AS (
        |  SELECT user_id, episode, CAST(COUNT(*) AS BIGINT) AS n_loops
        |  FROM runs WHERE run_len >= 3 GROUP BY 1, 2),
        |eps AS (
        |  SELECT r.user_id, r.episode,
        |    CAST(COUNT(*) AS BIGINT) AS n_steps,
        |    CAST(SUM(CASE WHEN r.event_type IN ('cart', 'purchase') THEN 1 ELSE 0 END) AS BIGINT) AS n_actions,
        |    MAX(CASE WHEN r.rn_desc = 1 THEN r.event_type END) AS terminal
        |  FROM r GROUP BY 1, 2),
        |j AS (
        |  SELECT eps.terminal, eps.n_steps,
        |    COALESCE(lo.n_loops, 0) AS n_loops,
        |    (eps.n_actions * 1000000) // eps.n_steps AS action_ppm
        |  FROM eps LEFT JOIN lo
        |    ON eps.user_id = lo.user_id AND eps.episode = lo.episode)
        |SELECT terminal, CAST(COUNT(*) AS BIGINT) AS n_episodes,
        |  CAST(SUM(n_steps) AS BIGINT) AS step_mass,
        |  CAST(SUM(CASE WHEN n_loops > 0 THEN 1 ELSE 0 END) AS BIGINT) AS looping_episodes,
        |  CAST(SUM(action_ppm) AS BIGINT) AS action_ppm_mass
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    // Backfill watermark ledger — the incremental-pipeline bookkeeping
    // audit: each job run covers a (low, high] watermark span; lag over
    // the run sequence exposes GAPS (rows silently never processed)
    // and OVERLAPS (rows reprocessed — the idempotency tax), both with
    // exact mass. Planted: every 4th run starts early (overlap),
    // every 5th ends short (gap). Per job: runs, gaps/overlaps and
    // their masses, net covered span.
    Op("warehouse_backfill_ledger", (s, d) => {
      val runs = Tables.events(s, d).select(col("event_type").as("job")).distinct()
        .crossJoin(broadcast(s.range(0, 20).select(col("id").as("r"))))
        .withColumn("low",
          col("r") * 50 - when(col("r") % 4 === 1, 10L).otherwise(0L))
        .withColumn("high",
          col("r") * 50 + 50 - when(col("r") % 5 === 2, 15L).otherwise(0L))
      val w = Window.partitionBy("job").orderBy("r")
      val audited = runs
        .withColumn("prev_high", lag("high", 1).over(w))
        .withColumn("gap",
          when(col("prev_high").isNotNull && col("low") > col("prev_high"),
            col("low") - col("prev_high")).otherwise(0L))
        .withColumn("overlap",
          when(col("prev_high").isNotNull && col("low") < col("prev_high"),
            col("prev_high") - col("low")).otherwise(0L))
      audited.groupBy("job")
        .agg(count(lit(1)).as("n_runs"),
          sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
          sum("gap").as("gap_mass"),
          sum(when(col("overlap") > 0, 1L).otherwise(0L)).as("n_overlaps"),
          sum("overlap").as("overlap_mass"),
          (max("high") - min("low")).as("covered_span"))
        .orderBy("job")
    },
      """WITH jobs AS (SELECT DISTINCT event_type AS job FROM events),
        |runs AS (
        |  SELECT job, CAST(t.r AS BIGINT) AS r,
        |    CAST(t.r * 50 - CASE WHEN t.r % 4 = 1 THEN 10 ELSE 0 END AS BIGINT) AS low,
        |    CAST(t.r * 50 + 50 - CASE WHEN t.r % 5 = 2 THEN 15 ELSE 0 END AS BIGINT) AS high
        |  FROM jobs, generate_series(0, 19) AS t(r)),
        |a AS (
        |  SELECT job, low, high,
        |    LAG(high) OVER (PARTITION BY job ORDER BY r) AS prev_high
        |  FROM runs),
        |g AS (
        |  SELECT job, high, low,
        |    CASE WHEN prev_high IS NOT NULL AND low > prev_high THEN low - prev_high ELSE 0 END AS gap,
        |    CASE WHEN prev_high IS NOT NULL AND low < prev_high THEN prev_high - low ELSE 0 END AS overlap
        |  FROM a)
        |SELECT job, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |  CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(SUM(gap) AS BIGINT) AS gap_mass,
        |  CAST(SUM(CASE WHEN overlap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
        |  CAST(SUM(overlap) AS BIGINT) AS overlap_mass,
        |  CAST(MAX(high) - MIN(low) AS BIGINT) AS covered_span
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // Sliding-window rate limiter — the OTHER canonical admission
    // algorithm beside service_admission_quota's hourly token bucket:
    // a request is throttled when its principal already landed ≥ L
    // requests in the trailing 60 s (RANGE frame on the µs axis —
    // gap-correct, no bucketing artifacts at window edges, which is
    // exactly why production limiters prefer it). Per principal:
    // request census, throttled census + ppm, the worst window
    // pressure seen.
    Op("service_rate_limit_sliding", (s, d) => {
      val w = Window.partitionBy("principal").orderBy("ts_us")
        .rangeBetween(-59999999L, 0L)
      Tables.events(s, d)
        .select((col("user_id") % 8).as("principal"), col("ts_us"))
        .withColumn("in_window", count(lit(1)).over(w))
        .withColumn("throttled", (col("in_window") > 5L).cast("long"))
        .groupBy("principal")
        .agg(count(lit(1)).as("n_requests"),
          sum("throttled").as("n_throttled"),
          max("in_window").as("max_window_pressure"))
        .withColumn("throttle_ppm", expr("(n_throttled * 1000000) DIV n_requests"))
        .orderBy("principal")
    },
      """WITH r AS (
        |  SELECT user_id % 8 AS principal, epoch_us(ts) AS ts_us
        |  FROM events),
        |c AS (
        |  SELECT principal,
        |    COUNT(*) OVER (PARTITION BY principal ORDER BY ts_us
        |      RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS in_window
        |  FROM r)
        |SELECT principal, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |  CAST(SUM(CASE WHEN in_window > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled,
        |  CAST(MAX(in_window) AS BIGINT) AS max_window_pressure,
        |  CAST((SUM(CASE WHEN in_window > 5 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS throttle_ppm
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
