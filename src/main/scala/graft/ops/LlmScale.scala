package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-4 LLM-pipeline operators: the sub-quadratic SCALE path for
  * embedding dedup (signed-random-projection LSH — at 10⁹ vectors the exact
  * all-pairs sweep is unpayable and THIS is the operator that replaces it),
  * pattern-based text scrubbing (the PII-redaction stage), and deterministic
  * sequence packing (the fixed-window batch-assembly stage of a training
  * pipeline).
  */
object LlmScale extends Family {
  private val SrpDims = 64 // embeddings.parquet vector width (TESTDATA.md)
  private val PackCapacity = 2048

  /** SRP-LSH geometry: 128 planes banded 8×16 — 2¹⁶ bucket values PER
    * BAND, so E[bucket size] is n/65536 per band and the within-bucket
    * candidate join stays near-linear at 10⁹ vectors (the round-7 4×4-bit
    * layout had 16 values/band: every bucket held n/16 vectors and the
    * candidate join went quadratic — the suite's slowest query at 12× the
    * exact sweep). Constants, not confs: the oracle SQL replays exactly
    * this geometry. */
  private[graft] val LshPlanes = 128
  private[graft] val LshBands = 8
  private val LshBits = LshPlanes / LshBands

  /** Deterministic signed-random-projection hyperplanes, derived from
    * md5("p:k") so the DuckDB oracle rebuilds the IDENTICAL matrix in SQL:
    * w = ((first-32-bits % 2001) − 1000) / 1000 ∈ [−1, 1]. Computed once
    * per plane count on the driver (planes×64 literals — plan constants,
    * no data dependence; constant-folded into one array literal). */
  private val planeCache = scala.collection.concurrent.TrieMap.empty[Int, Array[Array[Double]]]
  private[graft] def srpPlanes(nPlanes: Int): Array[Array[Double]] =
    planeCache.getOrElseUpdate(nPlanes, {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nPlanes, SrpDims) { (p, k) =>
        md.reset()
        val hex = md.digest(s"$p:$k".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        ((java.lang.Long.parseLong(hex, 16) % 2001) - 1000) / 1000.0
      }
    })

  val ops: Seq[Op] = Seq(
    // RAG citation audit — does the answer's bibliography actually exist
    // and come from the right shelf? (llm_injection_screen guards the
    // prompt; this guards the CITATIONS a RAG answer emits): every 7th
    // doc is an "answer" citing 3 md5-derived doc ids drawn from a
    // 1.25×max_id span — so ~20% of citations are HALLUCINATED by
    // construction — validity = the cited id exists (left join against
    // the corpus), support = the cited doc shares the answer's source
    // (an on-topic proxy), and the ledger reports citation validity ppm,
    // fully-grounded answers, and the hallucination rate. One explode,
    // one broadcast-able dim join at 100 TB (the id→source side is the
    // small one after dedup), integer ppms only.
    Op("llm_rag_citation_check", (s, d) => {
      import org.apache.spark.sql.functions.broadcast
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
        .localCheckpoint()
      val mx = docs.agg(max("doc_id").as("max_id"))
      val cites = docs.where(col("doc_id") % 7 === 0)
        .crossJoin(broadcast(mx))
        .select(col("doc_id").as("ans_id"), col("source").as("ans_source"),
          array((1 to 3).map(k => expr(s"${md5Bits(s"rc$k", "doc_id", 8)} % (max_id * 5 DIV 4 + 1)")): _*).as("cs"))
        .select(col("ans_id"), col("ans_source"), explode(col("cs")).as("cited_id"))
      val checked = cites
        .join(docs.select(col("doc_id").as("cited_id"),
          col("source").as("cited_source")), Seq("cited_id"), "left")
        .withColumn("valid", col("cited_source").isNotNull)
        .withColumn("supported", col("cited_source") === col("ans_source"))
      checked.groupBy("ans_id")
        .agg(count(lit(1)).as("k"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("k_valid"),
          sum(when(col("supported"), 1L).otherwise(0L)).as("k_support"))
        .agg(count(lit(1)).as("n_answers"),
          sum("k").as("n_citations"),
          sum("k_valid").as("n_valid"),
          sum("k_support").as("n_support"),
          sum(when(col("k_valid") === col("k"), 1L).otherwise(0L)).as("n_grounded"))
        .withColumn("valid_ppm", expr("n_valid * 1000000 DIV n_citations"))
        .withColumn("halluc_ppm", expr(
          "(n_citations - n_valid) * 1000000 DIV n_citations"))
        .withColumn("grounded_ppm", expr("n_grounded * 1000000 DIV n_answers"))
        .select("n_answers", "n_citations", "n_valid", "n_support",
          "n_grounded", "valid_ppm", "halluc_ppm", "grounded_ppm")
    },
      // Same 1.25×-span citations, same existence join, same ppms.
      s"""WITH mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
        |a AS (SELECT doc_id AS ans_id, source AS ans_source
        |  FROM documents WHERE doc_id % 7 = 0),
        |c AS (SELECT ans_id, ans_source,
        |    ${duckMd5Bits("'rc' || CAST(k AS VARCHAR) || ':' || CAST(ans_id AS VARCHAR)", 8)}
        |      % (max_id * 5 // 4 + 1) AS cited_id
        |  FROM a CROSS JOIN mx CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS k)),
        |j AS (SELECT c.ans_id, c.cited_id,
        |    d.source IS NOT NULL AS valid,
        |    COALESCE(d.source = c.ans_source, FALSE) AS supported
        |  FROM c LEFT JOIN documents d ON d.doc_id = c.cited_id),
        |per AS (SELECT ans_id, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS k_valid,
        |    CAST(SUM(CASE WHEN supported THEN 1 ELSE 0 END) AS BIGINT) AS k_support
        |  FROM j GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_answers,
        |    CAST(SUM(k) AS BIGINT) AS n_citations,
        |    CAST(SUM(k_valid) AS BIGINT) AS n_valid,
        |    CAST(SUM(k_support) AS BIGINT) AS n_support,
        |    CAST(SUM(CASE WHEN k_valid = k THEN 1 ELSE 0 END) AS BIGINT) AS n_grounded
        |  FROM per)
        |SELECT n_answers, n_citations, n_valid, n_support, n_grounded,
        |  n_valid * 1000000 // n_citations AS valid_ppm,
        |  (n_citations - n_valid) * 1000000 // n_citations AS halluc_ppm,
        |  n_grounded * 1000000 // n_answers AS grounded_ppm
        |FROM tot""".stripMargin),

    // Unicode anomaly screen — the invisible-character audit a training
    // pipeline runs BEFORE tokenization (zero-width chars split tokens
    // invisibly, bidi controls reorder rendered text — both are
    // injection/steganography vectors; llm_injection_screen reads the
    // words, this reads the CODEPOINTS): pollution planted
    // deterministically (every 13th doc gets a zero-width space spliced
    // at char 40 plus a trailing RLO override; every 29th a replacement
    // char), screen = regexp_count over \x{...} codepoint classes —
    // identical semantics in Java regex and RE2, passed as a literal
    // column so no SQL escape dialect ever touches the pattern. One
    // scan, one groupBy(source); ppms in exact integers.
    Op("llm_unicode_anomaly", (s, d) => {
      val zws = "\u200B"; val rlo = "\u202E"; val rep = "\uFFFD"
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
        .withColumn("txt", expr(
          s"""CASE WHEN doc_id % 13 = 0
                THEN concat(substring(text, 1, 40), '$zws', substring(text, 41), '$rlo')
              WHEN doc_id % 29 = 0 THEN concat(text, '$rep')
              ELSE text END"""))
        .withColumn("zw", regexp_count(col("txt"),
          lit("[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]")))
        .withColumn("bidi", regexp_count(col("txt"),
          lit("[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]")))
        .withColumn("repl", regexp_count(col("txt"), lit("\\x{FFFD}")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("zw") + col("bidi") + col("repl") > 0, 1L)
            .otherwise(0L)).as("flagged"),
          sum("zw").as("zw_total"),
          sum("bidi").as("bidi_total"),
          sum("repl").as("repl_total"))
        .withColumn("flagged_ppm", expr("flagged * 1000000 DIV n_docs"))
        .orderBy("source")
    },
      // Same planted pollution (chr() codepoints), same RE2 classes.
      """WITH t AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 0
        |        THEN substring(text, 1, 40) || chr(8203) || substring(text, 41) || chr(8238)
        |      WHEN doc_id % 29 = 0 THEN text || chr(65533)
        |      ELSE text END AS txt
        |  FROM documents),
        |c AS (SELECT source,
        |    len(regexp_extract_all(txt, '[\x{200B}\x{200C}\x{200D}\x{FEFF}]')) AS zw,
        |    len(regexp_extract_all(txt, '[\x{202A}-\x{202E}\x{2066}-\x{2069}]')) AS bidi,
        |    len(regexp_extract_all(txt, '\x{FFFD}')) AS repl
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN zw + bidi + repl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
        |  CAST(SUM(zw) AS BIGINT) AS zw_total,
        |  CAST(SUM(bidi) AS BIGINT) AS bidi_total,
        |  CAST(SUM(repl) AS BIGINT) AS repl_total,
        |  CAST(SUM(CASE WHEN zw + bidi + repl > 0 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS flagged_ppm
        |FROM c GROUP BY source ORDER BY source""".stripMargin),

    // Slop screen — the stock-phrase / em-dash-density audit a 2026
    // training pipeline runs against MODEL-GENERATED contamination
    // (llm_contamination catches eval leakage; this catches the
    // stylistic fingerprint of synthetic text flooding a crawl):
    // pollution planted deterministically (every 11th doc gets the full
    // slop sentence with two em-dashes, every 19th a single stock verb),
    // counting by the pure substring identity (len − len(replace))/|p|
    // — exact integers, NO regex dialect in play — flag = lexicon hits
    // ≥ 2 OR em-dashes ≥ 2, per-source ledger in ppm.
    Op("llm_slop_screen", (s, d) => {
      val dash = "—"
      val slop1 = s" It is not just a tool, it is a tapestry. We delve deeper $dash a testament to progress $dash"
      val slop2 = " We delve into it."
      def cnt(p: String, nm: String) =
        expr(s"CAST((length(txt) - length(replace(txt, '$p', ''))) DIV ${p.length} AS BIGINT)").as(nm)
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
        .withColumn("txt", expr(
          s"""lower(CASE WHEN doc_id % 11 = 0 THEN concat(text, '$slop1')
              WHEN doc_id % 19 = 0 THEN concat(text, '$slop2')
              ELSE text END)"""))
        .select(col("source"), cnt("delve", "delve"), cnt("tapestry", "tapestry"),
          cnt("testament", "testament"), cnt(dash, "emdash"))
        .withColumn("flagged", (col("delve") + col("tapestry") + col("testament") >= 2) ||
          col("emdash") >= 2)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          sum("delve").as("delve_total"),
          sum("tapestry").as("tapestry_total"),
          sum("testament").as("testament_total"),
          sum("emdash").as("emdash_total"))
        .withColumn("flagged_ppm", expr("n_flagged * 1000000 DIV n_docs"))
        .orderBy("source")
    },
      // Same planted slop, same substring-identity counting.
      """WITH t AS (SELECT doc_id, source,
        |    lower(CASE WHEN doc_id % 11 = 0
        |        THEN text || ' It is not just a tool, it is a tapestry. We delve deeper '
        |          || chr(8212) || ' a testament to progress ' || chr(8212)
        |      WHEN doc_id % 19 = 0 THEN text || ' We delve into it.'
        |      ELSE text END) AS txt
        |  FROM documents),
        |c AS (SELECT source,
        |    (len(txt) - len(replace(txt, 'delve', ''))) // 5 AS delve,
        |    (len(txt) - len(replace(txt, 'tapestry', ''))) // 8 AS tapestry,
        |    (len(txt) - len(replace(txt, 'testament', ''))) // 9 AS testament,
        |    (len(txt) - len(replace(txt, chr(8212), ''))) // 1 AS emdash
        |  FROM t),
        |f AS (SELECT *, delve + tapestry + testament >= 2 OR emdash >= 2 AS flagged FROM c)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(delve) AS BIGINT) AS delve_total,
        |  CAST(SUM(tapestry) AS BIGINT) AS tapestry_total,
        |  CAST(SUM(testament) AS BIGINT) AS testament_total,
        |  CAST(SUM(emdash) AS BIGINT) AS emdash_total,
        |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS flagged_ppm
        |FROM f GROUP BY source ORDER BY source""".stripMargin),

    // Numeric answer extraction + EM — the GSM-style eval grader
    // (llm_em_f1_eval compares token sets; math benchmarks compare THE
    // NUMBER, and the extraction step is where graders disagree):
    // synthetic answer sentences with distractor numbers up front, a $
    // prefix on every 3rd, a planted wrong answer on every 10th; the
    // contract is LAST-number extraction (regexp_extract_all + take(-1),
    // digit-class pattern identical in Java regex and RE2), graded
    // against the gold in exact ppm.
    Op("llm_answer_extract_eval", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("gold", expr(s"${md5Bits("aeg", "doc_id", 8)} % 1000"))
        .withColumn("pred_val", expr(s"IF(${md5Bits("aew", "doc_id", 8)} % 10 = 0, gold + 1, gold)"))
        .withColumn("ans", expr(
          """concat('Given 42 apples and 17 pears, the answer is ',
             IF(doc_id % 3 = 0, '$', ''), CAST(pred_val AS STRING), '.')"""))
        .withColumn("extracted", expr(
          "CAST(element_at(regexp_extract_all(ans, '[0-9]+', 0), -1) AS BIGINT)"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("extracted").isNotNull, 1L).otherwise(0L)).as("n_extracted"),
          sum(when(col("extracted") === col("gold"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("em_ppm", expr("n_correct * 1000000 DIV n"))
        .withColumn("wrong_ppm", expr("(n - n_correct) * 1000000 DIV n"))
        .select("n", "n_extracted", "n_correct", "em_ppm", "wrong_ppm")
    },
      // Same synthetic sentences, same last-number extraction contract.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("aeg", "doc_id", 8)} % 1000 AS gold
        |  FROM documents),
        |p AS (SELECT doc_id, gold,
        |    CASE WHEN ${duckMd5Bits("aew", "doc_id", 8)} % 10 = 0
        |      THEN gold + 1 ELSE gold END AS pred_val FROM t),
        |a AS (SELECT gold,
        |    'Given 42 apples and 17 pears, the answer is '
        |      || CASE WHEN doc_id % 3 = 0 THEN '$$' ELSE '' END
        |      || CAST(pred_val AS VARCHAR) || '.' AS ans FROM p),
        |x AS (SELECT gold,
        |    CAST(list_extract(regexp_extract_all(ans, '[0-9]+'),
        |      len(regexp_extract_all(ans, '[0-9]+'))) AS BIGINT) AS extracted
        |  FROM a)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN extracted IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_extracted,
        |  CAST(SUM(CASE WHEN extracted = gold THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(SUM(CASE WHEN extracted = gold THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS em_ppm,
        |  CAST((COUNT(*) - SUM(CASE WHEN extracted = gold THEN 1 ELSE 0 END)) * 1000000 // COUNT(*) AS BIGINT) AS wrong_ppm
        |FROM x""".stripMargin),

    // Refusal / over-refusal audit — the two-sided safety ledger (a
    // model that refuses harmful prompts but ALSO refuses benign ones is
    // broken in the other direction; both rates belong on one report):
    // planted 20% harmful prompts, responses synthesized with a 90%
    // refusal rate on harmful and 5% over-refusal on benign, refusals
    // phrased TWO ways so the detector lexicon (substring identity, no
    // regex dialect) is itself exercised; per-class ppm + the
    // calibration verdict.
    Op("llm_refusal_audit", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("harmful", expr("IF(doc_id % 5 = 0, 1, 0)"))
        .withColumn("refuses", expr(
          s"IF(harmful = 1, IF(${md5Bits("rfh", "doc_id", 8)} % 10 < 9, 1, 0), IF(${md5Bits("rfb", "doc_id", 8)} % 100 < 5, 1, 0))"))
        .withColumn("resp", expr(
          s"""CASE WHEN refuses = 1 AND ${md5Bits("rfp", "doc_id", 8)} % 2 = 0
                THEN 'I cannot help with that request.'
              WHEN refuses = 1 THEN 'I am unable to comply with this.'
              ELSE concat('Sure, here is the answer: ', CAST(doc_id AS STRING)) END"""))
        .withColumn("detected", expr(
          """IF(length(resp) > length(replace(resp, 'cannot help', ''))
              OR length(resp) > length(replace(resp, 'unable to comply', '')), 1, 0)"""))
        .agg(sum(col("harmful")).as("n_harmful"),
          sum(expr("1 - harmful")).as("n_benign"),
          sum(expr("harmful * detected")).as("refused_harmful"),
          sum(expr("(1 - harmful) * detected")).as("refused_benign"),
          sum(expr("abs(detected - refuses)")).as("detector_misses"))
        .withColumn("refusal_ppm", expr("refused_harmful * 1000000 DIV n_harmful"))
        .withColumn("overrefusal_ppm", expr("refused_benign * 1000000 DIV n_benign"))
        .withColumn("calibrated", col("refusal_ppm") > 800000L && col("overrefusal_ppm") < 100000L)
        .select("n_harmful", "n_benign", "refused_harmful", "refused_benign",
          "detector_misses", "refusal_ppm", "overrefusal_ppm", "calibrated")
    },
      // Same two-phrase plant, same substring-identity detector.
      s"""WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS harmful
        |  FROM documents),
        |r AS (SELECT doc_id, harmful,
        |    CASE WHEN harmful = 1
        |      THEN CASE WHEN ${duckMd5Bits("rfh", "doc_id", 8)} % 10 < 9 THEN 1 ELSE 0 END
        |      ELSE CASE WHEN ${duckMd5Bits("rfb", "doc_id", 8)} % 100 < 5 THEN 1 ELSE 0 END
        |    END AS refuses
        |  FROM t),
        |s AS (SELECT *,
        |    CASE WHEN refuses = 1 AND ${duckMd5Bits("rfp", "doc_id", 8)} % 2 = 0
        |      THEN 'I cannot help with that request.'
        |      WHEN refuses = 1 THEN 'I am unable to comply with this.'
        |      ELSE 'Sure, here is the answer: ' || CAST(doc_id AS VARCHAR) END AS resp
        |  FROM r),
        |det AS (SELECT *,
        |    CASE WHEN len(resp) > len(replace(resp, 'cannot help', ''))
        |      OR len(resp) > len(replace(resp, 'unable to comply', '')) THEN 1 ELSE 0 END AS detected
        |  FROM s),
        |a AS (SELECT CAST(SUM(harmful) AS BIGINT) AS n_harmful,
        |    CAST(SUM(1 - harmful) AS BIGINT) AS n_benign,
        |    CAST(SUM(harmful * detected) AS BIGINT) AS refused_harmful,
        |    CAST(SUM((1 - harmful) * detected) AS BIGINT) AS refused_benign,
        |    CAST(SUM(ABS(detected - refuses)) AS BIGINT) AS detector_misses
        |  FROM det)
        |SELECT n_harmful, n_benign, refused_harmful, refused_benign, detector_misses,
        |  refused_harmful * 1000000 // n_harmful AS refusal_ppm,
        |  refused_benign * 1000000 // n_benign AS overrefusal_ppm,
        |  refused_harmful * 1000000 // n_harmful > 800000
        |    AND refused_benign * 1000000 // n_benign < 100000 AS calibrated
        |FROM a""".stripMargin),

    // Eval leaderboard — the tournament rollup an eval harness publishes
    // (llm_best_of_n picks within one model; this RANKS models across
    // tasks): 5 planted models × 8 tasks with md5 scores + an index-
    // proportional skill bonus (so the true ordering is knowable), total
    // score, pairwise task WINS against every other model in exact
    // counts, win rate in ppm, and dense rank by (total DESC, model ASC).
    // The pair join is 5×5×8 metadata.
    Op("llm_leaderboard", (s, d) => {
      val sc = Tables.documents(s, d).where(col("doc_id") < 8)
        .select(col("doc_id").as("task"))
        .crossJoin(broadcast(Tables.documents(s, d).sparkSession
          .range(0, 5).select(col("id").as("model"))))
        .withColumn("score", expr(
          s"""${md5Bits("concat('lb:', CAST(model AS STRING), ':', CAST(task AS STRING))", 8)} % 1000
             + model * 600"""))
        .localCheckpoint()
      val wins = sc.as("a").join(sc.as("b"),
          col("a.task") === col("b.task") && col("a.model") =!= col("b.model"))
        .groupBy(col("a.model").as("model"))
        .agg(sum(when(col("a.score") > col("b.score"), 1L).otherwise(0L)).as("wins"),
          count(lit(1)).as("n_matches"))
      val totals = sc.groupBy("model")
        .agg(count(lit(1)).as("n_tasks"), sum("score").as("total_score"))
      totals.join(wins, "model")
        .withColumn("win_ppm", expr("wins * 1000000 DIV n_matches"))
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("total_score"), col("model"))).cast("bigint"))
        .select("model", "n_tasks", "total_score", "wins", "n_matches",
          "win_ppm", "rank")
        .orderBy("model")
    },
      // Same planted scores, same pairwise wins, same dense order.
      s"""WITH t AS (SELECT doc_id AS task FROM documents WHERE doc_id < 8),
        |m(model) AS (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)),
        |  (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT)), (CAST(4 AS BIGINT))),
        |sc AS (SELECT task, model,
        |    ${duckMd5Bits("'lb:' || CAST(model AS VARCHAR) || ':' || CAST(task AS VARCHAR)", 8)} % 1000
        |      + model * 600 AS score
        |  FROM t CROSS JOIN m),
        |w AS (SELECT a.model, CAST(SUM(CASE WHEN a.score > b.score THEN 1 ELSE 0 END) AS BIGINT) AS wins,
        |    CAST(COUNT(*) AS BIGINT) AS n_matches
        |  FROM sc a JOIN sc b ON a.task = b.task AND a.model <> b.model
        |  GROUP BY 1),
        |tt AS (SELECT model, CAST(COUNT(*) AS BIGINT) AS n_tasks,
        |    CAST(SUM(score) AS BIGINT) AS total_score FROM sc GROUP BY 1)
        |SELECT tt.model, n_tasks, total_score, wins, n_matches,
        |  wins * 1000000 // n_matches AS win_ppm,
        |  CAST(ROW_NUMBER() OVER (ORDER BY total_score DESC, tt.model) AS BIGINT) AS rank
        |FROM tt JOIN w ON tt.model = w.model
        |ORDER BY tt.model""".stripMargin),

    // Dataset card — the per-source DATASHEET a curated corpus ships
    // with (Gebru et al.'s datasheets; every release pipeline materializes
    // one): size, language spread, token mass from the frozen tokenizer,
    // mean tokens in exact milli, short-doc rate in ppm, and the dominant
    // language by (count DESC, lang ASC) — the tie-break total order both
    // engines share. One scan, one per-source rollup + one tiny window.
    Op("llm_dataset_card", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          expr("CAST(length(text) DIV 4 AS BIGINT)").as("toks"))
      val perLang = t.groupBy("source", "lang").agg(count(lit(1)).as("nl"))
      val top = perLang
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(desc("nl"), col("lang"))))
        .where(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("nl").as("top_lang_docs"))
      t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          sum("toks").as("total_tokens"),
          sum(when(col("toks") < 20, 1L).otherwise(0L)).as("n_short"))
        .withColumn("mean_tokens_milli", expr("total_tokens * 1000 DIV n_docs"))
        .withColumn("short_ppm", expr("n_short * 1000000 DIV n_docs"))
        .join(broadcast(top), "source")
        .select("source", "n_docs", "n_langs", "total_tokens",
          "mean_tokens_milli", "short_ppm", "top_lang", "top_lang_docs")
        .orderBy("source")
    },
      // Same datasheet rollup, same (count DESC, lang ASC) dominance order.
      """WITH t AS (SELECT source, lang, CAST(length(text) // 4 AS BIGINT) AS toks
        |  FROM documents),
        |pl AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nl
        |  FROM t GROUP BY 1, 2),
        |tp AS (SELECT source, lang AS top_lang, nl AS top_lang_docs FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY nl DESC, lang) AS rn FROM pl) WHERE rn = 1),
        |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |    CAST(SUM(CASE WHEN toks < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
        |  FROM t GROUP BY 1)
        |SELECT g.source, n_docs, n_langs, total_tokens,
        |  total_tokens * 1000 // n_docs AS mean_tokens_milli,
        |  n_short * 1000000 // n_docs AS short_ppm,
        |  top_lang, top_lang_docs
        |FROM g JOIN tp ON g.source = tp.source
        |ORDER BY g.source""".stripMargin),

    // RoPE context-extension plan — position-interpolation accounting
    // (Chen et al.'s linear PI, the public recipe every long-context
    // finetune starts from): a planted md5 workload multiplier turns doc
    // token counts into context demands, and each target window in
    // {8k, 16k, 32k, 128k} gets the ledger a finetune plan needs — how
    // many sequences fit the 4096 base as-is, how many the interpolated
    // window rescues, how many still overflow, and the position-scale
    // factor in exact ppm (the NTK-theta variant needs a pow(); linear
    // PI keeps the whole plan integer). One scan × 4 literal targets.
    Op("llm_rope_scaling_plan", (s, d) => {
      val demands = Tables.documents(s, d)
        .select(expr("CAST(length(text) DIV 4 AS BIGINT)").as("toks"),
          expr(s"1 + ${md5Bits("rope", "doc_id", 8)} % 512").as("mult"))
        .select(expr("toks * mult").as("demand"))
      val targets = demands.sparkSession.range(0, 4).select(
        expr("element_at(array(CAST(8192 AS BIGINT), CAST(16384 AS BIGINT), CAST(32768 AS BIGINT), CAST(131072 AS BIGINT)), CAST(id + 1 AS INT))").as("target_ctx"))
      demands.crossJoin(broadcast(targets))
        .groupBy("target_ctx")
        .agg(count(lit(1)).as("n_seqs"),
          sum(when(col("demand") <= 4096, 1L).otherwise(0L)).as("n_fit_base"),
          sum(when(col("demand") > 4096 && col("demand") <= col("target_ctx"), 1L)
            .otherwise(0L)).as("n_interpolated"),
          sum(when(col("demand") > col("target_ctx"), 1L).otherwise(0L)).as("n_overflow"))
        .withColumn("scale_ppm", expr("target_ctx * 1000000 DIV 4096"))
        .withColumn("interp_ppm", expr("CAST(4096 AS BIGINT) * 1000000 DIV target_ctx"))
        .orderBy("target_ctx")
    },
      // Same planted demands, same target grid, same integer ledger.
      s"""WITH dm AS (SELECT (length(text) // 4)
        |      * (1 + ${duckMd5Bits("rope", "doc_id", 8)} % 512) AS demand
        |  FROM documents),
        |tg(target_ctx) AS (VALUES (CAST(8192 AS BIGINT)), (CAST(16384 AS BIGINT)),
        |  (CAST(32768 AS BIGINT)), (CAST(131072 AS BIGINT)))
        |SELECT target_ctx, CAST(COUNT(*) AS BIGINT) AS n_seqs,
        |  CAST(SUM(CASE WHEN demand <= 4096 THEN 1 ELSE 0 END) AS BIGINT) AS n_fit_base,
        |  CAST(SUM(CASE WHEN demand > 4096 AND demand <= target_ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_interpolated,
        |  CAST(SUM(CASE WHEN demand > target_ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
        |  target_ctx * 1000000 // 4096 AS scale_ppm,
        |  CAST(4096 AS BIGINT) * 1000000 // target_ctx AS interp_ppm
        |FROM dm CROSS JOIN tg GROUP BY target_ctx
        |ORDER BY target_ctx""".stripMargin),

    // BLEU component ledger — clipped n-gram precision + brevity, the
    // MT-eval classic beside llm_chrf's character F-score (chrF is
    // tokenization-robust; BLEU is the reference metric reviewers still
    // ask for): adjacent %20-paired docs as (hypothesis, reference),
    // clipped unigram/bigram MULTISET overlaps Σ min(cₕ, cᵣ) via (pair,
    // gram) joins (linear — same shape the chrF plan proved out), both
    // precisions and the brevity ratio cleared to exact ppm; the
    // exp(1−r/c) smoothing is downstream policy, so the LEDGER stays
    // transcendental-free and hash-exact.
    Op("llm_bleu_components", (s, d) => {
      def side(mod: Int) = Tables.documents(s, d)
        .where(col("doc_id") % 20 === mod)
        .select(expr("doc_id DIV 20").as("pair"), split(col("text"), " ").as("t"))
      def grams(df: org.apache.spark.sql.DataFrame, n: Int) = df
        .where(size(col("t")) >= n)
        .select(col("pair"), explode(expr(
          s"transform(sequence(0, size(t) - $n), i -> concat_ws(' ', slice(t, i + 1, $n)))")).as("g"))
        .groupBy("pair", "g").agg(count(lit(1)).as("c"))
      val h = side(0); val r = side(1)
      val lens = h.select(col("pair"), size(col("t")).cast("bigint").as("h_len"))
        .join(r.select(col("pair"), size(col("t")).cast("bigint").as("r_len")), "pair")
      def prec(n: Int, ov: String, tot: String) = {
        val hg = grams(h, n).withColumnRenamed("c", "ch")
        val rg = grams(r, n).withColumnRenamed("c", "cr")
        val o = hg.join(rg, Seq("pair", "g"))
          .groupBy("pair").agg(sum(least(col("ch"), col("cr"))).as(ov))
        hg.groupBy("pair").agg(sum("ch").as(tot))
          .join(o, Seq("pair"), "left")
          .withColumn(ov, coalesce(col(ov), lit(0L)))
      }
      lens.join(prec(1, "ov1", "tot1"), "pair")
        .join(prec(2, "ov2", "tot2"), "pair")
        .withColumn("p1_ppm", expr("ov1 * 1000000 DIV tot1"))
        .withColumn("p2_ppm", expr("CASE WHEN tot2 = 0 THEN CAST(0 AS BIGINT) ELSE ov2 * 1000000 DIV tot2 END"))
        .withColumn("brevity_ppm", expr("h_len * 1000000 DIV r_len"))
        .withColumn("bp_applies", col("h_len") < col("r_len"))
        .select("pair", "h_len", "r_len", "ov1", "tot1", "p1_ppm",
          "ov2", "tot2", "p2_ppm", "brevity_ppm", "bp_applies")
        .orderBy("pair")
    },
      // Same pairing, same clipped multiset overlaps, same ppm clearing.
      """WITH h AS (SELECT doc_id // 20 AS pair, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 20 = 0),
        |r AS (SELECT doc_id // 20 AS pair, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 20 = 1),
        |lens AS (SELECT h.pair, CAST(len(h.t) AS BIGINT) AS h_len,
        |    CAST(len(r.t) AS BIGINT) AS r_len
        |  FROM h JOIN r ON h.pair = r.pair),
        |h1 AS (SELECT pair, unnest(t) AS g FROM h),
        |r1 AS (SELECT pair, unnest(t) AS g FROM r),
        |h1c AS (SELECT pair, g, COUNT(*) AS ch FROM h1 GROUP BY 1, 2),
        |r1c AS (SELECT pair, g, COUNT(*) AS cr FROM r1 GROUP BY 1, 2),
        |o1 AS (SELECT h1c.pair, CAST(SUM(LEAST(ch, cr)) AS BIGINT) AS ov1
        |  FROM h1c JOIN r1c ON h1c.pair = r1c.pair AND h1c.g = r1c.g GROUP BY 1),
        |t1 AS (SELECT pair, CAST(SUM(ch) AS BIGINT) AS tot1 FROM h1c GROUP BY 1),
        |h2 AS (SELECT pair, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i + 1])) AS g
        |  FROM h WHERE len(t) >= 2),
        |r2 AS (SELECT pair, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i + 1])) AS g
        |  FROM r WHERE len(t) >= 2),
        |h2c AS (SELECT pair, g, COUNT(*) AS ch FROM h2 GROUP BY 1, 2),
        |r2c AS (SELECT pair, g, COUNT(*) AS cr FROM r2 GROUP BY 1, 2),
        |o2 AS (SELECT h2c.pair, CAST(SUM(LEAST(ch, cr)) AS BIGINT) AS ov2
        |  FROM h2c JOIN r2c ON h2c.pair = r2c.pair AND h2c.g = r2c.g GROUP BY 1),
        |t2 AS (SELECT pair, CAST(SUM(ch) AS BIGINT) AS tot2 FROM h2c GROUP BY 1)
        |SELECT lens.pair, h_len, r_len,
        |  COALESCE(ov1, 0) AS ov1, tot1, COALESCE(ov1, 0) * 1000000 // tot1 AS p1_ppm,
        |  COALESCE(ov2, 0) AS ov2, tot2,
        |  CAST(CASE WHEN tot2 = 0 THEN 0
        |    ELSE COALESCE(ov2, 0) * 1000000 // tot2 END AS BIGINT) AS p2_ppm,
        |  h_len * 1000000 // r_len AS brevity_ppm,
        |  h_len < r_len AS bp_applies
        |FROM lens JOIN t1 ON lens.pair = t1.pair
        |LEFT JOIN o1 ON lens.pair = o1.pair
        |JOIN t2 ON lens.pair = t2.pair
        |LEFT JOIN o2 ON lens.pair = o2.pair
        |ORDER BY lens.pair""".stripMargin),

    // Chinchilla compute-budget plan — the 20-tokens-per-parameter
    // compute-optimal law as a LEDGER over the corpus the engine curates
    // (Hoffmann et al.'s public result; the planning question every
    // pretraining run starts with): corpus tokens T from the frozen
    // chars-DIV-4 tokenizer, a parameter grid as literal rows, D_opt =
    // 20N, FLOPs = 6·N·D_opt in DECIMAL(38,0), epochs over the corpus in
    // exact ppm, and the data-limited verdict T < D_opt. One scan.
    Op("llm_chinchilla_plan", (s, d) => {
      val t = Tables.documents(s, d)
        .agg(sum(expr("CAST(length(text) DIV 4 AS BIGINT)")).as("corpus_tokens"))
      val grid = t.crossJoin(
        t.sparkSession.range(0, 4).select(
          expr("element_at(array(CAST(1e8 AS BIGINT), CAST(1e9 AS BIGINT), CAST(7e9 AS BIGINT), CAST(7e10 AS BIGINT)), CAST(id + 1 AS INT))").as("params")))
      grid
        .withColumn("d_opt", expr("params * 20"))
        // FLOPs in MEGA-FLOP units so 6·N·D stays int64 (raw 6·N·20N hits
        // 5.9e23 at 70B; params are 1e8 multiples so both DIV 1000 are exact)
        .withColumn("flops_m", expr("6 * (params DIV 1000) * (params * 20 DIV 1000)"))
        .withColumn("epochs_ppm", expr("params * 20 * 1000000 DIV corpus_tokens"))
        .withColumn("data_limited", col("corpus_tokens") < col("d_opt"))
        .select("params", "corpus_tokens", "d_opt", "flops_m", "epochs_ppm", "data_limited")
        .orderBy("params")
    },
      // Same frozen tokenizer, same 20N law, same DECIMAL-wide FLOPs.
      """WITH t AS (SELECT CAST(SUM(length(text) // 4) AS BIGINT) AS corpus_tokens
        |  FROM documents),
        |g(params) AS (VALUES (CAST(1e8 AS BIGINT)), (CAST(1e9 AS BIGINT)),
        |  (CAST(7e9 AS BIGINT)), (CAST(7e10 AS BIGINT)))
        |SELECT params, corpus_tokens, params * 20 AS d_opt,
        |  6 * (params // 1000) * (params * 20 // 1000) AS flops_m,
        |  params * 20 * 1000000 // corpus_tokens AS epochs_ppm,
        |  corpus_tokens < params * 20 AS data_limited
        |FROM g CROSS JOIN t ORDER BY params""".stripMargin),

    // Paged-attention KV block plan — vLLM's block-table accounting
    // (llm_kv_cache_plan budgets BYTES per band; this budgets BLOCKS and
    // the fragmentation paging exists to kill): block size 16 tokens,
    // per-doc blocks = ceil(len/16), internal fragmentation = last-block
    // waste, vs the naive contiguous allocator that reserves max-len for
    // every sequence. Per-lang rollup, savings in exact ppm.
    Op("llm_paged_kv_plan", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), expr("CAST(length(text) DIV 4 AS BIGINT)").as("toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").as("total_tokens"),
          sum(expr("(toks + 15) DIV 16")).as("paged_blocks"),
          max(expr("(toks + 15) DIV 16")).as("max_blocks"))
        .withColumn("frag_tokens", expr("paged_blocks * 16 - total_tokens"))
        .withColumn("naive_blocks", expr("max_blocks * n_docs"))
        .withColumn("saved_ppm", expr(
          "(naive_blocks - paged_blocks) * 1000000 DIV naive_blocks"))
        .orderBy("lang"),
      // Same 16-token blocks, same ceil and waste arithmetic.
      """WITH d AS (SELECT lang, CAST(length(text) // 4 AS BIGINT) AS toks
        |  FROM documents),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |    CAST(SUM((toks + 15) // 16) AS BIGINT) AS paged_blocks,
        |    CAST(MAX((toks + 15) // 16) AS BIGINT) AS max_blocks
        |  FROM d GROUP BY 1)
        |SELECT lang, n_docs, total_tokens, paged_blocks, max_blocks,
        |  paged_blocks * 16 - total_tokens AS frag_tokens,
        |  max_blocks * n_docs AS naive_blocks,
        |  (max_blocks * n_docs - paged_blocks) * 1000000
        |    // (max_blocks * n_docs) AS saved_ppm
        |FROM g ORDER BY lang""".stripMargin),

    // Embedding near-dup via signed-random-projection LSH — the
    // sub-quadratic path the exact sweeps (llm_dedup_embed*) hand over to
    // at corpus scale: `planes` sign bits per vector (one pass, planes·dim
    // flops, embarrassingly parallel), banded `bands`×`bits` so candidate
    // pairs come from a bucketed equi-join (one shuffle key per band —
    // NEVER an all-pairs product), then exact-cosine scoring of the
    // candidate set only. Output is the scored candidate set — every
    // banding collision with its exact cosine and an `is_dup` verdict at
    // the 0.45 threshold (precision 1 by construction: every emitted
    // verdict is exactly verified; LSH-as-candidate-generator is the
    // production shape — the dup threshold is downstream policy).
    // Recall economics of the default 8×16 geometry: p_band = (1 − θ/π)¹⁶,
    // OR over 8 bands — ≈1 for true near-dups (cos ≥ 0.99 → recall
    // ≈ 1−2e-9; cos 0.9 → ≈ 0.50), while BACKGROUND pairs at the 0.45
    // boundary of this near-random fixture almost never collide (that is
    // the point: selectivity at the boundary is what keeps buckets O(1)).
    // Planted-near-dup recall is asserted in LlmScaleSpec; the key
    // cardinality floor (≥2¹⁶) in PlanShapeSpec. The oracle replays the
    // identical algorithm — same md5-derived planes, same banding, same
    // scoring — in DuckDB SQL, so the op is fully hash-graded despite
    // being approximate.
    Op("llm_dedup_embed_lsh", (s, d) => {
      // `bands` bands × `bits` bits, little-endian per band, via the native
      // SrpBands expression — planes·dim primitive FMAs in one JIT'd loop.
      // (The HOF formulation was quadratic in planes: CollapseProject
      // inlines the bit-vector projection into the band-fold lambda and
      // recomputes every dot product per (band, bit) reference — measured
      // 10× the whole bench suite at 128 planes.)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val banded = e.select(col("vec_id"),
        posexplode(call_function("srp_bands", col("emb"), lit(LshPlanes), lit(LshBits)))
          .as(Seq("bidx", "bval")))
      val cand = banded.as("x").join(banded.as("y"),
          col("x.bidx") === col("y.bidx") && col("x.bval") === col("y.bval")
            && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b")).distinct()
      val en = e.select(col("vec_id"), col("emb"),
        sqrt(call_function("dot_product", col("emb"), col("emb"))).as("nrm"))
      cand
        .join(en.select(col("vec_id").as("a_id"), col("emb").as("emb_a"), col("nrm").as("nrm_a")),
          col("a") === col("a_id"))
        .join(en.select(col("vec_id").as("b_id"), col("emb").as("emb_b"), col("nrm").as("nrm_b")),
          col("b") === col("b_id"))
        .withColumn("cos", round(
          call_function("dot_product", col("emb_a"), col("emb_b"))
            / (col("nrm_a") * col("nrm_b")), 4))
        .withColumn("is_dup", col("cos") >= 0.45)
        .select("a", "b", "cos", "is_dup")
        .orderBy("a", "b")
    },
      // Identical algorithm replayed at the DEFAULT geometry (128 planes,
      // 8 bands × 16 bits): same md5-derived planes, same 4-dp rounded sign
      // bits, same banding, same exact candidate scoring.
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |pw AS (SELECT p, k,
         |    ((${duckMd5Bits("CAST(p AS VARCHAR) || ':' || CAST(k AS VARCHAR)", 8)} % 2001) - 1000) / 1000.0 AS w
         |  FROM generate_series(0, 127) t(p), generate_series(0, ${SrpDims - 1}) u(k)),
         |planes AS (SELECT p, list(w ORDER BY k) AS wv FROM pw GROUP BY p),
         |bits AS (SELECT vec_id, p,
         |    CASE WHEN ROUND(list_dot_product(emb, wv), 4) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM e, planes),
         |bands AS (SELECT vec_id, CAST(p // 16 AS INT) AS bidx,
         |    CAST(SUM(bit * (1 << CAST(p % 16 AS INT))) AS BIGINT) AS bval
         |  FROM bits GROUP BY vec_id, p // 16),
         |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.bidx = y.bidx AND x.bval = y.bval AND x.vec_id < y.vec_id),
         |en AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
         |SELECT a, b, ROUND(list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm), 4) AS cos,
         |  ROUND(list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm), 4) >= 0.45 AS is_dup
         |FROM cand JOIN en x ON a = x.vec_id JOIN en y ON b = y.vec_id
         |ORDER BY a, b""".stripMargin),

    // Pattern-based redaction — the PII-scrub stage of a corpus pipeline
    // (this synthetic corpus has no digits/emails, so the pattern is a
    // token denylist; the operator shape — global regexp_replace + match
    // accounting, one linear pass — is the production one).
    Op("llm_text_scrub", (s, d) => {
      // Column-API regexes only (an expr() string literal would eat the
      // \b as a backspace escape in the SQL parser)
      val pat = "\\b(key|hash|value)\\b"
      Tables.documents(s, d)
        .withColumn("scrubbed", regexp_replace(col("text"), pat, "<X>"))
        .select(col("doc_id"),
          regexp_count(col("text"), lit(pat)).as("n_redacted"),
          length(col("text")).as("len_before"),
          length(col("scrubbed")).as("len_after"),
          substring(col("scrubbed"), 1, 60).as("scrubbed_prefix"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(key|hash|value)\b')) AS INT) AS n_redacted,
        |  CAST(length(text) AS INT) AS len_before,
        |  CAST(length(regexp_replace(text, '\b(key|hash|value)\b', '<X>', 'g')) AS INT) AS len_after,
        |  substring(regexp_replace(text, '\b(key|hash|value)\b', '<X>', 'g'), 1, 60) AS scrubbed_prefix
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Per-LANGUAGE sequence packing: concatenate each language's docs in
    // doc_id order and cut the token stream every 2048 tokens; a doc's
    // bin is start_offset DIV capacity (integer arithmetic only — a
    // double division would round in DuckDB but truncate in Spark). One
    // window per language partition; the bucket-hash twin that shards
    // the stream key for 100 TB is llm_pack_sequences (LlmPrep). This
    // entry was silently shadowed by that twin's identical map key until
    // round 7 renamed it — both packings are graded now.
    Op("llm_pack_lang", (s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr(s"(cum - n_tokens) DIV $PackCapacity"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("bigint").as("bin_tokens"))
        .orderBy("lang", "bin")
    },
      """WITH t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY lang, (cum - n_tokens) // 2048 ORDER BY lang, bin""".stripMargin),

    // Character-level edit distance between adjacent-id doc pairs — the
    // EXACT verifier tier below the hash sketches (minhash/simhash prune
    // candidates; Levenshtein is what a curation pipeline runs on the
    // survivors when token Jaccard is too coarse, e.g. near-identical
    // boilerplate differing by numerals). Both engines implement the
    // classic Wagner–Fischer distance, so the scores hash-grade exactly;
    // similarity is the cross-multiplied integer 1000 − (1000·lev) DIV
    // max(len). 1-in-20 sampled pairs bound the O(len²) per-pair DP; at
    // corpus scale this op runs on LSH candidates, never all pairs.
    // Per-domain document cap — the balancing rule every web-scale
    // corpus applies (one hot domain must not swamp the mixture): keep
    // at most K=50 docs per source by the deterministic md5 priority
    // (the shared-randomness law — a fair lottery, not newest-first
    // bias), report kept/dropped/token counts per source. One window
    // rank per source partition; at 100 TB the per-key top-K shape is
    // exactly win_topk_per_group's.
    Op("llm_domain_cap", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("u", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("tok"),
          expr(md5Bits("cap", "doc_id", 8))
            .as("u"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") <= 50, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") > 50, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("rn") <= 50, col("tok")).otherwise(0L)).as("kept_tokens"))
        .orderBy("source")
    },
      // Same md5 lottery rank, same start-based budget cut.
      s"""WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    ${duckMd5Bits("cap", "doc_id", 8)} AS u
        |  FROM documents),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, doc_id) AS BIGINT) AS rn
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN rn > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN rn <= 50 THEN tok ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // Warmup-stable-decay LR schedule plan — the token-budget ledger a
    // training launch derives from the CORPUS (8% warmup / 80% stable /
    // 12% decay over total tokens, step = 4096-token batches): phase
    // boundaries by the start-based cut law, per-phase token and step
    // counts, and the tiling verdict (phases must partition the budget
    // exactly — an off-by-one here silently shifts every LR in the
    // run). Pure integer planning over one corpus-total scalar.
    Op("llm_lr_schedule_plan", (s, d) => {
      val total = Tables.documents(s, d)
        .agg(coalesce(sum(size(split(col("text"), " ")).cast("decimal(38,0)"))
          .cast("bigint"), lit(0L))).head.getLong(0)
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      val b1 = total * 8 / 100
      val b2 = total * 88 / 100
      classic.createDataset(Seq(
          ("1_warmup", 0L, b1), ("2_stable", b1, b2), ("3_decay", b2, total)))
        .toDF("phase", "start_tok", "end_tok")
        .withColumn("phase_tokens", col("end_tok") - col("start_tok"))
        .withColumn("n_steps", expr("(phase_tokens + 4095) DIV 4096"))
        .withColumn("share_ppm", expr(s"(phase_tokens * 1000000) DIV ${total}L"))
        .orderBy("phase")
    },
      // Same corpus total, same start-based boundaries, same ceil steps.
      """WITH tt AS (SELECT CAST(SUM(CAST(len(string_split(text, ' ')) AS HUGEINT)) AS BIGINT)
        |    AS total FROM documents),
        |p AS (SELECT '1_warmup' AS phase, CAST(0 AS BIGINT) AS start_tok,
        |    total * 8 // 100 AS end_tok FROM tt
        |  UNION ALL SELECT '2_stable', total * 8 // 100, total * 88 // 100 FROM tt
        |  UNION ALL SELECT '3_decay', total * 88 // 100, total FROM tt)
        |SELECT phase, start_tok, end_tok,
        |  end_tok - start_tok AS phase_tokens,
        |  (end_tok - start_tok + 4095) // 4096 AS n_steps,
        |  ((end_tok - start_tok) * 1000000) // (SELECT total FROM tt) AS share_ppm
        |FROM p ORDER BY phase""".stripMargin),

    // Sliding-window attention savings — the memory case for SWA next
    // to llm_attention_block_savings' packing case: causal-full cells =
    // L(L+1)/2, sliding-window cells = w(w+1)/2 + (L−w)·w for L ≥ w
    // (else the full triangle), both CLOSED-FORM integers per doc —
    // no per-position explode — rolled up per length band with exact
    // savings ppm. w = 128 whitespace tokens.
    Op("llm_swa_savings", (s, d) =>
      Tables.documents(s, d)
        .select(size(split(col("text"), " ")).cast("bigint").as("len"))
        .withColumn("full_cells", expr("(len * (len + 1)) DIV 2"))
        .withColumn("swa_cells", expr(
          "CASE WHEN len <= 128 THEN (len * (len + 1)) DIV 2 ELSE (128 * 129) DIV 2 + (len - 128) * 128 END"))
        .withColumn("band", expr("len DIV 64"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("full_cells").cast("decimal(38,0)")).cast("bigint").as("full_total"),
          sum(col("swa_cells").cast("decimal(38,0)")).cast("bigint").as("swa_total"))
        .withColumn("savings_ppm",
          expr("((full_total - swa_total) * 1000000) DIV full_total"))
        .orderBy("band"),
      // Same closed forms, same bands, same exact ppm.
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |  FROM documents),
        |c AS (SELECT len, (len * (len + 1)) // 2 AS full_cells,
        |    CASE WHEN len <= 128 THEN (len * (len + 1)) // 2
        |      ELSE (128 * 129) // 2 + (len - 128) * 128 END AS swa_cells,
        |    len // 64 AS band
        |  FROM t)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(full_cells::HUGEINT) AS BIGINT) AS full_total,
        |  CAST(SUM(swa_cells::HUGEINT) AS BIGINT) AS swa_total,
        |  ((CAST(SUM(full_cells::HUGEINT) AS BIGINT) - CAST(SUM(swa_cells::HUGEINT) AS BIGINT)) * 1000000)
        |    // CAST(SUM(full_cells::HUGEINT) AS BIGINT) AS savings_ppm
        |FROM c GROUP BY band ORDER BY band""".stripMargin),

    // MoE router load-balance audit — the expert-utilization report a
    // mixture-of-experts trainer watches (a collapsed router starves
    // experts and wastes capacity): routing from the md5 draw with a
    // PLANTED hot expert (40% direct + uniform residue to expert 0),
    // per-expert counts, and the imbalance factor k·Σc²/(Σc)² — exactly
    // 1 when uniform, k when collapsed — in exact ppm via HUGEINT /
    // DECIMAL(38,0) cross-multiplication; flag at 1.5×.
    Op("llm_moe_balance", (s, d) => {
      val route = expr(
        s"""CASE WHEN ${md5Bits("rt", "doc_id", 8)} % 100 < 40
          THEN CAST(0 AS BIGINT)
          ELSE (${md5Bits("rt", "doc_id", 8)} DIV 100) % 8 END""")
      val c = Tables.documents(s, d)
        .select(route.as("expert"))
        .groupBy("expert").agg(count(lit(1)).as("c"))
      c.agg(count(lit(1)).as("k"),
          sum("c").cast("bigint").as("n"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).cast("bigint").as("sq"),
          max("c").as("max_c"))
        .withColumn("imbalance_ppm", expr(
          "CAST(CAST(k AS DECIMAL(38,0)) * sq * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
        .withColumn("collapsed", col("imbalance_ppm") > 1500000L)
    },
      // Same planted routing, same cross-multiplied imbalance factor.
      s"""WITH t AS (SELECT CASE
        |    WHEN ${duckMd5Bits("rt", "doc_id", 8)} % 100 < 40
        |    THEN CAST(0 AS BIGINT)
        |    ELSE (${duckMd5Bits("rt", "doc_id", 8)} // 100) % 8 END
        |      AS expert
        |  FROM documents),
        |c AS (SELECT expert, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY expert),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(c::HUGEINT * c) AS BIGINT) AS sq, MAX(c) AS max_c
        |  FROM c)
        |SELECT k, n, sq, max_c,
        |  CAST((k::HUGEINT * sq * 1000000) // (n::HUGEINT * n) AS BIGINT) AS imbalance_ppm,
        |  CAST((k::HUGEINT * sq * 1000000) // (n::HUGEINT * n) AS BIGINT) > 1500000
        |    AS collapsed
        |FROM m""".stripMargin),

    // Mean reciprocal rank — retrieval's headline metric, scored as an
    // EXACT RATIONAL: every rank divides lcm(1..20) = 232792560, so
    // MRR = Σ(LCM DIV rank) over LCM·n needs no floats at all. Probes
    // are 20-doc groups, the relevant doc is the group's min md5('rel')
    // draw, its rank comes from the per-group score ordering — real
    // window mechanics under an eval metric that usually gets computed
    // sloppily in doubles.
    Op("llm_retrieval_mrr", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy(desc("score"), col("doc_id"))
      val wRel = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy(col("rel"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), expr("doc_id DIV 20").as("grp"),
          expr(md5Bits("sc", "doc_id", 8))
            .as("score"),
          expr(md5Bits("rel", "doc_id", 8))
            .as("rel"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .withColumn("rel_rn", row_number().over(wRel))
        .where(col("rel_rn") === 1)
        .agg(count(lit(1)).as("n_probes"),
          sum(expr("232792560 DIV rnk")).as("mrr_num"),
          sum(when(col("rnk") === 1, 1L).otherwise(0L)).as("n_at_1"),
          sum(when(col("rnk") <= 5, 1L).otherwise(0L)).as("n_at_5"))
        .withColumn("mrr_ppm",
          expr("(mrr_num * 1000000) DIV (232792560 * n_probes)"))
        .withColumn("hit_at_5_ppm", expr("(n_at_5 * 1000000) DIV n_probes"))
    },
      // Same group construction, same LCM-exact reciprocal ranks.
      s"""WITH t AS (SELECT doc_id, doc_id // 20 AS grp,
        |    ${duckMd5Bits("sc", "doc_id", 8)} AS score,
        |    ${duckMd5Bits("rel", "doc_id", 8)} AS rel
        |  FROM documents),
        |r AS (SELECT *,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY rel, doc_id) AS rel_rn
        |  FROM t),
        |p AS (SELECT grp, rnk FROM r WHERE rel_rn = 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
        |    CAST(SUM(232792560 // rnk) AS BIGINT) AS mrr_num,
        |    CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_1,
        |    CAST(SUM(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_5
        |  FROM p)
        |SELECT n_probes, mrr_num, n_at_1, n_at_5,
        |  (mrr_num * 1000000) // (232792560 * n_probes) AS mrr_ppm,
        |  (n_at_5 * 1000000) // n_probes AS hit_at_5_ppm
        |FROM m""".stripMargin),

    // Fill-in-the-middle transform — the code-model pretraining
    // permutation (PSM: <PRE>prefix<SUF>suffix<MID>middle): two md5 cut
    // points split each doc, the rendered string reorders the three
    // spans with marker tokens, and the graded artifact is the span
    // arithmetic + md5 fingerprint (an off-by-one in either cut
    // scrambles training targets silently — the hash catches it).
    // Conservation: rendered length = len + 15 marker chars.
    Op("llm_fim_transform", (s, d) => {
      Tables.documents(s, d).where(col("doc_id") % 6 === 2)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("bigint").as("len"))
        .withColumn("cut1", expr(s"(len * (${md5Bits("f1", "doc_id", 8)} % 500)) DIV 1000"))
        .withColumn("cut2", expr(s"cut1 + (len * (${md5Bits("f2", "doc_id", 8)} % 400)) DIV 1000"))
        .withColumn("rendered", expr(
          """concat('<PRE>', substring(text, 1, CAST(cut1 AS INT)),
             '<SUF>', substring(text, CAST(cut2 AS INT) + 1),
             '<MID>', substring(text, CAST(cut1 AS INT) + 1, CAST(cut2 - cut1 AS INT)))"""))
        .select(col("doc_id"), col("len"), col("cut1"), col("cut2"),
          length(col("rendered")).cast("bigint").as("total_len"),
          (length(col("rendered")).cast("bigint") === col("len") + 15)
            .as("conserved"),
          md5(col("rendered")).as("render_md5"))
        .orderBy("doc_id")
    },
      // Same cuts, same PSM ordering, same conservation law.
      s"""WITH t AS (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS len,
        |    ${duckMd5Bits("f1", "doc_id", 8)} % 500 AS u1,
        |    ${duckMd5Bits("f2", "doc_id", 8)} % 400 AS u2
        |  FROM documents WHERE doc_id % 6 = 2),
        |c AS (SELECT doc_id, text, len,
        |    (len * u1) // 1000 AS cut1,
        |    (len * u1) // 1000 + (len * u2) // 1000 AS cut2
        |  FROM t),
        |r AS (SELECT doc_id, len, cut1, cut2,
        |    '<PRE>' || substring(text, 1, CAST(cut1 AS INT))
        |    || '<SUF>' || substring(text, CAST(cut2 AS INT) + 1)
        |    || '<MID>' || substring(text, CAST(cut1 AS INT) + 1, CAST(cut2 - cut1 AS INT))
        |      AS rendered
        |  FROM c)
        |SELECT doc_id, len, cut1, cut2,
        |  CAST(length(rendered) AS BIGINT) AS total_len,
        |  CAST(length(rendered) AS BIGINT) = len + 15 AS conserved,
        |  md5(rendered) AS render_md5
        |FROM r ORDER BY doc_id""".stripMargin),

    // Prefix-cache planning — the serving-cost analysis behind prompt
    // caching (shared prefixes are computed once and reused; the plan
    // quantifies how much): prompts grouped by their leading 16 chars,
    // hits = group size − 1, saved chars = hits × prefix length, and
    // the headline savings share in exact ppm of total prompt chars.
    // One groupBy on the prefix key — at serving scale this IS the
    // radix layer of the prefix tree.
    Op("llm_prefix_cache_plan", (s, d) => {
      val t = Tables.documents(s, d)
        .select(expr("substring(text, 1, 16)").as("prefix"),
          length(col("text")).cast("bigint").as("chars"))
      val g = t.groupBy("prefix")
        .agg(count(lit(1)).as("n"), sum("chars").as("grp_chars"))
      g.agg(sum("n").cast("bigint").as("total_prompts"),
          count(lit(1)).as("n_groups"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_shared_groups"),
          sum(expr("(n - 1) * 16").cast("decimal(38,0)")).cast("bigint")
            .as("saved_chars"),
          sum(col("grp_chars").cast("decimal(38,0)")).cast("bigint")
            .as("total_chars"))
        .withColumn("savings_ppm",
          expr("(saved_chars * 1000000) DIV total_chars"))
    },
      // Same 16-char radix grouping, same savings accounting.
      """WITH t AS (SELECT substring(text, 1, 16) AS prefix,
        |    CAST(length(text) AS BIGINT) AS chars
        |  FROM documents),
        |g AS (SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(chars) AS BIGINT) AS grp_chars
        |  FROM t GROUP BY prefix),
        |m AS (SELECT CAST(SUM(n) AS BIGINT) AS total_prompts,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_groups,
        |    CAST(SUM((n - 1) * 16)::HUGEINT AS BIGINT) AS saved_chars,
        |    CAST(SUM(grp_chars::HUGEINT) AS BIGINT) AS total_chars
        |  FROM g)
        |SELECT total_prompts, n_groups, n_shared_groups, saved_chars, total_chars,
        |  (saved_chars * 1000000) // total_chars AS savings_ppm
        |FROM m""".stripMargin),

    // Dedup-tier sensitivity audit — planted mutations with KNOWN edit
    // distance probe the fuzzy tier the way llm_canary_audit probes the
    // contamination screen: each sampled doc spawns a NEAR mutant (3
    // leading chars replaced — distance exactly 3) and a FAR mutant (32
    // chars of md5 splice — distance ≫ threshold), the levenshtein ≤ 5
    // rule must flag ALL near and NO far pairs; sensitivity and
    // specificity graded in exact ppm. A screen that fails either tail
    // is mistuned, and this op catches the retune.
    Op("llm_dedup_sensitivity", (s, d) => {
      val base = Tables.documents(s, d).where(col("doc_id") % 100 === 3)
        .select(col("doc_id"), col("text"))
        .where(length(col("text")) >= 40)
      val pairs = base
        .withColumn("near", concat(lit("ZZZ"), expr("substring(text, 4)")))
        .withColumn("far", concat(md5(col("text")), expr("substring(text, 33)")))
      pairs
        .select(col("doc_id"),
          levenshtein(col("text"), col("near")).cast("bigint").as("lev_near"),
          levenshtein(col("text"), col("far")).cast("bigint").as("lev_far"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("lev_near") <= 5, 1L).otherwise(0L)).as("near_flagged"),
          sum(when(col("lev_far") <= 5, 1L).otherwise(0L)).as("far_flagged"))
        .withColumn("sensitivity_ppm",
          expr("(near_flagged * 1000000) DIV n_pairs"))
        .withColumn("specificity_ppm",
          expr("((n_pairs - far_flagged) * 1000000) DIV n_pairs"))
    },
      // Same planted mutants, same Wagner–Fischer distance, same rule.
      """WITH b AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 100 = 3 AND length(text) >= 40),
        |p AS (SELECT doc_id,
        |    CAST(levenshtein(text, 'ZZZ' || substring(text, 4)) AS BIGINT) AS lev_near,
        |    CAST(levenshtein(text, md5(text) || substring(text, 33)) AS BIGINT) AS lev_far
        |  FROM b),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN lev_near <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS near_flagged,
        |    CAST(SUM(CASE WHEN lev_far <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS far_flagged
        |  FROM p)
        |SELECT n_pairs, near_flagged, far_flagged,
        |  (near_flagged * 1000000) // n_pairs AS sensitivity_ppm,
        |  ((n_pairs - far_flagged) * 1000000) // n_pairs AS specificity_ppm
        |FROM m""".stripMargin),

    // Needle-in-a-haystack eval-data generator — the long-context probe
    // set (needle planted at controlled DEPTH fractions; retrieval
    // quality is then measured per depth): context = doc text, needle
    // spliced at depth d/10 of the CHARACTER length, d from the md5
    // draw; the graded artifact is the span arithmetic every scorer
    // depends on (needle offset = (len·d) DIV 10, total length
    // conserves, per-depth sample counts balanced-ish). Pure projection.
    Op("llm_needle_gen", (s, d) => {
      val needle = "THE-NEEDLE-7391"
      Tables.documents(s, d).where(col("doc_id") % 8 === 1)
        .select(col("doc_id"), col("text"),
          expr(s"${md5Bits("nd", "doc_id", 8)} % 11")
            .as("depth"))
        .withColumn("len", length(col("text")).cast("bigint"))
        .withColumn("off", expr("(len * depth) DIV 10"))
        .withColumn("stuffed",
          expr(s"concat(substring(text, 1, CAST(off AS INT)), '$needle', substring(text, CAST(off AS INT) + 1))"))
        .groupBy("depth")
        .agg(count(lit(1)).as("n_samples"),
          sum(length(col("stuffed")).cast("bigint") - col("len")).as("delta_len"),
          min("off").as("min_off"), max("off").as("max_off"))
        .withColumn("len_conserved",
          col("delta_len") === col("n_samples") * needle.length)
        .orderBy("depth")
    },
      // Same depth draw, same splice arithmetic, same conservation law.
      s"""WITH t AS (SELECT doc_id, text,
        |    ${duckMd5Bits("nd", "doc_id", 8)} % 11 AS depth,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 8 = 1),
        |s AS (SELECT *, (len * depth) // 10 AS off,
        |    substring(text, 1, CAST((len * depth) // 10 AS INT)) || 'THE-NEEDLE-7391'
        |      || substring(text, CAST((len * depth) // 10 AS INT) + 1) AS stuffed
        |  FROM t)
        |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(CAST(length(stuffed) AS BIGINT) - len) AS BIGINT) AS delta_len,
        |  MIN(off) AS min_off, MAX(off) AS max_off,
        |  CAST(SUM(CAST(length(stuffed) AS BIGINT) - len) AS BIGINT)
        |    = CAST(COUNT(*) AS BIGINT) * 15 AS len_conserved
        |FROM s GROUP BY depth ORDER BY depth""".stripMargin),

    // Canary audit — the CONTROLLED test of the contamination pipeline
    // (a screen that can't find planted canaries can't be trusted on
    // real leakage): 20 canaries with unique md5 marker tokens are
    // UNIONED into the corpus, and the same substring detection the
    // contamination ops use must find each EXACTLY once (its own
    // planted copy — twice would mean a collision, zero a broken
    // screen). Recall graded in exact ppm.
    Op("llm_canary_audit", (s, d) => {
      val canaries = Tables.nation(s, d).where(col("n_nationkey") < 20)
        .select(col("n_nationkey").cast("bigint").as("ck"),
          expr("md5(concat('cn:', CAST(n_nationkey AS STRING)))").as("marker"))
        .withColumn("ctext", concat(lit("canary marker "), col("marker")))
      val corpus = Tables.documents(s, d).select(col("text"))
        .unionByName(canaries.select(col("ctext").as("text")))
      val hits = canaries.crossJoin(corpus)
        .where(expr("position(marker IN text) > 0"))
        .groupBy("ck").agg(count(lit(1)).as("n_hits"))
      canaries.select("ck").join(hits, Seq("ck"), "left")
        .select(col("ck"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .agg(count(lit(1)).as("n_canaries"),
          sum(when(col("n_hits") === 1, 1L).otherwise(0L)).as("n_found_once"),
          max("n_hits").as("max_hits"))
        .withColumn("recall_ppm",
          expr("(n_found_once * 1000000) DIV n_canaries"))
    },
      // Same planted markers, same substring detection, same exact recall.
      """WITH can AS (SELECT CAST(n_nationkey AS BIGINT) AS ck,
        |    md5('cn:' || CAST(n_nationkey AS VARCHAR)) AS marker
        |  FROM nation WHERE n_nationkey < 20),
        |corpus AS (SELECT text FROM documents
        |  UNION ALL SELECT 'canary marker ' || marker FROM can),
        |h AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM can, corpus WHERE position(marker IN text) > 0 GROUP BY ck),
        |f AS (SELECT can.ck, COALESCE(h.n_hits, 0) AS n_hits
        |  FROM can LEFT JOIN h ON h.ck = can.ck),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_canaries,
        |    CAST(SUM(CASE WHEN n_hits = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_found_once,
        |    CAST(MAX(n_hits) AS BIGINT) AS max_hits
        |  FROM f)
        |SELECT n_canaries, n_found_once, max_hits,
        |  (n_found_once * 1000000) // n_canaries AS recall_ppm
        |FROM m""".stripMargin),

    // Reciprocal-rank fusion — the standard zero-tuning way to merge a
    // lexical and a semantic ranking (BM25 meets embeddings): RRF(d) =
    // Σ 1/(60+rank_i), computed as the DETERMINISTIC integer surrogate
    // 10⁹ DIV (60+r) summed over both rankings (the exact-rational
    // ordering at this scale — documented engine contract, no float
    // sums). Two rank windows over one sampled doc set, top-10 fused by
    // (score, id) total order.
    Op("llm_rrf_fusion", (s, d) => {
      // both rank windows are the two-level banded row_number (the
      // agg_ks_test law): lex ∈ [0, 1000] partitions on its own bounded
      // value (DESC), semv is uniform 32-bit banded by DIV 2²⁴ — band
      // offsets + per-band partitioned row_number, no global sort at any
      // scale; the fused top-10 stays an ordered limit. The sampled base
      // is checkpointed once (three consumers: two band prefixes + the
      // ranked pass).
      val t = Tables.documents(s, d).where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("toks"),
          size(array_distinct(split(col("text"), " "))).cast("bigint").as("uniq"),
          expr(md5Bits("sem", "doc_id", 8))
            .as("semv"))
        .withColumn("lex", expr("(uniq * 1000) DIV toks"))
        .withColumn("bsem", expr("semv DIV 16777216"))
        .localCheckpoint()
      val off1 = t.groupBy(col("lex").as("b1")).agg(count(lit(1)).as("bc"))
        .withColumn("off1", coalesce(sum("bc").over(
          Window.orderBy(desc("b1")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("b1", "off1")
      val off2 = t.groupBy(col("bsem").as("b2")).agg(count(lit(1)).as("bc"))
        .withColumn("off2", coalesce(sum("bc").over(
          Window.orderBy("b2").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("b2", "off2")
      t.join(broadcast(off1), col("lex") === col("b1"))
        .withColumn("r1", col("off1") + row_number().over(
          Window.partitionBy("lex").orderBy("doc_id")).cast("bigint"))
        .join(broadcast(off2), col("bsem") === col("b2"))
        .withColumn("r2", col("off2") + row_number().over(
          Window.partitionBy("bsem").orderBy("semv", "doc_id")).cast("bigint"))
        .withColumn("rrf_scaled",
          expr("1000000000 DIV (60 + r1) + 1000000000 DIV (60 + r2)"))
        .orderBy(desc("rrf_scaled"), col("doc_id"))
        .limit(10)
        .select("doc_id", "r1", "r2", "rrf_scaled")
    },
      // Same two rank windows, same integer RRF surrogate, same top-10.
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq,
        |    ${duckMd5Bits("sem", "doc_id", 8)} AS semv
        |  FROM documents WHERE doc_id % 5 = 0),
        |l AS (SELECT *, (uniq * 1000) // toks AS lex FROM t),
        |r AS (SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY lex DESC, doc_id) AS BIGINT) AS r1,
        |    CAST(ROW_NUMBER() OVER (ORDER BY semv, doc_id) AS BIGINT) AS r2
        |  FROM l)
        |SELECT doc_id, r1, r2,
        |  1000000000 // (60 + r1) + 1000000000 // (60 + r2) AS rrf_scaled
        |FROM r
        |ORDER BY rrf_scaled DESC, doc_id LIMIT 10""".stripMargin),

    // EM / F1 answer-overlap eval — the SQuAD-style scoring every QA
    // eval harness runs: predictions and golds are the leading 30-token
    // windows of paired docs, EM is exact string equality, and the
    // token-set F1 = 2·|∩|/(|P|+|G|) is an EXACT rational in ppm (the
    // harmonic mean of set precision/recall clears to one division —
    // no floats). Set semantics (distinct tokens) declared, not
    // multiset — the variant most eval stacks actually implement.
    Op("llm_em_f1_eval", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          array_distinct(slice(split(col("text"), " "), 1, 30)).as("toks"))
      docs.as("a").where(col("doc_id") % 20 === 9)
        .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pair_id"),
          (col("a.text") === col("b.text")).as("exact_match"),
          size(col("a.toks")).cast("bigint").as("n_pred"),
          size(col("b.toks")).cast("bigint").as("n_gold"),
          size(array_intersect(col("a.toks"), col("b.toks"))).cast("bigint")
            .as("overlap"))
        .withColumn("f1_ppm",
          expr("(2 * overlap * 1000000) DIV (n_pred + n_gold)"))
        .orderBy("pair_id")
    },
      // Same 30-token distinct windows, same cleared harmonic mean.
      """WITH t AS (SELECT doc_id, text,
        |    list_distinct(string_split(text, ' ')[1:30]) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS pair_id,
        |  a.text = b.text AS exact_match,
        |  CAST(len(a.toks) AS BIGINT) AS n_pred,
        |  CAST(len(b.toks) AS BIGINT) AS n_gold,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS overlap,
        |  (2 * CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) * 1000000)
        |    // (CAST(len(a.toks) AS BIGINT) + CAST(len(b.toks) AS BIGINT)) AS f1_ppm
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 20 = 9
        |ORDER BY pair_id""".stripMargin),

    // Speculative-decoding acceptance audit — the serving-side planner
    // for draft models (speedup = E[accepted run] + 1, and the whole
    // scheme stalls if acceptance collapses): per task, K=8 draft/target
    // token draws from two independent md5 streams, the accepted run =
    // positions before the FIRST mismatch (exactly speculative
    // decoding's stop rule — later matches don't count). First-mismatch
    // via array_position with a shared NULL/0-absent CASE (Spark returns
    // 0, DuckDB NULL — one CASE covers both). Histogram over run
    // lengths; mean in exact milli.
    Op("llm_spec_decode_accept", (s, d) => {
      def draw(ns: String) =
        s"${md5Bits(s"concat('$ns:', CAST(doc_id AS STRING), ':', CAST(k AS STRING))", 8)} % 4"
      Tables.documents(s, d).where(col("doc_id") % 10 === 7)
        .select(col("doc_id"),
          expr(s"""transform(sequence(0, 7), k -> (${draw("draft")}) = (${draw("tgt")}))""")
            .as("matches"))
        .withColumn("pos", expr("array_position(matches, false)"))
        .withColumn("accepted",
          expr("CAST(CASE WHEN pos IS NULL OR pos = 0 THEN 8 ELSE pos - 1 END AS BIGINT)"))
        .groupBy("accepted")
        .agg(count(lit(1)).as("n_tasks"))
        .orderBy("accepted")
    },
      // Same two md5 streams, same first-mismatch CASE.
      s"""WITH t AS (SELECT doc_id,
        |    list_transform(range(0, 8), k ->
        |      ${duckMd5Bits("'draft:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)", 8)} % 4
        |      = ${duckMd5Bits("'tgt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)", 8)} % 4)
        |      AS matches
        |  FROM documents WHERE doc_id % 10 = 7),
        |p AS (SELECT doc_id, list_position(matches, false) AS pos FROM t),
        |a AS (SELECT CAST(CASE WHEN pos IS NULL OR pos = 0 THEN 8 ELSE pos - 1 END AS BIGINT)
        |    AS accepted FROM p)
        |SELECT accepted, CAST(COUNT(*) AS BIGINT) AS n_tasks
        |FROM a GROUP BY accepted ORDER BY accepted""".stripMargin),

    // GRPO group-relative advantage — the policy-gradient baseline the
    // current RLHF wave standardizes on (no value network; each prompt's
    // n=8 sampled rewards are baselined against their OWN group mean):
    // adv·n stays integer via the cross-multiplied form r·n − Σr, and
    // the milli advantage divides sign-safely (negative advantages are
    // the POINT). Per-group accounting: above-mean count + extreme
    // advantages; Σadv·n ≡ 0 is the identity the spec asserts.
    Op("llm_grpo_advantage", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr("doc_id DIV 8").as("grp"),
          expr(s"${md5Bits("rw", "doc_id", 8)} % 1000")
            .as("r"))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("grp")))
        .withColumn("sr", sum("r").over(
          org.apache.spark.sql.expressions.Window.partitionBy("grp")))
        .withColumn("adv_x_n", col("r") * col("n") - col("sr"))
        .withColumn("adv_milli",
          expr("""CASE WHEN adv_x_n >= 0 THEN (adv_x_n * 1000) DIV n
                 ELSE -(((0 - adv_x_n) * 1000) DIV n) END"""))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_samples"),
          sum(when(col("adv_x_n") > 0, 1L).otherwise(0L)).as("n_above_mean"),
          max("adv_milli").as("max_adv_milli"),
          min("adv_milli").as("min_adv_milli"),
          sum("adv_x_n").as("sum_adv_x_n"))
        .where(col("grp") % 25 === 3)
        .orderBy("grp"),
      // Same cross-multiplied advantages, same sign-safe milli division.
      s"""WITH t AS (SELECT doc_id, doc_id // 8 AS grp,
        |    ${duckMd5Bits("rw", "doc_id", 8)} % 1000 AS r
        |  FROM documents),
        |w AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n,
        |    CAST(SUM(r) OVER (PARTITION BY grp) AS BIGINT) AS sr
        |  FROM t),
        |a AS (SELECT *, r * n - sr AS adv_x_n,
        |    CASE WHEN r * n - sr >= 0 THEN ((r * n - sr) * 1000) // n
        |      ELSE -(((0 - (r * n - sr)) * 1000) // n) END AS adv_milli
        |  FROM w)
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(CASE WHEN adv_x_n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_mean,
        |  MAX(adv_milli) AS max_adv_milli, MIN(adv_milli) AS min_adv_milli,
        |  CAST(SUM(adv_x_n) AS BIGINT) AS sum_adv_x_n
        |FROM a GROUP BY grp HAVING grp % 25 = 3 ORDER BY grp""".stripMargin),

    // pass@k eval estimator — the UNBIASED combinatorial estimator
    // 1 − C(n−c, k)/C(n,k) (Codex/HumanEval's formula; the naive
    // "any of k sampled" resamples with bias): n=10 attempts per task,
    // c correct from the md5 draw, k=5, scored EXACTLY in ppm because
    // every binomial here is a small integer (C(10,5)=252, C(10−c,5)
    // a 6-entry lookup) — no floating combinatorics, no drift. Rolled
    // up per correct-count c so every branch of the estimator is graded.
    Op("llm_pass_at_k", (s, d) => {
      val binom = "CASE 10 - c WHEN 10 THEN 252 WHEN 9 THEN 126 WHEN 8 THEN 56" +
        " WHEN 7 THEN 21 WHEN 6 THEN 6 WHEN 5 THEN 1 ELSE 0 END"
      Tables.documents(s, d).where(col("doc_id") % 20 === 5)
        .select(col("doc_id"),
          expr(s"${md5Bits("pass", "doc_id", 8)} % 11")
            .as("c"))
        .withColumn("pass_at_5_ppm",
          expr(s"((252 - ($binom)) * 1000000) DIV 252"))
        .groupBy("c", "pass_at_5_ppm")
        .agg(count(lit(1)).as("n_tasks"))
        .orderBy("c")
    },
      // Same md5 draw, same 6-entry binomial lookup, same exact ppm.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("pass", "doc_id", 8)} % 11 AS c
        |  FROM documents WHERE doc_id % 20 = 5),
        |p AS (SELECT c,
        |    CAST(((252 - (CASE 10 - c WHEN 10 THEN 252 WHEN 9 THEN 126 WHEN 8 THEN 56
        |      WHEN 7 THEN 21 WHEN 6 THEN 6 WHEN 5 THEN 1 ELSE 0 END)) * 1000000) // 252
        |      AS BIGINT) AS pass_at_5_ppm
        |  FROM t)
        |SELECT c, pass_at_5_ppm, CAST(COUNT(*) AS BIGINT) AS n_tasks
        |FROM p GROUP BY 1, 2 ORDER BY c""".stripMargin),

    // Token-budget split — train/val/test cut by TOKEN share (80/10/10),
    // not doc count (a doc-count split skews when length correlates with
    // source): docs ordered by the md5 lottery, split assigned by the
    // START of each doc's cumulative token span (the same start-based
    // law as llm_pack_sequences), per-split doc/token totals + exact-ppm
    // share. Global cum window at fixture scale; the 100 TB shape
    // hash-prefix-shards the order exactly like llm_sample_split.
    Op("llm_token_budget_split", (s, d) => {
      // the lottery-order token cumsum is the two-level banded form (the
      // agg_ks_test law): u is uniform 32-bit, so DIV 2²⁴ gives ≤ 256
      // even bands — per-band token-mass offsets (one bounded serial
      // window) + per-band partitioned cumsum, no global sort at any
      // scale.
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("tok"),
          expr(md5Bits("split", "doc_id", 8))
            .as("u"))
        .withColumn("bkt", expr("u DIV 16777216"))
      val total = t.agg(coalesce(
          sum(col("tok").cast("decimal(38,0)")).cast("bigint"), lit(0L)))
        .head.getLong(0)
      val off = t.groupBy("bkt").agg(sum("tok").as("bs"))
        .withColumn("off", coalesce(sum("bs").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      val wIn = Window.partitionBy("bkt").orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.join(broadcast(off), "bkt")
        .withColumn("cum", col("off") + sum("tok").over(wIn))
        .withColumn("split",
          expr(s"""CASE WHEN (cum - tok) * 10 < ${total}L * 8 THEN 'train'
                  WHEN (cum - tok) * 10 < ${total}L * 9 THEN 'val'
                  ELSE 'test' END"""))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok").cast("decimal(38,0)")).cast("bigint").as("tokens"))
        .withColumn("share_ppm", expr(s"(tokens * 1000000) DIV ${total}L"))
        .orderBy("split")
    },
      // Same lottery order, same start-based 80/10/10 cut, same exact ppm.
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    ${duckMd5Bits("split", "doc_id", 8)} AS u
        |  FROM documents),
        |tt AS (SELECT CAST(SUM(tok::HUGEINT) AS BIGINT) AS total FROM t),
        |c AS (SELECT doc_id, tok,
        |    CAST(SUM(tok) OVER (ORDER BY u, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t),
        |sp AS (SELECT doc_id, tok,
        |    CASE WHEN (cum - tok) * 10 < total * 8 THEN 'train'
        |      WHEN (cum - tok) * 10 < total * 9 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM c, tt)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tok::HUGEINT) AS BIGINT) AS tokens,
        |  (CAST(SUM(tok::HUGEINT) AS BIGINT) * 1000000) // (SELECT total FROM tt)
        |    AS share_ppm
        |FROM sp GROUP BY split ORDER BY split""".stripMargin),

    // Word-pair PMI / lift — the collocation statistic a corpus
    // curation stack uses to mine salient phrases: for word pairs
    // co-occurring in documents, lift = P(x,y)/(P(x)P(y)) scored as
    // EXACT integer ppm (N·c(x,y)·10⁶ DIV c(x)·c(y), products in
    // DECIMAL(38,0)/HUGEINT — PMI's log is monotone in lift, so ranking
    // by lift IS ranking by PMI with zero transcendentals). Quadratic
    // pair blowup bounded by the df band [20, 200] (the dfCap law: stop
    // words excluded above, noise below) before the per-doc self-join;
    // top-50 by (lift, pair) total order.
    Op("llm_word_pmi", (s, d) => {
      val docWords = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 3)
        .distinct()
      val df = docWords.groupBy("w").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 5 && col("cnt") <= 1000)
      val kept = docWords.join(df, "w").select("doc_id", "w", "cnt")
        .localCheckpoint()
      val n = Tables.documents(s, d).count()
      kept.as("a")
        .join(kept.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("w1"), col("b.w").as("w2"),
          col("a.cnt").as("c1"), col("b.cnt").as("c2"))
        .agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 5)
        .withColumn("lift_ppm",
          expr(s"CAST(CAST($n AS DECIMAL(38,0)) * cxy * 1000000 DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"))
        .orderBy(desc("lift_ppm"), col("w1"), col("w2"))
        .limit(50)
        .select("w1", "w2", "c1", "c2", "cxy", "lift_ppm")
    },
      // Same df band, same per-doc pair join, same HUGEINT lift.
      """WITH dw AS (SELECT DISTINCT doc_id, w
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 3),
        |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM dw GROUP BY w
        |  HAVING COUNT(*) BETWEEN 5 AND 1000),
        |kept AS (SELECT dw.doc_id, dw.w, df.cnt FROM dw JOIN df ON dw.w = df.w),
        |p AS (SELECT a.w AS w1, b.w AS w2, a.cnt AS c1, b.cnt AS c2,
        |    CAST(COUNT(*) AS BIGINT) AS cxy
        |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.w < b.w
        |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, c1, c2, cxy,
        |  CAST(((SELECT COUNT(*) FROM documents)::HUGEINT * cxy * 1000000)
        |    // (c1::HUGEINT * c2) AS BIGINT) AS lift_ppm
        |FROM p
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""".stripMargin),

    // Prompt-injection screen — the corpus-defense pass run before
    // documents can reach a tool-using model's context: EXACT
    // case-folded substring counts of canonical injection phrases
    // (length-minus-replace DIV phrase length — no regex engine
    // divergence possible), per-source flag + hit totals. Same
    // bit-identical mechanics as llm_code_detect, pointed at the
    // security axis a curation pipeline must also carry.
    Op("llm_injection_screen", (s, d) => {
      val phrases = Seq("ignore previous", "system prompt", "disregard all")
      val hits = phrases.zipWithIndex.map { case (p, i) =>
        expr(s"CAST((length(lt) - length(replace(lt, '$p', ''))) DIV ${p.length} AS BIGINT)")
          .as(s"h$i")
      }
      val t = Tables.documents(s, d)
        .select(col("source"), lower(col("text")).as("lt"))
        .select(Seq(col("source")) ++ hits: _*)
        .withColumn("doc_hits", col("h0") + col("h1") + col("h2"))
      t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum("doc_hits").as("total_hits"))
        .orderBy("source")
    },
      // Same case-folded literal counts, same flags.
      """WITH t AS (SELECT source, lower(text) AS lt FROM documents),
        |h AS (SELECT source,
        |    CAST((length(lt) - length(replace(lt, 'ignore previous', ''))) // 15 AS BIGINT)
        |    + CAST((length(lt) - length(replace(lt, 'system prompt', ''))) // 13 AS BIGINT)
        |    + CAST((length(lt) - length(replace(lt, 'disregard all', ''))) // 13 AS BIGINT)
        |      AS doc_hits
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(doc_hits) AS BIGINT) AS total_hits
        |FROM h GROUP BY source ORDER BY source""".stripMargin),

    // Code-fragment detection — the corpus-composition signal a data
    // mixture needs (code-heavy shards train differently): per doc,
    // EXACT substring counts of code-indicative punctuation (semicolons,
    // braces, parens — length-minus-replace, no regex engine in the hot
    // path, bit-identical cross-engine), scored as weighted punct per
    // 1000 chars; per-source rollup with a corpus-level score from the
    // sums (never a mean of per-doc ratios) and a flagged-doc count.
    Op("llm_code_detect", (s, d) => {
      val t = Tables.documents(s, d).select(col("source"),
        length(col("text")).cast("bigint").as("chars"),
        expr("CAST(length(text) - length(replace(text, ';', '')) AS BIGINT)").as("semis"),
        expr("CAST(length(text) - length(replace(text, '{', '')) AS BIGINT)").as("braces"),
        expr("CAST(length(text) - length(replace(text, '(', '')) AS BIGINT)").as("parens"))
        .withColumn("score_milli",
          expr("((semis * 3 + braces * 3 + parens) * 1000) DIV greatest(chars, 1)"))
      t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("chars").as("sum_chars"),
          sum("semis").as("sum_semis"), sum("braces").as("sum_braces"),
          sum("parens").as("sum_parens"),
          sum(when(col("score_milli") > 5, 1L).otherwise(0L)).as("n_flagged"))
        .withColumn("corpus_score_milli",
          expr("((sum_semis * 3 + sum_braces * 3 + sum_parens) * 1000) DIV sum_chars"))
        .orderBy("source")
    },
      // Same literal replace counts, same weighted-milli score from sums.
      """WITH t AS (SELECT source,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    CAST(length(text) - length(replace(text, ';', '')) AS BIGINT) AS semis,
        |    CAST(length(text) - length(replace(text, '{', '')) AS BIGINT) AS braces,
        |    CAST(length(text) - length(replace(text, '(', '')) AS BIGINT) AS parens
        |  FROM documents),
        |sc AS (SELECT *,
        |    ((semis * 3 + braces * 3 + parens) * 1000) // GREATEST(chars, 1) AS score_milli
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(semis) AS BIGINT) AS sum_semis,
        |  CAST(SUM(braces) AS BIGINT) AS sum_braces,
        |  CAST(SUM(parens) AS BIGINT) AS sum_parens,
        |  CAST(SUM(CASE WHEN score_milli > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  ((CAST(SUM(semis) AS BIGINT) * 3 + CAST(SUM(braces) AS BIGINT) * 3
        |    + CAST(SUM(parens) AS BIGINT)) * 1000) // CAST(SUM(chars) AS BIGINT)
        |    AS corpus_score_milli
        |FROM sc GROUP BY source ORDER BY source""".stripMargin),

    Op("llm_edit_distance", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      docs.as("x").where(col("doc_id") % 20 === 7)
        .join(docs.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          levenshtein(col("x.text"), col("y.text")).cast("bigint").as("lev"),
          length(col("x.text")).cast("bigint").as("len_a"),
          length(col("y.text")).cast("bigint").as("len_b"))
        .withColumn("sim_milli",
          expr("1000 - (1000 * lev) DIV greatest(len_a, len_b)"))
        .orderBy("a")
    },
      // Same classic Wagner–Fischer distance; both operands of the milli
      // division are non-negative so DIV (truncate) == // (floor).
      """SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev,
        |  CAST(length(x.text) AS BIGINT) AS len_a,
        |  CAST(length(y.text) AS BIGINT) AS len_b,
        |  1000 - (1000 * CAST(levenshtein(x.text, y.text) AS BIGINT))
        |    // GREATEST(CAST(length(x.text) AS BIGINT), CAST(length(y.text) AS BIGINT))
        |    AS sim_milli
        |FROM documents x JOIN documents y ON y.doc_id = x.doc_id + 1
        |WHERE x.doc_id % 20 = 7
        |ORDER BY a""".stripMargin)
  )
}
