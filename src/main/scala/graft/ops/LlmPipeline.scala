package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5 LLM-pipeline assembly operators: dedup clustering (connected
  * components over the near-dup pair graph — the step that turns pairwise
  * similarity into "keep one doc per cluster"), train/test contamination
  * audit, within-doc repetition metrics, RAG-style overlapping chunking,
  * and per-doc salient-term extraction.
  *
  * Scale posture: clustering is Pregel-style min-label propagation — a
  * driver LOOP (bounded by component diameter, ≤ CcMaxIters) over fully
  * distributed join+aggregate steps with per-iteration lineage truncation;
  * no vertex set is ever collected. Contamination shuffles on the shingle
  * (the join key a 1000-executor cluster hashes evenly); repetition and
  * chunking are pure per-row projections (no shuffle at all); top-terms is
  * two hash aggregations plus a per-doc window.
  */
object LlmPipeline extends Family {
  /** md5-derived uniform split key, identical in DuckDB (llm_sample_split
    * family): u < 0.8·2³² → train, u ≥ 0.9·2³² → test. */
  private val TrainCap = 3435973836L
  private val TestFloor = 3865470566L

  private val ChunkW = 64
  private val BpeRounds = 5
  private val ChunkS = 48

  /** The BPE training loop shared by `llm_bpe_merge` (reports the learned
    * merges) and `llm_bpe_encode` (applies them): `BpeRounds` rounds of
    * count-adjacent-pairs → deterministic argmax (freq, pair) → greedy
    * leftmost non-overlapping merge, all over the word-frequency ROLLUP
    * (vocab-sized, corpus-weighted — the corpus is scanned exactly once
    * for the rollup, every round after that is O(vocab)). The merge
    * application is a codegen'd aggregate() fold over the symbol array;
    * per-round driver sync is one scalar collect (the argmax pair), the
    * `llm_dedup_cluster` iterative shape, with localCheckpoint truncating
    * lineage between rounds. Returns the final per-word symbol table
    * (w, c, syms) and one row per round: (round, a, b, freq, corpus
    * symbol count after the merge — monotone decreasing, asserted in
    * LlmScaleSpec). */
  /** Both bpe ops (merge reports the rounds, encode applies them) share
    * one training run per (JVM, sf) — the trained artifact is exactly the
    * thing a pipeline persists, so re-training it per query was pure
    * waste. The cached syms frame is a localCheckpoint (session-scoped,
    * like every other cache in this JVM). */
  private val bpeCache =
    scala.collection.concurrent.TrieMap[String, (DataFrame, Seq[(Int, String, String, Long, Long)])]()

  /** Round cap of `llm_dedup_cluster`'s pointer-doubling label
    * propagation: O(log diameter) rounds, so 20 covers diameters past
    * 10⁶. A constant, since the oracle's closure has no round cap. */
  private val CcMaxIters = 20

  /** The shared shingle/pair CTEs (ONE copy, in LlmOps next to
    * `nearPairs`) plus the thresholded pair set. */
  private val pairsSql =
    s"""${LlmOps.nearPairsSqlCtes},
       |pairs AS (SELECT a, b FROM inter
       |          JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
       |          WHERE ROUND(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.5)""".stripMargin

  val ops: Seq[Op] = Seq(
    // Connected components over the near-dup graph (Jaccard ≥ 0.5 pairs
    // from the shared posting-list generator): min-label propagation WITH
    // POINTER DOUBLING to a fixpoint — each node ends with the smallest
    // doc_id reachable from it, i.e. the cluster's canonical id. Each
    // round does one neighbor-min hop AND one label-shortcut jump
    // (lbl ← lbl(lbl); labels only decrease, so the jump is monotone and
    // halves the remaining label-chain depth), making convergence
    // O(log diameter) rounds instead of the O(diameter) of plain
    // propagation — the remedy for adversarial path-shaped graphs at
    // corpus scale (capped at CcMaxIters; 20 rounds covers
    // diameters past 10⁶). Each step is a distributed join +
    // min-aggregate, localCheckpoint truncating the plan between rounds
    // exactly like GraphX's Pregel. Converged labels are asserted (a
    // non-converged exit throws rather than returning wrong clusters).
    Op("llm_dedup_cluster", (s, d) => {
      val pairs = LlmOps.nearPairs(s, d).select("a", "b")
      val edges = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
        .localCheckpoint()
      val nodes = edges.select(col("a").as("id")).distinct()
      var labels = nodes.withColumn("lbl", col("id")).localCheckpoint()
      // Min-label propagation only ever DECREASES labels, so Σlbl strictly
      // decreases until the fixpoint: convergence = unchanged sum. That is
      // one cheap aggregate on the (tiny) label relation per round instead
      // of a join-and-count against the previous round.
      def lblSum(df: DataFrame): java.math.BigDecimal = {
        // empty label frame sums to SQL NULL — normalize so the empty
        // graph (no qualifying pairs) converges instead of NPEing
        val v = df.agg(sum(col("lbl").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
        if (v == null) java.math.BigDecimal.ZERO else v
      }
      var prevSum = lblSum(labels)
      var converged = false
      var iter = 0
      while (!converged && iter < CcMaxIters) {
        val nbrMin = edges.join(labels, col("b") === col("id"))
          .select(col("a").as("id"), col("lbl"))
        // checkpoint BEFORE the self-join: the jump below joins hop with
        // itself, and self-joining the un-materialized union+agg plan
        // trips Union constraint rewriting on duplicate attribute ids
        val hop = labels.unionAll(nbrMin)
          .groupBy("id").agg(min("lbl").as("lbl"))
          .localCheckpoint()
        // pointer doubling: every label IS a node id, so jump each node to
        // its label's label — one extra self-join of the (small) label
        // relation per round buys O(log d) total rounds. Checkpoint the
        // result eagerly: the convergence sum below AND next round's
        // nbrMin/hop all read it, so an unmaterialized join would be
        // recomputed three times per round. The trailing re-alias mints
        // fresh attribute ids over the checkpointed RDD — next round's
        // union(labels, nbrMin) would otherwise carry the SAME lbl id in
        // both children (nbrMin projects labels' own attribute), which
        // trips Union constraint rewriting once the plan is a LogicalRDD.
        val next = hop.as("x")
          .join(hop.as("y"), col("x.lbl") === col("y.id"), "left")
          .select(col("x.id").as("id"),
            coalesce(col("y.lbl"), col("x.lbl")).as("lbl"))
          .localCheckpoint()
          .select(col("id").as("id"), col("lbl").as("lbl"))
        val nextSum = lblSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        labels = next
        iter += 1
      }
      require(converged, s"label propagation did not converge in $CcMaxIters iters")
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "lbl")
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
          col("cluster_size"))
        .orderBy("doc_id")
    },
      // Transitive closure by recursive CTE; MIN over the closure is the
      // same component-minimum the label propagation converges to.
      s"""WITH RECURSIVE
         |$pairsSql,
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
         |reach AS (SELECT a AS src, a AS dst FROM edges
         |          UNION
         |          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
         |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl GROUP BY cluster_id)
         |SELECT doc_id, l.cluster_id, cluster_size
         |FROM lbl l JOIN sizes z ON l.cluster_id = z.cluster_id
         |ORDER BY doc_id""".stripMargin),

    // Train/test contamination audit (decontamination stage): deterministic
    // hash split, distinct 3-gram shingles, and for every test doc the
    // fraction of its shingles that also occur anywhere in train. The join
    // shuffles on the shingle string; the train side is pre-distinct so
    // each shingle crosses the wire once.
    Op("llm_contamination", (s, d) => {
      val sh = Tables.documents(s, d)
        .withColumn("u", expr(
          md5Bits("CAST(doc_id AS STRING)", 8)))
        .select(col("doc_id"), col("u"), split(col("text"), " ").as("t"))
        // <3-token docs: Spark sequence(0, -1) descends; DuckDB is empty
        .where(size(col("t")) > 2)
        .select(col("doc_id"), col("u"), explode(array_distinct(expr(
          "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        ))).as("sg"))
      val train = sh.where(col("u") < TrainCap).select(col("sg").as("tsg")).distinct()
      sh.where(col("u") >= TestFloor).select(col("doc_id"), col("sg"))
        .join(train, col("sg") === col("tsg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("tsg").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
        .withColumn("contamination",
          round(col("n_contaminated") / col("n_shingles").cast("double"), 4))
        .orderBy("doc_id")
    },
      s"""WITH dd AS (SELECT doc_id,
         |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u,
         |    string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id, u, unnest(list_distinct(list_transform(
         |         generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sg
         |       FROM dd),
         |train AS (SELECT DISTINCT sg AS tsg FROM sh WHERE u < $TrainCap),
         |test AS (SELECT doc_id, sg FROM sh WHERE u >= $TestFloor)
         |SELECT test.doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN tsg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  ROUND(CAST(SUM(CASE WHEN tsg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    / CAST(COUNT(*) AS DOUBLE), 4) AS contamination
         |FROM test LEFT JOIN train ON test.sg = train.tsg
         |GROUP BY test.doc_id ORDER BY doc_id""".stripMargin),

    // Within-doc repetition metrics (Gopher-style quality filters):
    // duplicate-bigram and duplicate-trigram fractions, computed entirely
    // inside array expressions — a pure projection, zero shuffle, linear
    // in corpus size at any scale.
    Op("llm_repetition", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        // n-gram arrays guarded: Spark sequence(0, -1) DESCENDS for short
        // docs (phantom n-grams) where DuckDB's generate_series is empty;
        // short-doc fractions are defined as 0.0 on both engines
        .withColumn("bi", expr(
          """CASE WHEN size(t) >= 2
            |  THEN transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1]))
            |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .withColumn("tri", expr(
          """CASE WHEN size(t) >= 3
            |  THEN transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
            |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .select(col("doc_id"), size(col("t")).as("n_tokens"),
          when(size(col("bi")) === 0, 0.0).otherwise(
            round((size(col("bi")) - size(array_distinct(col("bi"))))
              / size(col("bi")).cast("double"), 4)).as("dup_bigram_frac"),
          when(size(col("tri")) === 0, 0.0).otherwise(
            round((size(col("tri")) - size(array_distinct(col("tri"))))
              / size(col("tri")).cast("double"), 4)).as("dup_trigram_frac"))
        .orderBy("doc_id"),
      """WITH x AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, len(t) AS n_tokens,
        |    list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]) AS bi,
        |    list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS tri
        |  FROM x)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  ROUND((len(bi) - len(list_distinct(bi))) / CAST(len(bi) AS DOUBLE), 4) AS dup_bigram_frac,
        |  ROUND((len(tri) - len(list_distinct(tri))) / CAST(len(tri) AS DOUBLE), 4) AS dup_trigram_frac
        |FROM g ORDER BY doc_id""".stripMargin),

    // Overlapping token-window chunking (the RAG/context-window ingestion
    // shape): W=64-token windows at stride S=48, chunk count
    // 1 + ceil((n−W)/S) — integer arithmetic only (DIV truncates alike in
    // both engines; a double ceil would not). Pure projection + explode.
    Op("llm_chunk", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("n", size(col("t")))
        .withColumn("nc", expr(
          s"1 + CASE WHEN n > $ChunkW THEN ((n - $ChunkW) + ${ChunkS - 1}) DIV $ChunkS ELSE 0 END"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          explode(expr("sequence(0, nc - 1)")).as("chunk_idx"),
          col("t"))
        .withColumn("start_tok", col("chunk_idx") * ChunkS)
        .withColumn("chunk_len", least(lit(ChunkW), col("n_tokens") - col("start_tok")))
        .select(col("doc_id"), col("n_tokens"), col("chunk_idx").cast("int").as("chunk_idx"),
          col("start_tok").cast("int").as("start_tok"), col("chunk_len").cast("int").as("chunk_len"),
          expr("t[start_tok]").as("first_tok"),
          expr("t[start_tok + chunk_len - 1]").as("last_tok"))
        .orderBy("doc_id", "chunk_idx"),
      """WITH x AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |y AS (SELECT doc_id, t, len(t) AS n,
        |    1 + CASE WHEN len(t) > 64 THEN ((len(t) - 64) + 47) // 48 ELSE 0 END AS nc
        |  FROM x),
        |z AS (SELECT doc_id, t, n, unnest(generate_series(0, nc - 1)) AS chunk_idx FROM y)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(chunk_idx * 48 AS INT) AS start_tok,
        |  CAST(least(64, n - chunk_idx * 48) AS INT) AS chunk_len,
        |  t[chunk_idx * 48 + 1] AS first_tok,
        |  t[chunk_idx * 48 + least(64, n - chunk_idx * 48)] AS last_tok
        |FROM z ORDER BY doc_id, chunk_idx""".stripMargin),

    // Corpus bigram language-model table: for the 10 most frequent first
    // tokens, the top-3 continuations with conditional probability
    // p(w2|w1) = c(w1,w2)/c(w1·) — pure counts and one rational division,
    // deterministic cross-engine. Two hash aggregations (bigram, then
    // margin) + two small windows; everything shuffles on token keys.
    Op("llm_bigram_lm", (s, d) => {
      val bi = Tables.documents(s, d)
        .select(split(col("text"), " ").as("t"))
        .where(size(col("t")) >= 2) // sequence(0, -1) would descend
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bi.groupBy("w1").agg(sum("c12").cast("bigint").as("c1"))
      // distributed TakeOrdered, NOT a global unpartitioned window (which
      // would sort the whole vocabulary in one task)
      val topW1 = c1.orderBy(col("c1").desc, col("w1").asc).limit(10)
      bi.join(topW1, "w1")
        .withColumn("p", round(col("c12") / col("c1").cast("double"), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy("w1").orderBy(col("c12").desc, col("w2").asc)))
        .where(col("rk") <= 3)
        .select(col("w1"), col("rk").cast("int").as("rk"), col("w2"),
          col("c12"), col("c1"), col("p"))
        .orderBy("w1", "rk")
    },
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bi AS (SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS c12
        |       FROM t, unnest(generate_series(1, len(t) - 1)) u(i)
        |       GROUP BY t[i], t[i+1]),
        |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY w1),
        |top1 AS (SELECT *, row_number() OVER (ORDER BY c1 DESC, w1 ASC) AS r1 FROM c1),
        |j AS (SELECT bi.w1, bi.w2, bi.c12, top1.c1,
        |        ROUND(bi.c12 / CAST(top1.c1 AS DOUBLE), 6) AS p,
        |        row_number() OVER (PARTITION BY bi.w1 ORDER BY bi.c12 DESC, bi.w2 ASC) AS rk
        |      FROM bi JOIN top1 ON bi.w1 = top1.w1 WHERE top1.r1 <= 10)
        |SELECT w1, CAST(rk AS INT) AS rk, w2, c12, c1, p
        |FROM j WHERE rk <= 3 ORDER BY w1, rk""".stripMargin),

    // Vocabulary coverage curve — the BPE-prep diagnostic: terms by
    // frequency with cumulative corpus coverage; top-100 emitted. The
    // cumsum window runs over the (freq desc, term) total order; coverage
    // is a rational fraction of the corpus token count (no collect — the
    // total joins in as a 1-row broadcast).
    Op("llm_vocab_coverage", (s, d) => {
      val tf = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
      val tot = tf.agg(sum("freq").cast("bigint").as("total"))
      // distributed TakeOrdered to the top-100 FIRST; the rank/cumsum
      // window then runs over a constant-size frame (an unpartitioned
      // window over the full vocab would be a single-task sort). The
      // cumulative sum at rank k <= 100 only needs the top-100 rows.
      val top = tf.orderBy(col("freq").desc, col("term").asc).limit(100)
      val w = Window.orderBy(col("freq").desc, col("term").asc)
      top.withColumn("rank", row_number().over(w))
        .withColumn("cum", sum("freq").over(
          w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
        .crossJoin(broadcast(tot))
        .select(col("rank").cast("int").as("rank"), col("term"), col("freq"),
          round(col("cum") / col("total").cast("double"), 6).as("coverage"))
        .orderBy("rank")
    },
      """WITH tf AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |f AS (SELECT term, COUNT(*) AS freq FROM tf GROUP BY term),
        |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM f),
        |r AS (SELECT term, freq,
        |        row_number() OVER (ORDER BY freq DESC, term ASC) AS rank,
        |        CAST(SUM(freq) OVER (ORDER BY freq DESC, term ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM f)
        |SELECT CAST(rank AS INT) AS rank, term, freq,
        |  ROUND(cum / CAST(total AS DOUBLE), 6) AS coverage
        |FROM r CROSS JOIN tot WHERE rank <= 100 ORDER BY rank""".stripMargin),

    // Salient terms per doc: tf × (N/df) — idf linearized to keep the
    // arithmetic purely rational (+,-,×,÷ are IEEE-identical cross-engine;
    // a libm log is not), which preserves the per-term df ranking. Top-3
    // per doc by (rounded score desc, term asc) — a total order, so the
    // window pick is deterministic.
    Op("llm_top_terms", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nd = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      // dl is corpus-cardinality (one row per doc) — a broadcast hint here
      // is exactly the corpus-broadcast anti-pattern; the plain join
      // co-partitions with tf on doc_id. Only the 1-row total gets a hint.
      val scored = tf
        .join(dl, "doc_id")
        .join(dfreq, "term")
        .crossJoin(broadcast(nd))
        .withColumn("score", round(
          (col("tf") / col("dl").cast("double"))
            * (col("nd") / col("df").cast("double")), 6))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("score"), col("tf"))
        .orderBy("doc_id", "rank")
    },
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT COUNT(*) AS nd FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    ROUND((tf / CAST(dl AS DOUBLE)) * (nd / CAST(df AS DOUBLE)), 6) AS score
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |       JOIN df ON tf.term = df.term CROSS JOIN nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term ASC) AS rank FROM scored)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, score, tf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // Corpus datasheet (the "dataset card" rollup every training-data
    // release ships): per-language doc/token/source tallies, exact-text
    // duplication rate, and mean document length — counts and rational
    // divisions only, one shuffle on the language key plus the distinct
    // sub-aggregates Spark plans as expand+two-phase.
    Op("llm_corpus_stats", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("source"), col("text"),
          size(split(col("text"), " ")).cast("bigint").as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          countDistinct("source").as("n_sources"),
          countDistinct("text").as("n_distinct_texts"),
          min("n_tok").as("min_tok"), max("n_tok").as("max_tok"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_sources"),
          col("n_distinct_texts"),
          round(lit(1.0) - col("n_distinct_texts").cast("double")
            / col("n_docs").cast("double"), 6).as("dup_rate"),
          (col("n_tokens").cast("double") / col("n_docs").cast("double"))
            .as("avg_tok"),
          col("min_tok"), col("max_tok"))
        .orderBy("lang"),
      """WITH t AS (SELECT lang, source, text,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  COUNT(DISTINCT source) AS n_sources,
        |  COUNT(DISTINCT text) AS n_distinct_texts,
        |  ROUND(1.0 - COUNT(DISTINCT text) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
        |  CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tok,
        |  CAST(MIN(n_tok) AS BIGINT) AS min_tok,
        |  CAST(MAX(n_tok) AS BIGINT) AS max_tok
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),

    // Pair-level contamination report (the audit detail behind
    // llm_contamination's per-doc fractions): which TRAIN doc leaked into
    // which TEST doc, scored by shared distinct trigrams over the test
    // doc's trigram count. Candidates come from a posting-list join on
    // the shingle key (volume bounded by Σdf_train·df_test per shingle,
    // never |test|×|train|), then one rollup per pair.
    Op("llm_ngram_overlap", (s, d) => {
      val sh = Tables.documents(s, d)
        .withColumn("u", expr(
          md5Bits("CAST(doc_id AS STRING)", 8)))
        .select(col("doc_id"), col("u"), split(col("text"), " ").as("t"))
        .where(size(col("t")) > 2)
        .select(col("doc_id"), col("u"), explode(array_distinct(expr(
          "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        ))).as("sg"))
      val test = sh.where(col("u") >= TestFloor).select(col("doc_id").as("test_id"), col("sg"))
      val train = sh.where(col("u") < TrainCap).select(col("doc_id").as("train_id"), col("sg"))
      val testSz = test.groupBy("test_id").agg(count(lit(1)).as("n_test"))
      test.join(train, "sg")
        .groupBy("test_id", "train_id").agg(count(lit(1)).as("n_shared"))
        .join(testSz, "test_id")
        .withColumn("overlap",
          round(col("n_shared") / col("n_test").cast("double"), 4))
        .where(col("overlap") >= 0.2)
        .select("test_id", "train_id", "n_shared", "overlap")
        .orderBy("test_id", "train_id")
    },
      s"""WITH dd AS (SELECT doc_id,
         |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u,
         |    string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id, u, unnest(list_distinct(list_transform(
         |         generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sg
         |       FROM dd WHERE len(t) > 2),
         |test AS (SELECT doc_id AS test_id, sg FROM sh WHERE u >= $TestFloor),
         |train AS (SELECT doc_id AS train_id, sg FROM sh WHERE u < $TrainCap),
         |ts AS (SELECT test_id, COUNT(*) AS n_test FROM test GROUP BY test_id),
         |p AS (SELECT test_id, train_id, COUNT(*) AS n_shared
         |      FROM test JOIN train USING (sg) GROUP BY test_id, train_id)
         |SELECT p.test_id AS test_id, p.train_id AS train_id, p.n_shared AS n_shared,
         |  ROUND(p.n_shared / CAST(ts.n_test AS DOUBLE), 4) AS overlap
         |FROM p JOIN ts ON p.test_id = ts.test_id
         |WHERE ROUND(p.n_shared / CAST(ts.n_test AS DOUBLE), 4) >= 0.2
         |ORDER BY p.test_id, p.train_id""".stripMargin),

    // URL-canonicalization dedup — the first dedup stage of every web
    // crawl: many URLs name one resource, so the canonical form (lowered
    // host + path; query string and fragment dropped) is the group key.
    // URLs are synthesized from doc fields (same recipe as fn_url, plus
    // tracking params and a fragment); canonicalization goes through
    // parse_url, the grouping is one hash shuffle on the canonical key —
    // linear at any corpus size. Keeper = min doc_id per group.
    Op("llm_dedup_url", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("https://"), upper(col("source")), lit(".Example.COM/"),
            col("lang"), lit("/doc/"), col("doc_id") % 100,
            lit("?utm_source=feed&ref="), col("source"), lit("#sec-2")).as("url"))
        .withColumn("curl", concat(
          lower(expr("parse_url(url, 'HOST')")), expr("parse_url(url, 'PATH')")))
        .groupBy("curl")
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
        .where(col("n_dups") > 1)
        .orderBy("curl"),
      """WITH c AS (
        |  SELECT doc_id,
        |    lower(source) || '.example.com/' || lang || '/doc/'
        |      || (doc_id % 100) AS curl
        |  FROM documents)
        |SELECT curl, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
        |FROM c GROUP BY curl HAVING COUNT(*) > 1
        |ORDER BY curl""".stripMargin),

    // LM-fluency (perplexity-class) quality filter: score each doc by its
    // mean bigram negative-log-likelihood under the corpus bigram LM and
    // keep the 25 worst. Every doc bigram exists in the corpus counts (the
    // doc contributed it), so no smoothing is needed. Determinism: each
    // -ln p is rounded to integer MICRO-nats first, so the per-doc sum is
    // an exact BIGINT (double sums over join-scattered rows would be
    // partition-order dependent — the agg_group money law, applied to
    // logs); the mean is one shared double division at the end.
    Op("llm_ppl_filter", (s, d) => {
      // bi feeds THREE consumers (c12, c1 via c12, and the probe side of
      // the join); localCheckpoint materializes the explode once instead
      // of re-running the scan+split subtree per consumer.
      val bi = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .where(size(col("t")) >= 2) // sequence(0, -1) would descend
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .localCheckpoint()
      val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy("w1").agg(sum("c12").cast("bigint").as("c1"))
      bi.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        .select(col("doc_id"),
          round(-log(col("c12").cast("double") / col("c1").cast("double")) * 1e6)
            .cast("bigint").as("nll_micro"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bi"), sum(col("nll_micro")).as("sum_nll"))
        .withColumn("avg_nll",
          col("sum_nll").cast("double") / (col("n_bi").cast("double") * 1e6))
        .orderBy(col("avg_nll").desc, col("doc_id"))
        .limit(25)
    },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |       FROM t, unnest(generate_series(1, len(t) - 1)) u(i)),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |sc AS (SELECT bi.doc_id,
        |         CAST(ROUND(-ln(CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) * 1e6)
        |           AS BIGINT) AS nll_micro
        |       FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bi,
        |  CAST(SUM(nll_micro) AS BIGINT) AS sum_nll,
        |  CAST(SUM(nll_micro) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS avg_nll
        |FROM sc GROUP BY doc_id
        |ORDER BY avg_nll DESC, doc_id LIMIT 25""".stripMargin),

    // Span-level dedup (the line/paragraph-dedup stage): docs are cut into
    // non-overlapping 8-token spans; a span seen in MORE THAN ONE doc is
    // boilerplate. Per-doc accounting of shared spans over the posting-
    // list groupBy — the same sub-quadratic shape as the shingle family,
    // one shuffle on the span.
    Op("llm_dedup_span", (s, d) => {
      // three consumers (dup, tot, probe) — materialize the explode once
      val sp = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .where(size(col("t")) >= 8)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, CAST(floor(size(t) / 8) AS INT) - 1),
            |  i -> concat_ws(' ', slice(t, 8 * i + 1, 8)))""".stripMargin)).as("span"))
        .localCheckpoint()
      val dup = sp.groupBy("span")
        .agg(countDistinct("doc_id").as("nd")).where(col("nd") > 1)
        .select("span")
      val tot = sp.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      sp.join(dup, "span")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .join(tot, "doc_id")
        .select(col("doc_id"), col("n_spans"), col("n_shared"),
          round(col("n_shared") / col("n_spans").cast("double"), 4).as("shared_frac"))
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sp AS (SELECT doc_id, array_to_string(t[(8*i+1):(8*i+8)], ' ') AS span
        |       FROM t, unnest(generate_series(0,
        |         CAST(floor(len(t) / 8) AS INT) - 1)) u(i)),
        |dup AS (SELECT span FROM sp GROUP BY span
        |        HAVING COUNT(DISTINCT doc_id) > 1),
        |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id)
        |SELECT sp.doc_id AS doc_id, tot.n_spans AS n_spans,
        |  COUNT(*) AS n_shared,
        |  ROUND(COUNT(*) / CAST(tot.n_spans AS DOUBLE), 4) AS shared_frac
        |FROM sp JOIN dup USING (span) JOIN tot ON sp.doc_id = tot.doc_id
        |GROUP BY sp.doc_id, tot.n_spans
        |ORDER BY doc_id""".stripMargin),

    // BPE merge-candidate counts (tokenizer-training step 1): adjacent
    // character-pair frequencies weighted by word frequency. The pair
    // explosion runs over the (already tiny) word-count relation, not the
    // corpus — the same rollup-first discipline as tpch_q13; top-20
    // merge candidates emitted.
    Op("llm_bpe_pairs", (s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      wc.where(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
          col("c"))
        .groupBy("pair").agg(sum("c").cast("bigint").as("freq"))
        .orderBy(col("freq").desc, col("pair"))
        .limit(20)
    },
      """WITH wf AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, COUNT(*) AS c FROM wf GROUP BY w)
        |SELECT w[i:i+1] AS pair, CAST(SUM(c) AS BIGINT) AS freq
        |FROM wc, unnest(generate_series(1, length(w) - 1)) u(i)
        |WHERE length(w) >= 2
        |GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""".stripMargin),

    // BPE merge LOOP (tokenizer training, the part a pipeline actually
    // runs — `llm_bpe_pairs` is its single-round counting step): 5 rounds
    // of count-adjacent-pairs → pick max (freq, pair) deterministically →
    // greedy leftmost non-overlapping merge applied to every word, all
    // over the word-frequency ROLLUP (vocab-sized, corpus-weighted — the
    // corpus is scanned exactly once for the rollup, every round after
    // that is O(vocab)). The merge application is a codegen'd aggregate()
    // fold over the symbol array; per-round driver sync is one scalar
    // collect (the argmax pair), the `llm_dedup_cluster` iterative shape,
    // with localCheckpoint truncating lineage between rounds. Emits one
    // row per round: the learned merge, its frequency, and the corpus
    // symbol count after applying it (monotone decreasing — asserted in
    // Round7OpsSpec-style law in LlmScaleSpec).
    Op("llm_bpe_merge", (s, d) => {
      val (_, rounds) = bpeTrain(s, d)
      s.createDataFrame(rounds)
        .toDF("round", "a", "b", "freq", "n_syms").orderBy("round")
    },
      bpeMergeOracle),

    // BPE ENCODE (tokenizer-training step 3 — the apply side of the
    // train/encode pair): segment every corpus word with the merges the
    // loop above learned and report per-language token economics (docs,
    // words, chars, BPE tokens, tokens-per-100-chars — the fertility
    // metric a tokenizer is judged by). The trained symbol table is
    // vocab-sized, so applying it is one broadcast hash join against the
    // corpus word stream — the corpus is scanned once and never carries
    // symbol arrays through a shuffle (sizes are projected to ints before
    // the aggregate). At 100 TB: training cost is O(vocab) per round
    // (above), encoding cost is one scan + broadcast lookup — exactly how
    // a production tokenizer-application stage runs. All outputs are
    // integer sums (exact cross-engine); the single ratio is one rounded
    // division of two BIGINTs.
    Op("llm_bpe_encode", (s, d) => {
      val (syms, _) = bpeTrain(s, d)
      val vocab = syms.select(col("w"),
        size(col("syms")).cast("bigint").as("n_toks"),
        length(col("w")).cast("bigint").as("n_chars"))
      val words = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 1)
      words.join(broadcast(vocab), Seq("w"))
        .groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum("n_chars").as("n_chars"),
          sum("n_toks").as("n_tokens"))
        .withColumn("toks_per_100chars",
          round(col("n_tokens") * lit(100.0) / col("n_chars"), 4))
        .orderBy("lang")
    },
      bpeEncodeOracle),

    // Cross-source LEAKAGE matrix — which pairs of ingest sources share
    // near-duplicate content (mirror sites, syndication, scraped
    // re-posts): the verified near-dup pair set (one materialized build
    // per JVM/sf, shared with llm_dedup_near/_cluster) joined to each
    // side's source, rolled up per unordered source pair with the
    // intra-source pairs flagged apart. The curation decision this
    // feeds: which source to DROP wholesale before paying per-doc dedup.
    Op("llm_cross_source_leakage", (s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      LlmOps.nearPairs(s, d)
        .join(broadcast(src.select(col("doc_id").as("a"), col("source").as("sa"))), "a")
        .join(broadcast(src.select(col("doc_id").as("b"), col("source").as("sb"))), "b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_cross", col("src_a") =!= col("src_b"))
        .orderBy("src_a", "src_b")
    },
      // The shared near-pair CTEs + per-source-pair rollup.
      s"""WITH $pairsSql,
         |lab AS (SELECT LEAST(da.source, db.source) AS src_a,
         |    GREATEST(da.source, db.source) AS src_b
         |  FROM pairs
         |  JOIN documents da ON pairs.a = da.doc_id
         |  JOIN documents db ON pairs.b = db.doc_id)
         |SELECT src_a, src_b, COUNT(*) AS n_pairs, src_a <> src_b AS is_cross
         |FROM lab GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin),

    // SFT loss-mask accounting — the supervised-finetuning prep step
    // that decides which tokens the loss actually trains on: docs are
    // segmented into fixed 64-char turns alternating user/assistant
    // roles (even/odd turn index — the chat-template shape), and only
    // assistant turns are trainable. Emitted per doc: turn count, total
    // vs trainable whitespace tokens, and the trainable share in exact
    // ppm (integer DIV — no FP). Pure projection + bounded explode, no
    // shuffle until the final per-doc rollup.
    Op("llm_loss_masking", (s, d) => {
      val turns = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .withColumn("t", explode(sequence(lit(0), expr("CAST((len + 63) DIV 64 AS INT) - 1"))))
        .select(col("doc_id"), col("t"),
          size(split(expr("substring(text, t * 64 + 1, 64)"), " ")).cast("bigint")
            .as("toks"))
      turns.groupBy("doc_id")
        .agg(count(lit(1)).as("n_turns"),
          sum("toks").as("toks_total"),
          sum(when(col("t") % 2 === 1, col("toks")).otherwise(0L)).as("toks_trainable"))
        .withColumn("trainable_ppm",
          expr("(toks_trainable * 1000000) DIV toks_total"))
        .orderBy("doc_id")
    },
      // The 64-char turn segmentation and whitespace token counts replayed
      // with the same 1-based substring window.
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |turns AS (SELECT doc_id,
        |    CAST(unnest(generate_series(0, (len + 63) // 64 - 1)) AS INT) AS t,
        |    text FROM d),
        |tk AS (SELECT doc_id, t,
        |    CAST(len(string_split(substring(text, t * 64 + 1, 64), ' ')) AS BIGINT)
        |      AS toks
        |  FROM turns)
        |SELECT doc_id, COUNT(*) AS n_turns,
        |  CAST(SUM(toks) AS BIGINT) AS toks_total,
        |  CAST(SUM(CASE WHEN t % 2 = 1 THEN toks ELSE 0 END) AS BIGINT)
        |    AS toks_trainable,
        |  CAST((SUM(CASE WHEN t % 2 = 1 THEN toks ELSE 0 END) * 1000000)
        |    // SUM(toks) AS BIGINT) AS trainable_ppm
        |FROM tk GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // The learned subword VOCABULARY as a table — what a tokenizer
    // release actually ships (and the deliverable the merge loop trains):
    // every symbol surviving in the trained per-word table, with its
    // corpus-weighted occurrence count and whether it is a learned merge
    // or a base character. Reads the SAME cached training run as
    // merge/encode — three graded consumers, one training job.
    Op("llm_bpe_vocab", (s, d) => {
      val (syms, _) = bpeTrain(s, d)
      syms.select(col("c"), explode(col("syms")).as("sym"))
        .groupBy("sym")
        .agg(sum("c").cast("bigint").as("n_occurrences"))
        .withColumn("sym_len", length(col("sym")).cast("int"))
        .withColumn("is_merged", col("sym_len") > 1)
        .orderBy(desc("n_occurrences"), col("sym"))
    },
      bpeVocabOracle),

    // Stupid-backoff n-gram scoring (the web-scale LM smoothing that
    // needs NO discount estimation — Brants et al.'s point): a bigram
    // observed >= 3 times scores at its MLE, a rare one backs off to
    // 0.4 × the unigram MLE. All exact integer micro-units (every score
    // is (count·10⁶) DIV denom), so both engines replay the branch AND
    // the arithmetic bit-identically; top-50 via distributed
    // TakeOrdered on the (score, w1, w2) total order — never a global
    // sort. Counts are two shuffle aggregates over one corpus scan each;
    // the unigram table joins in by key (broadcast-sized vocabulary).
    Op("llm_trigram_backoff", (s, d) => {
      val t = Tables.documents(s, d).select(split(col("text"), " ").as("t"))
      val bi = t.where(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).cast("bigint").as("c2"))
      val uni = t.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).cast("bigint").as("c1"))
      val tot = uni.agg(sum("c1").cast("bigint").as("n"))
      val scored = bi
        .join(uni.select(col("w").as("w1"), col("c1").as("c1ctx")), "w1")
        .join(uni.select(col("w").as("w2"), col("c1").as("c1w")), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("used_backoff", col("c2") < 3)
        .withColumn("score_micro", expr(
          "CASE WHEN c2 >= 3 THEN (c2 * 1000000) DIV c1ctx " +
            "ELSE (4 * ((c1w * 1000000) DIV n)) DIV 10 END"))
      // top-25 of EACH branch, so the graded output exercises both the
      // MLE path and the backoff path (a single global top-k is all-MLE
      // — backoff scores are discounted by construction)
      def top(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(desc("score_micro"), col("w1"), col("w2")).limit(25)
        .select("w1", "w2", "c2", "score_micro", "used_backoff")
      top(scored.where(!col("used_backoff")))
        .unionAll(top(scored.where(col("used_backoff"))))
    },
      // The backoff branch and its integer arithmetic replayed exactly.
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bi AS (SELECT t[i] AS w1, t[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
        |  FROM t, unnest(generate_series(1, len(t) - 1)) u(i)
        |  WHERE len(t) >= 2 GROUP BY 1, 2),
        |uni AS (SELECT unnest(t) AS w FROM t),
        |uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM uni GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uc),
        |sc AS (SELECT w1, w2, c2,
        |    CAST(CASE WHEN c2 >= 3 THEN (c2 * 1000000) // cx.c1
        |         ELSE (4 * ((cw.c1 * 1000000) // n.n)) // 10 END AS BIGINT)
        |      AS score_micro,
        |    c2 < 3 AS used_backoff
        |  FROM bi JOIN uc cx ON bi.w1 = cx.w JOIN uc cw ON bi.w2 = cw.w, n)
        |SELECT * FROM (SELECT * FROM sc WHERE NOT used_backoff
        |               ORDER BY score_micro DESC, w1, w2 LIMIT 25)
        |UNION ALL
        |SELECT * FROM (SELECT * FROM sc WHERE used_backoff
        |               ORDER BY score_micro DESC, w1, w2 LIMIT 25)""".stripMargin),

    // BM25 relevance ranking — the retrieval-quality scorer of a
    // training-data curation stack (query-targeted corpus slicing,
    // contamination triage, eval-set mining). Classic Okapi BM25
    // (k1=1.2, b=0.75) over the whitespace token stream: the explode is
    // filtered to the query terms BEFORE the tf groupBy (scan-linear,
    // never a full posting list), df/N/avgdl are one broadcast row each.
    // Determinism: per-(doc,term) contributions are rounded to integer
    // MICRO-units and summed as BIGINT (the llm_ppl_filter law — double
    // sums over join-scattered rows are partition-order dependent);
    // expression shapes mirror the oracle token-for-token so both
    // engines compute identical doubles before the single rounding.
    Op("llm_bm25", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val dl = docs.select(col("doc_id"), size(col("t")).cast("bigint").as("dl"))
      val st = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val tf = docs.select(col("doc_id"), explode(col("t")).as("w"))
        .where(col("w").isin("vector", "stream", "hash"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      tf.join(dl, Seq("doc_id")).join(broadcast(df), Seq("w"))
        .crossJoin(broadcast(st))
        .withColumn("avgdl",
          col("sum_dl").cast("double") / col("n_docs").cast("double"))
        .withColumn("s_micro", round(
          log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
            * 1e6).cast("bigint"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_q_terms"), sum("s_micro").as("score_micro"))
        .withColumn("bm25", col("score_micro").cast("double") / 1e6)
        .orderBy(col("score_micro").desc, col("doc_id"))
        .limit(20)
    },
      // Okapi BM25 replayed term-for-term; the single ROUND to micro-units
      // happens on identically-shaped double expressions in both engines.
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
        |       WHERE w IN ('vector', 'stream', 'hash') GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        |sc AS (SELECT tf.doc_id,
        |         CAST(ROUND(
        |           ln((CAST(st.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |           * (tf.tf * 2.2)
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
        |              (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))
        |           * 1e6) AS BIGINT) AS s_micro
        |       FROM tf JOIN dl USING (doc_id) JOIN df USING (w) CROSS JOIN st)
        |SELECT doc_id, COUNT(*) AS n_q_terms,
        |  CAST(SUM(s_micro) AS BIGINT) AS score_micro,
        |  CAST(SUM(s_micro) AS DOUBLE) / 1e6 AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin),

    // Cross-modal pair assembly (the CLIP-style training-pair stage):
    // text rows joined to their embedding rows by id, emitting per-pair
    // features (token count, L2 norm, mean element, label). One equi
    // join; both element folds are sequential left-to-right in both
    // engines, rounded at the boundary.
    Op("mm_embed_join", (s, d) =>
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_toks"),
          round(sqrt(expr(
            "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")), 4)
            .as("emb_norm"),
          round(expr("aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE))") / 64, 6)
            .as("emb_mean"),
          col("label"))
        .orderBy("doc_id"),
      """SELECT d.doc_id AS doc_id, d.lang AS lang,
        |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_toks,
        |  ROUND(sqrt(list_sum(list_transform(e.embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS emb_norm,
        |  ROUND(list_sum(list_transform(e.embedding,
        |    x -> CAST(x AS DOUBLE))) / 64, 6) AS emb_mean,
        |  e.label AS label
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY doc_id""".stripMargin)
  )

  private def bpeTrain(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) =
    bpeCache.getOrElseUpdate(d, bpeTrainCompute(s, d))

  private def bpeTrainCompute(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("c"))
    var syms = wc.select(col("w"), col("c"),
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    for (r <- 1 to BpeRounds) {
      val best = syms.where(size(col("syms")) > 1)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"), col("c"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("c").cast("bigint").as("f"))
        .orderBy(col("f").desc, col("a"), col("b"))
        .limit(1).collect()(0)
      val (a, b, f) = (best.getString(0), best.getString(1), best.getLong(2))
      val la = lit(a); val lb = lit(b)
      // greedy leftmost merge as a string fold seeded with the first
      // symbol (mirrors DuckDB's list_reduce init semantics): symbols
      // stay space-delimited in the accumulator, so "ends with ' a'"
      // (or equals a) AND next == b detects a mergeable boundary
      val folded = aggregate(
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        element_at(col("syms"), 1),
        (acc, x) => when(
          (acc === la || acc.endsWith(concat(lit(" "), la))) && x === lb,
          concat(acc.substr(lit(1), length(acc) - lit(a.length)), la, lb))
          .otherwise(concat(acc, lit(" "), x)))
      syms = syms.withColumn("syms",
        when(size(col("syms")) < 2, col("syms")).otherwise(split(folded, " ")))
        .localCheckpoint()
      val n = syms.agg(sum(col("c") * size(col("syms"))).cast("bigint"))
        .collect()(0).getLong(0)
      out += ((r, a, b, f, n))
    }
    (syms, out.toSeq)
  }

  /** Chained-CTE replay of the BPE training loop (shared by the merge and
    * encode oracles): round k recomputes the argmax pair over r(k-1) and
    * reapplies the SAME greedy leftmost fold (list_reduce seeds with the
    * first element — the Spark side mirrors that by folding
    * slice(syms, 2, ...) from element_at(syms, 1)). Ends at
    * r$BpeRounds = the trained per-word symbol table. */
  private def bpeTrainCtes: String = {
    def round(k: Int) =
      s"""p$k AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(c) AS BIGINT) AS f
         |       FROM r${k - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |       WHERE len(syms) > 1 GROUP BY 1, 2),
         |b$k AS (SELECT a, b, f FROM p$k ORDER BY f DESC, a, b LIMIT 1),
         |r$k AS (SELECT w, c, CASE WHEN len(syms) < 2 THEN syms ELSE
         |        string_split(list_reduce(syms, (acc, x) ->
         |          CASE WHEN (acc = a OR ends_with(acc, ' ' || a)) AND x = b
         |               THEN left(acc, length(acc) - length(a)) || a || b
         |               ELSE acc || ' ' || x END), ' ') END AS syms
         |     FROM r${k - 1}, b$k),
         |t$k AS (SELECT CAST(SUM(c * len(syms)) AS BIGINT) AS n FROM r$k)""".stripMargin
    s"""wf AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |wc AS (SELECT w, COUNT(*) AS c FROM wf WHERE length(w) >= 1 GROUP BY w),
       |r0 AS (SELECT w, c, list_transform(generate_series(1, length(w)),
       |         i -> substring(w, i, 1)) AS syms FROM wc),
       |${(1 to BpeRounds).map(round).mkString(",\n")}""".stripMargin
  }

  private def bpeMergeOracle: String = {
    val rows = (1 to BpeRounds)
      .map(k => s"SELECT CAST($k AS INT) AS round, a, b, f AS freq, " +
        s"(SELECT n FROM t$k) AS n_syms FROM b$k")
      .mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT * FROM ($rows) ORDER BY round""".stripMargin
  }

  /** Encode = the trained table (r$BpeRounds) joined back to the corpus
    * word stream; all sums integer, one rounded ratio at the end. */
  private def bpeEncodeOracle: String =
    s"""WITH $bpeTrainCtes,
       |dw AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |       FROM documents),
       |enc AS (SELECT dw.doc_id, dw.lang,
       |               CAST(length(dw.w) AS BIGINT) AS n_chars,
       |               CAST(len(r$BpeRounds.syms) AS BIGINT) AS n_toks
       |        FROM dw JOIN r$BpeRounds ON dw.w = r$BpeRounds.w
       |        WHERE length(dw.w) >= 1)
       |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  ROUND(SUM(n_toks) * 100.0 / SUM(n_chars), 4) AS toks_per_100chars
       |FROM enc GROUP BY lang ORDER BY lang""".stripMargin

  /** Vocabulary dump from the same replayed training run. */
  private def bpeVocabOracle: String =
    s"""WITH $bpeTrainCtes,
       |v AS (SELECT unnest(syms) AS sym, c FROM r$BpeRounds)
       |SELECT sym, CAST(SUM(c) AS BIGINT) AS n_occurrences,
       |  CAST(length(sym) AS INT) AS sym_len, length(sym) > 1 AS is_merged
       |FROM v GROUP BY sym ORDER BY n_occurrences DESC, sym""".stripMargin
}
