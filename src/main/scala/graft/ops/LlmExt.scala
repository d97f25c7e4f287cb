package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Extended LLM-training-data operators (SURVEY.md §2.12): the remaining
  * dedup family (SimHash, MinHash-LSH, embedding-cosine), the ANN scale
  * path for similarity search, deeper text analysis (quality scoring,
  * language-ID heuristic, winnowing fingerprints), and the multimodal
  * binary-column pipeline.
  *
  * Scale notes (100 TB posture):
  *  - SimHash pairs are generated by MULTI-BLOCK COMBINATION keys, not
  *    all-pairs: the 60-bit simhash splits into 8 blocks and candidates
  *    come from an equi-join on every C(8,2)=28 block-PAIR key (~15 bits
  *    each). Pigeonhole: Hamming ≤ 6 corrupts at most 6 blocks, so some
  *    pair of blocks is untouched and that combination table provably
  *    recalls the pair — the brute-force O(n²) scan never happens, yet
  *    the result is bit-identical to it (the oracle IS the brute force).
  *    vs the old 1-of-7 9-bit bands: 2¹⁵ vs 2⁹ key values, so E[bucket]
  *    shrinks 64× and the within-bucket join stays near-linear at 10⁹
  *    docs (the standard multi-block remedy for web-scale simhash).
  *  - MinHash-LSH bands a deterministic Carter-Wegman 8-hash family 4×2
  *    (AND-amplified inside each band), candidates verified with exact
  *    Jaccard — the custom sub-quadratic path for shingle-set Jaccard
  *    at scale, fully replayed in the DuckDB oracle.
  *  - ANN is IVF-style: ~√n hash-sampled coarse centroids (the standard
  *    IVF sizing), cluster-pruned search (nprobe=4) so the corpus is
  *    scanned once to build the index and each query touches only its
  *    nprobe clusters.
  */
object LlmExt extends Family {
  private val SimBits = 60

  /** Integer Lloyd k-means geometry: k=8 seed centroids (vec_id < 8), 3
    * synchronous rounds, coordinates fix-pointed to [0, 80000] micro-units
    * (shift +4 then clamp — distance- and mean-preserving, keeps every
    * sum non-negative so DIV (truncation) == // (floor) cross-engine). */
  private val KmK = 8
  private val KmIters = 3
  /** SemDeDup within-cluster cosine threshold, 10⁻⁴ micro-units (same
    * 0.45 near-dup bar as `llm_dedup_embed` so the two ops agree on what
    * "semantic duplicate" means). */
  private val SemTh = 4500L
  private val HammingMax = 6
  // 8 blocks over the 60 bits (4×8-bit + 4×7-bit); Hamming ≤ 6 corrupts ≤ 6
  // blocks → at least one of the C(8,2)=28 block PAIRS is fully clean
  private[graft] val SimBlockOffsets = Array(0, 8, 16, 24, 32, 39, 46, 53)
  private[graft] val SimBlockWidths  = Array(8, 8, 8, 8, 7, 7, 7, 7)
  private[graft] val SimCombos: Seq[(Int, Int)] =
    for (i <- 0 until 8; j <- (i + 1) until 8) yield (i, j)

  /** 60-bit token hash both engines can compute identically: the first 15
    * hex chars of md5. */

  /** Size-guarded broadcast regime for the dedup joins. The signal is the
    * SOURCE corpus scan's Catalyst estimate, not the derived frame's own
    * stats: without CBO, join-derived frames (the candidate set, the
    * candidate×shingle verify side) carry product-of-children estimates
    * that exceed any cap even on a 65 KB corpus, which would silently
    * withhold every hint and leave the verify-join plan to
    * auto-broadcast-threshold luck. A leaf parquet scan's estimate is its
    * file size — accurate, computed once per query. While the corpus is
    * under `graft.broadcast.guard.maxBytes` the hints are pinned (so AQE
    * can't flip plans run-to-run at bench scale); past the cap every hint
    * is withheld and the joins degrade to shuffle equi-joins — the plan
    * that survives a 100× corpus where a corpus-sized broadcast is an
    * executor/driver OOM. Both regimes are asserted in PlanShapeSpec.
    * The cap bounds the COMPRESSED corpus, and the broadcast frames are a
    * multiple of it (7 band rows/doc; candidate-pairs × shingles for the
    * verify side), hence the deliberately small 64 MB default — lower it
    * further for near-dup-saturated corpora where the candidate set is a
    * large fraction of all pairs. */
  private[ops] def corpusIsSmall(s: SparkSession, d: String): Boolean = {
    val cap = s.conf.get("graft.broadcast.guard.maxBytes", (64L << 20).toString).toLong
    Tables.documents(s, d).queryExecution.optimizedPlan.stats.sizeInBytes <= cap
  }
  private[ops] def broadcastIfSmall(df: DataFrame, smallCorpus: Boolean): DataFrame =
    if (smallCorpus) broadcast(df) else df

  private def docTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), explode(split(col("text"), " ")).as("w"))

  /** Per-doc 60-bit simhash over token hashes (ties at a bit sum of 0
    * resolve to bit=0 in both engines). One shuffle (the doc grouping);
    * the 60 bit votes are 60 plain SUM aggregates, so the whole vote stays
    * inside whole-stage codegen (higher-order lambdas would interpret). */
  private[graft] def simhashes(s: SparkSession, d: String): DataFrame = {
    val th = docTokens(s, d).select(col("doc_id"), expr(md5Bits("w", 15)).as("h"))
    // branch-free votes: ones_j = SUM((h>>j)&1); majority ⟺ 2·ones_j > n,
    // integer-identical to summing ±1 per token (2·ones − n) so the
    // brute-force DuckDB oracle is unchanged
    val bitSums = count(lit(1)).as("nt") +:
      (0 until SimBits).map(j => sum(expr(s"(h >> $j) & 1")).as(s"b$j"))
    val simExpr = (0 until SimBits)
      .map(j => s"CASE WHEN 2 * b$j > nt THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    th.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), expr(simExpr).as("sim"))
  }

  /** 3-gram shingles of a doc set (the llm_dedup_minhash derivation,
    * factored for the incremental path). */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) > 2)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        ))).as("s"))

  /** 4×2-banded Carter-Wegman minhash signatures of a doc set — the
    * 4-rows-per-doc relation a persisted LSH index stores. */
  private def bandsOf(docs: DataFrame): DataFrame = {
    val hashed = shinglesOf(docs)
      .select(col("doc_id"), expr("md5(s)").as("m"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(m, 1, 8), 16, 10) AS BIGINT)").as("ha"),
        expr("CAST(conv(substring(m, 9, 8), 16, 10) AS BIGINT)").as("hb"))
      .select(col("doc_id") +:
        (0 until 8).map(i => expr(s"(ha + $i * hb) % 4294967291").as(s"h$i")): _*)
    hashed.groupBy("doc_id").agg(
        min("h0").as("mh0"), min("h1").as("mh1"), min("h2").as("mh2"), min("h3").as("mh3"),
        min("h4").as("mh4"), min("h5").as("mh5"), min("h6").as("mh6"), min("h7").as("mh7"))
      .select(col("doc_id"),
        expr("stack(4, 0, mh0, mh1, 1, mh2, mh3, 2, mh4, mh5, 3, mh6, mh7) AS (band, b0, b1)"))
  }

  val ops: Seq[Op] = Seq(
    // INCREMENTAL near-dup — the production shape: a persisted LSH
    // signature INDEX over the existing corpus (built once, stored as
    // parquet — 4 band rows/doc, O(corpus) once), and each incoming batch
    // (docs ≡5 mod 17 here) deduped by banding ONLY the batch and joining
    // its signatures against the index. The corpus text is never
    // re-scanned for candidate generation; exact-Jaccard verify re-reads
    // only the docs the index matched (semi-join pruned). Cost per batch:
    // O(batch + matches), not O(corpus) — the difference between nightly
    // full-corpus re-dedup and streaming ingest at 100 TB.
    Op("llm_dedup_incremental", (s, d) => {
      val small = corpusIsSmall(s, d)
      val idxDir = Scratch.opDir("dedup_idx", d)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(idxDir, "_SUCCESS"))) {
        bandsOf(Tables.documents(s, d).where(col("doc_id") % 17 =!= 5))
          .write.mode("overwrite").parquet(idxDir) // the persisted index
      }
      val index = s.read.parquet(idxDir)
      val batchDocs = Tables.documents(s, d).where(col("doc_id") % 17 === 5)
      val batchBands = bandsOf(batchDocs)
      val cand = broadcastIfSmall(batchBands.as("x"), small).join(index.as("y"),
          col("x.band") === col("y.band") && col("x.b0") === col("y.b0")
            && col("x.b1") === col("y.b1"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
        .localCheckpoint() // consumed by the verify join AND the semi prune
      // verify re-reads ONLY matched corpus docs (semi join on candidates)
      val oldDocs = Tables.documents(s, d)
        .join(cand.select(col("b").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      val shNew = shinglesOf(batchDocs)
      val shOld = shinglesOf(oldDocs)
      val szNew = shNew.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val szOld = shOld.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val aSide = broadcastIfSmall(broadcastIfSmall(cand, small)
        .join(shNew.as("p"), col("a") === col("p.doc_id"))
        .select(col("a"), col("b"), col("p.s").as("ps")), small)
      val inter = shOld.as("q")
        .join(aSide, col("b") === col("q.doc_id") && col("ps") === col("q.s"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      inter
        .join(broadcastIfSmall(szNew.as("sa"), small), col("a") === col("sa.doc_id"))
        .join(broadcastIfSmall(szOld.as("sb"), small), col("b") === col("sb.doc_id"))
        .withColumn("jaccard",
          round(col("c") * lit(1.0) / (col("sa.n") + col("sb.n") - col("c")), 4))
        .where(col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
        .orderBy("a", "b")
    },
      // Same signature pipeline, split batch-vs-corpus: new docs (≡5 mod
      // 17) band-joined against the rest, exact-Jaccard verified.
      """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM dd WHERE len(t) > 2),
        |hs AS (SELECT doc_id, md5(s) AS m FROM sh),
        |ab AS (SELECT doc_id,
        |         ('0x' || substring(m, 1, 8))::BIGINT AS ha,
        |         ('0x' || substring(m, 9, 8))::BIGINT AS hb
        |       FROM hs),
        |mh AS (SELECT doc_id,
        |    MIN((ha + 0 * hb) % 4294967291) AS mh0,
        |    MIN((ha + 1 * hb) % 4294967291) AS mh1,
        |    MIN((ha + 2 * hb) % 4294967291) AS mh2,
        |    MIN((ha + 3 * hb) % 4294967291) AS mh3,
        |    MIN((ha + 4 * hb) % 4294967291) AS mh4,
        |    MIN((ha + 5 * hb) % 4294967291) AS mh5,
        |    MIN((ha + 6 * hb) % 4294967291) AS mh6,
        |    MIN((ha + 7 * hb) % 4294967291) AS mh7
        |  FROM ab GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, mh0 AS b0, mh1 AS b1 FROM mh UNION ALL
        |  SELECT doc_id, 1, mh2, mh3 FROM mh UNION ALL
        |  SELECT doc_id, 2, mh4, mh5 FROM mh UNION ALL
        |  SELECT doc_id, 3, mh6, mh7 FROM mh
        |),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM (SELECT * FROM bands WHERE doc_id % 17 = 5) x
        |  JOIN (SELECT * FROM bands WHERE doc_id % 17 <> 5) y
        |    ON x.band = y.band AND x.b0 = y.b0 AND x.b1 = y.b1
        |),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, COUNT(*) AS c FROM cand c
        |  JOIN sh p ON p.doc_id = c.a
        |  JOIN sh q ON q.doc_id = c.b AND q.s = p.s
        |  GROUP BY c.a, c.b
        |)
        |SELECT a, b, ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
        |FROM inter JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
        |WHERE ROUND(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.5
        |ORDER BY a, b""".stripMargin),
    // SimHash near-dup: pairs within Hamming distance 6, found via
    // 2-of-8 multi-block combination keys (exact — see scale notes above).
    // 28 rows/doc into the shuffle (vs 7 for 1-of-7 banding) buys ~15-bit
    // keys whose buckets stay O(1)·n/2¹⁵ — the trade that survives 10⁹
    // docs; candidate-set shrinkage vs single-block banding is asserted
    // in LlmScaleSpec.
    Op("llm_dedup_simhash", (s, d) => {
      val small = corpusIsSmall(s, d)
      val sh = simhashes(s, d)
      val comboKeys = SimCombos.zipWithIndex.map { case ((i, j), c) =>
        struct(lit(c).as("cid"),
          expr(s"(sim >> ${SimBlockOffsets(i)}) & ${(1 << SimBlockWidths(i)) - 1}").as("k1"),
          expr(s"(sim >> ${SimBlockOffsets(j)}) & ${(1 << SimBlockWidths(j)) - 1}").as("k2"))
      }
      val banded = sh.select(col("doc_id"), col("sim"),
          explode(array(comboKeys: _*)).as("ck"))
        .select(col("doc_id"), col("sim"),
          col("ck.cid").as("cid"), col("ck.k1").as("k1"), col("ck.k2").as("k2"))
      // hamming verdict BEFORE the distinct (round-17, guide §2.3
      // "filter before the exchange"): the verdict is a pure function of
      // the pair, so the dedup exchange now carries only true near-dups
      // instead of every banded collision (28 combo keys generate the
      // same hot pair up to 28×)
      broadcastIfSmall(banded.as("x"), small).join(banded.as("y"),
          col("x.cid") === col("y.cid") && col("x.k1") === col("y.k1")
            && col("x.k2") === col("y.k2") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          expr("CAST(bit_count(x.sim ^ y.sim) AS INT)").as("hamming"))
        .where(col("hamming") <= HammingMax)
        .distinct()
        .orderBy("a", "b")
    },
      // Oracle is the brute-force all-pairs scan — the banded Spark plan must
      // produce the identical pair set.
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |th AS (SELECT doc_id, ${duckMd5Bits("w", 15)} AS h FROM tk),
        |bits AS (
        |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS bsum
        |  FROM th, (SELECT unnest(range(0, 60)) AS j) GROUP BY doc_id, j
        |),
        |sh AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN bsum > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sim
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(bit_count(xor(x.sim, y.sim)) AS INT) AS hamming
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sim, y.sim)) <= 6
        |ORDER BY a, b""".stripMargin),

    // MinHash-LSH near-dup: 8 deterministic 32-bit minhashes banded 4×2 —
    // AND-amplification inside a band kills the random-pair false-positive
    // flood that single-hash OR-tables suffer, so the candidate join stays
    // tiny at scale; candidates are then verified with EXACT Jaccard.
    // Hash family: TWO md5 digests per shingle ('0:'||s, '1:'||s) sliced
    // into four 8-hex-char quarters each — 8 independent 32-bit hashes for
    // 2 digest computations, and the 8 minhashes are plain MIN aggregate
    // columns (no hash-index explode → 8× fewer shuffle rows than the
    // naive per-k layout). Fully deterministic → oracle-verified.
    Op("llm_dedup_minhash", (s, d) => {
      val small = corpusIsSmall(s, d)
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        // <3-token docs: Spark sequence(0, -1) descends; DuckDB is empty
        .where(size(col("t")) > 2)
        .select(col("doc_id"),
          explode(array_distinct(expr(
            "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
          ))).as("s"))
        // materialized once: the shingle relation feeds the hash family,
        // the per-doc size census AND both exact-verify joins — without
        // the checkpoint the split+explode+distinct runs four times
        .localCheckpoint()
      // ONE md5 per shingle (it dominated this op's cost at 2 md5s ×
      // 500k shingles); the 8-member hash family is Carter-Wegman affine
      // h_i = (a + i·b) mod p over the digest's two 32-bit halves —
      // pairwise-independent, exact 64-bit integer arithmetic both
      // engines share (max a + 7b < 2³⁵, no overflow anywhere).
      val hashed = sh
        .select(col("doc_id"), expr("md5(s)").as("m"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(m, 1, 8), 16, 10) AS BIGINT)").as("ha"),
          expr("CAST(conv(substring(m, 9, 8), 16, 10) AS BIGINT)").as("hb"))
        .select(col("doc_id") +:
          (0 until 8).map(i => expr(s"(ha + $i * hb) % 4294967291").as(s"h$i")): _*)
      val mh = hashed.groupBy("doc_id").agg(
        min("h0").as("mh0"), min("h1").as("mh1"), min("h2").as("mh2"), min("h3").as("mh3"),
        min("h4").as("mh4"), min("h5").as("mh5"), min("h6").as("mh6"), min("h7").as("mh7"))
      val bands = mh.select(col("doc_id"),
        expr("stack(4, 0, mh0, mh1, 1, mh2, mh3, 2, mh4, mh5, 3, mh6, mh7) AS (band, b0, b1)"))
      // 4 rows per doc — small at bench scale (hint pinned so AQE can't
      // flip to sort-merge) but corpus-sized at 10⁹ docs, so the hint is
      // size-guarded: past the cap the band join shuffles on (band,b0,b1)
      val cand = broadcastIfSmall(bands.as("x"), small).join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.b0") === col("y.b0")
            && col("x.b1") === col("y.b1") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // exact-Jaccard verify. aSide is candidate-pairs × shingles-per-doc —
      // small at bench scale (broadcasting it streams the full shingle
      // relation in place) but NOT bounded at corpus scale, so every hint
      // here is size-guarded: past the cap both verify joins degrade to
      // shuffle equi-joins on (doc_id, shingle), whose volume is the
      // candidate set — already LSH-pruned — not the corpus
      val aSide = broadcastIfSmall(broadcastIfSmall(cand, small)
        .join(sh.as("p"), col("a") === col("p.doc_id"))
        .select(col("a"), col("b"), col("p.s").as("ps")), small)
      val inter = sh.as("q")
        .join(aSide, col("b") === col("q.doc_id") && col("ps") === col("q.s"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      inter
        .join(broadcastIfSmall(sz.as("sa"), small), col("a") === col("sa.doc_id"))
        .join(broadcastIfSmall(sz.as("sb"), small), col("b") === col("sb.doc_id"))
        .withColumn("jaccard",
          round(col("c") * lit(1.0) / (col("sa.n") + col("sb.n") - col("c")), 4))
        .where(col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
        .orderBy("a", "b")
    },
      """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM dd),
        |hs AS (SELECT doc_id, md5(s) AS m FROM sh),
        |ab AS (SELECT doc_id,
        |         ('0x' || substring(m, 1, 8))::BIGINT AS ha,
        |         ('0x' || substring(m, 9, 8))::BIGINT AS hb
        |       FROM hs),
        |mh AS (SELECT doc_id,
        |    MIN((ha + 0 * hb) % 4294967291) AS mh0,
        |    MIN((ha + 1 * hb) % 4294967291) AS mh1,
        |    MIN((ha + 2 * hb) % 4294967291) AS mh2,
        |    MIN((ha + 3 * hb) % 4294967291) AS mh3,
        |    MIN((ha + 4 * hb) % 4294967291) AS mh4,
        |    MIN((ha + 5 * hb) % 4294967291) AS mh5,
        |    MIN((ha + 6 * hb) % 4294967291) AS mh6,
        |    MIN((ha + 7 * hb) % 4294967291) AS mh7
        |  FROM ab GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, mh0 AS b0, mh1 AS b1 FROM mh UNION ALL
        |  SELECT doc_id, 1, mh2, mh3 FROM mh UNION ALL
        |  SELECT doc_id, 2, mh4, mh5 FROM mh UNION ALL
        |  SELECT doc_id, 3, mh6, mh7 FROM mh
        |),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.b0 = y.b0 AND x.b1 = y.b1 AND x.doc_id < y.doc_id
        |),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, COUNT(*) AS c FROM cand c
        |  JOIN sh p ON p.doc_id = c.a
        |  JOIN sh q ON q.doc_id = c.b AND q.s = p.s
        |  GROUP BY c.a, c.b
        |)
        |SELECT a, b, ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
        |FROM inter JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
        |WHERE ROUND(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.5
        |ORDER BY a, b""".stripMargin),

    // Embedding-cosine near-dup pairs (the vector-space dedup signal).
    // Ships the block-pair AllPairsCosineExec plan — the declarative
    // pure-theta self-join (`x.vec_id < y.vec_id`) plans a
    // BroadcastNestedLoopJoin over the full corpus square (7.5× slower at
    // sf0.1 and a broadcast-the-corpus scale-killer), so that formulation
    // lives in PlanShapeSpec as the cross-check oracle and the graded
    // operator takes the distributed triangular block sweep. Exact
    // all-pairs stays O(n²·dim) compute by definition; at corpus scale the
    // LSH/banding ops above are the sub-quadratic escape hatch.
    Op("llm_dedup_embed", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      org.apache.spark.sql.graftbridge.AllPairsCosineApi.pairs(s, e, 0.45)
        .orderBy("a", "b")
    },
      // Same norm-precomputed formulation: dot / (|a|·|b|), with the norm as
      // sqrt(self-dot) so both engines fold in index order.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |en AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  ROUND(list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm), 4) AS cos
        |FROM en x JOIN en y ON x.vec_id < y.vec_id
        |WHERE ROUND(list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm), 4) >= 0.45
        |ORDER BY a, b""".stripMargin),

    // Native whole-operator variant of the all-pairs sweep: broadcast
    // vectors + per-partition primitive-array loop (AllPairsCosineExec), no
    // join machinery — same rows as llm_dedup_embed, same oracle.
    Op("llm_dedup_embed_native", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      org.apache.spark.sql.graftbridge.AllPairsCosineApi.pairs(s, e, 0.45)
        .orderBy("a", "b")
    },
      // Same oracle as llm_dedup_embed — the native sweep must be row-equal.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |en AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  ROUND(list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm), 4) AS cos
        |FROM en x JOIN en y ON x.vec_id < y.vec_id
        |WHERE ROUND(list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm), 4) >= 0.45
        |ORDER BY a, b""".stripMargin),

    // IVF-style approximate nearest neighbors. Every ranking key is a
    // 4-dp-rounded cosine with an id tie-break, so the cluster assignment,
    // probe list and final top-5 are engine-independent → fully
    // oracle-verified against the same algorithm in DuckDB SQL (recall@5 vs
    // brute force is additionally asserted in ScalaTest).
    Op("llm_sim_ann", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      // deterministic coarse quantizer, ~√n centroids: a vector is a
      // centroid iff the first 32 bits of md5(vec_id) fall under 2³²/√n —
      // an embarrassingly parallel hash-threshold sample (no global sort,
      // no driver round-trip, scales to any corpus) replayed identically
      // in the DuckDB oracle; E[#centroids] = √n, the standard IVF sizing.
      // Comparison stays in doubles: both engines compute the identical
      // IEEE quotient (a BIGINT cast would differ — Spark truncates,
      // DuckDB rounds).
      val nTot = e.agg(count(lit(1)).cast("double").as("n_tot"))
      val cent = e.crossJoin(broadcast(nTot))
        .where(expr(md5Bits("CAST(vec_id AS STRING)", 8))
          .cast("double") < lit(4294967296.0) / sqrt(col("n_tot")))
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val wAssign = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))
      val assigned = e.join(broadcast(cent))
        .withColumn("ccos", round(call_function("cosine_sim", col("emb"), col("cemb")), 4))
        .withColumn("crn", row_number().over(wAssign))
        .where(col("crn") === 1)
        .select(col("vec_id"), col("emb"), col("cid").as("cluster"))
      // probes search their nprobe=4 closest clusters only
      val wProbe = Window.partitionBy("probe_id").orderBy(desc("pcos"), col("cid"))
      val probeClusters = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
        .join(broadcast(cent))
        .withColumn("pcos", round(call_function("cosine_sim", col("p_emb"), col("cemb")), 4))
        .withColumn("prn", row_number().over(wProbe))
        .where(col("prn") <= 4)
        .select(col("probe_id"), col("p_emb"), col("cid").as("cluster"))
      val wTop = Window.partitionBy("probe_id").orderBy(desc("sim"), col("neighbor_id"))
      probeClusters.join(assigned, Seq("cluster"))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          round(call_function("cosine_sim", col("p_emb"), col("emb")), 4).as("sim"))
        .withColumn("rnk", row_number().over(wTop))
        .where(col("rnk") <= 5)
        .orderBy("probe_id", "rnk")
    },
      // The IVF algorithm itself, replayed in SQL: same centroids, same
      // 4-dp-rounded ranking keys, same nprobe=4 → identical output.
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |st AS (SELECT COUNT(*) AS n_tot FROM e),
        |cent AS (SELECT vec_id AS cid, emb AS cemb FROM e, st
        |         WHERE ${duckMd5Bits("CAST(vec_id AS VARCHAR)", 8)} * 1.0
        |               < 4294967296.0 / sqrt(n_tot * 1.0)),
        |assigned AS (
        |  SELECT vec_id, emb, cluster FROM (
        |    SELECT e.vec_id, e.emb, c.cid AS cluster,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(e.emb, c.cemb), 4) DESC, c.cid) AS crn
        |    FROM e CROSS JOIN cent c)
        |  WHERE crn = 1),
        |probes AS (
        |  SELECT probe_id, p_emb, cluster FROM (
        |    SELECT p.vec_id AS probe_id, p.emb AS p_emb, c.cid AS cluster,
        |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(p.emb, c.cemb), 4) DESC, c.cid) AS prn
        |    FROM e p CROSS JOIN cent c WHERE p.vec_id < 10)
        |  WHERE prn <= 4),
        |cand AS (
        |  SELECT pr.probe_id, a.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(pr.p_emb, a.emb), 4) AS sim
        |  FROM probes pr JOIN assigned a ON pr.cluster = a.cluster
        |  WHERE a.vec_id <> pr.probe_id)
        |SELECT probe_id, neighbor_id, sim, rnk FROM (
        |  SELECT probe_id, neighbor_id, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
        |  FROM cand)
        |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin),

    // MMR re-ranking (maximal marginal relevance — the diversity-aware
    // retrieval stage between ANN top-k and context assembly): greedy
    // selection maximizing λ·relevance − (1−λ)·max-sim-to-selected with
    // λ = 0.7 in integer tenths (score = 7·rel − 3·penalty over
    // 10⁻⁴-scaled cosine ints, all-BIGINT — deterministic argmax with id
    // tie-break). The distributed work is the corpus-wide relevance scan
    // and the ordered-limit candidate cut; the greedy loop then runs on
    // the driver over the k=12 candidate pool and its 12×12 pair sims —
    // O(pool²) METADATA, the same collect scale as bpeTrain's per-round
    // argmax (at 100 TB the pool is still 12 rows; only the scan grows).
    Op("llm_mmr_rerank", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val probe = e.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val cand = e.join(broadcast(probe), col("vec_id") =!= col("probe_id"))
        .select(col("vec_id"),
          round(call_function("cosine_sim", col("p_emb"), col("emb")) * 10000, 0)
            .cast("bigint").as("rel"),
          col("emb"))
        .orderBy(desc("rel"), col("vec_id")).limit(12)
        .localCheckpoint()
      val pairs = cand.select(col("vec_id").as("a"), col("emb").as("ea"))
        .join(broadcast(cand.select(col("vec_id").as("b"), col("emb").as("eb"))),
          col("a") =!= col("b"))
        .select(col("a"), col("b"),
          round(call_function("cosine_sim", col("ea"), col("eb")) * 10000, 0)
            .cast("bigint").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      var remaining = cand.select("vec_id", "rel").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toVector
      var selected = Vector.empty[(Long, Long, Long)]
      for (_ <- 1 to 5) {
        val best = remaining.map { case (id, r) =>
          val pen = if (selected.isEmpty) 0L
                    else selected.map(sel => pairs((id, sel._1))).max
          (id, r, 7 * r - 3 * pen)
        }.minBy { case (id, _, sc) => (-sc, id) }
        selected :+= best
        remaining = remaining.filterNot(_._1 == best._1)
      }
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      selected.zipWithIndex
        .map { case ((id, r, sc), i) => (i + 1, id, r, sc) }
        .toDF("rank", "vec_id", "rel", "score")
        .orderBy("rank")
    },
      // Greedy selection replayed as chained CTEs: sel1 is the pure-
      // relevance argmax, each later round scores the remaining pool
      // against the union of prior picks — same integer weights, same
      // (score desc, id) tie-break as the Spark loop.
      {
      val rounds = (2 to 5).map { i =>
        val prev = s"selu${i - 1}"
        s"""sc$i AS (SELECT c.vec_id, c.rel,
           |    7 * c.rel - 3 * (SELECT MAX(p.s) FROM pairs p
           |      WHERE p.a = c.vec_id AND p.b IN (SELECT vec_id FROM $prev)) AS score
           |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)),
           |sel$i AS (SELECT vec_id, rel, score FROM sc$i
           |  ORDER BY score DESC, vec_id LIMIT 1),
           |selu$i AS (SELECT vec_id FROM $prev UNION ALL SELECT vec_id FROM sel$i)"""
      }.mkString(",\n")
      val unions = (1 to 5)
        .map(i => s"SELECT $i AS rank, vec_id, rel, score FROM sel$i")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |pr AS (SELECT vec_id AS probe_id, emb AS p_emb FROM e ORDER BY vec_id LIMIT 1),
         |cand AS (SELECT vec_id,
         |    CAST(ROUND(list_cosine_similarity(p_emb, emb) * 10000, 0) AS BIGINT) AS rel,
         |    emb
         |  FROM e, pr WHERE vec_id <> probe_id
         |  ORDER BY rel DESC, vec_id LIMIT 12),
         |pairs AS (SELECT c1.vec_id AS a, c2.vec_id AS b,
         |    CAST(ROUND(list_cosine_similarity(c1.emb, c2.emb) * 10000, 0) AS BIGINT) AS s
         |  FROM cand c1, cand c2 WHERE c1.vec_id <> c2.vec_id),
         |sel1 AS (SELECT vec_id, rel, 7 * rel AS score FROM cand
         |  ORDER BY score DESC, vec_id LIMIT 1),
         |selu1 AS (SELECT vec_id FROM sel1),
         |$rounds
         |SELECT rank, vec_id, rel, score FROM (
         |  $unions)
         |ORDER BY rank""".stripMargin
    }),

    // Native whole-operator top-k: CosineTopK LogicalPlan + Strategy +
    // Exec, the custom-operator extension point (SURVEY §4). Oracle-checked
    // against the brute-force SQL (sims rounded to 4 dp before ranking, id
    // tie-break — identical to the composed llm_sim_topk); ScalaTest
    // additionally asserts equality with the composed plan.
    Op("llm_sim_topk_native", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val probes = e.where(col("vec_id") < 10)
      org.apache.spark.sql.graftbridge.CosineTopKApi.topK(s, probes, e, 5)
        .orderBy("probe_id", "rnk")
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, emb AS p_emb FROM e WHERE vec_id < 10),
        |sim AS (SELECT probe_id, vec_id AS neighbor_id,
        |          ROUND(list_cosine_similarity(p_emb, emb), 4) AS sim
        |        FROM p, e WHERE vec_id <> probe_id),
        |r AS (SELECT probe_id, neighbor_id, sim,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
        |      FROM sim)
        |SELECT probe_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin),

    // BPE-style pre-tokenization counting: split on letter-runs /
    // digit-runs / punctuation-runs (the lookahead-free core of the GPT-2
    // pre-tokenizer — RE2 in DuckDB has no lookahead, so both engines use
    // the same portable pattern), then per-doc token and unique-token
    // counts plus a corpus-wide distinct-token count.
    Op("llm_text_tokens_bpe", (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+', 0)"))
        .select(col("doc_id"),
          size(col("toks")).as("n_bpe_tokens"),
          size(array_distinct(col("toks"))).as("n_unique"),
          expr("size(filter(toks, x -> x rlike '^[0-9]+$'))").as("n_numeric"),
          expr("size(filter(toks, x -> x not rlike '^[a-zA-Z0-9]'))").as("n_punct"))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(toks)) AS INT) AS n_unique,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS INT) AS n_numeric,
        |  CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '^[a-zA-Z0-9]'))) AS INT) AS n_punct
        |FROM t ORDER BY doc_id""".stripMargin),

    // Quality scoring: token stats + stopword ratio + a deterministic score.
    Op("llm_text_quality", (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+', 0)"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          round(expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))") * lit(1.0)
            / size(col("toks")), 4).as("avg_token_len"),
          expr("size(filter(toks, x -> x IN ('the','a','of','and','to','in','on','for')))")
            .as("n_stop"))
        .withColumn("stop_ratio", round(col("n_stop") * lit(1.0) / col("n_tokens"), 4))
        .withColumn("quality",
          round((lit(1.0) - col("n_stop") * lit(1.0) / col("n_tokens"))
            * least(col("n_tokens"), lit(100)) / 100.0, 4))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  ROUND(list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks), 4) AS avg_token_len,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','on','for'], x))) AS INT) AS n_stop,
        |  ROUND(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','on','for'], x))) * 1.0 / len(toks), 4) AS stop_ratio,
        |  ROUND((1.0 - len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','on','for'], x))) * 1.0 / len(toks))
        |        * least(len(toks), 100) / 100.0, 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin),

    // Language-ID heuristic: marker-token votes with a deterministic
    // argmax chain (demonstrates the n-gram/marker approach; the synthetic
    // corpus shares one vocabulary so accuracy is incidental).
    Op("llm_lang_id", (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), col("lang"),
          expr("size(filter(toks, x -> x IN ('the','a','fast')))").as("s_en"),
          expr("size(filter(toks, x -> x IN ('data','row')))").as("s_es"),
          expr("size(filter(toks, x -> x IN ('table','scan')))").as("s_de"),
          expr("size(filter(toks, x -> x IN ('query','join')))").as("s_fr"),
          expr("size(filter(toks, x -> x IN ('hash','key')))").as("s_zh"))
        .withColumn("pred", expr(
          """CASE
            | WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            | WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
            | WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
            | WHEN s_fr >= s_zh THEN 'fr'
            | ELSE 'zh' END""".stripMargin))
        .withColumn("is_match", col("pred") === col("lang"))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','fast'], x))) AS INT) AS s_en,
        |    CAST(len(list_filter(toks, x -> list_contains(['data','row'], x))) AS INT) AS s_es,
        |    CAST(len(list_filter(toks, x -> list_contains(['table','scan'], x))) AS INT) AS s_de,
        |    CAST(len(list_filter(toks, x -> list_contains(['query','join'], x))) AS INT) AS s_fr,
        |    CAST(len(list_filter(toks, x -> list_contains(['hash','key'], x))) AS INT) AS s_zh
        |  FROM t
        |)
        |SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
        |  CASE
        |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_fr >= s_zh THEN 'fr'
        |    ELSE 'zh' END AS pred,
        |  (CASE
        |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_fr >= s_zh THEN 'fr'
        |    ELSE 'zh' END) = lang AS is_match
        |FROM sc ORDER BY doc_id""".stripMargin),

    // Winnowing document fingerprints: min shingle-hash per sliding window
    // of 4, deduplicated — the classic local fingerprinting scheme.
    Op("llm_fingerprint", (s, d) => {
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .where(size(col("t")) > 2) // sequence(0, -1) would descend
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        )).as(Seq("i", "sgl")))
        .select(col("doc_id"), col("i"),
          expr(md5Bits("sgl", 15)).as("h"))
      val w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
      sh.withColumn("m", min(col("h")).over(w))
        .where(col("i") >= 3)
        .select("doc_id", "m").distinct()
        .groupBy("doc_id")
        // fingerprints emitted as a ','-joined string (array cells crash
        // the driver's pandas compare)
        .agg(expr("array_join(transform(array_sort(collect_list(m)), x -> CAST(x AS STRING)), ',')")
          .as("fps"), count(lit(1)).cast("int").as("n_fp"))
        .orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sp AS (
        |  SELECT d.doc_id, u.i, d.t[u.i] || ' ' || d.t[u.i+1] || ' ' || d.t[u.i+2] AS sgl
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(d.t) - 2)) AS i) u
        |),
        |h AS (SELECT doc_id, i, ${duckMd5Bits("sgl", 15)} AS hv FROM sp),
        |wm AS (
        |  SELECT doc_id, i,
        |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
        |  FROM h
        |),
        |fp AS (SELECT DISTINCT doc_id, m FROM wm WHERE i >= 4)
        |SELECT doc_id, string_agg(CAST(m AS VARCHAR), ',' ORDER BY m) AS fps,
        |  CAST(COUNT(*) AS INT) AS n_fp
        |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Deterministic train/val/test split assignment — the reproducible
    // corpus-partitioning stage every training-data pipeline needs: a doc's
    // split is a pure function of md5(doc_id) range (80/10/10), so the
    // assignment is stable across runs, engines and cluster layouts, and
    // embarrassingly parallel (no shuffle before the final small rollup).
    // Thresholds are integer literals (⌊0.8·2³²⌋, ⌊0.9·2³²⌋) — a double
    // cast would truncate in Spark but round in DuckDB.
    Op("llm_sample_split", (s, d) =>
      Tables.documents(s, d)
        .withColumn("u", expr(
          md5Bits("CAST(doc_id AS STRING)", 8)))
        .withColumn("split", expr(
          """CASE WHEN u < 3435973836 THEN 'train'
            |     WHEN u < 3865470566 THEN 'val'
            |     ELSE 'test' END""".stripMargin))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("bigint").as("n_chars"))
        .orderBy("lang", "split"),
      // DuckDB SUM(BIGINT) exports as HUGEINT→float64; recast per §7.3 law.
      s"""WITH u AS (SELECT lang, text,
        |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN u < 3435973836 THEN 'train'
        |       WHEN u < 3865470566 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM u GROUP BY 1, 2 ORDER BY lang, split""".stripMargin),

    // Multimodal binary pipeline: payload as an opaque binary column,
    // batch-decoded per partition (the Scala analogue of mapInPandas).
    // The "decode" is a deterministic stub — real image/audio codecs are
    // not in this environment — but the plumbing (binary column, typed
    // output schema, partition-wise batching, frame sampling) is real.
    Op("mm_decode_meta", (s, d) => {
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      val ds = Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
      ds.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          md.reset()
          val checksum = md.digest(bytes).map("%02x".format(_)).mkString
          val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          val frames = text.split(" ").zipWithIndex.collect { case (t, i) if i % 8 == 0 => t }
          (id, bytes.length, checksum, bytes.head & 0xff, bytes.last & 0xff,
            new String(bytes.take(16), java.nio.charset.StandardCharsets.UTF_8),
            frames.mkString(" "))
        }
      }.toDF("doc_id", "n_bytes", "checksum", "width", "height", "thumb", "frames")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(strlen(text) AS INT) AS n_bytes,
        |  md5(text) AS checksum,
        |  CAST(ascii(substring(text, 1, 1)) AS INT) AS width,
        |  CAST(ascii(substring(text, len(text), 1)) AS INT) AS height,
        |  substring(text, 1, 16) AS thumb,
        |  array_to_string(list_transform(generate_series(1, len(string_split(text, ' ')), 8),
        |                  i -> string_split(text, ' ')[i]), ' ') AS frames
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Model-based quality FILTER — the trained-classifier stage of a
    // curation pipeline (the step after llm_text_quality's heuristic
    // scorer): a fixed interpretable linear model over per-doc features
    // (stopword ratio, capped length, lexical diversity), thresholded at
    // logit 0. The score stays in LINEAR space — thresholding the logit
    // at 0 is exactly thresholding the sigmoid at 0.5, and exp() is the
    // one primitive whose last-ulp behavior differs across engines' libm,
    // so the graded surface is bit-exact double arithmetic (+ a 4dp round
    // to a DECIMAL for the exact cross-engine sum). One scan, one
    // shuffle-free map phase, one tiny groupBy — at 100 TB this is a
    // pure map-side pipeline.
    Op("llm_quality_classifier", (s, d) => {
      val feats = Tables.documents(s, d)
        .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+', 0)"))
        .withColumn("stop_ratio",
          expr("size(filter(toks, x -> x IN ('the','a','of','and','to','in','on','for')))")
            * lit(1.0) / greatest(size(col("toks")), lit(1)))
        .withColumn("len_score",
          least(size(split(col("text"), " ")), lit(200)) * lit(1.0) / lit(200.0))
        .withColumn("uniq_ratio",
          size(array_distinct(col("toks"))) * lit(1.0)
            / greatest(size(col("toks")), lit(1)))
        // 4-dp fix-point via floor(x·10⁴ + 0.5), NOT round(x, 4): Spark's
        // round on DOUBLE goes through the decimal string (BigDecimal
        // HALF_UP) while DuckDB rounds the binary value — a logit landing
        // on a .00005 boundary diverges by 1e-4 between the engines
        // (observed at sf0.1). floor over the shared IEEE tree is a
        // single exact operation both engines agree on bit-for-bit (the
        // llm_embed_quantize law).
        .withColumn("logit_micro",
          floor((lit(-1.6) + lit(4.0) * col("stop_ratio")
            + lit(2.0) * col("len_score") + lit(1.5) * col("uniq_ratio"))
            * 10000 + lit(0.5)).cast("bigint"))
      feats.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("logit_micro") > 0, 1L).otherwise(0L)).as("n_keep"),
          sum(col("logit_micro")).as("sum_micro"),
          max(col("logit_micro")).as("max_micro"))
        .withColumn("keep_rate",
          floor(col("n_keep") * lit(10000.0) / col("n_docs") + lit(0.5)) / 10000.0)
        .select(col("lang"), col("n_docs"), col("n_keep"), col("keep_rate"),
          (col("sum_micro") / 10000.0).as("sum_logit"),
          (col("max_micro") / 10000.0).as("max_logit"))
        .orderBy("lang")
    },
      // The linear model replayed feature-for-feature; the per-doc logit is
      // rounded to 4dp and summed as a DECIMAL so the aggregate is exact.
      """WITH f AS (
        |  SELECT lang,
        |    len(list_filter(regexp_extract_all(text, '[a-z]+'),
        |        x -> list_contains(['the','a','of','and','to','in','on','for'], x))) * 1.0
        |      / greatest(len(regexp_extract_all(text, '[a-z]+')), 1) AS stop_ratio,
        |    least(len(string_split(text, ' ')), 200) * 1.0 / 200.0 AS len_score,
        |    len(list_distinct(regexp_extract_all(text, '[a-z]+'))) * 1.0
        |      / greatest(len(regexp_extract_all(text, '[a-z]+')), 1) AS uniq_ratio
        |  FROM documents),
        |g AS (
        |  SELECT lang,
        |    CAST(floor((-1.6 + 4.0 * stop_ratio + 2.0 * len_score
        |               + 1.5 * uniq_ratio) * 10000 + 0.5) AS BIGINT) AS logit_micro
        |  FROM f)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN logit_micro > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(floor(SUM(CASE WHEN logit_micro > 0 THEN 1 ELSE 0 END) * 10000.0
        |             / COUNT(*) + 0.5) AS BIGINT) / 10000.0 AS keep_rate,
        |  CAST(SUM(logit_micro) AS BIGINT) / 10000.0 AS sum_logit,
        |  CAST(MAX(logit_micro) AS BIGINT) / 10000.0 AS max_logit
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin),

    // Domain/language REWEIGHTING — mixture construction, the step that
    // turns a curated corpus into a training distribution: fixed target
    // shares per language, per-language epoch multipliers
    // target_share·total/actual capped at 3 epochs (the standard
    // repetition budget), and the effective token counts the sampled
    // mixture would contain. All arithmetic is double mult/div + one 4dp
    // round + floor — exact cross-engine. The corpus is scanned once for
    // the per-language rollup; the grand total is a broadcast scalar —
    // at 100 TB this plans as one partial-agg shuffle of 5 rows.
    Op("llm_data_mixture", (s, d) => {
      val tokc = Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("bigint").as("n_tokens"))
      val tot = tokc.agg(sum(col("n_tokens")).cast("bigint").as("total_tokens"))
      tokc.crossJoin(broadcast(tot))
        .withColumn("target_share", expr(
          """CASE lang WHEN 'en' THEN 0.30D WHEN 'es' THEN 0.20D
            |  WHEN 'de' THEN 0.20D WHEN 'fr' THEN 0.15D
            |  ELSE 0.15D END""".stripMargin))
        .withColumn("actual_share",
          round(col("n_tokens") * lit(1.0) / col("total_tokens"), 4))
        .withColumn("epochs",
          round(least(col("target_share") * col("total_tokens") / col("n_tokens"),
            lit(3.0)), 4))
        .withColumn("eff_tokens",
          floor(col("epochs") * col("n_tokens")).cast("bigint"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("actual_share"),
          col("target_share"), col("epochs"), col("eff_tokens"))
        .orderBy("lang")
    },
      // Mixture replay: same shares, same cap, same round-then-floor chain.
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM c),
        |m AS (
        |  SELECT c.*, t.total_tokens,
        |    CASE lang WHEN 'en' THEN CAST(0.30 AS DOUBLE)
        |      WHEN 'es' THEN CAST(0.20 AS DOUBLE)
        |      WHEN 'de' THEN CAST(0.20 AS DOUBLE)
        |      WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
        |      ELSE CAST(0.15 AS DOUBLE) END AS target_share
        |  FROM c, t),
        |e AS (
        |  SELECT *, ROUND(LEAST(target_share * total_tokens / n_tokens, 3.0), 4) AS epochs
        |  FROM m)
        |SELECT lang, n_docs, n_tokens,
        |  ROUND(n_tokens * 1.0 / total_tokens, 4) AS actual_share,
        |  target_share, epochs,
        |  CAST(FLOOR(epochs * n_tokens) AS BIGINT) AS eff_tokens
        |FROM e ORDER BY lang""".stripMargin),

    // Curriculum construction (easy->hard training schedule): difficulty =
    // average token length in milli-chars ((n_chars*1000) DIV tokens —
    // exact integer), docs banded into 5 phases by min/max-normalized
    // score from one broadcast 1-row rollup (no global sort, no ntile
    // single-task window); the schedule table reports each phase's doc
    // and token budget. All integer end to end.
    Op("llm_curriculum", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("bigint").as("nc"),
          size(split(col("text"), " ")).cast("bigint").as("toks"))
        .withColumn("score", expr("(nc * 1000) DIV toks"))
      val mm = t.agg(min("score").as("mn"), max("score").as("mx"))
      t.crossJoin(broadcast(mm))
        .withColumn("phase", expr("((score - mn) * 5) DIV (mx - mn + 1)"))
        .groupBy("phase")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
          min("score").as("sc_min"), max("score").as("sc_max"))
        .orderBy("phase")
    },
      // Same integer banding replay.
      """WITH t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |s AS (SELECT *, (nc * 1000) // toks AS score FROM t),
        |m AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM s)
        |SELECT ((score - mn) * 5) // (mx - mn + 1) AS phase, COUNT(*) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |  CAST(MIN(score) AS BIGINT) AS sc_min, CAST(MAX(score) AS BIGINT) AS sc_max
        |FROM s, m GROUP BY 1 ORDER BY 1""".stripMargin),

    // Distributed Lloyd k-means over the embedding corpus — the topic/
    // domain clustering stage of a curation pipeline (and the training
    // half of the IVF index llm_sim_ann searches). ALL-INTEGER: micro-unit
    // coordinates, exact squared-distance assignment with (d2, cid)
    // tie-break, centroid update by SUM DIV COUNT — every round is
    // bit-replayable in SQL, the determinism float k-means lacks. Each
    // round = one broadcast-centroid join + argmin + one groupBy (the
    // standard distributed k-means shape: corpus scanned once per round,
    // centroids O(k*dims) broadcast, never a driver-side loop over rows).
    Op("llm_kmeans_embed", (s, d) =>
      kmeansAssign(s, d).groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"), sum("d2").as("inertia"))
        .orderBy("cid"),
      // The 3 Lloyd rounds replayed as chained CTEs (same constants;
      // KmOracleCtes is shared with llm_semdedup so the replayed training
      // run can never drift between the two consumers).
      s"""WITH $KmOracleCtes
        |SELECT cid, COUNT(*) AS n_vecs, CAST(SUM(d2) AS BIGINT) AS inertia
        |FROM g3 GROUP BY 1 ORDER BY 1""".stripMargin),

    // SemDeDup (cluster-then-prune semantic dedup): pairwise cosine runs
    // ONLY inside each k-means cluster — the clustering bounds the
    // quadratic blowup to Σ|cluster|², the paper's whole point (exact
    // all-pairs over the corpus is `llm_dedup_embed`; this is the shape
    // that survives when n² doesn't). Candidates are a cid-partitioned
    // equi-self-join (never a corpus cross product); the keep-one policy
    // drops every vector with a more-senior (lower-id) duplicate in its
    // cluster — deterministic, and the one real near-dup planted in the
    // fixture is asserted caught in ScalaTest. A production run adds a
    // per-cluster size cap exactly like nearPairs' dfCap.
    Op("llm_semdedup", (s, d) => {
      val m = kmeansAssign(s, d)
        .join(Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")),
          "vec_id")
        .select("vec_id", "cid", "emb")
      val pairs = m.as("x").join(m.as("y"),
          col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.cid").as("cid"), col("x.vec_id").as("a"),
          col("y.vec_id").as("b"),
          round(call_function("cosine_sim", col("x.emb"), col("y.emb")) * 10000, 0)
            .cast("bigint").as("sim"))
        .where(col("sim") >= SemTh)
        .localCheckpoint() // feeds both rollups below
      val stats = m.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      val np = pairs.groupBy("cid").agg(count(lit(1)).as("n_dup_pairs"))
      val nd = pairs.select("cid", "b").distinct()
        .groupBy("cid").agg(count(lit(1)).as("n_dropped"))
      stats.join(np, Seq("cid"), "left").join(nd, Seq("cid"), "left")
        .select(col("cid"), col("n_vecs"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
        .orderBy("cid")
    },
      // The same training run, then within-cluster pairwise cosine and the
      // keep-lowest-id prune replayed relationally.
      s"""WITH $KmOracleCtes,
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT g3.vec_id, g3.cid, emb.emb FROM g3 JOIN emb USING (vec_id)),
        |dup AS (SELECT x.cid, x.vec_id AS a, y.vec_id AS b,
        |    CAST(ROUND(list_cosine_similarity(x.emb, y.emb) * 10000, 0) AS BIGINT) AS sim
        |  FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |  WHERE CAST(ROUND(list_cosine_similarity(x.emb, y.emb) * 10000, 0) AS BIGINT) >= 4500),
        |st AS (SELECT cid, COUNT(*) AS n_vecs FROM m GROUP BY 1),
        |np AS (SELECT cid, COUNT(*) AS n_dup_pairs FROM dup GROUP BY 1),
        |nd AS (SELECT cid, COUNT(*) AS n_dropped
        |  FROM (SELECT DISTINCT cid, b FROM dup) GROUP BY 1)
        |SELECT st.cid, CAST(st.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(COALESCE(np.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
        |  CAST(COALESCE(nd.n_dropped, 0) AS BIGINT) AS n_dropped,
        |  CAST(st.n_vecs - COALESCE(nd.n_dropped, 0) AS BIGINT) AS n_kept
        |FROM st LEFT JOIN np USING (cid) LEFT JOIN nd USING (cid)
        |ORDER BY st.cid""".stripMargin),

    // Readability scoring (the Flesch-reading-ease shape, the curriculum/
    // quality signal next to llm_text_quality's stopword score): words and
    // vowel-group "syllables" are counted by the SAME two regexes in both
    // engines; the synthetic corpus carries no sentence punctuation, so a
    // sentence-unit is defined as a 15-word span (ceil division —
    // documented convention, not linguistics). The classic formula
    // 206.835 − 1.015·(W/S) − 84.6·(Syl/W) is kept in exact integer
    // micro-units via two positive-operand floor divisions, then averaged
    // per language with a third — engine-identical at every step, no FP.
    // Scale: per-row projection + one tiny rollup on lang; the regexes
    // stay inside whole-stage codegen.
    Op("llm_readability", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          size(expr("regexp_extract_all(text, '[^ ]+', 0)")).cast("bigint").as("words"),
          size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("bigint").as("syll"))
        .where(col("words") > 0)
        .withColumn("sents", expr("(words + 14) DIV 15"))
        .withColumn("fm", expr(
          "206835000 - (1015000 * words) DIV sents - (84600000 * syll) DIV words"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("words").as("n_words"),
          sum("syll").as("n_syllables"),
          expr("CASE WHEN SUM(fm) >= 0 THEN SUM(fm) DIV COUNT(*) " +
            "ELSE -((-SUM(fm)) DIV COUNT(*)) END").as("avg_flesch_micro"),
          min("fm").as("min_flesch_micro"),
          max("fm").as("max_flesch_micro"))
        .orderBy("lang"),
      // Same regexes, same 15-word sentence-unit, same two positive
      // floor divisions (DuckDB // ≡ Spark DIV on positive operands);
      // the average uses the sign-safe split because SUM(fm) can go
      // negative on syllable-dense corpora (Spark DIV truncates, // floors).
      """WITH per AS MATERIALIZED (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS words,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syll
        |  FROM documents),
        |f AS (SELECT lang, words, syll, (words + 14) // 15 AS sents,
        |    206835000 - (1015000 * words) // ((words + 14) // 15)
        |      - (84600000 * syll) // words AS fm
        |  FROM per WHERE words > 0)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(words) AS BIGINT) AS n_words,
        |  CAST(SUM(syll) AS BIGINT) AS n_syllables,
        |  CAST(CASE WHEN SUM(fm) >= 0 THEN SUM(fm) // COUNT(*)
        |    ELSE -((-SUM(fm)) // COUNT(*)) END AS BIGINT) AS avg_flesch_micro,
        |  CAST(MIN(fm) AS BIGINT) AS min_flesch_micro,
        |  CAST(MAX(fm) AS BIGINT) AS max_flesch_micro
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
  )

  /** Final Lloyd assignment (vec_id, cid, d2), materialized once per
    * (JVM, sf): the clustering is TRAINED once and consumed by both the
    * k-means report and SemDeDup's within-cluster prune (the
    * reuse-one-training-run law, same as bpeTrain). Each round is one
    * broadcast-centroid join + argmin + one groupBy — corpus scanned
    * once per round, centroids O(k·dims) broadcast, never a driver loop
    * over rows. */
  private def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.opDir("kmeans_assign", d)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))) {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"),
          greatest(lit(0L), least(lit(80000L),
            floor((col("col").cast("double") + 4.0) * 10000).cast("bigint"))).as("xm"))
        .localCheckpoint() // read 2x per round by 3 rounds
      var cent = e.where(col("vec_id") < KmK)
        .select(col("vec_id").as("cid"), col("pos"), col("xm").as("cm"))
      var chosen: DataFrame = null
      for (_ <- 1 to KmIters) {
        val assign = e.join(broadcast(cent), "pos")
          .groupBy("vec_id", "cid")
          .agg(sum((col("xm") - col("cm")) * (col("xm") - col("cm"))).as("d2"))
        val w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        chosen = assign.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).select("vec_id", "cid", "d2")
          .localCheckpoint() // feeds both the update and (last round) the dump
        cent = chosen.join(e, "vec_id")
          .groupBy("cid", "pos")
          .agg(expr("SUM(xm) DIV COUNT(1)").as("cm"))
      }
      chosen.coalesce(1).write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(dir)
  }

  /** The Lloyd training run as oracle CTE text (e → c0 → a1..g3): ends at
    * the FINAL assignment g3, exactly what `kmeansAssign` materializes.
    * (lazy: referenced from `ops`, which is declared above it). */
  private lazy val KmOracleCtes: String =
    """e AS (SELECT vec_id,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    GREATEST(0, LEAST(80000,
      |      CAST(floor((CAST(unnest(embedding) AS DOUBLE) + 4.0) * 10000) AS BIGINT))) AS xm
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, pos, xm AS cm FROM e WHERE vec_id < 8),
      |a1 AS (SELECT e.vec_id, c.cid,
      |    CAST(SUM((e.xm - c.cm) * (e.xm - c.cm)) AS BIGINT) AS d2
      |  FROM e JOIN c0 c ON e.pos = c.pos GROUP BY 1, 2),
      |g1 AS (SELECT vec_id, cid, d2 FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM a1) WHERE rn = 1),
      |c1 AS (SELECT cid, e.pos, CAST(SUM(e.xm) // COUNT(*) AS BIGINT) AS cm
      |  FROM g1 JOIN e USING (vec_id) GROUP BY 1, 2),
      |a2 AS (SELECT e.vec_id, c.cid,
      |    CAST(SUM((e.xm - c.cm) * (e.xm - c.cm)) AS BIGINT) AS d2
      |  FROM e JOIN c1 c ON e.pos = c.pos GROUP BY 1, 2),
      |g2 AS (SELECT vec_id, cid, d2 FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM a2) WHERE rn = 1),
      |c2 AS (SELECT cid, e.pos, CAST(SUM(e.xm) // COUNT(*) AS BIGINT) AS cm
      |  FROM g2 JOIN e USING (vec_id) GROUP BY 1, 2),
      |a3 AS (SELECT e.vec_id, c.cid,
      |    CAST(SUM((e.xm - c.cm) * (e.xm - c.cm)) AS BIGINT) AS d2
      |  FROM e JOIN c2 c ON e.pos = c.pos GROUP BY 1, 2),
      |g3 AS (SELECT vec_id, cid, d2 FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM a3) WHERE rn = 1)""".stripMargin
}
