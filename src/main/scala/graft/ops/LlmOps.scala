package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.11 — LLM-training-data pipeline operators: dedup (exact +
  * near-dup), similarity search, text analysis, multimodal join.
  *
  * Scale posture: the near-dup candidate set is generated from an inverted
  * shingle index (only co-shingled pairs materialize — the same structure
  * the banded MinHash-LSH of `llm_dedup_minhash` (LlmExt) keeps sub-
  * quadratic at 100 TB); similarity search broadcasts the probe set so
  * the corpus is scanned once with no shuffle.
  */
object LlmOps extends Family {
  /** 3-token shingles per doc, distinct, via array transform (no join). */
  private[ops] def shingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // guard: Spark sequence(0, -1) DESCENDS (phantom n-grams on <3-token
      // docs) while DuckDB's generate_series is empty — filter them out
      .where(size(col("t")) > 2)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        ))).as("s"))

  /** Posting-list document-frequency cap: shingles occurring in more than
    * this many documents are dropped from candidate generation (and,
    * mirrored, from the oracle CTE). ONE constant feeds both engines so
    * the cutoff cannot silently diverge. */
  private val DfCap = 64

  /** Near-duplicate pairs (a < b) by 3-gram-shingle Jaccard >= 0.5 —
    * shared by `llm_dedup_near` and the cluster/canonicalize stage
    * (`llm_dedup_cluster`). Candidate pairs come from per-shingle POSTING
    * LISTS (group by shingle, emit the co-occurring doc pairs) instead of
    * a self-join — one shuffle on the shingle, pairs bounded by
    * sum(min(df, cap)²): `DfCap` (64) drops
    * ultra-common "boilerplate" shingles whose posting lists would emit
    * O(df²) pairs — at web scale a single million-doc shingle would
    * otherwise materialize ~10¹² candidates. Dropping a hot shingle only
    * removes evidence shared by >cap docs; genuinely near-duplicate pairs
    * still co-occur on their many RARE shingles, so recall on planted
    * dups is asserted in LlmScaleSpec. Jaccard stays exact over the
    * surviving shingles (|∩| from the postings, |∪| = |A|+|B|-|∩|).
    */
  /** Verified near-dup pairs, materialized once per (JVM, sf) into the
    * scratch dir: three consumers (near, cluster, span) share the one
    * posting-list shuffle instead of re-running it — the graph-edge-cache
    * law. */
  private[graft] def nearPairs(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.opDir("near_pairs", d)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))) {
      nearPairsCompute(s, d, DfCap).coalesce(1).write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(dir)
  }

  /** `nearPairs` with the df cap `dfCap`, computed on every call. */
  private[graft] def nearPairsCompute(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    // Shuffle the 8-byte xxhash64 of each shingle instead of the ~25-byte
    // string: the posting-list groupBy is the plan's one big exchange and
    // the hash is 3× narrower. Per-doc distinctness happened pre-hash, so
    // |A|,|B| are exact. A 64-bit collision (P ≈ n²/2⁶⁵ per shingle pair)
    // across docs could only inflate c; within one doc it would duplicate
    // a (doc, hash) row and surface as a self-pair — the a<b guard below
    // drops that row. At warehouse scale swap in a 128-bit digest.
    val sh = shingles(s, d).select(col("doc_id"), xxhash64(col("s")).as("s"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.groupBy("s")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")).between(2, dfCap))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(sequence(i + 1, size(ds) - 1),
          |    j -> struct(ds[i] AS a, ds[j] AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(col("a") =!= col("b")) // intra-doc hash collision guard
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    inter
      .join(broadcast(sz.as("sa")), col("a") === col("sa.doc_id"))
      .join(broadcast(sz.as("sb")), col("b") === col("sb.doc_id"))
      .withColumn("jaccard",
        round(col("c") * lit(1.0) / (col("sa.n") + col("sb.n") - col("c")), 4))
      .where(col("jaccard") >= 0.5)
      .select("a", "b", "jaccard")
  }

  /** DuckDB CTE fragment mirroring `nearPairs` (dd/sh/sz/keep/inter) — the
    * ONE SQL copy of the shingle/posting-list pair generator; llm_dedup_
    * near's oracle and LlmPipeline's cluster oracle both build on it, so
    * the shingle width, Jaccard threshold and df cap cannot silently
    * diverge. `keep` replays the [2, dfCap] document-frequency band;
    * `sz` stays UNCAPPED (the Jaccard denominator uses full doc sizes —
    * only intersection evidence is capped, in both engines). */
  private[ops] val nearPairsSqlCtes: String =
    s"""dd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |         generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
       |       FROM dd),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) BETWEEN 2 AND $DfCap),
       |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
       |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |          JOIN keep ON x.s = keep.s
       |          GROUP BY 1, 2)""".stripMargin

  val ops: Seq[Op] = Seq(
    // Exact dedup by content hash: keep lowest doc_id per md5(text).
    Op("llm_dedup_exact", (s, d) => {
      val h = Tables.documents(s, d).withColumn("h", md5(col("text")))
      val keep = h.groupBy("h").agg(min("doc_id").as("keep_id"))
      h.join(keep, "h")
        .withColumn("is_kept", col("doc_id") === col("keep_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("is_kept"), 1)).as("n_kept"),
          count(when(!col("is_kept"), 1)).as("n_dropped"))
        .orderBy("lang")
    },
      """WITH h AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
        |k AS (SELECT h, MIN(doc_id) AS keep_id FROM h GROUP BY h)
        |SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN doc_id = keep_id THEN 1 END) AS n_kept,
        |  COUNT(CASE WHEN doc_id <> keep_id THEN 1 END) AS n_dropped
        |FROM h JOIN k USING (h)
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Near-duplicate pairs by 3-gram-shingle Jaccard >= 0.5. Candidate
    // pairs come from per-shingle POSTING LISTS (group by shingle, emit the
    // co-occurring doc pairs) instead of a self-join — one shuffle on the
    // shingle, pairs bounded by sum(df²) which stays tiny because common
    // shingles are rare; Jaccard is exact (|∩| from the postings,
    // |∪| = |A|+|B|-|∩|).
    Op("llm_dedup_near", (s, d) => nearPairs(s, d).orderBy("a", "b"),
      s"""WITH $nearPairsSqlCtes
         |SELECT a, b, ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
         |FROM inter JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         |WHERE ROUND(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.5
         |ORDER BY a, b""".stripMargin),

    // Similarity search: top-5 cosine neighbors for probe set vec_id < 10,
    // using the native CosineSimilarity expression; rank on ROUNDED sims so
    // ordering is identical across engines.
    Op("llm_sim_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val p = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val w = Window.partitionBy("probe_id").orderBy(desc("sim"), col("neighbor_id"))
      broadcast(p).join(e, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          round(call_function("cosine_sim", col("p_emb"), col("emb")), 4).as("sim"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
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

    // Text analysis: global top-20 tokens.
    Op("llm_text_tokens", (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("token"))
        .limit(20),
      """SELECT token, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |) GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin),

    // Per-language corpus stats.
    Op("llm_text_stats", (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
          round(sum(size(split(col("text"), " ")).cast("long")).cast("double") / count(lit(1)), 4)
            .as("avg_tokens"))
        .orderBy("lang"),
      """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
        |  ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 4) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Multimodal: text table ⋈ vector table; per (lang,label) count + mean
    // cosine of each doc's embedding to its label centroid.
    Op("llm_multimodal", (s, d) => {
      val ex = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      val cent = ex.groupBy("label", "dim")
        .agg((sum("v") / count(lit(1))).as("cv"))
      val percos = ex.join(cent, Seq("label", "dim"))
        .groupBy("vec_id", "label")
        .agg((sum(col("v") * col("cv"))
          / (sqrt(sum(col("v") * col("v"))) * sqrt(sum(col("cv") * col("cv"))))).as("cos"))
      Tables.documents(s, d)
        .join(percos, col("doc_id") === col("vec_id"))
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("cos") / count(lit(1)), 4).as("avg_cos"))
        .orderBy("lang", "label")
    },
      """WITH ex AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |),
        |cent AS (SELECT label, dim, SUM(v) / COUNT(*) AS cv FROM ex GROUP BY label, dim),
        |percos AS (
        |  SELECT vec_id, ex.label,
        |    SUM(v * cv) / (SQRT(SUM(v * v)) * SQRT(SUM(cv * cv))) AS cos
        |  FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
        |  GROUP BY vec_id, ex.label
        |)
        |SELECT lang, label, COUNT(*) AS n_docs,
        |  ROUND(SUM(cos) / COUNT(*), 4) AS avg_cos
        |FROM documents JOIN percos ON doc_id = vec_id
        |GROUP BY lang, label ORDER BY lang, label""".stripMargin)
  )

}
