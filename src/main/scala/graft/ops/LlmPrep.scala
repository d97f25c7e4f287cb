package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}

/** Training-data preparation operators (round 5): context-window sequence
  * packing, PII redaction, per-stratum hash sampling, and multimodal frame
  * sampling — the last mile between a cleaned corpus and a training run.
  *
  * Scale posture: packing is bucketed (32 hash buckets, each packed
  * independently) so the prefix-sum never serializes into one task — at
  * 100 TB the bucket count rises with the cluster and the shape is
  * unchanged; redaction/sampling are pure per-row projections; frame
  * sampling is a projection + explode whose fan-out is bounded by the
  * sample stride.
  */
object LlmPrep extends Family {
  /** md5-derived uniform key in [0, 2³²) — the same layout-independent,
    * engine-shared randomness the split/sample family uses. */

  /** Context window (tokens) for packing. */
  private val Ctx = 1024L

  /** Per-bucket shard/pack id span: shard_id = bucket * span + idx. 2^40
    * so a bucket can hold ~10^12 shards before colliding into the next
    * bucket's id space — at the documented 100 MB–1 GB budgets over
    * 100 TB (~12.5 TB/bucket) the worst case is ~1.3e5 shards, 7 orders
    * of magnitude of headroom (the old 100000 multiplier had none). */
  private val ShardIdSpan = 1L << 40

  /** Frame geometry for the multimodal sampler: 32-byte frames, every
    * 4th frame kept (stride sampling, the video keyframe shape). */
  private val FrameLen = 32
  private val Stride = 4

  /** Shard byte budget for `mm_shard_pack` (webdataset-style): small at
    * fixture scale so every bucket yields several shards; at 100 TB the
    * same code runs with a 100 MB–1 GB budget and more buckets. */
  private val ShardBytes = 4096L

  /** Per-record container overhead (the tar-header shape): payload =
    * n_chars + header. */
  private val RecHeader = 64L

  /** Band-bucket population cap for `mm_dedup_phash` — the dfCap law
    * applied to perceptual-hash buckets: a band value shared by more docs
    * than this is a degenerate key (flat-color thumbnails, boilerplate
    * frames) and is dropped from candidate generation, keeping the
    * candidate join sub-quadratic on any corpus. */
  private val PhashBucketCap = 64L

  /** Scene-cut hamming threshold (bits of the 8-bit frame fingerprint
    * that must differ before a frame starts a new shot). */
  private val SceneCutBits = 5

  val ops: Seq[Op] = Seq(
    // Sequence packing (concat-then-split): docs are ordered by a
    // layout-independent hash inside 32 independent buckets, token counts
    // prefix-summed per bucket, and each doc assigned to the context
    // window its first token lands in. Per-pack rollup reports how full
    // each window is. The window partitions on the bucket, so no global
    // single-task prefix sum exists anywhere in the plan.
    Op("llm_pack_sequences", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_tok"),
          expr(md5Bits("CAST(doc_id AS STRING)", 8)).as("u"))
        .withColumn("bucket", col("u") % 32)
      val w = Window.partitionBy("bucket").orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tok.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id",
          col("bucket") * ShardIdSpan + expr(s"(cum - n_tok) DIV $Ctx"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          min("doc_id").as("first_doc"))
        .select(col("pack_id"), col("n_docs"), col("n_tokens"), col("first_doc"),
          round(col("n_tokens") / lit(Ctx.toDouble), 4).as("fill"))
        .orderBy("pack_id")
    },
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u
         |  FROM documents),
         |b AS (SELECT *, u % 32 AS bucket FROM t),
         |c AS (SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY u, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM b),
         |p AS (SELECT *, bucket * $ShardIdSpan + (cum - n_tok) // $Ctx AS pack_id FROM c)
         |SELECT pack_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc,
         |  ROUND(CAST(SUM(n_tok) AS BIGINT) / ${Ctx.toDouble}, 4) AS fill
         |FROM p GROUP BY pack_id ORDER BY pack_id""".stripMargin),

    // PII redaction: deterministic synthetic PII (an email and a phone
    // derived from doc_id — the corpus itself is synthetic words) is
    // appended, then scrubbed by the same two regexes in both engines.
    // Pure projection; the regex classes used ([...], {n,}, +) behave
    // identically under Java regex and RE2.
    Op("llm_pii_redact", (s, d) =>
      Tables.documents(s, d)
        .withColumn("aug", concat(col("text"),
          lit(" contact "), col("source"), col("doc_id").cast("string"),
          lit("@example.com call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .withColumn("redacted",
          regexp_replace(
            regexp_replace(col("aug"),
              lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
            lit("\\+1-555-[0-9]{4}"), lit("<PHONE>")))
        .select(col("doc_id"),
          regexp_count(col("aug"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).as("n_emails"),
          regexp_count(col("aug"), lit("\\+1-555-[0-9]{4}")).as("n_phones"),
          length(col("redacted")).as("red_len"),
          expr("right(redacted, 30)").as("tail"))
        .orderBy("doc_id"),
      """WITH a AS (SELECT doc_id,
        |    text || ' contact ' || source || CAST(doc_id AS VARCHAR)
        |      || '@example.com call +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |  FROM documents),
        |r AS (SELECT doc_id, aug,
        |    regexp_replace(
        |      regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |  FROM a)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(aug, '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
        |  CAST(length(redacted) AS INT) AS red_len,
        |  right(redacted, 30) AS tail
        |FROM r ORDER BY doc_id""".stripMargin),

    // Stratified sampling: per-language rates applied through the shared
    // md5 key, so the sample is reproducible across engines, layouts, and
    // scale factors (a doc's fate depends only on its id). Conditional
    // aggregation keeps it to one shuffle on the stratum key.
    Op("llm_sample_stratified", (s, d) =>
      Tables.documents(s, d)
        .withColumn("u", expr(md5Bits("CAST(doc_id AS STRING)", 8)))
        .withColumn("rate_milli",
          when(col("lang") === "en", 500L)
            .when(col("lang") === "de", 250L)
            .otherwise(100L))
        .withColumn("keep", (col("u") % 1000L) < col("rate_milli"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
          max(col("rate_milli")).as("rate_milli"))
        .select(col("lang"), col("n_total"), col("n_sampled"), col("rate_milli"),
          round(col("n_sampled") / col("n_total").cast("double"), 4).as("frac"))
        .orderBy("lang"),
      s"""WITH t AS (SELECT lang,
        |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u,
        |    CASE WHEN lang = 'en' THEN 500 WHEN lang = 'de' THEN 250 ELSE 100 END AS rate_milli
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN u % 1000 < rate_milli THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(MAX(rate_milli) AS BIGINT) AS rate_milli,
        |  ROUND(CAST(SUM(CASE WHEN u % 1000 < rate_milli THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(COUNT(*) AS DOUBLE), 4) AS frac
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),

    // Multimodal frame sampling: treat each doc's payload as an opaque
    // byte stream (the real decode is a stubbed codec — mm_decode_meta
    // carries the mapPartitions plumbing), cut it into fixed 32-byte
    // frames, keep every 4th, and fingerprint each kept frame. This is
    // the video keyframe-extraction shape: projection + bounded explode,
    // no shuffle until a consumer aggregates.
    Op("mm_frame_sample", (s, d) =>
      Tables.documents(s, d).where(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .withColumn("n_frames", expr(s"CAST((len + ${FrameLen - 1}) DIV $FrameLen AS INT)"))
        .withColumn("frame_idx",
          explode(sequence(lit(0), col("n_frames") - 1, lit(Stride))))
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * FrameLen).as("off"),
          least(lit(FrameLen), col("len") - col("frame_idx") * FrameLen).cast("int").as("frame_len"),
          md5(expr(s"CAST(substring(text, frame_idx * $FrameLen + 1, $FrameLen) AS BINARY)")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx"),
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
        |           WHERE doc_id % 20 = 0),
        |f AS (SELECT doc_id, text, len,
        |        CAST((len + 31) // 32 AS INT) AS n_frames FROM d),
        |x AS (SELECT doc_id, text, len,
        |        CAST(unnest(generate_series(0, n_frames - 1, 4)) AS INT) AS frame_idx
        |      FROM f)
        |SELECT doc_id, frame_idx,
        |  frame_idx * 32 AS off,
        |  CAST(least(32, len - frame_idx * 32) AS INT) AS frame_len,
        |  md5(substring(text, frame_idx * 32 + 1, 32)) AS frame_md5
        |FROM x ORDER BY doc_id, frame_idx""".stripMargin),

    // Fuzzy (edit-distance) dedup — the entity-resolution shape: block
    // on an 8-char prefix so candidate generation is a bucketed
    // equi-join (never an all-pairs product; block sizes are bounded by
    // prefix-entropy, and a skewed block salts like any skewed join
    // key), then score candidates with levenshtein over a 40-char
    // fingerprint. Edit distance is engine-exact, so the oracle replays
    // the identical algorithm.
    Op("llm_dedup_fuzzy", (s, d) => {
      val p = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 8).as("b"),
          substring(col("text"), 1, 40).as("pre"))
      p.as("x").join(p.as("y"),
          col("x.b") === col("y.b") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b_id"),
          levenshtein(col("x.pre"), col("y.pre")).cast("bigint").as("lev"))
        .where(col("lev") <= 18)
        .orderBy("a", "b_id")
    },
      """WITH p AS (SELECT doc_id, substring(text, 1, 8) AS b,
        |             substring(text, 1, 40) AS pre FROM documents)
        |SELECT x.doc_id AS a, y.doc_id AS b_id,
        |  CAST(levenshtein(x.pre, y.pre) AS BIGINT) AS lev
        |FROM p x JOIN p y ON x.b = y.b AND x.doc_id < y.doc_id
        |WHERE levenshtein(x.pre, y.pre) <= 18
        |ORDER BY a, b_id""".stripMargin),

    // Int8 embedding quantization (the ANN-index compression stage: 4×
    // memory cut before IVF/LSH bucketing). Symmetric per-vector scale
    // q = floor(x·127/max|x| + 0.5) — floor instead of round so the
    // half-way rule is a single exact IEEE tree both engines share.
    // All emitted aggregates of q are integers; pure projection, zero
    // shuffle.
    Op("llm_embed_quantize", (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          size(col("embedding")).cast("bigint").as("dim"),
          expr("CAST(aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE)))) AS DOUBLE)").as("max_abs"))
        .where(col("max_abs") > 0)
        .withColumn("q", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS BIGINT))"))
        .select(col("vec_id"), col("dim"), col("max_abs"),
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("q_sum"),
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)").as("q_norm2"),
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + CAST(abs(v) = 127 AS BIGINT))").as("n_sat"))
        .orderBy("vec_id"),
      """WITH m AS (
        |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |    CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |      (acc, x) -> greatest(acc, x)) AS DOUBLE) AS max_abs,
        |    embedding
        |  FROM embeddings),
        |q AS (SELECT vec_id, dim, max_abs,
        |        list_transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS BIGINT)) AS qv
        |      FROM m WHERE max_abs > 0)
        |SELECT vec_id, dim, max_abs,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS q_norm2,
        |  CAST(list_sum(list_transform(qv, v -> CAST(abs(v) = 127 AS BIGINT))) AS BIGINT) AS n_sat
        |FROM q ORDER BY vec_id""".stripMargin),

    // 2-D patchification (the ViT patch-embedding plumbing): the opaque
    // payload is a raster of 32-byte rows; each 8×8 patch concatenates
    // its 8 row-slices and fingerprints them. Bounded two-level explode
    // (patch-row × patch-col), per-row projection, no shuffle — at 100 TB
    // this is exactly the shape feeding a patch-embedding UDF batch.
    Op("mm_patchify", (s, d) =>
      Tables.documents(s, d).where(col("doc_id") % 20 === 1)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        // patch rows cover ceil(len/256) bands of 8 raster rows each
        .withColumn("pr", explode(expr("sequence(0, CAST((len + 255) DIV 256 AS INT) - 1)")))
        .withColumn("pc", explode(expr("sequence(0, 3)")))
        .select(col("doc_id"), col("pr"), col("pc"),
          expr("array_join(transform(sequence(0, 7), r -> substring(text, (pr * 8 + r) * 32 + pc * 8 + 1, 8)), '')").as("patch"))
        .select(col("doc_id"), col("pr"), col("pc"),
          length(col("patch")).as("patch_len"), md5(expr("CAST(patch AS BINARY)")).as("patch_md5"))
        .where(col("patch_len") > 0)
        .orderBy("doc_id", "pr", "pc"),
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
        |           WHERE doc_id % 20 = 1),
        |pr AS (SELECT doc_id, text, len,
        |         CAST(unnest(generate_series(0, CAST((len + 255) // 256 AS INT) - 1)) AS INT) AS pr
        |       FROM d),
        |g AS (SELECT doc_id, text, len, pr,
        |        CAST(unnest(generate_series(0, 3)) AS INT) AS pc
        |      FROM pr),
        |p AS (SELECT doc_id, pr, pc,
        |        array_to_string(list_transform(generate_series(0, 7),
        |          r -> substring(text, (pr * 8 + r) * 32 + pc * 8 + 1, 8)), '') AS patch
        |      FROM g)
        |SELECT doc_id, pr, pc, CAST(length(patch) AS INT) AS patch_len,
        |  md5(patch) AS patch_md5
        |FROM p WHERE length(patch) > 0
        |ORDER BY doc_id, pr, pc""".stripMargin),
    // Webdataset-style shard packing — the byte-budget twin of
    // llm_pack_sequences' token packing: records (payload + fixed header)
    // are hash-ordered inside 8 independent bucket streams, prefix-summed,
    // and assigned to the shard their FIRST byte lands in; the output is
    // the shard MANIFEST (doc count, bytes, id range, fill) a downstream
    // dataloader consumes. The window partitions on the bucket, so no
    // global single-task prefix sum exists; at 100 TB bucket count scales
    // with the cluster and each shard's manifest row stays O(1) state.
    Op("mm_shard_pack", (s, d) => {
      val rec = Tables.documents(s, d)
        .select(col("doc_id"),
          (col("n_chars").cast("bigint") + RecHeader).as("bytes"),
          expr(md5Bits("CAST(doc_id AS STRING)", 8)).as("u"))
        .withColumn("bucket", col("u") % 8)
      val w = Window.partitionBy("bucket").orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rec.withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("shard_id",
          col("bucket") * ShardIdSpan + expr(s"(cum - bytes) DIV $ShardBytes"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("bytes").as("n_bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .withColumn("fill_milli", expr(s"(n_bytes * 1000) DIV $ShardBytes"))
        .orderBy("shard_id")
    },
      // Bucketed byte-budget packing replayed with the same constants.
      s"""WITH t AS (SELECT doc_id, CAST(n_chars + $RecHeader AS BIGINT) AS bytes,
         |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u
         |  FROM documents),
         |b AS (SELECT *, u % 8 AS bucket FROM t),
         |c AS (SELECT *, CAST(SUM(bytes) OVER (PARTITION BY bucket ORDER BY u, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM b),
         |p AS (SELECT *, bucket * $ShardIdSpan + (cum - bytes) // $ShardBytes AS shard_id
         |      FROM c)
         |SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(bytes) AS BIGINT) AS n_bytes,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |  (CAST(SUM(bytes) AS BIGINT) * 1000) // $ShardBytes AS fill_milli
         |FROM p GROUP BY shard_id ORDER BY shard_id""".stripMargin),

    // Aspect-ratio bucketing (the SDXL-style resolution-bucket batcher):
    // synthetic (w, h) image metadata derived from the shared hash (the
    // decode itself is the stubbed codec — mm_decode_meta's law), each
    // image routed to the nearest of 5 canonical target resolutions by
    // integer ratio_milli ranges, then the resize-to-fit/pad accounting:
    // scale_milli = min(tw·1000 DIV w, th·1000 DIV h), scaled dims floor,
    // pad = target pixels − scaled pixels — every step integer, both
    // engines replay it exactly. The report (images, source px, pad px,
    // pad ppm per bucket) is the batch-efficiency signal that justifies
    // bucketing over naive pad-to-max. Pure projection + one 5-row
    // rollup; zero shuffle before the final tiny aggregate.
    Op("mm_resolution_bucket", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr(md5Bits("CAST(doc_id AS STRING)", 8)).as("u"))
        .withColumn("w", lit(256L) + (col("u") % 8) * 128L)
        .withColumn("h", expr("256 + ((u DIV 8) % 8) * 128"))
        .withColumn("ratio_milli", expr("(w * 1000) DIV h"))
        .withColumn("bucket", expr(
          """CASE WHEN ratio_milli < 667 THEN 'portrait_tall'
            |     WHEN ratio_milli < 910 THEN 'portrait'
            |     WHEN ratio_milli <= 1100 THEN 'square'
            |     WHEN ratio_milli <= 1500 THEN 'landscape'
            |     ELSE 'landscape_wide' END""".stripMargin))
        .withColumn("tw", expr(
          """CASE bucket WHEN 'portrait_tall' THEN 768 WHEN 'portrait' THEN 832
            |  WHEN 'square' THEN 1024 WHEN 'landscape' THEN 1152
            |  ELSE 1344 END""".stripMargin).cast("bigint"))
        .withColumn("th", expr(
          """CASE bucket WHEN 'portrait_tall' THEN 1344 WHEN 'portrait' THEN 1152
            |  WHEN 'square' THEN 1024 WHEN 'landscape' THEN 832
            |  ELSE 768 END""".stripMargin).cast("bigint"))
        .withColumn("scale_milli", least(expr("(tw * 1000) DIV w"), expr("(th * 1000) DIV h")))
        .withColumn("sw", expr("(w * scale_milli) DIV 1000"))
        .withColumn("sh", expr("(h * scale_milli) DIV 1000"))
        .groupBy("bucket", "tw", "th")
        .agg(count(lit(1)).as("n_images"),
          sum(expr("w * h")).as("src_px"),
          sum(expr("tw * th - sw * sh")).as("pad_px"))
        .withColumn("pad_ppm", expr("(pad_px * 1000000) DIV (n_images * tw * th)"))
        .orderBy("bucket"),
      // Same synthetic geometry, same integer resize/pad accounting.
      s"""WITH g AS MATERIALIZED (SELECT doc_id,
        |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u
        |  FROM documents),
        |m AS (SELECT doc_id, 256 + (u % 8) * 128 AS w,
        |    256 + ((u // 8) % 8) * 128 AS h FROM g),
        |r AS (SELECT *, (w * 1000) // h AS ratio_milli FROM m),
        |b AS (SELECT *,
        |    CASE WHEN ratio_milli < 667 THEN 'portrait_tall'
        |         WHEN ratio_milli < 910 THEN 'portrait'
        |         WHEN ratio_milli <= 1100 THEN 'square'
        |         WHEN ratio_milli <= 1500 THEN 'landscape'
        |         ELSE 'landscape_wide' END AS bucket FROM r),
        |t AS (SELECT *,
        |    CAST(CASE bucket WHEN 'portrait_tall' THEN 768 WHEN 'portrait' THEN 832
        |      WHEN 'square' THEN 1024 WHEN 'landscape' THEN 1152
        |      ELSE 1344 END AS BIGINT) AS tw,
        |    CAST(CASE bucket WHEN 'portrait_tall' THEN 1344 WHEN 'portrait' THEN 1152
        |      WHEN 'square' THEN 1024 WHEN 'landscape' THEN 832
        |      ELSE 768 END AS BIGINT) AS th FROM b),
        |sc AS (SELECT *, LEAST((tw * 1000) // w, (th * 1000) // h) AS scale_milli
        |  FROM t),
        |f AS (SELECT *, (w * scale_milli) // 1000 AS sw,
        |    (h * scale_milli) // 1000 AS sh FROM sc)
        |SELECT bucket, tw, th, COUNT(*) AS n_images,
        |  CAST(SUM(w * h) AS BIGINT) AS src_px,
        |  CAST(SUM(tw * th - sw * sh) AS BIGINT) AS pad_px,
        |  (CAST(SUM(tw * th - sw * sh) AS BIGINT) * 1000000)
        |    // (COUNT(*) * tw * th) AS pad_ppm
        |FROM f GROUP BY bucket, tw, th ORDER BY bucket""".stripMargin),

    // Deterministic weighted interleave (the mixture SCHEDULER next to
    // llm_data_mixture's epoch budgeting): weighted fair queueing —
    // doc i of a weight-w source gets virtual finish time i·1e6 DIV w,
    // and the global schedule is the first N rows of the (vtime, lang,
    // doc_id) total order, so a weight-5 source appears 5× as often as a
    // weight-1 source at every schedule prefix. Per-source sequence
    // numbers partition on lang (no global window); the top-N is an
    // ordered limit (TakeOrderedAndProject — per-partition heaps + one
    // tiny merge, never a full sort); the final position column is a
    // window over the already-limited N rows (driver-scale, documented).
    Op("llm_interleave_mixture", (s, d) => {
      val seq = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), expr(md5Bits("CAST(doc_id AS STRING)", 8)).as("u"))
        .withColumn("wt", expr(
          """CASE lang WHEN 'en' THEN 5 WHEN 'es' THEN 3 WHEN 'de' THEN 3
            |  WHEN 'fr' THEN 2 ELSE 2 END""".stripMargin).cast("bigint"))
        .withColumn("seq", row_number().over(
          Window.partitionBy("lang").orderBy("u", "doc_id")).cast("bigint"))
        .withColumn("vtime", expr("(seq * 1000000) DIV wt"))
      seq.orderBy("vtime", "lang", "doc_id").limit(200)
        .withColumn("pos", row_number().over(
          Window.orderBy("vtime", "lang", "doc_id")).cast("bigint"))
        .select("pos", "vtime", "lang", "doc_id")
        .orderBy("pos")
    },
      // Same WFQ virtual-time schedule, replayed with windows + QUALIFY-free
      // nesting (the limit is a plain ORDER BY ... LIMIT in DuckDB too).
      s"""WITH g AS MATERIALIZED (SELECT doc_id, lang,
        |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u,
        |    CAST(CASE lang WHEN 'en' THEN 5 WHEN 'es' THEN 3 WHEN 'de' THEN 3
        |      WHEN 'fr' THEN 2 ELSE 2 END AS BIGINT) AS wt
        |  FROM documents),
        |s AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u, doc_id)
        |    AS BIGINT) AS seq FROM g),
        |v AS (SELECT *, (seq * 1000000) // wt AS vtime FROM s),
        |l AS (SELECT * FROM v ORDER BY vtime, lang, doc_id LIMIT 200)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY vtime, lang, doc_id) AS BIGINT) AS pos,
        |  vtime, lang, doc_id
        |FROM l ORDER BY pos""".stripMargin),

    // Importance resampling by quality weight — systematic (low-variance)
    // sampling, the deterministic twin of multinomial draws: within each
    // language stratum, docs are hash-ordered, their quality weights
    // (llm_preference_pairs' lexical-diversity milli, +1 floor) prefix-
    // summed, and a doc is selected iff its weight span crosses one of K
    // equally spaced quantile boundaries — floor((cum·K)/W) strictly
    // increases across the span. Every step is positive-operand integer
    // arithmetic, so both engines draw the IDENTICAL sample; selection
    // probability is proportional to weight with zero variance beyond
    // discretization. Per-stratum windows (no global cumsum), one lang
    // shuffle; at 100 TB K scales per stratum and the shape holds.
    Op("llm_importance_resample", (s, d) => {
      val K = 50L
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), expr(md5Bits("CAST(doc_id AS STRING)", 8)).as("u"),
          size(split(col("text"), " ")).cast("bigint").as("toks"),
          size(array_distinct(split(col("text"), " "))).cast("bigint").as("uniq"))
        .withColumn("w", expr("(uniq * 1000) DIV toks + 1"))
      val win = Window.partitionBy("lang").orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = t.groupBy("lang").agg(sum("w").as("wtot"))
      t.withColumn("cum", sum("w").over(win))
        .join(broadcast(tot), "lang")
        .withColumn("sel", expr(s"(cum * $K) DIV wtot > ((cum - w) * $K) DIV wtot"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), max("wtot").as("w_total"),
          sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
          sum(when(col("sel"), col("w")).otherwise(0L)).as("w_selected"),
          min(when(col("sel"), col("doc_id"))).as("first_sel"))
        .orderBy("lang")
    },
      // Same weights, same per-stratum cumsum, same boundary-crossing rule.
      s"""WITH t AS MATERIALIZED (SELECT doc_id, lang,
        |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
        |  FROM documents),
        |w AS (SELECT *, (uniq * 1000) // toks + 1 AS w FROM t),
        |c AS (SELECT *, CAST(SUM(w) OVER (PARTITION BY lang ORDER BY u, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM w),
        |g AS (SELECT lang, CAST(SUM(w) AS BIGINT) AS wtot FROM w GROUP BY 1),
        |s AS (SELECT c.*, g.wtot,
        |    (cum * 50) // wtot > ((cum - w) * 50) // wtot AS sel
        |  FROM c JOIN g USING (lang))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MAX(wtot) AS BIGINT) AS w_total,
        |  CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
        |  CAST(SUM(CASE WHEN sel THEN w ELSE 0 END) AS BIGINT) AS w_selected,
        |  MIN(CASE WHEN sel THEN doc_id END) AS first_sel
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin),
    // Weighted sampling without replacement, deterministic (the mixture-
    // construction primitive next to llm_sample_stratified's equal-
    // fraction strata): priority = md5-hash(doc_id) DIV weight — a doc
    // with k× the weight has a k×-compressed priority range, so the
    // bottom-k cut favors heavy docs proportionally, yet the draw is a
    // pure function of (doc_id, weight) — re-runnable, audit-stable,
    // seedless (the llm_sample_split law). Scale: priority is computed
    // scan-side and the bottom-k is TakeOrdered (per-partition heaps +
    // one tiny merge), never a global sort.
    Op("llm_sample_weighted", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("bigint").as("w"),
          expr(md5Bits("CAST(doc_id AS STRING)", 15))
            .as("h"))
        .where(col("w") > 0)
        .withColumn("priority", expr("h DIV w"))
        .select("doc_id", "w", "priority")
        .orderBy("priority", "doc_id")
        .limit(50),
      s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |  ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 15)}
        |    // CAST(n_chars AS BIGINT) AS priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY priority, doc_id LIMIT 50""".stripMargin),

    // 4-bit scalar-grid quantization with nibble-packed codes (the PQ-
    // style compression step after llm_embed_quantize's int8: 16× memory
    // cut for ANN candidate filtering). Per-DIMENSION min/max come from
    // one global rollup (a 64-row broadcast); each element quantizes to
    // (x−mn)·15 DIV (mx−mn) on exact micro-int values, dims 0..7 pack
    // into one BIGINT of nibbles, and the reconstruction error is
    // reported per vector in micro-units. All integer after the one
    // float→micro floor, so codes and errors hash-grade exactly.
    // Scale: posexplode is a projection (no shuffle); the only exchanges
    // are the 64-row stats rollup and the per-vector re-assembly, both
    // on even keys.
    Op("llm_embed_pq", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .withColumn("xm", floor(col("col").cast("double") * 10000).cast("bigint"))
      val stats = e.groupBy("pos").agg(min("xm").as("mn"), max("xm").as("mx"))
      e.join(broadcast(stats), "pos")
        .withColumn("code", expr(
          "CASE WHEN mx = mn THEN CAST(0 AS BIGINT) ELSE ((xm - mn) * 15) DIV (mx - mn) END"))
        .withColumn("deq", expr("mn + (code * (mx - mn)) DIV 15"))
        .withColumn("err", abs(col("xm") - col("deq")))
        .groupBy("vec_id")
        .agg(
          sum(when(col("pos") < 8,
            expr("code * CAST(pow(16, pos) AS BIGINT)")).otherwise(lit(0L)))
            .as("code0"),
          sum("err").as("err_total"), max("err").as("err_max"))
        .orderBy("vec_id")
    },
      """WITH e AS (SELECT vec_id,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS xm,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings),
        |st AS (SELECT pos, MIN(xm) AS mn, MAX(xm) AS mx FROM e GROUP BY 1),
        |c AS (SELECT vec_id, e.pos, xm, mn, mx,
        |    CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
        |         ELSE ((xm - mn) * 15) // (mx - mn) END AS code
        |  FROM e JOIN st ON e.pos = st.pos),
        |r AS (SELECT *, mn + (code * (mx - mn)) // 15 AS deq FROM c)
        |SELECT vec_id,
        |  CAST(SUM(CASE WHEN pos < 8 THEN code * CAST(pow(16, pos) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS code0,
        |  CAST(SUM(abs(xm - deq)) AS BIGINT) AS err_total,
        |  CAST(MAX(abs(xm - deq)) AS BIGINT) AS err_max
        |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // Balanced shard assignment for distributed training dataloaders:
    // docs sorted by token count DESC are dealt to K shards in SERPENTINE
    // order (pass 0: 0..K−1, pass 1: K−1..0, …) — the classic folded-deal
    // that bounds per-shard token skew by one document per pass pair.
    // The global rank is computed DISTRIBUTEDLY: per-band row_number
    // (band = tokens DIV 64 — band boundaries align with the sort key)
    // plus broadcast cumulative band offsets from an O(bands)-row rollup;
    // no single-task global window (the win_range_frame banding law).
    // The oracle states the SPEC with a plain global ROW_NUMBER.
    Op("llm_shard_balance", (s, d) => {
      val k = 8
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("tokens"))
        .withColumn("band", expr("tokens DIV 64"))
      val offsets = toks.groupBy("band").agg(count(lit(1)).as("bn"))
        .withColumn("off",
          coalesce(sum("bn").over(
            Window.orderBy(desc("band")).rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("band", "off")
      val ranked = toks.join(broadcast(offsets), "band")
        .withColumn("lr", row_number().over(
          Window.partitionBy("band").orderBy(desc("tokens"), col("doc_id"))))
        .withColumn("rank", col("off") + col("lr"))
      ranked
        .withColumn("pass", expr(s"(rank - 1) DIV $k"))
        .withColumn("pos", expr(s"(rank - 1) % $k"))
        .withColumn("shard", expr(s"CAST(CASE WHEN pass % 2 = 0 THEN pos ELSE ${k - 1} - pos END AS BIGINT)"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("tok_total"),
          max("tokens").as("tok_max"))
        .orderBy("shard")
    },
      // The SPEC form: one global ROW_NUMBER states the serpentine deal the
      // banded Spark plan must reproduce exactly.
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents),
        |r AS (SELECT doc_id, tokens,
        |    ROW_NUMBER() OVER (ORDER BY tokens DESC, doc_id) AS rank FROM t),
        |a AS (SELECT tokens,
        |    CASE WHEN ((rank - 1) // 8) % 2 = 0 THEN (rank - 1) % 8
        |         ELSE 7 - (rank - 1) % 8 END AS shard
        |  FROM r)
        |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(tokens) AS BIGINT) AS tok_total,
        |  CAST(MAX(tokens) AS BIGINT) AS tok_max
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin),

    // Preference-pair assembly (the RLHF/DPO dataset construction step):
    // within each (lang, source) "prompt group", the highest- and
    // lowest-scoring docs form a (chosen, rejected) pair with its score
    // margin. Score = lexical diversity in milli (1000·uniq DIV tokens —
    // exact integer); both picks are ROW_NUMBER=1 under a total order, so
    // the pair set is engine-exact; degenerate groups (chosen == rejected)
    // drop. Two windows over ONE (lang, source) exchange.
    Op("llm_preference_pairs", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("toks"),
          size(array_distinct(split(col("text"), " "))).cast("bigint").as("uniq"))
        .withColumn("score", expr("(uniq * 1000) DIV toks"))
      val wB = Window.partitionBy("lang", "source").orderBy(desc("score"), col("doc_id"))
      val wW = Window.partitionBy("lang", "source").orderBy(col("score"), col("doc_id"))
      val best = t.withColumn("rn", row_number().over(wB)).where(col("rn") === 1)
        .select(col("lang"), col("source"),
          col("doc_id").as("chosen_id"), col("score").as("chosen_score"))
      val worst = t.withColumn("rn", row_number().over(wW)).where(col("rn") === 1)
        .select(col("lang"), col("source"),
          col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
      best.join(worst, Seq("lang", "source"))
        .where(col("chosen_id") =!= col("rejected_id"))
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
        .orderBy("lang", "source")
    },
      // Same two ROW_NUMBER picks under the same total order.
      """WITH t AS (SELECT doc_id, lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
        |  FROM documents),
        |sc AS (SELECT *, (uniq * 1000) // toks AS score FROM t),
        |b AS (SELECT lang, source, doc_id AS chosen_id, score AS chosen_score
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
        |          ORDER BY score DESC, doc_id) AS rn FROM sc) WHERE rn = 1),
        |w AS (SELECT lang, source, doc_id AS rejected_id, score AS rejected_score
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
        |          ORDER BY score ASC, doc_id) AS rn FROM sc) WHERE rn = 1)
        |SELECT b.lang, b.source, chosen_id, chosen_score,
        |  rejected_id, rejected_score,
        |  CAST(chosen_score - rejected_score AS BIGINT) AS margin
        |FROM b JOIN w ON b.lang = w.lang AND b.source = w.source
        |WHERE chosen_id <> rejected_id
        |ORDER BY b.lang, b.source""".stripMargin),

    // Contrastive training-batch assembly (the CLIP-style pairing step):
    // each doc with an embedding anchors one positive (its own vector)
    // and k=3 DETERMINISTIC negatives — (anchor·31 + j·7919) mod n, bumped
    // off the anchor on collision — so the sampled batch is re-runnable
    // and audit-stable (the llm_sample_split law, applied to negative
    // sampling). Pure projection + one broadcast count, no shuffle beyond
    // the anchor join.
    Op("mm_contrastive_pairs", (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"))
      val n = e.agg(count(lit(1)).as("n_vecs"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(e, col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(n))
        .withColumn("j", explode(array(lit(1L), lit(2L), lit(3L))))
        .withColumn("raw", expr("(doc_id * 31 + j * 7919) % n_vecs"))
        .withColumn("neg_vec",
          expr("CASE WHEN raw = doc_id THEN (raw + 1) % n_vecs ELSE raw END"))
        .select(col("doc_id").as("anchor"), col("vec_id").as("pos_vec"),
          col("j").as("neg_rank"), col("neg_vec"))
        .orderBy("anchor", "neg_rank")
    },
      // Deterministic negative replay: same affine sample, same bump rule.
      """WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
        |a AS (SELECT doc_id, vec_id FROM documents
        |      JOIN embeddings ON doc_id = vec_id),
        |x AS (SELECT doc_id, vec_id, CAST(unnest([1, 2, 3]) AS BIGINT) AS j FROM a),
        |r AS (SELECT doc_id, vec_id, j,
        |    (doc_id * 31 + j * 7919) % n_vecs AS raw, n_vecs
        |  FROM x, n)
        |SELECT doc_id AS anchor, vec_id AS pos_vec, j AS neg_rank,
        |  CAST(CASE WHEN raw = doc_id THEN (raw + 1) % n_vecs ELSE raw END AS BIGINT) AS neg_vec
        |FROM r ORDER BY anchor, neg_rank""".stripMargin),

    // Audio chunking plumbing (the STFT/feature-window pre-step of an
    // audio training pipeline): OVERLAPPING fixed windows — win 48, hop
    // 16 — over each doc's byte stream (the container has no audio
    // codecs, so bytes stand in for PCM samples; the boundary math,
    // explode shape and per-chunk fingerprint are the real plumbing,
    // exactly as mm_frame_sample does for video). Distinct from
    // frame_sample: windows OVERLAP (hop < win), the mel/STFT layout.
    // Pure projection + generator — no shuffle.
    Op("mm_audio_chunks", (s, d) =>
      Tables.documents(s, d).where(col("doc_id") % 10 === 3)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .withColumn("off", explode(sequence(lit(0), col("len") - 1, lit(16))))
        .select(col("doc_id"), expr("off DIV 16").cast("int").as("chunk_idx"),
          col("off").cast("int").as("off"),
          least(lit(48), col("len") - col("off")).cast("int").as("chunk_len"),
          md5(expr("CAST(substring(text, off + 1, 48) AS BINARY)")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx"),
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents
        |           WHERE doc_id % 10 = 3),
        |x AS (SELECT doc_id, text, len,
        |        CAST(unnest(generate_series(0, len - 1, 16)) AS INT) AS off
        |      FROM d)
        |SELECT doc_id, CAST(off // 16 AS INT) AS chunk_idx, off,
        |  CAST(least(48, len - off) AS INT) AS chunk_len,
        |  md5(substring(text, off + 1, 48)) AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),

    // Pad-efficiency report for length-bucketed batching — the
    // throughput decision every training run makes: batching docs of
    // similar length (32-token buckets, pad to the bucket max) vs one
    // global pad-to-max. Emitted per bucket: doc/token counts, the
    // bucket's pad target, wasted pad slots bucketed vs global — all
    // exact integers; the global max joins in as a 1-row broadcast
    // (never a driver collect). The ratio of the two waste columns IS
    // the case for bucketing.
    Op("llm_pad_efficiency", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("toks"))
        .withColumn("bucket", expr("toks DIV 32"))
      val gmax = t.agg(max("toks").as("gmax"))
      t.crossJoin(broadcast(gmax))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").as("toks_sum"),
          max("toks").as("bucket_max"),
          (max("toks") * count(lit(1)) - sum("toks")).as("pad_bucketed"),
          (first("gmax") * count(lit(1)) - sum("toks")).as("pad_global"))
        .orderBy("bucket")
    },
      // The bucket rollup replayed; the global max is a scalar subquery.
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |b AS (SELECT toks, toks // 32 AS bucket FROM t),
        |g AS (SELECT MAX(toks) AS gmax FROM t)
        |SELECT bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS toks_sum,
        |  CAST(MAX(toks) AS BIGINT) AS bucket_max,
        |  CAST(MAX(toks) * COUNT(*) - SUM(toks) AS BIGINT) AS pad_bucketed,
        |  CAST((SELECT gmax FROM g) * COUNT(*) - SUM(toks) AS BIGINT) AS pad_global
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Audio↔video alignment — the A/V sync step of a multimodal ingest:
    // fixed-cadence video frames (32-unit stride over the doc's byte
    // timeline) as-of-joined to VARIABLE-length audio chunks (lengths
    // 20 + (doc_id + k) % 13 — content-irregular, so the chunk that
    // covers a frame is NOT computable in closed form and a genuine
    // as-of join is required). Runs on the native AsOfJoinExec (one
    // co-partition exchange + a single forward merge per doc — the plan
    // that survives a 100 TB timeline; the composed range-join+rank
    // formulation materializes every frame×earlier-chunk pair).
    // sync_lag = frame offset into its covering chunk.
    Op("mm_av_sync", (s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      val frames = docs
        .select(col("doc_id"),
          explode(sequence(lit(0L), expr("(len + 31) DIV 32 - 1"))).as("frame_idx"))
        .select((col("doc_id") * 10000 + col("frame_idx")).as("id"),
          col("doc_id").as("key"), (col("frame_idx") * 32L).as("ts"))
      val chunks = docs
        .select(col("doc_id"), col("len"),
          explode(sequence(lit(0L), expr("(len + 19) DIV 20 - 1"))).as("k"))
        .withColumn("clen", expr("20 + (doc_id + k) % 13"))
        .withColumn("start",
          sum(col("clen")).over(Window.partitionBy("doc_id").orderBy("k"))
            - col("clen"))
        .where(col("start") < col("len"))
        .select((col("doc_id") * 10000 + col("k")).as("id"),
          col("doc_id").as("key"), col("start").as("ts"))
      org.apache.spark.sql.graftbridge.AsOfJoinApi.asof(s, frames, chunks)
        .select(col("k").as("doc_id"), (col("l_id") % 10000).as("frame_idx"),
          col("l_ts").as("frame_off"), (col("r_id") % 10000).as("chunk_idx"),
          col("r_ts").as("chunk_start"),
          (col("l_ts") - col("r_ts")).as("sync_lag"))
        .orderBy("doc_id", "frame_idx")
    },
      // DuckDB's native ASOF JOIN replays the alignment; the windowed
      // prefix sum rebuilds the irregular chunk starts.
      """WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len
        |           FROM documents WHERE doc_id % 20 = 0),
        |fr AS (SELECT doc_id,
        |    CAST(unnest(generate_series(0, (len + 31) // 32 - 1)) AS BIGINT) AS frame_idx
        |  FROM d),
        |f AS (SELECT doc_id, frame_idx, frame_idx * 32 AS ts FROM fr),
        |ck0 AS (SELECT doc_id, len,
        |    CAST(unnest(generate_series(0, (len + 19) // 20 - 1)) AS BIGINT) AS k
        |  FROM d),
        |ck1 AS (SELECT doc_id, len, k, 20 + (doc_id + k) % 13 AS clen FROM ck0),
        |ck AS (SELECT doc_id, k,
        |    CAST(SUM(clen) OVER (PARTITION BY doc_id ORDER BY k) - clen AS BIGINT)
        |      AS strt, len
        |  FROM ck1),
        |cks AS (SELECT doc_id, k, strt FROM ck WHERE strt < len)
        |SELECT f.doc_id, f.frame_idx, CAST(f.ts AS BIGINT) AS frame_off,
        |  c.k AS chunk_idx, c.strt AS chunk_start,
        |  CAST(f.ts - c.strt AS BIGINT) AS sync_lag
        |FROM f ASOF JOIN cks c ON f.doc_id = c.doc_id AND c.strt <= f.ts
        |ORDER BY f.doc_id, f.frame_idx""".stripMargin),
    // Perceptual-hash near-dup over the stubbed image codec (the visual
    // member of the dedup family, next to simhash's token space): each
    // doc's byte stream is resized to a fixed 31-tile grid (tile length
    // ceil(len/31) — the pHash resize step; 31 tiles × 2 bits = 62 bits
    // keeps the hash inside a positive BIGINT, where a 32-tile packing
    // would overflow engines with checked shifts), each tile contributes
    // 2 fingerprint bits, and the phash changes only in the tiles a
    // local edit touches — hamming distance counts perturbed tiles.
    // Candidate generation is banded LSH (4×16-bit bands, exact-match
    // buckets) with a population cap per bucket (PhashBucketCap — the
    // dfCap law, so a degenerate band value can never drive an O(n²)
    // bucket join), then candidates verify with EXACT hamming ≤ 8.
    // Deterministic end to end → the oracle replays tile hashing, the
    // cap, and the verify. Scale: 32 md5s/doc scan-side, one band
    // exchange, capped buckets — the same shape as llm_dedup_simhash.
    Op("mm_dedup_phash", (s, d) => {
      val ph = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), length(col("text")).cast("bigint").as("len"))
        .where(col("len") >= 64) // thumbnails below 2 bytes/tile carry no signal
        .withColumn("tl", expr("(len + 30) DIV 31"))
        // 31 unrolled tile terms instead of an aggregate() lambda: Catalyst
        // HOFs evaluate INTERPRETED per element (the llm_ann_index_maintain
        // lesson) — the static sum runs the identical arithmetic inside
        // whole-stage codegen, ~2× on the whole op
        .withColumn("ph", expr((0 to 30).map(i =>
          s"shiftleft(${md5Bits(s"CAST(substring(text, $i * tl + 1, tl) AS BINARY)", 1)} & 3, ${2 * i})")
          .mkString(" + ")))
        .select("doc_id", "ph")
      // materialized once: bands feeds BOTH the cap census and the
      // candidate join — without the checkpoint the 31-md5 fingerprint
      // projection runs twice
      val bands = ph.select(col("doc_id"), col("ph"),
          explode(expr("sequence(0, 3)")).as("k"))
        .withColumn("bv", expr("(ph >> (k * 16)) & 65535"))
        .localCheckpoint()
      val live = bands.groupBy("k", "bv").agg(count(lit(1)).as("n"))
        .where(col("n") <= PhashBucketCap).select("k", "bv")
      val capped = bands.join(live, Seq("k", "bv"), "left_semi")
      // hamming verdict BEFORE the distinct (round-17, guide §2.3): the
      // verdict is a pure function of the pair, so the dedup exchange
      // carries only true near-dups instead of every banded collision
      capped.as("x").join(capped.as("y"),
          col("x.k") === col("y.k") && col("x.bv") === col("y.bv")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          expr("CAST(bit_count(x.ph ^ y.ph) AS INT)").as("hamming"))
        .where(col("hamming") <= 8)
        .distinct()
        .orderBy("a", "b")
    },
      // Same 31-tile resize, 2-bit tile fingerprints, capped band buckets,
      // and exact-hamming verify.
      s"""WITH t AS MATERIALIZED (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS len,
        |    (CAST(length(text) AS BIGINT) + 30) // 31 AS tl
        |  FROM documents WHERE length(text) >= 64),
        |b AS (SELECT doc_id,
        |    ((${duckMd5Bits("substring(text, CAST(i * tl AS INT) + 1, CAST(tl AS INT))", 1)} & 3) << (2 * i)) AS contrib
        |  FROM t, (SELECT unnest(range(0, 31)) AS i)),
        |ph AS MATERIALIZED (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS ph
        |  FROM b GROUP BY 1),
        |bands AS MATERIALIZED (SELECT doc_id, ph, k, (ph >> (k * 16)) & 65535 AS bv
        |  FROM ph, (SELECT unnest(range(0, 4)) AS k)),
        |live AS (SELECT k, bv FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 64),
        |capped AS MATERIALIZED (SELECT bands.* FROM bands JOIN live USING (k, bv)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |    x.ph AS pa, y.ph AS pb
        |  FROM capped x JOIN capped y
        |    ON x.k = y.k AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT a, b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(pa, pb)) <= 8
        |ORDER BY a, b""".stripMargin),

    // Whitespace tokenizer with char-offset mapping (the HF-tokenizers
    // offset_mapping contract every span-level task — NER, extractive QA,
    // span dedup — needs): token i's start offset is the prefix sum of
    // earlier token lengths plus the i separators before it, end = start
    // + len, and the mapping is SELF-VERIFYING — `ok` re-slices the
    // source text at [start, end) and compares. Consecutive separators
    // yield empty tokens with zero-width spans (both engines' split law).
    // One per-doc window (parallel across docs, series length = tokens
    // per doc); 1-in-20 doc sample bounds the emitted rows.
    Op("llm_tokenize_offsets", (s, d) =>
      Tables.documents(s, d).where(col("doc_id") % 20 === 2)
        .select(col("doc_id"), col("text"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .withColumn("tlen", length(col("token")).cast("bigint"))
        .withColumn("start_off",
          sum(col("tlen") + 1).over(
            Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("tlen") - 1)
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"), col("token"),
          col("start_off"), (col("start_off") + col("tlen")).as("end_off"),
          (expr("substring(text, CAST(start_off AS INT) + 1, CAST(tlen AS INT))")
            === col("token")).as("ok"))
        .orderBy("doc_id", "pos"),
      // Same split law, same prefix-sum offsets, same re-slice check.
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 20 = 2),
        |u AS (SELECT doc_id, text,
        |    unnest(toks) AS token,
        |    CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
        |  FROM t),
        |w AS (SELECT doc_id, text, pos, token,
        |    CAST(length(token) AS BIGINT) AS tlen,
        |    CAST(SUM(length(token) + 1) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - length(token) - 1 AS BIGINT) AS start_off
        |  FROM u)
        |SELECT doc_id, pos, token, start_off, start_off + tlen AS end_off,
        |  substring(text, CAST(start_off AS INT) + 1, CAST(tlen AS INT)) = token AS ok
        |FROM w ORDER BY doc_id, pos""".stripMargin),

    // k-anonymity release (the governance gate beside llm_pii_redact's
    // cell-level scrub): quasi-identifier = (lang, source, length bucket);
    // any combination shared by fewer than k=5 docs re-identifies, so
    // suppressed groups GENERALIZE to the ('*','*',-1) bucket and re-
    // aggregate — the released table provably contains no group below k
    // except the explicit generalized remainder. Two keyed rollups
    // (QI, then masked QI), no row leaves the cluster; at 100 TB the QI
    // cardinality, not the corpus, bounds state.
    Op("llm_k_anonymity", (s, d) => {
      val k = 5L
      val g = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"),
          expr("CAST(n_chars AS BIGINT) DIV 200").as("len_bucket"))
        .agg(count(lit(1)).as("n"))
      g.select(
          when(col("n") >= k, col("lang")).otherwise(lit("*")).as("lang"),
          when(col("n") >= k, col("source")).otherwise(lit("*")).as("source"),
          when(col("n") >= k, col("len_bucket")).otherwise(lit(-1L)).as("len_bucket"),
          col("n"), (col("n") >= k).as("released"))
        .groupBy("lang", "source", "len_bucket", "released")
        .agg(sum("n").as("n_docs"), count(lit(1)).as("n_groups"))
        .orderBy("lang", "source", "len_bucket")
    },
      // Same QI rollup, same generalize-below-k re-aggregation.
      """WITH g AS (SELECT lang, source,
        |    CAST(n_chars AS BIGINT) // 200 AS len_bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |m AS (SELECT
        |    CASE WHEN n >= 5 THEN lang ELSE '*' END AS lang,
        |    CASE WHEN n >= 5 THEN source ELSE '*' END AS source,
        |    CASE WHEN n >= 5 THEN len_bucket ELSE -1 END AS len_bucket,
        |    n, n >= 5 AS released
        |  FROM g)
        |SELECT lang, source, len_bucket, released,
        |  CAST(SUM(n) AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_groups
        |FROM m GROUP BY 1, 2, 3, 4
        |ORDER BY lang, source, len_bucket""".stripMargin),

    // N-gram novelty curve — how much of each doc is UNSEEN in all
    // earlier docs (doc_id order = ingest order): a trigram's first
    // owner is min(doc_id) over its occurrence set (one window over the
    // shingle exchange — no second join back), a doc's novelty is the
    // ppm of its distinct trigrams it owns first. The curve every
    // dedup/curation pass watches: falling novelty = the corpus is
    // repeating itself. Same shingle law as llm_dedup_minhash; docs
    // under 3 tokens have no trigrams and drop in both engines.
    Op("llm_ngram_novelty", (s, d) => {
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .where(size(col("t")) > 2)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        ))).as("s"))
      sh.withColumn("first_doc", min("doc_id").over(Window.partitionBy("s")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_ppm", expr("(n_novel * 1000000) DIV n_shingles"))
        .orderBy("doc_id")
    },
      // Same shingle law, same first-owner window, same exact ppm.
      """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM dd),
        |f AS (SELECT doc_id, s,
        |    CAST(MIN(doc_id) OVER (PARTITION BY s) AS BIGINT) AS first_doc
        |  FROM sh),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |    CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM f GROUP BY 1)
        |SELECT doc_id, n_shingles, n_novel,
        |  (n_novel * 1000000) // n_shingles AS novelty_ppm
        |FROM g ORDER BY doc_id""".stripMargin),

    // Feature hashing (the sklearn HashingVectorizer / Vowpal-Wabbit
    // trick — fixed-width feature vectors with NO vocabulary state): a
    // token lands in bucket h mod 16 with sign (−1)^bit from an
    // independent hash bit, so collisions cancel in expectation; per
    // (doc, bucket) the signed sum IS the feature value. The md5-integer
    // law is the engine-shared randomness, so both sides build the
    // identical vectors. Pure scan-side projection + one (doc, bucket)
    // rollup — stateless, which is exactly why the trick scales: no
    // vocab broadcast, no dictionary shuffle, 16→2²⁰ buckets is a
    // constant change.
    Op("llm_feature_hashing", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .withColumn("h", expr(md5Bits("w", 8)))
        .select(col("doc_id"), (col("h") % 16).as("bucket"),
          expr("CAST(CASE WHEN (h DIV 16) % 2 = 0 THEN 1 ELSE -1 END AS BIGINT)").as("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("n_tokens"), sum("sgn").as("feat"))
        .orderBy("doc_id", "bucket"),
      // Same bucket/sign hash law, same signed-sum features.
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |h AS (SELECT doc_id,
        |    ${duckMd5Bits("w", 8)} AS h FROM tk),
        |f AS (SELECT doc_id, h % 16 AS bucket,
        |    CAST(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END AS BIGINT) AS sgn
        |  FROM h)
        |SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(sgn) AS BIGINT) AS feat
        |FROM f GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin),
    // Video scene-cut detection over the stubbed codec (the shot-
    // boundary stage of a video ingest — every clip pipeline segments
    // before captioning/embedding): frames are the 32-byte stride-1
    // windows of the doc's byte stream (mm_frame_sample's geometry),
    // each fingerprints to 8 bits of its md5, and a frame opens a new
    // shot when its fingerprint's hamming distance to the PREVIOUS frame
    // reaches the threshold — the feature-delta law real detectors apply
    // to histogram/embedding deltas, on deterministic features both
    // engines share. One per-doc lag window over a projection; fan-out
    // bounded by frame count.
    Op("mm_scene_cut", (s, d) =>
      Tables.documents(s, d).where(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .where(col("len") >= 1) // empty doc: sequence(0,-1) would descend
        .withColumn("frame_idx",
          explode(expr(s"sequence(0, CAST((len + ${FrameLen - 1}) DIV $FrameLen AS INT) - 1)")))
        .withColumn("fp", expr(
          md5Bits(s"CAST(substring(text, frame_idx * $FrameLen + 1, $FrameLen) AS BINARY)", 2)))
        .withColumn("prev_fp", lag("fp", 1).over(
          Window.partitionBy("doc_id").orderBy("frame_idx")))
        .withColumn("hd", expr("CAST(bit_count(fp ^ prev_fp) AS BIGINT)"))
        .where(col("hd") >= SceneCutBits)
        .select(col("doc_id"), col("frame_idx").cast("bigint").as("frame_idx"),
          col("fp"), col("prev_fp"), col("hd"))
        .orderBy("doc_id", "frame_idx"),
      // Same frame geometry, same 8-bit fingerprint, same lag threshold.
      s"""WITH d AS (SELECT doc_id, text, length(text) AS len
        |  FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 1),
        |f AS (SELECT doc_id, i AS frame_idx,
        |    ${duckMd5Bits("substring(text, i * 32 + 1, 32)", 2)} AS fp
        |  FROM d, LATERAL (SELECT unnest(range(0, CAST((len + 31) // 32 AS INT))) AS i)),
        |l AS (SELECT doc_id, frame_idx, fp,
        |    LAG(fp) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_fp
        |  FROM f)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, fp, prev_fp,
        |  CAST(bit_count(xor(fp, prev_fp)) AS BIGINT) AS hd
        |FROM l WHERE bit_count(xor(fp, prev_fp)) >= 5
        |ORDER BY doc_id, frame_idx""".stripMargin),

    // Stopword-density quality filter with a DATA-DERIVED stopword list:
    // the corpus's 5 most frequent tokens (ordered-limit with (count
    // DESC, token) tiebreak — TakeOrderedAndProject, never a full sort)
    // are the de-facto stopwords, each doc reports its density against
    // them in exact ppm, and the verdict flags boilerplate (density
    // above 400‰ of tokens). Self-calibrating — no shipped wordlist to
    // drift from the corpus language mix; the 5-row list broadcasts.
    Op("llm_stopword_density", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val stop = toks.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("w")).limit(5)
        .select(col("w").as("sw"))
      toks.join(broadcast(stop), col("w") === col("sw"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("sw").isNotNull, 1L).otherwise(0L)).as("n_stop"))
        .withColumn("density_ppm", expr("(n_stop * 1000000) DIV n_tokens"))
        .withColumn("boilerplate", col("density_ppm") > 400000L)
        .orderBy("doc_id")
    },
      // Same top-5 derivation (count DESC, token tiebreak), same ppm law.
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |stop AS (SELECT w AS sw FROM tk GROUP BY w
        |  ORDER BY COUNT(*) DESC, w LIMIT 5),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN sw IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM tk LEFT JOIN stop ON tk.w = stop.sw
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens, n_stop,
        |  (n_stop * 1000000) // n_tokens AS density_ppm,
        |  (n_stop * 1000000) // n_tokens > 400000 AS boilerplate
        |FROM g ORDER BY doc_id""".stripMargin),

    // Lexical diversity per language — type-token ratio and hapax share,
    // the corpus-health panel beside llm_corpus_stats: TTR = distinct
    // terms over running tokens (ppm), hapax = share of terms seen ONCE
    // (high hapax + low TTR at scale = scraped boilerplate plus noise).
    // Two keyed rollups ((lang, term) then lang) — the classic two-level
    // distinct that never holds a vocabulary in memory.
    Op("llm_ttr_diversity", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("ttr_ppm", expr("(n_types * 1000000) DIV n_tokens"))
        .withColumn("hapax_ppm", expr("(n_hapax * 1000000) DIV n_types"))
        .orderBy("lang"),
      // Same two-level rollup, same ppm ratios.
      """WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |tc AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
        |g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM tc GROUP BY 1)
        |SELECT lang, n_tokens, n_types, n_hapax,
        |  (n_types * 1000000) // n_tokens AS ttr_ppm,
        |  (n_hapax * 1000000) // n_types AS hapax_ppm
        |FROM g ORDER BY lang""".stripMargin),

    // Content-defined chunking (the rsync/FastCDC law, the chunker real
    // dedup storage runs INSTEAD of llm_chunk's fixed windows): a chunk
    // boundary falls wherever the hash of the trailing 8-byte window ≡ 0
    // (mod 64) — so an insertion reshuffles only the chunks it touches,
    // never the whole tail (fixed windows shift EVERYTHING after an
    // edit; that is the entire point of CDC). Boundaries = hash-selected
    // positions ∪ the doc end, chunk spans from lag() over the boundary
    // set, chunk identity = md5 of the span. Per-position hashing is a
    // scan-side projection; the boundary frame is len/64-sized before
    // the one per-doc window.
    Op("llm_cdc_chunk", (s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") % 10 === 5)
        .select(col("doc_id"), col("text"), length(col("text")).cast("bigint").as("len"))
        .where(col("len") >= 8)
      val hashBounds = docs
        .withColumn("i", explode(expr("sequence(8, CAST(len AS INT))")))
        .where(expr(
          s"${md5Bits("CAST(substring(text, i - 7, 8) AS BINARY)", 4)} % 64 = 0"))
        .select(col("doc_id"), col("i").cast("bigint").as("b"))
      val bounds = hashBounds
        .unionAll(docs.select(col("doc_id"), col("len").as("b")))
        .distinct()
      bounds
        .withColumn("start", coalesce(lag("b", 1).over(
          Window.partitionBy("doc_id").orderBy("b")), lit(0L)))
        .where(col("b") > col("start"))
        .join(docs.select("doc_id", "text"), Seq("doc_id"))
        .withColumn("chunk_idx", row_number().over(
          Window.partitionBy("doc_id").orderBy("b")).cast("bigint") - 1)
        .select(col("doc_id"), col("chunk_idx"), col("start"),
          (col("b") - col("start")).as("chunk_len"),
          md5(expr("CAST(substring(text, CAST(start AS INT) + 1, CAST(b - start AS INT)) AS BINARY)"))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
      // Same rolling-window boundary law, same lag-spanned chunks.
      s"""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 10 = 5 AND length(text) >= 8),
        |hb AS (SELECT doc_id, CAST(i AS BIGINT) AS b
        |  FROM d, LATERAL (SELECT unnest(range(8, CAST(len AS INT) + 1)) AS i)
        |  WHERE ${duckMd5Bits("substring(text, CAST(i - 7 AS INT), 8)", 4)} % 64 = 0),
        |bounds AS (SELECT DISTINCT doc_id, b FROM
        |  (SELECT doc_id, b FROM hb UNION ALL SELECT doc_id, len FROM d)),
        |sp AS (SELECT doc_id, b,
        |    COALESCE(LAG(b) OVER (PARTITION BY doc_id ORDER BY b), 0) AS start
        |  FROM bounds),
        |ch AS (SELECT sp.doc_id, sp.b, sp.start,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY sp.doc_id ORDER BY sp.b) AS BIGINT) - 1 AS chunk_idx,
        |    d.text
        |  FROM sp JOIN d ON d.doc_id = sp.doc_id
        |  WHERE sp.b > sp.start)
        |SELECT doc_id, chunk_idx, start, b - start AS chunk_len,
        |  md5(substring(text, CAST(start AS INT) + 1, CAST(b - start AS INT))) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),

    // ANN recall@5 — the retrieval-quality audit every approximate index
    // must pass before it replaces brute force: per probe, how many of
    // the EXACT top-5 neighbors (llm_sim_topk's full scan) does the IVF
    // path (llm_sim_ann's √n-centroid nprobe=4 search) return? Both
    // sides are the graded operators themselves — the eval composes
    // them, so an index regression fails THIS op too. recall in exact
    // ppm; the left join keeps probes the ANN missed entirely.
    Op("llm_ann_recall", (s, d) => {
      val exact = SparkEntry.queries("llm_sim_topk")(s, d)
        .select(col("probe_id"), col("neighbor_id"))
      val ann = SparkEntry.queries("llm_sim_ann")(s, d)
        .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(ann, Seq("probe_id", "neighbor_id"), "left")
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall_ppm", expr("(n_hit * 1000000) DIV n_exact"))
        .orderBy("probe_id")
    },
      // Both graded pipelines replayed (llm_sim_topk's exact scan and
      // llm_sim_ann's IVF search), then the same left-join recall rollup.
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, emb AS p_emb FROM e WHERE vec_id < 10),
        |exact AS (SELECT probe_id, neighbor_id FROM (
        |  SELECT probe_id, vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY ROUND(list_cosine_similarity(p_emb, emb), 4) DESC, vec_id) AS rnk
        |  FROM p, e WHERE vec_id <> probe_id)
        |  WHERE rnk <= 5),
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
        |    SELECT p.probe_id, p.p_emb, c.cid AS cluster,
        |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
        |        ORDER BY ROUND(list_cosine_similarity(p.p_emb, c.cemb), 4) DESC, c.cid) AS prn
        |    FROM p CROSS JOIN cent c)
        |  WHERE prn <= 4),
        |ann AS (SELECT probe_id, neighbor_id, 1 AS hit FROM (
        |  SELECT pr.probe_id, a.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY pr.probe_id
        |      ORDER BY ROUND(list_cosine_similarity(pr.p_emb, a.emb), 4) DESC, a.vec_id) AS rnk
        |  FROM probes pr JOIN assigned a ON pr.cluster = a.cluster
        |  WHERE a.vec_id <> pr.probe_id)
        |  WHERE rnk <= 5)
        |SELECT exact.probe_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hit,
        |  (CAST(SUM(COALESCE(hit, 0)) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT) AS recall_ppm
        |FROM exact LEFT JOIN ann
        |  ON ann.probe_id = exact.probe_id AND ann.neighbor_id = exact.neighbor_id
        |GROUP BY exact.probe_id ORDER BY 1""".stripMargin),

    // Greenlist watermark DETECTOR (the Kirchenbauer et al. scheme a
    // provenance pipeline runs over incoming text): a bigram is "green"
    // when hash(prev, cur) ≡ 0 (mod 4); unwatermarked text is green ~25%
    // of the time, watermarked generation biased the sampler toward
    // green. Per doc: exact (green, bigram) counts, the one-sided z =
    // (4g−n)/√(3n) via IEEE sqrt, and the VERDICT on pure integers —
    // z > 2 ⟺ 4g−n > 0 ∧ (4g−n)² > 12n — so the flag can never split
    // on a ulp. Scan-side bigram hashing + one doc rollup.
    Op("llm_watermark_detect", (s, d) => {
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .withColumn("prev", lag("w", 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
        .where(col("prev").isNotNull)
        .withColumn("green", expr(
          s"${md5Bits("concat(prev, '|', w)", 8)} % 4 = 0"))
      bg.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("green"), 1L).otherwise(0L)).as("n_green"))
        .withColumn("z", expr(
          "CAST(4 * n_green - n_bigrams AS DOUBLE) / sqrt(CAST(3 * n_bigrams AS DOUBLE))"))
        .withColumn("watermarked", expr(
          "4 * n_green - n_bigrams > 0 AND (4 * n_green - n_bigrams) * (4 * n_green - n_bigrams) > 12 * n_bigrams"))
        .orderBy("doc_id")
    },
      // Same bigram hash, same sqrt z, same integer verdict.
      s"""WITH tk AS (SELECT doc_id, w, pos FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |      generate_subscripts(string_split(text, ' '), 1) AS pos
        |    FROM documents)),
        |bg AS (SELECT doc_id, w,
        |    LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tk),
        |g AS (SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(CASE WHEN ${duckMd5Bits("prev || '|' || w", 8)} % 4 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_green
        |  FROM bg WHERE prev IS NOT NULL GROUP BY 1)
        |SELECT doc_id, n_bigrams, n_green,
        |  CAST(4 * n_green - n_bigrams AS DOUBLE) / sqrt(CAST(3 * n_bigrams AS DOUBLE)) AS z,
        |  4 * n_green - n_bigrams > 0
        |    AND (4 * n_green - n_bigrams) * (4 * n_green - n_bigrams) > 12 * n_bigrams AS watermarked
        |FROM g ORDER BY doc_id""".stripMargin),

    // T5-style span corruption plan (the denoising-objective prep step):
    // whole 3-token blocks mask wherever hash(doc, block) ≡ 0 (mod 8) —
    // E[mask density] = 1/8, spans never fragment, and the mask is a
    // pure function of (doc_id, position) so the training run is
    // re-runnable. Emits the per-doc accounting (tokens, masked, spans,
    // visible ppm) plus the md5 of the 0/1 flag string — the full mask
    // pinned in one hash without shipping it. All HOF scan-side work,
    // one projection, no shuffle beyond the final sort.
    Op("llm_span_corruption", (s, d) =>
      Tables.documents(s, d).where(col("doc_id") % 10 === 7)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("n", size(col("t")).cast("bigint"))
        .withColumn("flags", expr(
          s"""transform(sequence(0, CAST(n AS INT) - 1), i ->
            |  CASE WHEN ${md5Bits("concat(CAST(doc_id AS STRING), ':', CAST(i DIV 3 AS STRING))", 8)} % 8 = 0
            |  THEN '1' ELSE '0' END)""".stripMargin))
        .withColumn("n_masked", expr("CAST(size(filter(flags, f -> f = '1')) AS BIGINT)"))
        .withColumn("n_spans", expr(
          s"""CAST(size(filter(sequence(0, CAST((n + 2) DIV 3 AS INT) - 1), j ->
            |  ${md5Bits("concat(CAST(doc_id AS STRING), ':', CAST(j AS STRING))", 8)} % 8 = 0)) AS BIGINT)""".stripMargin))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_masked"), col("n_spans"),
          expr("((n - n_masked) * 1000000) DIV n").as("visible_ppm"),
          md5(expr("CAST(array_join(flags, '') AS BINARY)")).as("mask_md5"))
        .orderBy("doc_id"),
      // Same block-hash mask law, same flag-string fingerprint.
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 10 = 7),
        |f AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
        |    list_transform(range(0, len(t)), i ->
        |      CASE WHEN ${duckMd5Bits("CAST(doc_id AS VARCHAR) || ':' || CAST(i // 3 AS VARCHAR)", 8)} % 8 = 0
        |      THEN '1' ELSE '0' END) AS flags
        |  FROM d),
        |m AS (SELECT doc_id, n, flags,
        |    CAST(len(list_filter(flags, f -> f = '1')) AS BIGINT) AS n_masked,
        |    CAST(len(list_filter(range(0, CAST((n + 2) // 3 AS INT)), j ->
        |      ${duckMd5Bits("CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)", 8)} % 8 = 0)) AS BIGINT) AS n_spans
        |  FROM f)
        |SELECT doc_id, n AS n_tokens, n_masked, n_spans,
        |  ((n - n_masked) * 1000000) // n AS visible_ppm,
        |  md5(array_to_string(flags, '')) AS mask_md5
        |FROM m ORDER BY doc_id""".stripMargin),

    // Temperature-scaled language mixture (the multilingual re-balancing
    // law from the mBERT/XLM-R line: sample language ℓ ∝ n_ℓ^(1/T), so
    // low-resource languages up-weight): T = 2 makes the power an
    // INTEGER square root — computed exactly (k = ⌊√n⌋ with a ±1
    // correction against k², so a float sqrt boundary can never leak
    // into the hash) — and every share is one cross-multiplied ppm DIV.
    // One per-language rollup + a broadcast total.
    Op("llm_mixture_temperature", (s, d) => {
      val isqrt = "CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS BIGINT)"
      val t = Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("bigint")).as("n_tokens"))
        .withColumn("k", expr(isqrt))
        .withColumn("w", expr(
          """CASE WHEN (k + 1) * (k + 1) <= n_tokens THEN k + 1
            |     WHEN k * k > n_tokens THEN k - 1 ELSE k END""".stripMargin))
      t.crossJoin(broadcast(t.agg(sum("w").as("w_total"),
          sum("n_tokens").as("tok_total"))))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("w"),
          expr("(n_tokens * 1000000) DIV tok_total").as("natural_ppm"),
          expr("(w * 1000000) DIV w_total").as("sampled_ppm"))
        .orderBy("lang")
    },
      // Same exact integer sqrt (±1-corrected), same ppm shares.
      """WITH g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |k AS (SELECT *, CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS BIGINT) AS k0 FROM g),
        |w AS (SELECT lang, n_docs, n_tokens,
        |    CAST(CASE WHEN (k0 + 1) * (k0 + 1) <= n_tokens THEN k0 + 1
        |         WHEN k0 * k0 > n_tokens THEN k0 - 1 ELSE k0 END AS BIGINT) AS w
        |  FROM k),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total,
        |    CAST(SUM(n_tokens) AS BIGINT) AS tok_total FROM w)
        |SELECT lang, n_docs, n_tokens, w,
        |  (n_tokens * 1000000) // tok_total AS natural_ppm,
        |  (w * 1000000) // w_total AS sampled_ppm
        |FROM w, t ORDER BY lang""".stripMargin),

    // Sliding-window chunking with overlap — the RAG-ingest default
    // (llm_chunk is gap-free fixed windows, llm_cdc_chunk is
    // content-defined; retrieval wants OVERLAP so no answer span is ever
    // split across a boundary): 64-token windows at stride 48, the last
    // window clamped to the tail, chunk identity = md5 of the joined
    // token slice. Pure HOF slice per chunk — scan-side explode, no
    // shuffle beyond the sort.
    Op("llm_chunk_overlap", (s, d) =>
      Tables.documents(s, d).where(col("doc_id") % 10 === 1)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("n", size(col("t")).cast("bigint"))
        .withColumn("chunk_idx", explode(expr(
          "sequence(0, CAST(greatest((n - 17) DIV 48, CAST(0 AS BIGINT)) AS INT))")))
        .withColumn("start_tok", col("chunk_idx").cast("bigint") * 48)
        .withColumn("chunk_toks",
          expr("least(CAST(64 AS BIGINT), n - start_tok)"))
        .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
          col("start_tok"), col("chunk_toks"),
          md5(expr(
            "CAST(array_join(slice(t, CAST(start_tok AS INT) + 1, CAST(chunk_toks AS INT)), ' ') AS BINARY)"))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx"),
      // Same stride-48 window law, same clamped tail, same slice hash.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 10 = 1),
        |c AS (SELECT doc_id, t, n, CAST(i AS BIGINT) AS chunk_idx,
        |    CAST(i AS BIGINT) * 48 AS start_tok
        |  FROM d, LATERAL (SELECT unnest(range(0,
        |    CAST(GREATEST((n - 17) // 48, 0) AS INT) + 1)) AS i))
        |SELECT doc_id, chunk_idx, start_tok,
        |  LEAST(64, n - start_tok) AS chunk_toks,
        |  md5(array_to_string(array_slice(t, CAST(start_tok AS INT) + 1,
        |    CAST(start_tok + LEAST(64, n - start_tok) AS INT)), ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // Cross-language vocabulary overlap — how much surface form do two
    // languages share (loanwords, numerals, markup — the signal that
    // leaks language-ID and contaminates per-lang dedup)? Per-language
    // vocabularies from one (lang, token) rollup, pairwise intersection
    // from ONE self-join on the token (a<b canonical), Jaccard in exact
    // ppm. The token join is keyed — never a vocab×vocab product.
    Op("llm_vocab_overlap", (s, d) => {
      val v = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .distinct()
        .localCheckpoint()
      val sizes = v.groupBy("lang").agg(count(lit(1)).as("n"))
      val inter = v.as("x").join(v.as("y"),
          col("x.w") === col("y.w") && col("x.lang") < col("y.lang"))
        .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(broadcast(sizes.select(col("lang").as("lang_a"), col("n").as("n_a"))), "lang_a")
        .join(broadcast(sizes.select(col("lang").as("lang_b"), col("n").as("n_b"))), "lang_b")
        .select(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"), col("n_shared"),
          expr("(n_shared * 1000000) DIV (n_a + n_b - n_shared)").as("jaccard_ppm"))
        .orderBy("lang_a", "lang_b")
    },
      // Same distinct vocabularies, same canonical pair join, same ppm.
      """WITH v AS MATERIALIZED (SELECT DISTINCT lang, w FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)),
        |sz AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |i AS (SELECT x.lang AS lang_a, y.lang AS lang_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM v x JOIN v y ON x.w = y.w AND x.lang < y.lang
        |  GROUP BY 1, 2)
        |SELECT lang_a, lang_b, sa.n AS n_a, sb.n AS n_b, n_shared,
        |  (n_shared * 1000000) // (sa.n + sb.n - n_shared) AS jaccard_ppm
        |FROM i JOIN sz sa ON sa.lang = i.lang_a
        |JOIN sz sb ON sb.lang = i.lang_b
        |ORDER BY lang_a, lang_b""".stripMargin),

    // Hard-negative mining (the contrastive-training stage between
    // random negatives and near-duplicates): per anchor the top-3
    // candidates inside the similarity BAND [0.05, 0.5) — similar
    // enough to be informative, far enough to be true negatives (above
    // the band is a near-dup risk, below it the gradient is noise).
    // Reuses the native CosineSimilarity expression on rounded sims
    // (engine-identical ordering); one broadcast probe join + a per-
    // anchor ordered-limit.
    Op("llm_hard_negatives", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val p = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("anchor_id"), col("emb").as("a_emb"))
      val w = Window.partitionBy("anchor_id").orderBy(desc("sim"), col("negative_id"))
      broadcast(p).join(e, col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("vec_id").as("negative_id"),
          round(call_function("cosine_sim", col("a_emb"), col("emb")), 4).as("sim"))
        .where(col("sim") >= 0.05 && col("sim") < 0.5)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .orderBy("anchor_id", "rnk")
    },
      // Same rounded-cosine band, same ordered-limit per anchor.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (SELECT vec_id AS anchor_id, emb AS a_emb FROM e WHERE vec_id < 10),
        |sim AS (SELECT anchor_id, vec_id AS negative_id,
        |    ROUND(list_cosine_similarity(a_emb, emb), 4) AS sim
        |  FROM p, e WHERE vec_id <> anchor_id),
        |b AS (SELECT * FROM sim WHERE sim >= 0.05 AND sim < 0.5),
        |r AS (SELECT anchor_id, negative_id, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
        |      ORDER BY sim DESC, negative_id) AS INT) AS rnk
        |  FROM b)
        |SELECT anchor_id, negative_id, sim, rnk FROM r WHERE rnk <= 3
        |ORDER BY anchor_id, rnk""".stripMargin),

    // Curation filter funnel — the attrition report every data pipeline
    // publishes beside its output (which stage costs how much corpus?):
    // four chained gates (min length, known language, lexical diversity,
    // exact-dup survivor — first doc_id per text wins) evaluated as
    // FLAGS in one pass, the funnel counts derived by summing flag
    // prefixes — no stage re-scans, stage order explicit. One window
    // (exact-dup rank per text) + one scalar rollup, unpivoted to the
    // per-stage report.
    Op("llm_filter_funnel", (s, d) => {
      val flagged = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"),
          col("n_chars").cast("bigint").as("len"),
          size(split(col("text"), " ")).cast("bigint").as("toks"),
          size(array_distinct(split(col("text"), " "))).cast("bigint").as("uniq"))
        .withColumn("first_of_text", row_number().over(
          Window.partitionBy("text").orderBy("doc_id")) === 1)
        .withColumn("g1", col("len") >= 64)
        .withColumn("g2", col("g1") && col("lang").isin("en", "de", "fr", "es", "ja"))
        .withColumn("g3", col("g2") && expr("(uniq * 1000) DIV toks >= 300"))
        .withColumn("g4", col("g3") && col("first_of_text"))
      val agg = flagged.agg(
        count(lit(1)).as("n0"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("g2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("g3"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("g4"), 1L).otherwise(0L)).as("n4"))
      agg.select(expr(
          """stack(4,
            |  1L, 'min_length',  n0, n1,
            |  2L, 'known_lang',  n1, n2,
            |  3L, 'diversity',   n2, n3,
            |  4L, 'exact_dedup', n3, n4) AS (stage, gate, n_in, n_out)""".stripMargin))
        .withColumn("drop_ppm", expr("((n_in - n_out) * 1000000) DIV n_in"))
        .orderBy("stage")
    },
      // Same chained gates, same one-pass flags, same funnel unpivot.
      """WITH f AS (SELECT doc_id, lang, text,
        |    CAST(n_chars AS BIGINT) AS len,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq,
        |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1 AS first_of_text
        |  FROM documents),
        |g AS (SELECT *,
        |    len >= 64 AS g1,
        |    len >= 64 AND lang IN ('en', 'de', 'fr', 'es', 'ja') AS g2,
        |    len >= 64 AND lang IN ('en', 'de', 'fr', 'es', 'ja')
        |      AND (uniq * 1000) // toks >= 300 AS g3,
        |    len >= 64 AND lang IN ('en', 'de', 'fr', 'es', 'ja')
        |      AND (uniq * 1000) // toks >= 300 AND first_of_text AS g4
        |  FROM f),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(SUM(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM g),
        |u AS (
        |  SELECT 1 AS stage, 'min_length' AS gate, n0 AS n_in, n1 AS n_out FROM a
        |  UNION ALL SELECT 2, 'known_lang', n1, n2 FROM a
        |  UNION ALL SELECT 3, 'diversity', n2, n3 FROM a
        |  UNION ALL SELECT 4, 'exact_dedup', n3, n4 FROM a)
        |SELECT CAST(stage AS BIGINT) AS stage, gate, n_in, n_out,
        |  ((n_in - n_out) * 1000000) // n_in AS drop_ppm
        |FROM u ORDER BY stage""".stripMargin),

    // Zipf's-law audit — the corpus-linguistics sanity check (natural
    // text has rank·frequency ≈ constant; synthetic or templated text
    // deviates hard): top-30 tokens by (count DESC, token) ordered-limit
    // (TakeOrderedAndProject, never a full vocab sort), the Zipf
    // invariant rank·freq, and its level relative to the rank-1 token
    // in exact ppm. One vocab rollup + a 30-row window.
    Op("llm_zipf_check", (s, d) => {
      val top = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("w")).limit(30)
      top
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("freq"), col("w"))).cast("bigint"))
        .crossJoin(broadcast(top.agg(max("freq").as("f1"))))
        .select(col("rank"), col("w").as("token"), col("freq"),
          (col("rank") * col("freq")).as("zipf_product"),
          expr("(rank * freq * 1000000) DIV f1").as("rel_ppm"))
        .orderBy("rank")
    },
      // Same top-30 cut, same rank·freq invariant, same ppm scaling.
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY 1
        |  ORDER BY freq DESC, w LIMIT 30),
        |r AS (SELECT w, freq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank
        |  FROM v),
        |m AS (SELECT CAST(MAX(freq) AS BIGINT) AS f1 FROM v)
        |SELECT rank, w AS token, freq, CAST(rank * freq AS BIGINT) AS zipf_product,
        |  (rank * freq * 1000000) // f1 AS rel_ppm
        |FROM r, m ORDER BY rank""".stripMargin),

    // Embedding norm audit — the encoder-health check an embedding
    // pipeline runs before indexing (near-zero norms = dead encoder
    // output, exploding norms = missing normalization; both poison
    // cosine retrieval): ‖x‖² per vector via an ORDERED left fold over
    // the array (both engines fold in element order, so the IEEE sum is
    // bit-identical), floored to exact micro; vectors band into $2-wide
    // buckets with a degenerate flag. One projection + one band rollup.
    Op("mm_embedding_norm_audit", (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("""CAST(floor(aggregate(CAST(embedding AS ARRAY<DOUBLE>),
                 CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x) * 1000000) AS BIGINT)""")
            .as("l2sq_micro"))
        .withColumn("band", expr("l2sq_micro DIV 2000000"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_vectors"),
          min("l2sq_micro").as("min_l2sq"), max("l2sq_micro").as("max_l2sq"),
          sum(when(col("l2sq_micro") < 100000L, 1L).otherwise(0L)).as("n_near_zero"))
        .orderBy("band"),
      // Same ordered fold, same micro floor, same bands.
      """WITH n AS (SELECT vec_id,
        |    CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
        |      (acc, x) -> acc + x) * 1000000) AS BIGINT) AS l2sq_micro
        |  FROM embeddings),
        |b AS (SELECT *, l2sq_micro // 2000000 AS band FROM n)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(MIN(l2sq_micro) AS BIGINT) AS min_l2sq,
        |  CAST(MAX(l2sq_micro) AS BIGINT) AS max_l2sq,
        |  CAST(SUM(CASE WHEN l2sq_micro < 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero
        |FROM b GROUP BY 1 ORDER BY band""".stripMargin),
    // Round-10 wave: the distributed-dataloader contract + the packed-
    // attention accounting that justifies llm_pack_sequences downstream.

    // EXIF privacy audit — the metadata-governance step of image ingest
    // (mm_decode_meta reads structural fields; this audits the PRIVACY
    // ones a release pipeline must strip): deterministic md5-derived
    // EXIF facets per staged image (orientation 1–8, GPS-present 1-in-5,
    // timestamp-present 2-in-3), per-source ledger of exposure counts,
    // GPS rate in exact ppm, and the must_strip verdict any nonzero GPS
    // count flips. One scan, one rollup.
    Op("mm_exif_audit", (s, d) => {
      Tables.documents(s, d).where(col("doc_id") % 40 === 0)
        .select(col("doc_id"), col("source"))
        .withColumn("orientation", expr(s"1 + ${md5Bits("eo", "doc_id", 8)} % 8"))
        .withColumn("has_gps", expr(s"${md5Bits("eg", "doc_id", 8)} % 5 = 0"))
        .withColumn("has_ts", expr(s"${md5Bits("et", "doc_id", 8)} % 3 < 2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_images"),
          sum(when(col("has_gps"), 1L).otherwise(0L)).as("n_gps"),
          sum(when(col("has_ts"), 1L).otherwise(0L)).as("n_ts"),
          sum(when(col("orientation") > 1, 1L).otherwise(0L)).as("n_rotated"))
        .withColumn("gps_ppm", expr("n_gps * 1000000 DIV n_images"))
        .withColumn("must_strip", col("n_gps") > 0)
        .orderBy("source")
    },
      // Same md5 facets, same exposure ledger.
      s"""WITH i AS (SELECT doc_id, source,
        |    1 + ${duckMd5Bits("eo", "doc_id", 8)} % 8 AS orientation,
        |    ${duckMd5Bits("eg", "doc_id", 8)} % 5 = 0 AS has_gps,
        |    ${duckMd5Bits("et", "doc_id", 8)} % 3 < 2 AS has_ts
        |  FROM documents WHERE doc_id % 40 = 0),
        |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_images,
        |    CAST(SUM(CASE WHEN has_gps THEN 1 ELSE 0 END) AS BIGINT) AS n_gps,
        |    CAST(SUM(CASE WHEN has_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
        |    CAST(SUM(CASE WHEN orientation > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rotated
        |  FROM i GROUP BY 1)
        |SELECT source, n_images, n_gps, n_ts, n_rotated,
        |  n_gps * 1000000 // n_images AS gps_ppm, n_gps > 0 AS must_strip
        |FROM g ORDER BY source""".stripMargin),
    // Distributed dataloader epoch plan (the PyTorch DistributedSampler
    // contract a training job keys on): per epoch the corpus is shuffled
    // by the deterministic md5(epoch:doc) order, round-robin sharded over
    // world_size=4 ranks (rank r takes shuffled positions r, r+W, …), and
    // drop_last trims each rank to whole batches of 8 — the graded plan is
    // each (epoch, rank)'s sample/batch/drop accounting plus a checksum of
    // the USED sample set, so any divergence in shuffle, sharding, or
    // trimming is caught. Two epochs prove the reshuffle actually changes
    // assignments. One global ROW_NUMBER per epoch (the 100 TB shape
    // shards the sort by hash prefix exactly like llm_sample_split); all
    // arithmetic integer.
    Op("llm_dataloader_epoch_plan", (s, d) => {
      val W = 4; val B = 8
      val epochs = Seq(0, 1).map { ep =>
        // the epoch-shuffle position is the two-level banded row_number
        // (the agg_ks_test law): u is uniform 32-bit, so DIV 2²⁴ gives
        // ≤ 256 even bands — band offsets + per-band partitioned
        // row_number, no global sort at any scale.
        val t = Tables.documents(s, d)
          .select(col("doc_id"),
            expr(md5Bits(ep.toString, "doc_id", 8))
              .as("u"))
          .withColumn("bkt", expr("u DIV 16777216"))
        val off = t.groupBy("bkt").agg(count(lit(1)).as("bc"))
          .withColumn("off", coalesce(sum("bc").over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bkt", "off")
        val shuffled = t.join(broadcast(off), "bkt")
          .withColumn("pos",
            col("off") + row_number().over(
              Window.partitionBy("bkt").orderBy("u", "doc_id")).cast("bigint") - 1)
          .withColumn("rank", col("pos") % W)
          .withColumn("rank_pos", expr(s"pos DIV $W"))
        val perRank = Window.partitionBy("rank")
        shuffled
          .withColumn("n_rank", count(lit(1)).over(perRank))
          .withColumn("used", col("rank_pos") < expr(s"(n_rank DIV $B) * $B"))
          .groupBy("rank")
          .agg(count(lit(1)).as("n_samples"),
            expr(s"CAST(count(1) DIV $B AS BIGINT)").as("n_batches"),
            sum(when(!col("used"), 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("used"), col("doc_id")).otherwise(0L)).as("used_checksum"))
          .withColumn("epoch", lit(ep.toLong))
      }
      epochs.reduce(_ unionByName _)
        .select("epoch", "rank", "n_samples", "n_batches", "n_dropped", "used_checksum")
        .orderBy("epoch", "rank")
    },
      // Same md5(epoch:doc) shuffle order, same round-robin mod-4 sharding,
      // same whole-batch trim — integer end to end.
      s"""WITH e AS (SELECT 0 AS epoch UNION ALL SELECT 1),
        |s AS (SELECT epoch, doc_id,
        |    ${duckMd5Bits("CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)", 8)} AS u
        |  FROM documents, e),
        |p AS (SELECT epoch, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY u, doc_id) AS BIGINT) - 1 AS pos
        |  FROM s),
        |r AS (SELECT epoch, doc_id, pos % 4 AS rnk, pos // 4 AS rank_pos FROM p),
        |g AS (SELECT *, COUNT(*) OVER (PARTITION BY epoch, rnk) AS n_rank FROM r)
        |SELECT CAST(epoch AS BIGINT) AS epoch, rnk AS rank,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(COUNT(*) // 8 AS BIGINT) AS n_batches,
        |  CAST(SUM(CASE WHEN rank_pos < (n_rank // 8) * 8 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN rank_pos < (n_rank // 8) * 8 THEN doc_id ELSE 0 END) AS BIGINT) AS used_checksum
        |FROM g GROUP BY epoch, rnk ORDER BY epoch, rank""".stripMargin),

    // Packed-attention savings report — the accounting that justifies
    // sequence packing to the training stack: packing only pays if the
    // attention mask is BLOCK-DIAGONAL (each doc attends to itself), so
    // the saved cells per pack are (Σlen)² − Σlen² in exact integers and
    // the savings ppm is the graded headline. Reuses the exact
    // llm_pack_sequences assignment (same buckets, same prefix sums) so
    // the two reports can never drift apart.
    Op("llm_attention_block_savings", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_tok"),
          expr(md5Bits("CAST(doc_id AS STRING)", 8)).as("u"))
        .withColumn("bucket", col("u") % 32)
      val w = Window.partitionBy("bucket").orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tok.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id",
          col("bucket") * ShardIdSpan + expr(s"(cum - n_tok) DIV $Ctx"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          sum(col("n_tok") * col("n_tok")).as("blocked_cells"))
        .withColumn("full_cells", col("n_tokens") * col("n_tokens"))
        .withColumn("savings_ppm",
          expr("((full_cells - blocked_cells) * 1000000) DIV full_cells"))
        .select("pack_id", "n_docs", "n_tokens", "blocked_cells", "full_cells", "savings_ppm")
        .orderBy("pack_id")
    },
      // Same bucketed prefix-sum pack assignment as llm_pack_sequences;
      // cells in exact BIGINT (max (Σtok)²·10⁶ ≈ 10¹² — no overflow).
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    ${duckMd5Bits("CAST(doc_id AS VARCHAR)", 8)} AS u
         |  FROM documents),
         |b AS (SELECT *, u % 32 AS bucket FROM t),
         |c AS (SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY u, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM b),
         |p AS (SELECT *, bucket * $ShardIdSpan + (cum - n_tok) // $Ctx AS pack_id FROM c),
         |g AS (SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(n_tok * n_tok) AS BIGINT) AS blocked_cells
         |  FROM p GROUP BY pack_id)
         |SELECT pack_id, n_docs, n_tokens, blocked_cells,
         |  n_tokens * n_tokens AS full_cells,
         |  ((n_tokens * n_tokens - blocked_cells) * 1000000) // (n_tokens * n_tokens)
         |    AS savings_ppm
         |FROM g ORDER BY pack_id""".stripMargin),

    // Tokenizer fertility per language — THE tokenizer-evaluation metric
    // (bytes/token and chars/token): a language whose fertility runs high
    // pays more sequence length per byte of content, which skews both
    // training cost and the mixture weights llm_data_mixture computes.
    // Corpus-level ratio of exact sums (never an average of per-doc
    // ratios — that would weight short docs up), in exact milli; bytes
    // via octet_length (UTF-8 octets) vs chars via char length, all
    // non-negative so DIV == floor. One groupBy shuffle on |langs| keys.
    Op("llm_tokenizer_fertility", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          octet_length(col("text")).cast("bigint").as("bytes"),
          length(col("text")).cast("bigint").as("chars"),
          size(split(col("text"), " ")).cast("bigint").as("toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("bytes").as("sum_bytes"),
          sum("chars").as("sum_chars"), sum("toks").as("sum_tokens"))
        .withColumn("bytes_per_token_milli",
          expr("(sum_bytes * 1000) DIV sum_tokens"))
        .withColumn("chars_per_token_milli",
          expr("(sum_chars * 1000) DIV sum_tokens"))
        .orderBy("lang"),
      // strlen = UTF-8 bytes, length = chars in DuckDB — the same
      // byte/char split as Spark's octet_length/length.
      """WITH t AS (SELECT lang,
        |    CAST(strlen(text) AS BIGINT) AS bytes,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(bytes) AS BIGINT) AS sum_bytes,
        |    CAST(SUM(chars) AS BIGINT) AS sum_chars,
        |    CAST(SUM(toks) AS BIGINT) AS sum_tokens
        |  FROM t GROUP BY lang)
        |SELECT lang, n_docs, sum_bytes, sum_chars, sum_tokens,
        |  (sum_bytes * 1000) // sum_tokens AS bytes_per_token_milli,
        |  (sum_chars * 1000) // sum_tokens AS chars_per_token_milli
        |FROM g ORDER BY lang""".stripMargin),

    // SFT chat-template rendering — the assembly step between raw
    // (prompt, response) pairs and llm_loss_masking's token spans: each
    // sampled pair is rendered into the special-token template and the
    // op grades the SPAN ARITHMETIC the masker downstream depends on
    // (assistant offset = total − response − |<|end|>|, mask ppm) plus
    // an md5 fingerprint of the rendered string, so any template drift
    // (delimiter, ordering, whitespace) breaks the hash. Pure per-row
    // projection — embarrassingly parallel at any scale.
    Op("llm_sft_chat_template", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      docs.as("p").where(col("doc_id") % 10 === 4)
        .join(docs.as("r"), col("r.doc_id") === col("p.doc_id") + 1)
        .select(col("p.doc_id").as("pair_id"),
          concat(lit("<|system|>You are a helpful assistant.\n<|user|>"),
            col("p.text"), lit("\n<|assistant|>"), col("r.text"),
            lit("<|end|>")).as("rendered"),
          length(col("r.text")).cast("bigint").as("asst_len"))
        .select(col("pair_id"),
          length(col("rendered")).cast("bigint").as("total_len"),
          (length(col("rendered")).cast("bigint") - col("asst_len") - 7L)
            .as("asst_off"),
          col("asst_len"),
          expr("(asst_len * 1000000) DIV length(rendered)").as("mask_ppm"),
          md5(col("rendered")).as("render_md5"))
        .orderBy("pair_id")
    },
      // Same template literals, same span arithmetic, same md5.
      """WITH pr AS (SELECT p.doc_id AS pair_id,
        |    '<|system|>You are a helpful assistant.
        |<|user|>' || p.text || '
        |<|assistant|>' || r.text || '<|end|>' AS rendered,
        |    CAST(length(r.text) AS BIGINT) AS asst_len
        |  FROM documents p JOIN documents r ON r.doc_id = p.doc_id + 1
        |  WHERE p.doc_id % 10 = 4)
        |SELECT pair_id,
        |  CAST(length(rendered) AS BIGINT) AS total_len,
        |  CAST(length(rendered) AS BIGINT) - asst_len - 7 AS asst_off,
        |  asst_len,
        |  (asst_len * 1000000) // CAST(length(rendered) AS BIGINT) AS mask_ppm,
        |  md5(rendered) AS render_md5
        |FROM pr ORDER BY pair_id""".stripMargin),

    // Expected-calibration-error table — the reliability diagram that
    // audits llm_quality_classifier-style scores before they gate data:
    // per confidence decile, observed accuracy vs stated confidence.
    // Probabilities and outcomes are the shared md5-integer randomness
    // (conf = md5('c:'+id)%1000, outcome fires when an INDEPENDENT
    // md5('y:'+id)%1000 draw lands under conf — calibrated by
    // construction, so the audited gaps are pure sampling noise); all
    // milli-unit integer arithmetic, |conf−acc| needs no division. One
    // 10-key groupBy.
    Op("llm_calibration_error", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"${md5Bits("c", "doc_id", 8)} % 1000")
            .as("conf"),
          expr(s"${md5Bits("y", "doc_id", 8)} % 1000")
            .as("draw"))
        .withColumn("y", col("draw") < col("conf"))
        .withColumn("bucket", expr("conf DIV 100"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("conf").as("sum_conf"),
          sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("conf_milli", expr("sum_conf DIV n"))
        .withColumn("acc_milli", expr("(n_pos * 1000) DIV n"))
        .withColumn("gap_milli", abs(col("conf_milli") - col("acc_milli")))
        .select("bucket", "n", "conf_milli", "acc_milli", "gap_milli")
        .orderBy("bucket"),
      // Same two independent md5 draws, same decile buckets, same integer
      // milli gaps.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("c", "doc_id", 8)} % 1000 AS conf,
        |    ${duckMd5Bits("y", "doc_id", 8)} % 1000 AS draw
        |  FROM documents),
        |b AS (SELECT conf // 100 AS bucket, conf, draw < conf AS y FROM t),
        |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(conf) AS BIGINT) AS sum_conf,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM b GROUP BY bucket)
        |SELECT bucket, n, sum_conf // n AS conf_milli,
        |  (n_pos * 1000) // n AS acc_milli,
        |  abs(sum_conf // n - (n_pos * 1000) // n) AS gap_milli
        |FROM g ORDER BY bucket""".stripMargin),

    // Modality sniffing by MAGIC BYTES — the decode-free router at the
    // front of a multimodal ingest (files lie about extensions; headers
    // don't): staged blobs carry real PNG/JPEG/RIFF-WAVE headers, the
    // binaryFile scan classifies on hex(prefix) only (first 12 bytes —
    // no codec, no full read at the logical level), and the rollup
    // counts bytes per detected modality. Oracle replays the generator
    // rule (doc_id mod 3 picks the header) arithmetically.
    Op("mm_magic_sniff", (s, d) => {
      val dir = Scratch.staged("magicsniff", d) { dir =>
        val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
        val jpg = Array(0xFF, 0xD8, 0xFF).map(_.toByte)
        val wav = "RIFF".getBytes("UTF-8") ++ Array[Byte](0, 0, 0, 0) ++
          "WAVE".getBytes("UTF-8")
        Tables.documents(s, d).where(col("doc_id") % 40 === 0)
          .select(col("doc_id"), col("text")).collect()
          .foreach { r =>
            val header = (r.getLong(0) / 40) % 3 match {
              case 0 => png; case 1 => jpg; case _ => wav
            }
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"blob_${r.getLong(0)}%08d.bin"),
              header ++ r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
        .select(col("length"),
          when(hex(expr("substring(content, 1, 8)")) === "89504E470D0A1A0A", "image_png")
            .when(hex(expr("substring(content, 1, 3)")) === "FFD8FF", "image_jpeg")
            .when(hex(expr("substring(content, 1, 4)")) === "52494646" &&
              hex(expr("substring(content, 9, 4)")) === "57415645", "audio_wav")
            .otherwise("unknown").as("modality"))
        .groupBy("modality")
        .agg(count(lit(1)).as("n_files"), sum("length").as("sum_bytes"))
        .orderBy("modality")
    },
      // The generator rule replayed arithmetically: header length by
      // doc_id/40 mod 3 (png 8, jpeg 3, wav 12), bytes = strlen + header.
      """WITH b AS (SELECT doc_id, (doc_id // 40) % 3 AS kind,
        |    CAST(strlen(text) AS BIGINT) AS body
        |  FROM documents WHERE doc_id % 40 = 0)
        |SELECT CASE kind WHEN 0 THEN 'image_png' WHEN 1 THEN 'image_jpeg'
        |    ELSE 'audio_wav' END AS modality,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(body + CASE kind WHEN 0 THEN 8 WHEN 1 THEN 3 ELSE 12 END) AS BIGINT)
        |    AS sum_bytes
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // IVF + PQ composed — the PRODUCTION ANN shape (FAISS's IVF-PQ):
    // coarse hash-sampled centroids prune the corpus to nprobe=2 cells,
    // then candidates re-rank by ASYMMETRIC distance (probe's exact
    // integer vector against the candidate's 4-bit dequantized codes) —
    // compression on the corpus side only, where the memory is. Every
    // stage is exact integer arithmetic (micro-scaled dims, per-dim
    // min/max PQ grid, BIGINT dots), so the full pipeline replays in
    // SQL. Top-3 by (approx dot, id) total order per probe.
    Op("llm_ann_ivf_pq", (s, d) => {
      // Round-17 rewrite to the array + codegen'd-dot shape proven on
      // llm_ann_index_maintain (guide §1.2 "per-task work" + §2.3 "shuffle
      // fewer bytes"): the old posexplode formulation joined the 64-dim
      // row-per-dimension relation against the centroids ON pos — an
      // n·√n·64-ROW stream (5.6M rows at sf0.1) through a join + hash
      // aggregate — and then sorted it under a row_number window. Vectors
      // now stay ARRAYS end to end; every dot product is one native
      // whole-stage-codegen LongDotProduct against a BROADCAST centroid
      // table, and the argmax is a map-side max_by on the (dot, −cid)
      // order (ties to the LOWEST cid — the identical total order the
      // row_number(desc dot, cid) rank-1 picked). Arithmetic is unchanged
      // exact BIGINT (the 64-dot peaks at ~64·10⁸ ≪ 2⁶³, so the old
      // DECIMAL(38,0) detour was value-identical); the oracle replays
      // bit-for-bit.
      def dot(a: String, b: String) = s"graft_ldot($a, $b)"
      val vecs = Tables.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
          .as("xs")).localCheckpoint()
      // per-dimension PQ grid (min/max per pos) — the only place the
      // array is exploded now; 64 groups, map-side partial agg, then the
      // grid rides as ONE broadcast row of pos-sorted structs
      val stats = vecs.select(col("vec_id"), posexplode(col("xs")))
        .groupBy("pos").agg(min("col").as("mn"), max("col").as("mx"))
      val grid = broadcast(stats.agg(
        sort_array(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("g")))
      // dequantized codes as an array per vector: code/deq per element is
      // the IDENTICAL exact integer arithmetic of the old per-row form
      // (code = ((xm−mn)·15) DIV (mx−mn), deq = mn + (code·(mx−mn)) DIV 15,
      // mx=mn ⇒ code=0 ⇒ deq=mn). The lambda is interpreted, but it runs
      // once per VECTOR (n·64 evals), not on the n·√n·64 assign stream —
      // off the hot path by construction.
      val deqA = vecs.crossJoin(grid)
        .select(col("vec_id").as("neighbor_id"), expr(
          """transform(xs, (x, i) -> CASE WHEN g[i].mx = g[i].mn THEN g[i].mn
            |  ELSE g[i].mn + ((((x - g[i].mn) * 15) DIV (g[i].mx - g[i].mn))
            |       * (g[i].mx - g[i].mn)) DIV 15 END)""".stripMargin)
          .as("dq"))
      // ADAPTIVE √n centroid sizing (the IVF law): modulus √n yields
      // E[#centroids] = n/√n = √n, so the assign sweep stays Θ(n^1.5) at
      // EVERY corpus size — the round-10 fixed %70 was right only at the
      // 2k-vector bench scale and went quadratic past it (caught by the
      // round-11 scale witness). floor(sqrt(count)) is IEEE-identical in
      // both engines (sqrt on data is allowed by the exactness laws).
      val nVecs = Tables.embeddings(s, d).count()
      val mod = math.max(1L, math.sqrt(nVecs.toDouble).toLong)
      val cent = broadcast(vecs.where(
        expr(s"${md5Bits("CAST(vec_id AS STRING)", 8)} % $mod = 0"))
        .select(col("vec_id").as("cid"), col("xs").as("cs")))
      val assigned = vecs.crossJoin(cent)
        .select(col("vec_id"), col("cid"), expr(dot("xs", "cs")).as("dt"))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("dt"), -col("cid"))).as("cluster"))
      val probes = vecs.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("xs").as("ps"))
      val wProbe = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(desc("dot"), col("cid"))
      val probeCells = probes.crossJoin(cent)
        .select(col("probe_id"), col("cid"), expr(dot("ps", "cs")).as("dot"))
        .withColumn("rn", row_number().over(wProbe)).where(col("rn") <= 2)
        .select(col("probe_id"), col("cid").as("cluster"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(desc("qdot"), col("neighbor_id"))
      probeCells.join(assigned, Seq("cluster"))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"))
        .join(broadcast(probes), "probe_id")
        .join(deqA, Seq("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          expr(dot("ps", "dq")).as("qdot"))
        .withColumn("rnk", row_number().over(wTop).cast("bigint"))
        .where(col("rnk") <= 3)
        .orderBy("probe_id", "rnk")
    },
      // The whole IVF-PQ pipeline replayed: same micro dims, same PQ grid,
      // same md5 centroids, same integer dots, same (qdot, id) top-3.
      s"""WITH e AS (SELECT vec_id,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS xm,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings),
        |st AS (SELECT pos, MIN(xm) AS mn, MAX(xm) AS mx FROM e GROUP BY 1),
        |dq AS (SELECT vec_id, e.pos,
        |    mn + ((CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
        |      ELSE ((xm - mn) * 15) // (mx - mn) END) * (mx - mn)) // 15 AS deq
        |  FROM e JOIN st ON e.pos = st.pos),
        |cent AS (SELECT vec_id AS cid, pos, xm AS cm FROM e
        |  WHERE ${duckMd5Bits("CAST(vec_id AS VARCHAR)", 8)}
        |    % (SELECT GREATEST(1, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))
        |       FROM embeddings) = 0),
        |adot AS (SELECT e.vec_id, c.cid,
        |    CAST(SUM(e.xm::HUGEINT * c.cm) AS BIGINT) AS dot
        |  FROM e JOIN cent c ON c.pos = e.pos GROUP BY 1, 2),
        |assigned AS (SELECT vec_id, cid AS cluster FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
        |    FROM adot) WHERE rn = 1),
        |pr AS (SELECT vec_id AS probe_id, pos, xm AS pm FROM e WHERE vec_id < 10),
        |pdot AS (SELECT p.probe_id, c.cid,
        |    CAST(SUM(p.pm::HUGEINT * c.cm) AS BIGINT) AS dot
        |  FROM pr p JOIN cent c ON c.pos = p.pos GROUP BY 1, 2),
        |cells AS (SELECT probe_id, cid AS cluster FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dot DESC, cid) AS rn
        |    FROM pdot) WHERE rn <= 2),
        |cand AS (SELECT ce.probe_id, a.vec_id AS neighbor_id
        |  FROM cells ce JOIN assigned a ON a.cluster = ce.cluster
        |  WHERE a.vec_id <> ce.probe_id),
        |q AS (SELECT cd.probe_id, cd.neighbor_id,
        |    CAST(SUM(p.pm::HUGEINT * d.deq) AS BIGINT) AS qdot
        |  FROM cand cd
        |  JOIN pr p ON p.probe_id = cd.probe_id
        |  JOIN dq d ON d.vec_id = cd.neighbor_id AND d.pos = p.pos
        |  GROUP BY 1, 2)
        |SELECT probe_id, neighbor_id, qdot, rnk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM q) WHERE rnk <= 3
        |ORDER BY probe_id, rnk""".stripMargin),

    // Length-bias audit over the preference pairs — RLHF's best-known
    // failure mode (reward models prefer LONGER answers regardless of
    // quality; a pair set where chosen systematically out-lengths
    // rejected will train verbosity, not helpfulness): rebuilds the
    // exact llm_preference_pairs selection, compares token lengths
    // side-by-side, and grades the share of chosen-longer pairs in
    // exact ppm with a both-tails verdict band [40%, 60%].
    Op("llm_length_bias_audit", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("toks"),
          size(array_distinct(split(col("text"), " "))).cast("bigint").as("uniq"))
        .withColumn("score", expr("(uniq * 1000) DIV toks"))
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "source").orderBy(desc("score"), col("doc_id"))
      val wW = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "source").orderBy(col("score"), col("doc_id"))
      val best = t.withColumn("rn", row_number().over(wB)).where(col("rn") === 1)
        .select(col("lang"), col("source"), col("toks").as("chosen_toks"),
          col("doc_id").as("chosen_id"))
      val worst = t.withColumn("rn", row_number().over(wW)).where(col("rn") === 1)
        .select(col("lang"), col("source"), col("toks").as("rejected_toks"),
          col("doc_id").as("rejected_id"))
      best.join(worst, Seq("lang", "source"))
        .where(col("chosen_id") =!= col("rejected_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("chosen_toks") > col("rejected_toks"), 1L).otherwise(0L))
            .as("n_chosen_longer"),
          sum(when(col("chosen_toks") === col("rejected_toks"), 1L).otherwise(0L))
            .as("n_ties"))
        .withColumn("longer_ppm",
          expr("(n_chosen_longer * 1000000) DIV (n_pairs - n_ties)"))
        .withColumn("biased",
          col("longer_ppm") > 600000L || col("longer_ppm") < 400000L)
    },
      // Same pair selection, same side-by-side length compare.
      """WITH t AS (SELECT doc_id, lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
        |  FROM documents),
        |sc AS (SELECT *, (uniq * 1000) // toks AS score FROM t),
        |b AS (SELECT lang, source, toks AS chosen_toks, doc_id AS chosen_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY score DESC, doc_id) AS rn FROM sc) WHERE rn = 1),
        |w AS (SELECT lang, source, toks AS rejected_toks, doc_id AS rejected_id
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY score, doc_id) AS rn FROM sc) WHERE rn = 1),
        |p AS (SELECT b.chosen_toks, w.rejected_toks
        |  FROM b JOIN w ON b.lang = w.lang AND b.source = w.source
        |  WHERE b.chosen_id <> w.rejected_id),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN chosen_toks > rejected_toks THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_chosen_longer,
        |    CAST(SUM(CASE WHEN chosen_toks = rejected_toks THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ties
        |  FROM p)
        |SELECT n_pairs, n_chosen_longer, n_ties,
        |  (n_chosen_longer * 1000000) // (n_pairs - n_ties) AS longer_ppm,
        |  (n_chosen_longer * 1000000) // (n_pairs - n_ties) > 600000
        |    OR (n_chosen_longer * 1000000) // (n_pairs - n_ties) < 400000 AS biased
        |FROM m""".stripMargin),

    // Tool-call trace audit — agentic training data's equivalent of the
    // quality rollup: traces are AUTHORED as real JSON (to_json over
    // typed structs), then parsed back through from_json + explode —
    // the serialize→parse roundtrip IS the op (a schema drift or quoting
    // bug breaks the rollup) — and audited per tool: call counts, error
    // rates, latency totals, all from the shared md5 randomness so the
    // oracle can replay arithmetically without JSON.
    Op("llm_tool_trace_audit", (s, d) => {
      val calls = (0 to 2).map { k =>
        struct(
          expr(s"CASE ${md5Bits(s"concat('tool:', CAST(doc_id AS STRING), ':$k')", 8)} % 3 WHEN 0 THEN 'code' WHEN 1 THEN 'fetch' ELSE 'search' END")
            .as("tool"),
          expr(s"IF(${md5Bits(s"concat('st:', CAST(doc_id AS STRING), ':$k')", 8)} % 5 = 0, 'error', 'ok')").as("status"),
          expr(s"${md5Bits(s"concat('ms:', CAST(doc_id AS STRING), ':$k')", 8)} % 500").as("ms"))
      }
      Tables.documents(s, d).where(col("doc_id") % 15 === 0)
        .select(col("doc_id"), to_json(array(calls: _*)).as("trace"))
        .select(col("doc_id"),
          from_json(col("trace"), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType.fromDDL(
              "tool STRING, status STRING, ms BIGINT"))).as("calls"))
        .select(explode(col("calls")).as("c"))
        .groupBy(col("c.tool").as("tool"))
        .agg(count(lit(1)).as("n_calls"),
          sum(when(col("c.status") === "error", 1L).otherwise(0L)).as("n_errors"),
          sum("c.ms").as("total_ms"))
        .orderBy("tool")
    },
      // The trace arithmetic replayed without JSON (the roundtrip is the
      // Spark-side claim; the numbers are the shared md5 randomness).
      s"""WITH k AS (SELECT unnest([0, 1, 2]) AS k),
        |c AS (SELECT doc_id, k.k,
        |    CASE ${duckMd5Bits("'tool:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)", 8)} % 3
        |      WHEN 0 THEN 'code' WHEN 1 THEN 'fetch' ELSE 'search' END AS tool,
        |    CASE WHEN ${duckMd5Bits("'st:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)", 8)} % 5 = 0
        |      THEN 'error' ELSE 'ok' END AS status,
        |    ${duckMd5Bits("'ms:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)", 8)} % 500 AS ms
        |  FROM documents, k WHERE doc_id % 15 = 0)
        |SELECT tool, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |  CAST(SUM(CASE WHEN status = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |  CAST(SUM(ms) AS BIGINT) AS total_ms
        |FROM c GROUP BY tool ORDER BY tool""".stripMargin),

    // Layout reading order — the document-AI preprocessing step between
    // OCR boxes and text assembly (a page's boxes must serialize
    // row-major or the text scrambles): 12 synthetic boxes per sampled
    // page with md5-integer coordinates, ordered by (row band = y DIV
    // 140, x, box) — the standard XY-cut approximation — and graded as a
    // per-page order checksum Σ box_id·rank (any transposition changes
    // it). Pure window arithmetic; pages are independent at any scale.
    Op("mm_layout_reading_order", (s, d) => {
      val boxes = Tables.documents(s, d).where(col("doc_id") % 25 === 0)
        .select(col("doc_id"), explode(expr("sequence(0, 11)")).as("box"))
        .select(col("doc_id"), col("box"),
          expr(s"${md5Bits("concat('x:', CAST(doc_id AS STRING), ':', CAST(box AS STRING))", 8)} % 1000")
            .as("x"),
          expr(s"${md5Bits("concat('y:', CAST(doc_id AS STRING), ':', CAST(box AS STRING))", 8)} % 1400")
            .as("y"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(expr("y DIV 140"), col("x"), col("box"))
      boxes.withColumn("rank", row_number().over(w).cast("bigint"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_boxes"),
          sum(col("box") * col("rank")).as("order_checksum"),
          max(expr("y DIV 140")).as("max_band"))
        .orderBy("doc_id")
    },
      // Same md5 coordinates, same (band, x, box) order, same checksum.
      s"""WITH pg AS (SELECT doc_id, unnest(range(0, 12)) AS box
        |  FROM documents WHERE doc_id % 25 = 0),
        |b AS (SELECT doc_id, box,
        |    ${duckMd5Bits("'x:' || CAST(doc_id AS VARCHAR) || ':' || CAST(box AS VARCHAR)", 8)} % 1000 AS x,
        |    ${duckMd5Bits("'y:' || CAST(doc_id AS VARCHAR) || ':' || CAST(box AS VARCHAR)", 8)} % 1400 AS y
        |  FROM pg),
        |r AS (SELECT doc_id, box, y // 140 AS band,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY y // 140, x, box) AS BIGINT) AS rnk
        |  FROM b)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boxes,
        |  CAST(SUM(box * rnk) AS BIGINT) AS order_checksum,
        |  MAX(band) AS max_band
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Mergeable-statistics witness — the algebraic property EVERY
    // distributed corpus-stats job leans on (partials from independent
    // batches must merge to the full answer, or incremental pipelines
    // silently drift): token-count moments computed per batch half, then
    // MERGED (sums add, mins min, maxes max), graded side-by-side with
    // the direct full-corpus pass — verdict column per statistic.
    Op("llm_mergeable_stats", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("tok"))
        .withColumn("batch", col("doc_id") % 2)
      val partials = t.groupBy("batch")
        .agg(count(lit(1)).as("n"),
          sum(col("tok").cast("decimal(38,0)")).cast("bigint").as("s"),
          sum((col("tok") * col("tok")).cast("decimal(38,0)")).cast("bigint").as("q"),
          min("tok").as("mn"), max("tok").as("mx"))
      val merged = partials.agg(
        sum("n").cast("bigint").as("m_n"), sum("s").cast("bigint").as("m_s"),
        sum("q").cast("bigint").as("m_q"), min("mn").as("m_mn"), max("mx").as("m_mx"))
      val full = t.agg(count(lit(1)).as("f_n"),
        sum(col("tok").cast("decimal(38,0)")).cast("bigint").as("f_s"),
        sum((col("tok") * col("tok")).cast("decimal(38,0)")).cast("bigint").as("f_q"),
        min("tok").as("f_mn"), max("tok").as("f_mx"))
      merged.crossJoin(full)
        .select(col("m_n"), col("f_n"), col("m_s"), col("f_s"),
          col("m_q"), col("f_q"), col("m_mn"), col("f_mn"),
          col("m_mx"), col("f_mx"),
          (col("m_n") === col("f_n") && col("m_s") === col("f_s") &&
            col("m_q") === col("f_q") && col("m_mn") === col("f_mn") &&
            col("m_mx") === col("f_mx")).as("merge_exact"))
    },
      // Identical partial/merge/full algebra; every sum exact.
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    doc_id % 2 AS batch
        |  FROM documents),
        |p AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(tok::HUGEINT) AS BIGINT) AS s,
        |    CAST(SUM(tok::HUGEINT * tok) AS BIGINT) AS q,
        |    MIN(tok) AS mn, MAX(tok) AS mx
        |  FROM t GROUP BY batch),
        |m AS (SELECT CAST(SUM(n) AS BIGINT) AS m_n, CAST(SUM(s) AS BIGINT) AS m_s,
        |    CAST(SUM(q) AS BIGINT) AS m_q, MIN(mn) AS m_mn, MAX(mx) AS m_mx
        |  FROM p),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS f_n,
        |    CAST(SUM(tok::HUGEINT) AS BIGINT) AS f_s,
        |    CAST(SUM(tok::HUGEINT * tok) AS BIGINT) AS f_q,
        |    MIN(tok) AS f_mn, MAX(tok) AS f_mx
        |  FROM t)
        |SELECT m_n, f_n, m_s, f_s, m_q, f_q, m_mn, f_mn, m_mx, f_mx,
        |  m_n = f_n AND m_s = f_s AND m_q = f_q AND m_mn = f_mn AND m_mx = f_mx
        |    AS merge_exact
        |FROM m, f""".stripMargin)
  )
}
