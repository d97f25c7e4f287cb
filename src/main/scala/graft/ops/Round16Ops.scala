package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-16 operators — same paired impl/oracle style and engine-exactness
  * laws as the Round12–Round15 units: exact integer/DECIMAL(38,0) arithmetic
  * for graded values, floor division (`DIV` / `//`) on both sides of
  * non-negative numerators only, DuckDB twins via HUGEINT.
  *
  * Wave 1 closes the round-15 verdict's top item: the DELETE/compact leg of
  * the persisted ANN index lifecycle (build/serve/maintain existed, erasure
  * did not), plus the two interval/shrinkage estimators the CTR family
  * lacked (Wilson score bounds, James–Stein).
  */
object Round16Ops extends Family {
  /** Bech32 polymod steps (BIP-173): the state transition
    * chk' = ((chk & 0x1ffffff) << 5) ^ g ^ ⊕{GEN_i : bit i of chk>>25}
    * is a bijective LFSR step, so ANY single 5-bit-group substitution
    * changes the final state — the detection law the op grades. `xor`,
    * `shl`, `shr` abstract the dialect (Spark `a ^ b`; DuckDB `xor()`
    * since its `^` is POWER). */
  private[ops] val Bech32Gen =
    Seq(0x3b6a57b2L, 0x26508e6dL, 0x1ea119faL, 0x3d4233ddL, 0x2a1462b3L)

  /** Shared oracle CTEs for the ring-chain graph fixture. */
  private val RingChainCtes =
    """nodes AS MATERIALIZED (
      |  SELECT DISTINCT CAST(c_custkey % 120 AS BIGINT) AS v FROM customer),
      |ring AS (
      |  SELECT LEAST(v, (v // 6) * 6 + (v % 6 + 1) % 6) AS a,
      |    GREATEST(v, (v // 6) * 6 + (v % 6 + 1) % 6) AS b
      |  FROM nodes),
      |edges AS MATERIALIZED (SELECT DISTINCT a, b FROM (
      |  SELECT a, b FROM ring
      |  UNION ALL SELECT v AS a, v + 1 AS b FROM nodes
      |  WHERE v % 6 = 5 AND v < 114) q)""".stripMargin

  /** Nine unrolled min-label + pointer-jump rounds (the ccComponents
    * mirror): lab0 must exist; emits lab1..lab9 over `dire`. */
  private val CcRoundsSql: String = (1 to 9).map { r =>
    s"""lab$r AS MATERIALIZED (
       |  SELECT p.x, p.v, LEAST(p.l, q.l, coalesce(nm.nl, p.l)) AS l
       |  FROM lab${r - 1} p
       |  JOIN lab${r - 1} q ON q.x = p.x AND q.v = p.l
       |  LEFT JOIN (SELECT e.x, e.b AS v, MIN(m.l) AS nl
       |    FROM dire e JOIN lab${r - 1} m ON m.x = e.x AND m.v = e.a
       |    GROUP BY 1, 2) nm ON nm.x = p.x AND nm.v = p.v)""".stripMargin
  }.mkString(",\n")

  val ops: Seq[Op] = Seq(
    // ANN index DELETE + threshold compaction — the GDPR-erasure leg that
    // completes the persisted IVF lifecycle (build: llm_ann_ivf_pq, serve:
    // llm_ann_filtered, maintain: llm_ann_index_maintain). A 1-in-7
    // erasure batch (vec_id % 7 = 3) lands against an index that was built
    // BEFORE the requests arrived (centroids sampled and ALL vectors
    // assigned pre-erasure, index persisted to parquet). Three phases,
    // graded against brute-force truth over the SURVIVORS only:
    // 'unmasked' serves the stale files as-is — erased vectors leak into
    // the top-3 (the spec asserts the leak is nonzero: the grade is not
    // vacuous); 'masked' applies the tombstone flag at query time (files
    // unchanged — the cheap O(1) erasure a serving layer does first);
    // 'compacted' physically rewrites the index without tombstones once
    // the tombstone fraction crosses the 10% threshold (1/7 ≈ 14.3%
    // triggers it) and must return EXACTLY the masked answers — masking ≡
    // compaction is the lifecycle law under grade, plus the size census
    // (rows drop to the survivor count, tombstones to 0). All dots are the
    // native codegen'd graft_ldot over floor(x·10⁴) BIGINTs; search work
    // is probes × 4 cells, only the index build and the recall baseline
    // scan the corpus — the IVF law at any scale.
    Op("llm_ann_index_delete", (s, d) => {
      def dot(a: String, b: String) = s"graft_ldot($a, $b)"
      val vecs = Tables.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
          .as("xs")).localCheckpoint()
      val surv = vecs.where(col("vec_id") % 7 =!= 3)
      val sizes = vecs.agg(count(lit(1)).as("t"),
        sum(when(col("vec_id") % 7 === 3, 1L).otherwise(0L)).as("del")).head()
      val nTotal = sizes.getLong(0)
      val nDeleted = sizes.getLong(1)
      val mod = math.max(1L, math.sqrt(nTotal.toDouble).toLong)
      val cent = broadcast(vecs.where(expr(
        s"${md5Bits("CAST(vec_id AS STRING)", 8)} % $mod = 0"))
        .select(col("vec_id").as("cid"), col("xs").as("cs")))
      // the index predates the erasure: EVERY vector assigned, then the
      // tombstone batch lands as a flag column — files are the lifecycle
      val idxDir = Scratch.opDir("ann_idx_del_v1", d)
      vecs.crossJoin(cent)
        .select(col("vec_id"), col("cid"), expr(dot("xs", "cs")).as("dt"))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("dt"), -col("cid"))).as("cluster"))
        .withColumn("deleted", col("vec_id") % 7 === 3)
        .write.mode("overwrite").parquet(idxDir)
      val idx1 = s.read.parquet(idxDir)
      // threshold-triggered compaction: physical rewrite only when the
      // tombstone fraction crosses 10% (it does: 1/7); otherwise the
      // masked index keeps serving
      val cmpDir = Scratch.opDir("ann_idx_del_v2", d)
      val compacted =
        if (nDeleted * 10L > nTotal) {
          idx1.where(!col("deleted")).drop("deleted")
            .withColumn("deleted", lit(false))
            .write.mode("overwrite").parquet(cmpDir)
          s.read.parquet(cmpDir)
        } else idx1
      // erased people cannot be probes; fixed-k md5 sample of survivors
      val probes = surv
        .orderBy(md5(concat(lit("dprobe:"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(200)
        .select(col("vec_id").as("probe_id"), col("xs").as("ps"))
        .localCheckpoint()
      val wT = Window.partitionBy("probe_id").orderBy(desc("qdot"), col("vec_id"))
      val truth = surv.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), expr(dot("ps", "xs")).as("qdot"))
        .withColumn("rk", row_number().over(wT)).where(col("rk") <= 3)
        .select(col("probe_id"), col("vec_id"))
        .localCheckpoint()
      val nTruth = broadcast(truth.agg(count(lit(1)).as("n_truth")))
      val wP = Window.partitionBy("probe_id").orderBy(desc("dt"), col("cid"))
      val cells = probes.crossJoin(cent)
        .select(col("probe_id"), col("cid"), expr(dot("ps", "cs")).as("dt"))
        .withColumn("rn", row_number().over(wP)).where(col("rn") <= 4)
        .select(col("probe_id"), col("cid").as("cluster"))
        .localCheckpoint()
      def serveScored(idx: DataFrame): DataFrame =
        cells.join(idx, Seq("cluster"))
          .where(col("vec_id") =!= col("probe_id"))
          .select("probe_id", "vec_id").distinct()
          .join(broadcast(probes), "probe_id")
          .join(vecs, "vec_id")
          .select(col("probe_id"), col("vec_id"), expr(dot("ps", "xs")).as("qdot"))
      def grade(name: String, scored: DataFrame, census: DataFrame): DataFrame = {
        val returned = scored
          .withColumn("rk", row_number().over(wT)).where(col("rk") <= 3)
          .select(col("probe_id"), col("vec_id"))
        returned
          .agg(count(lit(1)).as("n_returned"),
            sum(when(col("vec_id") % 7 === 3, 1L).otherwise(0L))
              .as("n_returned_deleted"))
          .crossJoin(broadcast(
            returned.join(truth, Seq("probe_id", "vec_id"), "left_semi")
              .agg(count(lit(1)).as("hits"))))
          .crossJoin(nTruth).crossJoin(census)
          .select(lit(name).as("phase"), col("n_index_rows"),
            col("n_tombstones"), col("n_returned"), col("n_returned_deleted"),
            col("n_truth"), col("hits"),
            expr("(hits * 1000000) DIV n_truth").as("recall_ppm"))
      }
      def census(idx: DataFrame): DataFrame =
        broadcast(idx.agg(count(lit(1)).as("n_index_rows"),
          sum(when(col("deleted"), 1L).otherwise(0L)).as("n_tombstones")))
      // unmasked and masked share ONE serve pass over the v1 files: the
      // masked candidate set is exactly the unmasked one minus tombstones
      val scored1 = serveScored(idx1).localCheckpoint()
      grade("unmasked", scored1, census(idx1))
        .unionByName(grade("masked",
          scored1.where(col("vec_id") % 7 =!= 3), census(idx1)))
        .unionByName(grade("compacted", serveScored(compacted), census(compacted)))
        .orderBy("phase")
    },
      s"""WITH pos AS (SELECT CAST(i AS BIGINT) AS pos FROM generate_series(0, 63) AS t(i)),
        |raw AS (
        |  SELECT e.vec_id, p.pos,
        |    CAST(FLOOR(CAST(e.embedding[p.pos + 1] AS DOUBLE) * 10000) AS BIGINT) AS xm
        |  FROM embeddings e, pos p
        |  WHERE p.pos + 1 <= len(e.embedding)),
        |szs AS (SELECT COUNT(DISTINCT vec_id) AS t,
        |    COUNT(DISTINCT CASE WHEN vec_id % 7 = 3 THEN vec_id END) AS del
        |  FROM raw),
        |md AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(CAST(t AS DOUBLE))) AS BIGINT)) AS m FROM szs),
        |cent AS (
        |  SELECT r.vec_id AS cid, r.pos, r.xm AS cm FROM raw r, md
        |  WHERE ${duckMd5Bits("CAST(r.vec_id AS VARCHAR)", 8)} % md.m = 0),
        |asg AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT r.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY r.vec_id ORDER BY SUM(r.xm * c.cm) DESC, c.cid) AS rn
        |    FROM raw r JOIN cent c ON r.pos = c.pos
        |    GROUP BY r.vec_id, c.cid) q
        |  WHERE rn = 1),
        |probe_ids AS (
        |  SELECT vec_id FROM (SELECT DISTINCT vec_id FROM raw WHERE vec_id % 7 <> 3) q
        |  ORDER BY md5('dprobe:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 200),
        |probes AS (
        |  SELECT r.vec_id AS probe_id, r.pos, r.xm AS pm
        |  FROM raw r JOIN probe_ids pi ON r.vec_id = pi.vec_id),
        |truth AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rk
        |    FROM (
        |      SELECT p.probe_id, r.vec_id, SUM(p.pm * r.xm) AS qdot
        |      FROM probes p JOIN raw r ON p.pos = r.pos
        |      WHERE r.vec_id <> p.probe_id AND r.vec_id % 7 <> 3
        |      GROUP BY 1, 2) q1) q2
        |  WHERE rk <= 3),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
        |cells AS (
        |  SELECT probe_id, cid AS cluster FROM (
        |    SELECT p.probe_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY SUM(p.pm * c.cm) DESC, c.cid) AS rn
        |    FROM probes p JOIN cent c ON p.pos = c.pos
        |    GROUP BY p.probe_id, c.cid) q
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT ce.probe_id, a.vec_id
        |  FROM cells ce JOIN asg a ON a.cluster = ce.cluster
        |  WHERE a.vec_id <> ce.probe_id),
        |scored AS (
        |  SELECT c.probe_id, c.vec_id, SUM(p.pm * r.xm) AS qdot
        |  FROM cand c JOIN probes p ON p.probe_id = c.probe_id
        |  JOIN raw r ON r.vec_id = c.vec_id AND r.pos = p.pos
        |  GROUP BY 1, 2),
        |ret_u AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rk
        |    FROM scored) q WHERE rk <= 3),
        |ret_m AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rk
        |    FROM scored WHERE vec_id % 7 <> 3) q WHERE rk <= 3),
        |gu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_returned,
        |    CAST(SUM(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_returned_deleted,
        |    CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM truth t
        |      WHERE t.probe_id = ret_u.probe_id AND t.vec_id = ret_u.vec_id)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS hits
        |  FROM ret_u),
        |gm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_returned,
        |    CAST(SUM(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_returned_deleted,
        |    CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM truth t
        |      WHERE t.probe_id = ret_m.probe_id AND t.vec_id = ret_m.vec_id)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS hits
        |  FROM ret_m)
        |SELECT * FROM (
        |  SELECT 'unmasked' AS phase, CAST(szs.t AS BIGINT) AS n_index_rows,
        |    CAST(szs.del AS BIGINT) AS n_tombstones, gu.n_returned,
        |    gu.n_returned_deleted, nt.n_truth, gu.hits,
        |    (gu.hits * 1000000) // nt.n_truth AS recall_ppm
        |  FROM gu, nt, szs
        |  UNION ALL
        |  SELECT 'masked', CAST(szs.t AS BIGINT), CAST(szs.del AS BIGINT),
        |    gm.n_returned, gm.n_returned_deleted, nt.n_truth, gm.hits,
        |    (gm.hits * 1000000) // nt.n_truth
        |  FROM gm, nt, szs
        |  UNION ALL
        |  SELECT 'compacted', CAST(szs.t - szs.del AS BIGINT), CAST(0 AS BIGINT),
        |    gm.n_returned, gm.n_returned_deleted, nt.n_truth, gm.hits,
        |    (gm.hits * 1000000) // nt.n_truth
        |  FROM gm, nt, szs) q
        |ORDER BY phase""".stripMargin),

    // Wilson score interval — the CTR lower bound a ranker actually
    // serves (agg_laplace_ctr smooths the point estimate; Wilson bounds
    // it): z = 1.96 exactly, so z² = 38416/10⁴ and every term clears the
    // denominators as integers — s = isqrt(10⁴·c·(n−c) DIV n + 9604),
    // bound = (10⁴c + 19208 ∓ 196·s)·10⁶ DIV (10⁴n + 38416). Both bounds
    // provably stay in [0, 10⁶] ((√u − 98)² ≥ 0 at either edge), and
    // lower ≤ raw ≤ upper is graded per item (n_coverage_ok must equal
    // n_items — asserted in the wave spec). Native codegen'd IntSqrt does
    // the root; the oracle mirrors with CASE-corrected FLOOR(SQRT).
    // Linear projection + rollup.
    Op("agg_wilson_ci", (s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("k"))
        .withColumn("cohort", (col("k") % 3).cast("int"))
        .withColumn("views", expr(
          s"${md5Bits("wv", "k", 6)} % 100"))
        .where(col("views") > 0)
        .withColumn("clicks", expr(
          s"${md5Bits("wc", "k", 6)} % (views + 1)"))
        .withColumn("raw_ppm", expr("(clicks * 1000000) DIV views"))
        .withColumn("srt", expr(
          "isqrt((10000 * clicks * (views - clicks)) DIV views + 9604)"))
        .withColumn("lower_ppm", expr(
          "((10000 * clicks + 19208 - 196 * srt) * 1000000) DIV (10000 * views + 38416)"))
        .withColumn("upper_ppm", expr(
          "((10000 * clicks + 19208 + 196 * srt) * 1000000) DIV (10000 * views + 38416)"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n_items"),
          sum("lower_ppm").as("lower_mass_ppm"),
          sum("upper_ppm").as("upper_mass_ppm"),
          sum(when(col("lower_ppm") <= col("raw_ppm") &&
            col("raw_ppm") <= col("upper_ppm"), 1L).otherwise(0L))
            .as("n_coverage_ok"),
          sum(when(col("lower_ppm") > 0L, 1L).otherwise(0L)).as("n_lower_pos"))
        .orderBy("cohort")
    },
      {
      val srt = Round12cOps.duckIsqrt("(10000 * clicks * (views - clicks)) // views + 9604")
      s"""WITH t AS (
         |  SELECT CAST(p_partkey % 3 AS INT) AS cohort, p_partkey AS k,
         |    ${duckMd5Bits("wv", "p_partkey", 6)} % 100 AS views
         |  FROM part),
         |c AS (
         |  SELECT cohort, views,
         |    ${duckMd5Bits("wc", "k", 6)} % (views + 1) AS clicks
         |  FROM t WHERE views > 0),
         |w AS (
         |  SELECT cohort, views, clicks,
         |    (clicks * 1000000) // views AS raw_ppm,
         |    $srt AS srt
         |  FROM c),
         |b AS (
         |  SELECT cohort, raw_ppm,
         |    ((10000 * clicks + 19208 - 196 * srt) * 1000000) // (10000 * views + 38416) AS lower_ppm,
         |    ((10000 * clicks + 19208 + 196 * srt) * 1000000) // (10000 * views + 38416) AS upper_ppm
         |  FROM w)
         |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_items,
         |  CAST(SUM(lower_ppm) AS BIGINT) AS lower_mass_ppm,
         |  CAST(SUM(upper_ppm) AS BIGINT) AS upper_mass_ppm,
         |  CAST(SUM(CASE WHEN lower_ppm <= raw_ppm AND raw_ppm <= upper_ppm
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_coverage_ok,
         |  CAST(SUM(CASE WHEN lower_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lower_pos
         |FROM b GROUP BY 1 ORDER BY cohort""".stripMargin
    }),

    // James–Stein shrinkage — the estimator that DOMINATES the raw
    // per-item mean whenever ≥4 items share a known noise scale (the
    // ranking/forecasting ensemble case): one noisy observation per
    // customer, x = θ + u with θ planted by cohort (5000/5200/5400) and
    // u = md5 % 199 − 99 uniform, so σ² = 99·100/3 = 3300 EXACTLY (the
    // known-variance Stein setup). Shrink factor B = 1 − (k−3)σ²/S with
    // S = Σ(xᵢ−x̄)² in exact milli/micro integers ((k−3)·σ²·10¹² rides in
    // DECIMAL(38,0)/HUGEINT); the estimate applies B through the
    // offset-shifted non-negative division js = x̄ − 10·B + (B·(dev +
    // 10⁷)) DIV 10⁶ — identical floors both engines, no signed DIV.
    // Graded per cohort + total: SSE of raw vs JS against the PLANTED θ;
    // the wave spec asserts Stein dominance (total js_sse < raw_sse).
    Op("agg_james_stein", (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cohort", (col("k") % 3).cast("int"))
        .withColumn("theta", lit(5000L) + col("k") % 3 * 200L)
        .withColumn("x", col("theta") + expr(
          s"${md5Bits("js", "k", 6)} % 199") - 99L)
      val g = base.agg(count(lit(1)).as("kc"), sum("x").as("sx"))
        .withColumn("xbar_milli", expr("(sx * 1000) DIV kc"))
      val dev = base.crossJoin(broadcast(g))
        .withColumn("dev_milli", col("x") * 1000L - col("xbar_milli"))
      val shrink = broadcast(dev
        .agg(sum(expr("dev_milli * dev_milli")).as("s_micro"),
          first("kc").as("kc2"))
        .withColumn("b_shrink_ppm", expr(
          """1000000 - LEAST(CAST(1000000 AS DECIMAL(38,0)),
            | (CAST(kc2 - 3 AS DECIMAL(38,0)) * 3300 * 1000000000000)
            |   DIV s_micro)""".stripMargin).cast("bigint"))
        .select("b_shrink_ppm"))
      val scored = dev.crossJoin(shrink)
        .withColumn("js_milli", expr(
          "xbar_milli - 10 * b_shrink_ppm + (b_shrink_ppm * (dev_milli + 10000000)) DIV 1000000"))
        .withColumn("raw_err", (col("x") - col("theta")) * 1000L)
        .withColumn("js_err", col("js_milli") - col("theta") * 1000L)
      val per = scored.groupBy("cohort")
        .agg(count(lit(1)).as("n_items"),
          first("b_shrink_ppm").as("b_shrink_ppm"),
          sum(expr("raw_err * raw_err")).as("raw_sse"),
          sum(expr("js_err * js_err")).as("js_sse"))
      val tot = scored.groupBy()
        .agg(count(lit(1)).as("n_items"),
          first("b_shrink_ppm").as("b_shrink_ppm"),
          sum(expr("raw_err * raw_err")).as("raw_sse"),
          sum(expr("js_err * js_err")).as("js_sse"))
        .select(lit(-1).cast("int").as("cohort"), col("n_items"),
          col("b_shrink_ppm"), col("raw_sse"), col("js_sse"))
      per.unionByName(tot).orderBy("cohort")
    },
      s"""WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey % 3 AS INT) AS cohort,
        |    5000 + (c_custkey % 3) * 200 AS theta,
        |    5000 + (c_custkey % 3) * 200
        |      + ${duckMd5Bits("js", "c_custkey", 6)} % 199 - 99 AS x
        |  FROM customer),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS kc,
        |    (CAST(SUM(x) AS BIGINT) * 1000) // COUNT(*) AS xbar_milli
        |  FROM base),
        |dev AS (SELECT b.*, g.kc, g.xbar_milli,
        |    b.x * 1000 - g.xbar_milli AS dev_milli
        |  FROM base b, g),
        |sh AS (SELECT CAST(1000000 - LEAST(CAST(1000000 AS HUGEINT),
        |      (CAST(MAX(kc) - 3 AS HUGEINT) * 3300 * 1000000000000)
        |        // CAST(SUM(dev_milli * dev_milli) AS HUGEINT)) AS BIGINT)
        |    AS b_shrink_ppm
        |  FROM dev),
        |sc AS (
        |  SELECT d.cohort,
        |    (d.x - d.theta) * 1000 AS raw_err,
        |    d.xbar_milli - 10 * sh.b_shrink_ppm
        |      + (sh.b_shrink_ppm * (d.dev_milli + 10000000)) // 1000000
        |      - d.theta * 1000 AS js_err,
        |    sh.b_shrink_ppm
        |  FROM dev d, sh)
        |SELECT * FROM (
        |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(MAX(b_shrink_ppm) AS BIGINT) AS b_shrink_ppm,
        |    CAST(SUM(raw_err * raw_err) AS BIGINT) AS raw_sse,
        |    CAST(SUM(js_err * js_err) AS BIGINT) AS js_sse
        |  FROM sc GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(-1 AS INT), CAST(COUNT(*) AS BIGINT),
        |    CAST(MAX(b_shrink_ppm) AS BIGINT),
        |    CAST(SUM(raw_err * raw_err) AS BIGINT),
        |    CAST(SUM(js_err * js_err) AS BIGINT)
        |  FROM sc) q
        |ORDER BY cohort""".stripMargin),

    // Multi-level Louvain — graph_louvain_pass iterated with community
    // COARSENING (the real algorithm's outer loop): after each adoption
    // pass, communities contract to supernodes (edge weights summed,
    // intra-community mass becoming self-loops that count TWICE in the
    // supernode degree — the standard contraction law), and the pass
    // re-runs on the smaller graph. Three levels unrolled; a converged
    // level (no positive-gain adoptions) re-emits its census unchanged,
    // so the unroll is also the convergence detector. Graded per level:
    // nodes entering, communities leaving, adoption gain mass, internal
    // edge mass — the wave spec asserts coarsening monotonicity (each
    // level has no more communities than the last, internal mass never
    // shrinks). The contraction join is the scale shape: each level is
    // one members-join + rollup, and the graph SHRINKS geometrically —
    // the 100 TB community detection recipe.
    Op("graph_louvain_levels", (s, d) => {
      def pass(e: DataFrame): DataFrame = {
        val deg = e.select(col("a").as("n"),
            when(col("a") === col("b"), col("w") * 2).otherwise(col("w")).as("w"))
          .unionByName(e.where(col("a") =!= col("b"))
            .select(col("b").as("n"), col("w")))
          .groupBy("n").agg(sum("w").as("k"))
        val m2 = deg.agg(sum("k").as("m2"))
        val dirE = e.where(col("a") =!= col("b"))
        val dir = dirE.select(col("a").as("i"), col("b").as("j"), col("w"))
          .unionByName(dirE.select(col("b").as("i"), col("a").as("j"), col("w")))
        val wAdopt = Window.partitionBy("i").orderBy(desc("gain2m"), col("j"))
        val adopt = dir
          .join(deg.select(col("n").as("i"), col("k").as("ki")), Seq("i"))
          .join(deg.select(col("n").as("j"), col("k").as("kj")), Seq("j"))
          .crossJoin(broadcast(m2))
          .withColumn("gain2m", col("m2") * col("w") - col("ki") * col("kj"))
          .withColumn("rn", row_number().over(wAdopt)).where(col("rn") === 1)
          .select(col("i"),
            when(col("gain2m") > 0, col("j")).otherwise(col("i"))
              .cast("long").as("comm"),
            when(col("gain2m") > 0, col("gain2m")).otherwise(lit(0L)).as("gain"))
        deg.select(col("n").as("i"))
          .join(adopt, Seq("i"), "left")
          .select(col("i"),
            coalesce(col("comm"), col("i").cast("long")).as("comm"),
            coalesce(col("gain"), lit(0L)).as("gain"))
          .localCheckpoint()
      }
      def census(lvl: Int, e: DataFrame, mem: DataFrame): DataFrame = {
        val internal = e
          .join(mem.select(col("i").as("a"), col("comm").as("ca")), Seq("a"))
          .join(mem.select(col("i").as("b"), col("comm").as("cb")), Seq("b"))
          .where(col("ca") === col("cb"))
          .agg(coalesce(sum("w"), lit(0L)).as("internal_w_mass"))
        mem.agg(count(lit(1)).as("n_nodes"),
            countDistinct("comm").as("n_communities"),
            sum("gain").as("gain_mass"))
          .crossJoin(broadcast(internal))
          .select(lit(lvl).cast("int").as("level"), col("n_nodes"),
            col("n_communities"), col("gain_mass"), col("internal_w_mass"))
      }
      def coarsen(e: DataFrame, mem: DataFrame): DataFrame = e
        .join(mem.select(col("i").as("a"), col("comm").as("ca")), Seq("a"))
        .join(mem.select(col("i").as("b"), col("comm").as("cb")), Seq("b"))
        .select(least(col("ca"), col("cb")).as("a"),
          greatest(col("ca"), col("cb")).as("b"), col("w"))
        .groupBy("a", "b").agg(sum("w").as("w"))
        .localCheckpoint()
      val g1 = GraphOps.heavyBackboneW(s, d)
      val m1 = pass(g1)
      val g2 = coarsen(g1, m1)
      val m2 = pass(g2)
      val g3 = coarsen(g2, m2)
      val m3 = pass(g3)
      census(1, g1, m1).unionByName(census(2, g2, m2))
        .unionByName(census(3, g3, m3)).orderBy("level")
    },
      {
      s"""WITH ${GraphOps.louvainOracleCtes},
         |g1 AS (SELECT a, b, w FROM hw),
         |${louvLevelSql(1, "g1")},
         |${louvLevelSql(2, "g2")},
         |${louvLevelSql(3, "g3")}
         |SELECT * FROM (
         |  SELECT cen1.*, intx1.internal_w_mass FROM cen1, intx1
         |  UNION ALL SELECT cen2.*, intx2.internal_w_mass FROM cen2, intx2
         |  UNION ALL SELECT cen3.*, intx3.internal_w_mass FROM cen3, intx3) q
         |ORDER BY level""".stripMargin
    }),

    // Max-flow on the layered supply DAG — S → supplier_i → sink_j → T
    // with per-chain integer capacities (supply 500–699, demand 100–299,
    // same key count ⇒ Σdemand < Σsupply ALWAYS) and an uncapacitated
    // complete bipartite middle. On this network Ford–Fulkerson with
    // lexicographic shortest-path augmentation needs no residual
    // back-edges (any live supply reaches any live demand), and its
    // outcome is EXACTLY the northwest-corner transportation rule: arc
    // flow = overlap of the cumulative supply/demand intervals — a
    // closed form both engines compute with two cumulative windows and
    // one RANGE-BUCKETED interval join (bucket 1000 ≥ max span, so each
    // interval explodes to ≤2 buckets: bounded fan-out equi-join, no n²,
    // at any scale). Graded: max-flow value == the planted min cut (the
    // saturated demand arcs, LP duality made exact), arc census, the
    // northwest-corner staircase shape (every demand saturated, at most
    // one partially-used supply), slack mass.
    Op("graph_max_flow", (s, d) => {
      // the ordered cumulative ledger IS the operator (northwest-corner
      // is order-defined); at cluster scale the cumsum distributes via
      // the standard per-partition-offset two-pass
      val wK = Window.orderBy("k")
      val base = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
      val sup = base
        .withColumn("s", expr(
          s"${md5Bits("mfs", "k", 6)} % 200") + 500L)
        .withColumn("se", sum("s").over(wK))
        .withColumn("ss", col("se") - col("s"))
        .localCheckpoint()
      val dem = base
        .withColumn("dc", expr(
          s"${md5Bits("mfd", "k", 6)} % 200") + 100L)
        .withColumn("de", sum("dc").over(wK))
        .withColumn("ds", col("de") - col("dc"))
        .localCheckpoint()
      val supB = sup.select(col("k").as("sk"), col("s"), col("ss"), col("se"))
        .withColumn("bkt", explode(expr("sequence(ss DIV 1000, (se - 1) DIV 1000)")))
      val demB = dem.select(col("k").as("dk"), col("dc"), col("ds"), col("de"))
        .withColumn("bkt", explode(expr("sequence(ds DIV 1000, (de - 1) DIV 1000)")))
      val arcs = supB.join(demB, Seq("bkt"))
        .where(col("ss") < col("de") && col("ds") < col("se"))
        .select(col("sk"), col("dk"), col("s"), col("dc"),
          (least(col("se"), col("de")) - greatest(col("ss"), col("ds"))).as("flow"))
        .dropDuplicates("sk", "dk")
        .localCheckpoint()
      val tot = arcs.agg(sum("flow").as("total_flow"),
        count(lit(1)).as("n_arcs"), max("flow").as("max_arc_flow"))
      val cut = dem.agg(sum("dc").as("min_cut_mass"))
      val perSup = arcs.groupBy("sk", "s").agg(sum("flow").as("out"))
      val supCls = sup.join(perSup.select(col("sk").as("k"), col("out")), Seq("k"), "left")
        .withColumn("out", coalesce(col("out"), lit(0L)))
        .agg(sum(when(col("out") === col("s"), 1L).otherwise(0L)).as("n_supplies_full"),
          sum(when(col("out") > 0L && col("out") < col("s"), 1L).otherwise(0L))
            .as("n_supplies_partial"),
          sum(when(col("out") === 0L, 1L).otherwise(0L)).as("n_supplies_idle"),
          sum(col("s") - col("out")).as("supply_slack_mass"))
      val demCls = arcs.groupBy("dk", "dc").agg(sum("flow").as("inn"))
        .agg(sum(when(col("inn") === col("dc"), 1L).otherwise(0L))
          .as("n_demands_saturated"),
          count(lit(1)).as("n_demands_touched"))
      tot.crossJoin(broadcast(cut)).crossJoin(broadcast(supCls))
        .crossJoin(broadcast(demCls))
        .select("total_flow", "min_cut_mass", "n_arcs", "max_arc_flow",
          "n_demands_saturated", "n_demands_touched", "n_supplies_full",
          "n_supplies_partial", "n_supplies_idle", "supply_slack_mass")
    },
      s"""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
        |sup AS (
        |  SELECT k, s, CAST(SUM(s) OVER (ORDER BY k) AS BIGINT) AS se,
        |    CAST(SUM(s) OVER (ORDER BY k) - s AS BIGINT) AS ss
        |  FROM (SELECT k,
        |      ${duckMd5Bits("mfs", "k", 6)} % 200 + 500 AS s
        |    FROM base) q),
        |dem AS (
        |  SELECT k, dc, CAST(SUM(dc) OVER (ORDER BY k) AS BIGINT) AS de,
        |    CAST(SUM(dc) OVER (ORDER BY k) - dc AS BIGINT) AS ds
        |  FROM (SELECT k,
        |      ${duckMd5Bits("mfd", "k", 6)} % 200 + 100 AS dc
        |    FROM base) q),
        |arcs AS (
        |  SELECT sup.k AS sk, dem.k AS dk, sup.s, dem.dc,
        |    CAST(LEAST(sup.se, dem.de) - GREATEST(sup.ss, dem.ds) AS BIGINT) AS flow
        |  FROM sup JOIN dem ON sup.ss < dem.de AND dem.ds < sup.se),
        |tot AS (SELECT CAST(SUM(flow) AS BIGINT) AS total_flow,
        |    CAST(COUNT(*) AS BIGINT) AS n_arcs,
        |    CAST(MAX(flow) AS BIGINT) AS max_arc_flow FROM arcs),
        |cut AS (SELECT CAST(SUM(dc) AS BIGINT) AS min_cut_mass FROM dem),
        |ps AS (SELECT sk, MAX(s) AS s, CAST(SUM(flow) AS BIGINT) AS outf
        |  FROM arcs GROUP BY 1),
        |scl AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN coalesce(outf, 0) = sup.s THEN 1 ELSE 0 END) AS BIGINT) AS n_supplies_full,
        |    CAST(SUM(CASE WHEN coalesce(outf, 0) > 0 AND coalesce(outf, 0) < sup.s THEN 1 ELSE 0 END) AS BIGINT) AS n_supplies_partial,
        |    CAST(SUM(CASE WHEN coalesce(outf, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_supplies_idle,
        |    CAST(SUM(sup.s - coalesce(outf, 0)) AS BIGINT) AS supply_slack_mass
        |  FROM sup LEFT JOIN ps ON ps.sk = sup.k),
        |pd AS (SELECT dk, MAX(dc) AS dc, CAST(SUM(flow) AS BIGINT) AS inn
        |  FROM arcs GROUP BY 1),
        |dcl AS (
        |  SELECT CAST(SUM(CASE WHEN inn = dc THEN 1 ELSE 0 END) AS BIGINT) AS n_demands_saturated,
        |    CAST(COUNT(*) AS BIGINT) AS n_demands_touched
        |  FROM pd)
        |SELECT tot.total_flow, cut.min_cut_mass, tot.n_arcs, tot.max_arc_flow,
        |  dcl.n_demands_saturated, dcl.n_demands_touched, scl.n_supplies_full,
        |  scl.n_supplies_partial, scl.n_supplies_idle, scl.supply_slack_mass
        |FROM tot, cut, scl, dcl""".stripMargin),

    // TFRecord shard ingest — closes the training-shard format matrix
    // (WebDataset tar / zip / SequenceFile / TFRecord): a 1-in-6 doc
    // slice staged as 3 genuine TFRecord shards (8-byte LE length +
    // masked CRC32C of the length bytes + payload + masked CRC32C of the
    // payload — mask = ((crc>>15)|(crc<<17)) + 0xa282ead8, JDK CRC32C),
    // then read DISTRIBUTED via binaryFile + the in-executor frame
    // decoder with BOTH checksums re-verified per record (a flipped byte
    // fails the mass AND the crc census). Staging is fixture-only
    // (`Scratch.staged`); production shard WRITING would be
    // foreachPartition-side like every sink here. Graded per lang:
    // records, exact payload byte conservation, both-CRC-ok counts, key
    // range.
    Op("source_tfrecord", (s, d) => {
      val dir = Scratch.staged("tfrec", d) { dir =>
        val rows = Tables.documents(s, d).where(col("doc_id") % 6 === 2)
          .select(col("doc_id"), col("lang"), col("text")).collect()
        rows.groupBy(_.getLong(0) % 3).foreach { case (part, rs) =>
          val out = java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(dir, s"shard_$part.tfrecord"))
          rs.sortBy(_.getLong(0)).foreach { r =>
            TfRecordUtil.writeRecord(out,
              s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}"
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          out.close()
        }
      }
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.tfrecord").load(dir)
        .select(col("content")).as[Array[Byte]]
        .flatMap(TfRecordUtil.readRecords _)
        .toDF("payload", "len_crc_ok", "data_crc_ok")
        .withColumn("n_bytes", expr("CAST(length(payload) AS BIGINT)"))
        .withColumn("txt", expr("CAST(payload AS STRING)"))
        // limit-3 split: the TEXT itself may contain '|'
        .withColumn("doc_id", split(col("txt"), "\\|", 3).getItem(0).cast("bigint"))
        .withColumn("lang", split(col("txt"), "\\|", 3).getItem(1))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_records"),
          sum("n_bytes").as("payload_byte_mass"),
          sum(when(col("len_crc_ok") && col("data_crc_ok"), 1L).otherwise(0L))
            .as("n_crc_ok"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("lang")
    },
      """WITH t AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 6 = 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(strlen(CAST(doc_id AS VARCHAR) || '|' || lang || '|' || text)) AS BIGINT) AS payload_byte_mass,
        |  CAST(COUNT(*) AS BIGINT) AS n_crc_ok,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_doc
        |FROM t GROUP BY 1 ORDER BY lang""".stripMargin),

    // Hierarchical geo cells (H3/S2-style integer quadtree) — the
    // multi-resolution blocking a person-service address matcher runs:
    // md5 micro-coords on a 2²⁰ grid, cell ids at resolutions 4/6/8
    // (cell_r = (x>>(20−r))·2^r + (y>>(20−r))), child→parent containment
    // graded by recomputing the coarse cell FROM the fine cell id (must
    // equal the direct computation — zero violations), and an ε-pair
    // sweep on an md5 sample: the 3×3 neighbor ring at r=8 (cell edge
    // 4096 > ε=4000) must find EVERY true pair — recall is exactly 10⁶
    // ppm by the ring-covering law, graded against the brute-force truth
    // on the sample. Candidate mass is the boundedness metric: ring
    // candidates ≪ n²/2 brute pairs. Tall metric/value output.
    Op("join_geo_cell", (s, d) => {
      // 16 planted cluster centers on a 4×4 macro-grid, ±3000 md5 offsets:
      // ε-pairs (ε = 4000) exist at EVERY scale factor, and clusters
      // straddle r=8 cell boundaries so the ring join is non-trivial
      val pts = Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("k"))
        .withColumn("gc", expr(
          s"${md5Bits("gc", "k", 6)} % 16"))
        .withColumn("x", expr(
          s"(gc % 4) * 262144 + 131072 + ${md5Bits("gox", "k", 6)} % 6001 - 3000"))
        .withColumn("y", expr(
          s"(gc DIV 4) * 262144 + 131072 + ${md5Bits("goy", "k", 6)} % 6001 - 3000"))
        .withColumn("c4", expr("(x DIV 65536) * 16 + (y DIV 65536)"))
        .withColumn("c6", expr("(x DIV 16384) * 64 + (y DIV 16384)"))
        .withColumn("c8", expr("(x DIV 4096) * 256 + (y DIV 4096)"))
        .localCheckpoint()
      def metric(name: String, v: DataFrame): DataFrame =
        v.select(lit(name).as("metric"), col(v.columns.head).cast("bigint").as("value"))
      val cells4 = metric("cells_r4", pts.agg(countDistinct("c4")))
      val cells6 = metric("cells_r6", pts.agg(countDistinct("c6")))
      val cells8 = metric("cells_r8", pts.agg(countDistinct("c8")))
      val maxPop = metric("max_pop_r8",
        pts.groupBy("c8").agg(count(lit(1)).as("p")).agg(max("p")))
      // containment: the r6/r4 cell DERIVED from the r8 id must equal the
      // directly-computed one (child ⊂ parent, zero violations)
      val viol46 = metric("containment_viol_4_6", pts.agg(sum(when(
        expr("((c6 DIV 64) DIV 4) * 16 + ((c6 % 64) DIV 4)") =!= col("c4"), 1L)
        .otherwise(0L))))
      val viol68 = metric("containment_viol_6_8", pts.agg(sum(when(
        expr("((c8 DIV 256) DIV 4) * 64 + ((c8 % 256) DIV 4)") =!= col("c6"), 1L)
        .otherwise(0L))))
      // fixed-size md5-ranked sample: the brute-force truth sweep stays
      // O(K²) at every scale (the probe-set law from llm_ann_*)
      val sample = pts
        .orderBy(md5(concat(lit("gs:"), col("k").cast("string"))), col("k"))
        .limit(300)
        .select(col("k"), col("x"), col("y"), col("c8")).localCheckpoint()
      val b = broadcast(sample.select(col("k").as("k2"), col("x").as("x2"),
        col("y").as("y2"), col("c8").as("c82")))
      val truePairs = sample.join(b, col("k") < col("k2"))
        .where(expr("(x - x2) * (x - x2) + (y - y2) * (y - y2) <= 16000000"))
        .select("k", "k2").localCheckpoint()
      // ring join: p2's r8 cell within p1's 3×3 ring (axis deltas ≤ 1)
      val ringCand = sample.join(b, col("k") < col("k2"))
        .where(expr("abs(c8 DIV 256 - c82 DIV 256) <= 1 AND abs(c8 % 256 - c82 % 256) <= 1"))
        .localCheckpoint()
      val found = ringCand
        .where(expr("(x - x2) * (x - x2) + (y - y2) * (y - y2) <= 16000000"))
        .select("k", "k2")
      val nTrue = metric("true_pairs", truePairs.agg(count(lit(1))))
      val nCand = metric("ring_candidate_pairs", ringCand.agg(count(lit(1))))
      val nFound = metric("found_pairs", found.agg(count(lit(1))))
      val recall = metric("recall_ppm",
        found.join(truePairs, Seq("k", "k2"), "left_semi")
          .agg(count(lit(1)).as("h"))
          .crossJoin(broadcast(truePairs.agg(count(lit(1)).as("nt"))))
          .select(expr("(h * 1000000) DIV NULLIF(nt, 0)")))
      cells4.unionByName(cells6).unionByName(cells8).unionByName(maxPop)
        .unionByName(viol46).unionByName(viol68).unionByName(nCand)
        .unionByName(nTrue).unionByName(nFound).unionByName(recall)
        .orderBy("metric")
    },
      s"""WITH pts AS (
        |  SELECT k, gc,
        |    (gc % 4) * 262144 + 131072 + ox % 6001 - 3000 AS x,
        |    (gc // 4) * 262144 + 131072 + oy % 6001 - 3000 AS y
        |  FROM (
        |    SELECT CAST(p_partkey AS BIGINT) AS k,
        |      ${duckMd5Bits("gc", "p_partkey", 6)} % 16 AS gc,
        |      ${duckMd5Bits("gox", "p_partkey", 6)} AS ox,
        |      ${duckMd5Bits("goy", "p_partkey", 6)} AS oy
        |    FROM part) q),
        |cc AS (
        |  SELECT k, x, y,
        |    (x // 65536) * 16 + (y // 65536) AS c4,
        |    (x // 16384) * 64 + (y // 16384) AS c6,
        |    (x // 4096) * 256 + (y // 4096) AS c8
        |  FROM pts),
        |smp AS (
        |  SELECT k, x, y, c8 FROM cc
        |  ORDER BY md5('gs:' || CAST(k AS VARCHAR)), k LIMIT 300),
        |tp AS (
        |  SELECT a.k AS k1, b.k AS k2 FROM smp a JOIN smp b ON a.k < b.k
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 16000000),
        |rc AS (
        |  SELECT a.k AS k1, b.k AS k2, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        |  FROM smp a JOIN smp b ON a.k < b.k
        |  WHERE abs(a.c8 // 256 - b.c8 // 256) <= 1 AND abs(a.c8 % 256 - b.c8 % 256) <= 1),
        |fp AS (
        |  SELECT k1, k2 FROM rc
        |  WHERE (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2) <= 16000000)
        |SELECT * FROM (
        |  SELECT 'cells_r4' AS metric, CAST(COUNT(DISTINCT c4) AS BIGINT) AS value FROM cc
        |  UNION ALL SELECT 'cells_r6', CAST(COUNT(DISTINCT c6) AS BIGINT) FROM cc
        |  UNION ALL SELECT 'cells_r8', CAST(COUNT(DISTINCT c8) AS BIGINT) FROM cc
        |  UNION ALL SELECT 'max_pop_r8', CAST(MAX(p) AS BIGINT) FROM (
        |    SELECT COUNT(*) AS p FROM cc GROUP BY c8) q
        |  UNION ALL SELECT 'containment_viol_4_6', CAST(SUM(CASE WHEN
        |      ((c6 // 64) // 4) * 16 + ((c6 % 64) // 4) <> c4 THEN 1 ELSE 0 END) AS BIGINT) FROM cc
        |  UNION ALL SELECT 'containment_viol_6_8', CAST(SUM(CASE WHEN
        |      ((c8 // 256) // 4) * 64 + ((c8 % 256) // 4) <> c6 THEN 1 ELSE 0 END) AS BIGINT) FROM cc
        |  UNION ALL SELECT 'ring_candidate_pairs', CAST(COUNT(*) AS BIGINT) FROM rc
        |  UNION ALL SELECT 'true_pairs', CAST(COUNT(*) AS BIGINT) FROM tp
        |  UNION ALL SELECT 'found_pairs', CAST(COUNT(*) AS BIGINT) FROM fp
        |  UNION ALL SELECT 'recall_ppm',
        |    CAST(((SELECT COUNT(*) FROM fp f JOIN tp t ON t.k1 = f.k1 AND t.k2 = f.k2)
        |      * 1000000) // NULLIF((SELECT COUNT(*) FROM tp), 0) AS BIGINT)) q
        |ORDER BY metric""".stripMargin),

    // Safety stock + reorder point — the inventory control law a supply
    // planner serves: per part 24 sequence-indexed demand samples with
    // class-planted spread (uniform width 20·(class+1) — variance grows
    // with class) and lead time L = class%3 + 1; σ_floor via the exact
    // integer variance numerator (24·Σx² − S², non-negative by
    // Cauchy–Schwarz) and the native isqrt: ss = 196·isqrt(var_floor·L)
    // DIV 100 (z = 1.96 exactly), rop = mean_floor·L + ss. Graded per
    // class: parts, ss/rop masses, max ss — the wave spec asserts ss
    // grows with the planted demand spread. Projection + two rollups.
    Op("agg_safety_stock", (s, d) => {
      val per = Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("p"))
        .withColumn("cls", (col("p") % 5).cast("int"))
        .withColumn("i", explode(expr("sequence(0, 23)")))
        .withColumn("x", expr(
          s"${md5Bits("concat('sd:', CAST(p AS STRING), ':', CAST(i AS STRING))", 6)} % (20 * (cls + 1))") + 100L)
        .groupBy("p", "cls")
        .agg(sum("x").as("sx"), sum(expr("x * x")).as("qx"))
        .withColumn("lt", col("p") % 3 + 1L)
        .withColumn("var_floor", expr("(24 * qx - sx * sx) DIV (24 * 24)"))
        .withColumn("ss", expr("(196 * isqrt(var_floor * lt)) DIV 100"))
        .withColumn("rop", expr("(sx DIV 24) * lt + ss"))
      per.groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("ss").as("ss_mass"),
          sum("rop").as("rop_mass"), max("ss").as("max_ss"))
        .orderBy("cls")
    },
      {
      val isq = Round12cOps.duckIsqrt("var_floor * lt")
      s"""WITH obs AS (
         |  SELECT p, cls, i,
         |    ${duckMd5Bits("'sd:' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 6)}
         |      % (20 * (cls + 1)) + 100 AS x
         |  FROM (SELECT CAST(p_partkey AS BIGINT) AS p,
         |      CAST(p_partkey % 5 AS INT) AS cls FROM part) q,
         |    generate_series(0, 23) AS t(i)),
         |per AS (
         |  SELECT p, cls, p % 3 + 1 AS lt,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS qx
         |  FROM obs GROUP BY 1, 2),
         |v AS (SELECT p, cls, lt, sx,
         |    (24 * qx - sx * sx) // (24 * 24) AS var_floor FROM per),
         |ss AS (SELECT p, cls,
         |    (196 * $isq) // 100 AS ss, lt, sx FROM v),
         |r AS (SELECT cls, ss, (sx // 24) * lt + ss AS rop FROM ss)
         |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
         |  CAST(SUM(ss) AS BIGINT) AS ss_mass,
         |  CAST(SUM(rop) AS BIGINT) AS rop_mass,
         |  CAST(MAX(ss) AS BIGINT) AS max_ss
         |FROM r GROUP BY 1 ORDER BY cls""".stripMargin
    }),

    // WebDataset index sidecars — the .idx offset files that make tar
    // shards randomly addressable (the member-seek path a training loader
    // uses instead of streaming the whole shard): the staging writer
    // tracks byte offsets under the ustar 512-block law (header 512 +
    // ceil(size/512)·512 payload) into a sidecar per shard; the reader
    // re-derives every member's offset INDEPENDENTLY from the decoded
    // member sizes (cumulative window per shard) and joins the sidecar —
    // offset and size must match on every member, graded per shard with
    // exact byte masses. The oracle replays the 512-block arithmetic from
    // the documents table directly.
    Op("source_webdataset_index", (s, d) => {
      val dir = Scratch.staged("wdsidx", d) { dir =>
        val rows = Tables.documents(s, d).where(col("doc_id") % 9 === 4)
          .select(col("doc_id"), col("text")).collect()
        rows.groupBy(_.getLong(0) % 2).foreach { case (part, rs) =>
          val out = java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(dir, s"shard_$part.tar"))
          val idx = new StringBuilder
          var off = 0L
          rs.sortBy(_.getLong(0)).foreach { r =>
            val data = r.getString(1)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val name = s"d${r.getLong(0)}.txt"
            Round15Ops.TarUtil.writeEntry(out, name, data)
            idx.append(s"$name $off ${data.length}\n")
            off += 512L + ((data.length + 511L) / 512L) * 512L
          }
          out.write(new Array[Byte](1024))
          out.close()
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"shard_$part.idx"),
            idx.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      val members = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar").load(dir)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (p, c) =>
          Round15Ops.TarUtil.readEntries(c).zipWithIndex.map {
            case ((n, b), i) => (p, i, n, b.length.toLong)
          }
        }
        .toDF("path", "ord", "name", "size")
        .withColumn("shard",
          regexp_extract(col("path"), "shard_(\\d+)", 1).cast("int"))
      val wOrd = Window.partitionBy("shard").orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
      val derived = members.withColumn("off", coalesce(
        sum(expr("512 + ((size + 511) DIV 512) * 512")).over(wOrd), lit(0L)))
      val sidecar = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.idx").load(dir)
        .select(regexp_extract(col("path"), "shard_(\\d+)", 1).cast("int")
          .as("shard"), expr("CAST(content AS STRING)").as("txt"))
        .withColumn("line", explode(split(col("txt"), "\n")))
        .where(length(col("line")) > 0)
        .select(col("shard"),
          split(col("line"), " ").getItem(0).as("name"),
          split(col("line"), " ").getItem(1).cast("bigint").as("idx_off"),
          split(col("line"), " ").getItem(2).cast("bigint").as("idx_size"))
      derived.join(sidecar, Seq("shard", "name"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("off") === col("idx_off"), 1L).otherwise(0L))
            .as("n_offset_match"),
          sum(when(col("size") === col("idx_size"), 1L).otherwise(0L))
            .as("n_size_match"),
          sum("size").as("payload_byte_mass"),
          max("off").as("max_offset"))
        .orderBy("shard")
    },
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 2 AS INT) AS shard,
        |    CAST(strlen(text) AS BIGINT) AS size
        |  FROM documents WHERE doc_id % 9 = 4),
        |o AS (
        |  SELECT shard, doc_id, size,
        |    CAST(coalesce(SUM(512 + ((size + 511) // 512) * 512) OVER (
        |      PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(COUNT(*) AS BIGINT) AS n_offset_match,
        |  CAST(COUNT(*) AS BIGINT) AS n_size_match,
        |  CAST(SUM(size) AS BIGINT) AS payload_byte_mass,
        |  CAST(MAX(off) AS BIGINT) AS max_offset
        |FROM o GROUP BY 1 ORDER BY shard""".stripMargin),

    // Articulation points (cut vertices) — the single-point-of-failure
    // census a network/AML analyst runs on a transaction graph: planted
    // 120-node chain of 20 six-rings joined by single bridge edges (the
    // ring interiors are 2-connected, the 38 bridge endpoints are exactly
    // the cut set). Vertex v is articulation iff components(G−v) >
    // components(G), with connectivity computed for ALL 121 exclusion
    // variants AT ONCE (exclusion id as a column — one vectorized frame,
    // no driver loop) by 9 rounds of min-label propagation WITH pointer
    // jumping (l ← min(l, min_neighbor l, l(l)) — doubling makes the
    // 76-hop worst-case diameter converge in ≤ log₂ rounds; plain
    // propagation would need 76). Work is O(rounds · exclusions · |E|) —
    // at corpus scale the exclusion set narrows to candidate vertices,
    // the same vectorized shape. The oracle replays all 9 rounds.
    Op("graph_articulation", (s, d) => {
      val (nodes, edges) = ringChainGraph(s, d)
      val excl = nodes.select(col("v").as("x"))
        .unionByName(s.range(1).select(lit(-1L).as("x")))
      val nodesX = excl.crossJoin(nodes).where(col("v") =!= col("x"))
      val edgesX = excl.crossJoin(edges)
        .where(col("a") =!= col("x") && col("b") =!= col("x"))
      val comps = ccComponents(nodesX, edgesX)
      val base = broadcast(comps.where(col("x") === -1L)
        .select(col("ncomp").as("base_comps")))
      comps.where(col("x") =!= -1L).crossJoin(base)
        .select(col("x").as("node"), col("ncomp").as("n_comps_without"),
          (col("ncomp") > col("base_comps")).as("is_articulation"))
        .orderBy("node")
    },
      s"""WITH $RingChainCtes,
         |excl AS (SELECT v AS x FROM nodes UNION ALL SELECT -1),
         |nodesx AS (SELECT e.x, n.v FROM excl e, nodes n WHERE n.v <> e.x),
         |ex0 AS (SELECT e.x, g.a, g.b FROM excl e, edges g
         |  WHERE g.a <> e.x AND g.b <> e.x),
         |dire AS MATERIALIZED (
         |  SELECT x, a, b FROM ex0 UNION ALL SELECT x, b, a FROM ex0),
         |lab0 AS MATERIALIZED (SELECT x, v, v AS l FROM nodesx),
         |$CcRoundsSql,
         |comps AS (SELECT x, CAST(COUNT(DISTINCT l) AS BIGINT) AS ncomp
         |  FROM lab9 GROUP BY 1),
         |base AS (SELECT ncomp AS base_comps FROM comps WHERE x = -1)
         |SELECT c.x AS node, c.ncomp AS n_comps_without,
         |  c.ncomp > b.base_comps AS is_articulation
         |FROM comps c, base b WHERE c.x <> -1 ORDER BY node""".stripMargin),

    // Bridge edges — the companion census (an edge is a bridge iff its
    // removal disconnects its endpoints): same planted ring-chain, same
    // vectorized pointer-jumping connectivity, exclusion id = the edge
    // being removed (plus the -1 baseline). The 19 inter-ring connectors
    // are exactly the bridge set; every ring edge sits on a cycle and
    // survives. Graded per edge with the component count its removal
    // leaves.
    Op("graph_bridges", (s, d) => {
      val (nodes, edges) = ringChainGraph(s, d)
      val eid = edges.withColumn("eid", col("a") * 1000L + col("b"))
      val excl = eid.select(col("eid").as("x"))
        .unionByName(s.range(1).select(lit(-1L).as("x")))
      val nodesX = excl.crossJoin(nodes)
      val edgesX = excl.crossJoin(eid.select(col("a"), col("b"), col("eid")))
        .where(col("eid") =!= col("x")).drop("eid")
      val comps = ccComponents(nodesX, edgesX)
      val base = broadcast(comps.where(col("x") === -1L)
        .select(col("ncomp").as("base_comps")))
      comps.where(col("x") =!= -1L).crossJoin(base)
        .select(expr("x DIV 1000").as("a"), (col("x") % 1000L).as("b"),
          col("ncomp").as("n_comps_without"),
          (col("ncomp") > col("base_comps")).as("is_bridge"))
        .orderBy("a", "b")
    },
      s"""WITH $RingChainCtes,
         |eid AS (SELECT a, b, a * 1000 + b AS eid FROM edges),
         |excl AS (SELECT eid AS x FROM eid UNION ALL SELECT -1),
         |nodesx AS (SELECT e.x, n.v FROM excl e, nodes n),
         |ex0 AS (SELECT e.x, g.a, g.b FROM excl e, eid g WHERE g.eid <> e.x),
         |dire AS MATERIALIZED (
         |  SELECT x, a, b FROM ex0 UNION ALL SELECT x, b, a FROM ex0),
         |lab0 AS MATERIALIZED (SELECT x, v, v AS l FROM nodesx),
         |$CcRoundsSql,
         |comps AS (SELECT x, CAST(COUNT(DISTINCT l) AS BIGINT) AS ncomp
         |  FROM lab9 GROUP BY 1),
         |base AS (SELECT ncomp AS base_comps FROM comps WHERE x = -1)
         |SELECT c.x // 1000 AS a, c.x % 1000 AS b,
         |  c.ncomp AS n_comps_without, c.ncomp > bs.base_comps AS is_bridge
         |FROM comps c, base bs WHERE c.x <> -1 ORDER BY a, b""".stripMargin),

    // ABA routing-number checksum — the payments-intake gate beside
    // fn_iban_mod97: 8 md5 digits + a DERIVED ninth so the weighted sum
    // 3·(d1+d4+d7) + 7·(d2+d5+d8) + (d3+d6+d9) ≡ 0 (mod 10); a 1-in-9
    // slice then corrupts one md5-chosen digit (+δ, δ∈1..9). All three
    // weights are units mod 10, so EVERY single-digit substitution is
    // caught — the invalid census must equal the planted corruption
    // census exactly (asserted in the wave spec). Linear projection +
    // rollup.
    Op("fn_aba_routing", (s, d) => {
      def dig(i: Int) =
        s"${md5Bits("concat('aba:', CAST(k AS STRING))", 1, i)} % 10"
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("wsum8", expr(
          s"3 * (${dig(1)} + ${dig(4)} + ${dig(7)}) + 7 * (${dig(2)} + ${dig(5)} + ${dig(8)}) + (${dig(3)} + ${dig(6)})"))
        .withColumn("d9", expr("(10 - wsum8 % 10) % 10"))
        .withColumn("corrupt", col("k") % 9 === 4)
        .withColumn("cpos", expr(
          s"${md5Bits("abp", "k", 4)} % 9 + 1"))
        .withColumn("cdelta", expr(
          s"${md5Bits("abd", "k", 4)} % 9 + 1"))
        // corrupting digit p adds w(p)·δ to the weighted sum
        .withColumn("wpos", expr(
          "CASE WHEN cpos IN (1, 4, 7) THEN 3 WHEN cpos IN (2, 5, 8) THEN 7 ELSE 1 END"))
        .withColumn("wsum", expr(
          "wsum8 + d9 + CASE WHEN corrupt THEN wpos * cdelta ELSE 0 END"))
        .withColumn("valid", expr("wsum % 10 = 0"))
      t.groupBy((col("k") % 4).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_numbers"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(!col("valid"), 1L).otherwise(0L)).as("n_invalid"),
          sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_corrupted"))
        .orderBy("cohort")
    },
      {
      def dig(i: Int) =
        s"${duckMd5Bits("'aba:' || CAST(k AS VARCHAR)", 1, i)} % 10"
      s"""WITH t AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
         |w AS (
         |  SELECT k,
         |    3 * (${dig(1)} + ${dig(4)} + ${dig(7)})
         |      + 7 * (${dig(2)} + ${dig(5)} + ${dig(8)})
         |      + (${dig(3)} + ${dig(6)}) AS wsum8,
         |    k % 9 = 4 AS corrupt,
         |    ${duckMd5Bits("abp", "k", 4)} % 9 + 1 AS cpos,
         |    ${duckMd5Bits("abd", "k", 4)} % 9 + 1 AS cdelta
         |  FROM t),
         |v AS (
         |  SELECT k, corrupt,
         |    wsum8 + (10 - wsum8 % 10) % 10
         |      + CASE WHEN corrupt THEN
         |          (CASE WHEN cpos IN (1, 4, 7) THEN 3
         |                WHEN cpos IN (2, 5, 8) THEN 7 ELSE 1 END) * cdelta
         |        ELSE 0 END AS wsum
         |  FROM w)
         |SELECT CAST(k % 4 AS INT) AS cohort,
         |  CAST(COUNT(*) AS BIGINT) AS n_numbers,
         |  CAST(SUM(CASE WHEN wsum % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         |  CAST(SUM(CASE WHEN wsum % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
         |  CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupted
         |FROM v GROUP BY 1 ORDER BY cohort""".stripMargin
    }),

    // Holt–Winters additive triple smoothing — the seasonal forecaster
    // win_holt_linear's family still lacked: per machine 24 samples with
    // planted trend (8·class/step) and 4-period seasonal (±amp pattern),
    // α/β/γ = 0.3/0.2/0.1 in exact milli. The 20 smoothing steps run as
    // ONE wide codegen'd projection (series pivoted to x0..x23, then a
    // chained column per state — no per-step shuffle, no driver loop);
    // every division uses the +10¹⁵ floor-offset form so negative trend/
    // seasonal states floor IDENTICALLY in both engines (Spark DIV
    // truncates, DuckDB // floors — the offset makes both a true floor).
    // DuckDB replays via lateral column aliases in one SELECT. Graded per
    // (class, amp-class): level/trend masses, h=1..4 forecast mass,
    // seasonal amplitude mass — the wave spec asserts trend recovery
    // ordering and seasonal amplitude separation.
    Op("agg_holt_winters", (s, d) => {
      val obs = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("m"))
        .withColumn("cls", (col("m") % 3).cast("int"))
        .withColumn("amp", (col("m") % 2 + 1L) * 100L)
        .withColumn("t", explode(expr("sequence(0, 23)")))
        .withColumn("x", expr(
          s"""500 + cls * 8 * t
            | + (CASE WHEN t % 4 = 0 THEN amp WHEN t % 4 = 2 THEN -amp ELSE 0 END)
            | + ${md5Bits("concat('hw:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 41 - 20""".stripMargin))
      val aggs = (0 to 23).map(t =>
        max(when(col("t") === t, col("x"))).as(s"x$t"))
      var wide = obs.groupBy("m", "cls", "amp")
        .agg(aggs.head, aggs.tail: _*)
      holtWintersCols("DIV").foreach { case (n, e) =>
        wide = wide.withColumn(n, expr(e))
      }
      wide.groupBy(col("cls"), (col("m") % 2).cast("int").as("ampcls"))
        .agg(count(lit(1)).as("n_machines"),
          sum("l23").as("l_mass"), sum("b23").as("b_mass"),
          sum(expr("fc1 + fc2 + fc3 + fc4")).as("fc_mass"),
          sum(expr("abs(s20) + abs(s21) + abs(s22) + abs(s23)")).as("s_amp_mass"))
        .orderBy("cls", "ampcls")
    },
      {
      // one CTE per smoothing step: DuckDB substitutes lateral column
      // aliases textually, so the flat 70-alias SELECT exceeds the
      // binder's 128-deep recursion — chained CTEs keep every level
      // shallow while computing the identical column sequence
      val cols = holtWintersCols("//").toMap
      val initCte = "st3 AS (SELECT *, " +
        Seq("l3", "b3", "s0", "s1", "s2", "s3")
          .map(n => s"${cols(n)} AS $n").mkString(", ") + " FROM wide)"
      val stepCtes = (4 to 23).map { t =>
        s"st$t AS (SELECT *, ${cols(s"l$t")} AS l$t, ${cols(s"b$t")} AS b$t, " +
          s"${cols(s"s$t")} AS s$t FROM st${t - 1})"
      }.mkString(",\n")
      val fcCols = (1 to 4)
        .map(h => s"${cols(s"fc$h")} AS fc$h").mkString(", ")
      s"""WITH obs AS (
         |  SELECT m, cls, amp, t,
         |    500 + cls * 8 * t
         |      + (CASE WHEN t % 4 = 0 THEN amp WHEN t % 4 = 2 THEN -amp ELSE 0 END)
         |      + ${duckMd5Bits("'hw:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 41 - 20 AS x
         |  FROM (SELECT CAST(s_suppkey AS BIGINT) AS m,
         |      CAST(s_suppkey % 3 AS INT) AS cls,
         |      (s_suppkey % 2 + 1) * 100 AS amp FROM supplier) q,
         |    generate_series(0, 23) AS g(t)),
         |wide AS (
         |  SELECT m, cls, amp,
         |${(0 to 23).map(t => s"    MAX(CASE WHEN t = $t THEN x END) AS x$t").mkString(",\n")}
         |  FROM obs GROUP BY 1, 2, 3),
         |$initCte,
         |$stepCtes,
         |st AS (SELECT *, $fcCols FROM st23)
         |SELECT cls, CAST(m % 2 AS INT) AS ampcls,
         |  CAST(COUNT(*) AS BIGINT) AS n_machines,
         |  CAST(SUM(l23) AS BIGINT) AS l_mass,
         |  CAST(SUM(b23) AS BIGINT) AS b_mass,
         |  CAST(SUM(fc1 + fc2 + fc3 + fc4) AS BIGINT) AS fc_mass,
         |  CAST(SUM(abs(s20) + abs(s21) + abs(s22) + abs(s23)) AS BIGINT) AS s_amp_mass
         |FROM st GROUP BY 1, 2 ORDER BY cls, ampcls""".stripMargin
    }),

    // Bitrate-ladder planning — the per-title encode plan a video
    // pipeline emits: source height by class (2160/1080/720/480),
    // complexity-adjusted rung bitrates ((base·(80+c)) DIV 130), rungs
    // capped at the source height, then a 600 MB per-title byte budget
    // consumed GREEDILY from the top rung down (one cumulative window
    // over ≤5 rungs per title — partitioned, scalable). Graded per source
    // class: titles, eligible/kept rung masses, kept byte mass, titles
    // where the budget bound (kept < eligible) — the 2160 class must hit
    // the budget, the 480 class never does.
    Op("mm_bitrate_ladder", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("src_h", element_at(
          array(lit(2160L), lit(1080L), lit(720L), lit(480L)),
          (col("k") % 4 + 1).cast("int")))
        .withColumn("dur_s", expr(
          s"${md5Bits("vd", "k", 6)} % 540 + 60"))
        .withColumn("cx", expr(
          s"${md5Bits("vc", "k", 6)} % 100"))
      val rungs = t
        .withColumn("rung", explode(expr(
          """array(named_struct('h', CAST(2160 AS BIGINT), 'kbps', CAST(12000 AS BIGINT)),
            |  named_struct('h', CAST(1080 AS BIGINT), 'kbps', CAST(5000 AS BIGINT)),
            |  named_struct('h', CAST(720 AS BIGINT), 'kbps', CAST(2500 AS BIGINT)),
            |  named_struct('h', CAST(480 AS BIGINT), 'kbps', CAST(1000 AS BIGINT)),
            |  named_struct('h', CAST(360 AS BIGINT), 'kbps', CAST(600 AS BIGINT)))""".stripMargin)))
        .select(col("k"), col("src_h"), col("dur_s"), col("cx"),
          col("rung.h").as("h"), col("rung.kbps").as("kbps_base"))
        .where(col("h") <= col("src_h"))
        .withColumn("kbps", expr("(kbps_base * (80 + cx)) DIV 130"))
        .withColumn("bytes", expr("kbps * dur_s * 125"))
      val wCum = Window.partitionBy("k").orderBy(desc("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val kept = rungs
        .withColumn("cum_bytes", sum("bytes").over(wCum))
        .withColumn("kept", col("cum_bytes") <= 600000000L)
      kept.groupBy((col("k") % 4).cast("int").as("src_cls"))
        .agg(countDistinct("k").as("n_titles"),
          count(lit(1)).as("eligible_rungs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_rungs"),
          sum(when(col("kept"), col("bytes")).otherwise(0L)).as("kept_byte_mass"))
        .orderBy("src_cls")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CASE o_orderkey % 4 WHEN 0 THEN 2160 WHEN 1 THEN 1080
        |      WHEN 2 THEN 720 ELSE 480 END AS src_h,
        |    ${duckMd5Bits("vd", "o_orderkey", 6)} % 540 + 60 AS dur_s,
        |    ${duckMd5Bits("vc", "o_orderkey", 6)} % 100 AS cx
        |  FROM orders),
        |r0 AS (SELECT * FROM (VALUES (2160, 12000), (1080, 5000), (720, 2500),
        |  (480, 1000), (360, 600)) AS v(h, kbps_base)),
        |el AS (
        |  SELECT t.k, t.dur_s, r0.h,
        |    (r0.kbps_base * (80 + t.cx)) // 130 AS kbps
        |  FROM t, r0 WHERE r0.h <= t.src_h),
        |b AS (SELECT *, kbps * dur_s * 125 AS bytes FROM el),
        |c AS (SELECT *, SUM(bytes) OVER (PARTITION BY k ORDER BY h DESC) AS cum_bytes FROM b)
        |SELECT CAST(k % 4 AS INT) AS src_cls,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_titles,
        |  CAST(COUNT(*) AS BIGINT) AS eligible_rungs,
        |  CAST(SUM(CASE WHEN cum_bytes <= 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS kept_rungs,
        |  CAST(SUM(CASE WHEN cum_bytes <= 600000000 THEN bytes ELSE 0 END) AS BIGINT) AS kept_byte_mass
        |FROM c GROUP BY 1 ORDER BY src_cls""".stripMargin),

    // Model-cascade routing — the cost/quality frontier of serving easy
    // queries with the small model and escalating the rest (the
    // production router llm_speculative_plan's economics sibling): md5
    // difficulty, small-model confidence = 100 − d + noise, threshold 60;
    // answered-small cost 1 / quality 92 − d DIV 5, escalated cost 12 /
    // quality 97 − d DIV 10 (all exact integers). Graded per cohort
    // BESIDE both counterfactuals (all-small, all-big) — the wave spec
    // asserts frontier dominance: cascade is cheaper than all-big and
    // better than all-small on every cohort.
    Op("llm_router_cascade", (s, d) => {
      val q = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("diff", expr(
          s"${md5Bits("rd", "k", 6)} % 100"))
        .withColumn("conf", expr(
          s"""GREATEST(CAST(0 AS BIGINT), LEAST(CAST(100 AS BIGINT), 100 - diff
            | + ${md5Bits("rn", "k", 6)} % 21 - 10))""".stripMargin))
        .withColumn("escalate", col("conf") < 60L)
        .withColumn("q_small", expr("92 - diff DIV 5"))
        .withColumn("q_big", expr("97 - diff DIV 10"))
        .withColumn("cost", when(col("escalate"), 12L).otherwise(1L))
        .withColumn("quality",
          when(col("escalate"), col("q_big")).otherwise(col("q_small")))
      q.groupBy((col("k") % 4).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("escalate"), 1L).otherwise(0L)).as("n_escalated"),
          sum("cost").as("cascade_cost"),
          sum("quality").as("cascade_quality"),
          sum("q_small").as("all_small_quality"),
          sum("q_big").as("all_big_quality"),
          (count(lit(1)) * 12L).as("all_big_cost"))
        .orderBy("cohort")
    },
      s"""WITH q0 AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    ${duckMd5Bits("rd", "o_orderkey", 6)} % 100 AS diff,
        |    ${duckMd5Bits("rn", "o_orderkey", 6)} % 21 - 10 AS nz
        |  FROM orders),
        |q1 AS (
        |  SELECT k, diff,
        |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST(100 AS BIGINT), 100 - diff + nz)) < 60 AS escalate,
        |    92 - diff // 5 AS q_small, 97 - diff // 10 AS q_big
        |  FROM q0)
        |SELECT CAST(k % 4 AS INT) AS cohort,
        |  CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(SUM(CASE WHEN escalate THEN 1 ELSE 0 END) AS BIGINT) AS n_escalated,
        |  CAST(SUM(CASE WHEN escalate THEN 12 ELSE 1 END) AS BIGINT) AS cascade_cost,
        |  CAST(SUM(CASE WHEN escalate THEN q_big ELSE q_small END) AS BIGINT) AS cascade_quality,
        |  CAST(SUM(q_small) AS BIGINT) AS all_small_quality,
        |  CAST(SUM(q_big) AS BIGINT) AS all_big_quality,
        |  CAST(COUNT(*) * 12 AS BIGINT) AS all_big_cost
        |FROM q1 GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Varint-delimited shard ingest — the protobuf wire-format framing
    // (LEB128 length prefix + payload, the fifth member of the shard
    // codec matrix after tar/zip/SequenceFile/TFRecord): a 1-in-7 doc
    // slice staged as 3 shards, read distributed via binaryFile + the
    // in-executor varint decoder. The frame overhead (Σ varint widths) is
    // re-derived ARITHMETICALLY by the oracle (width = 1/2/3 bytes by
    // length band) and must equal the decoder's byte accounting — a
    // mis-stepped varint shifts every later frame and shatters both
    // masses. Graded per lang.
    Op("source_varint_delimited", (s, d) => {
      val dir = Scratch.staged("varint", d) { dir =>
        val rows = Tables.documents(s, d).where(col("doc_id") % 7 === 5)
          .select(col("doc_id"), col("lang"), col("text")).collect()
        rows.groupBy(_.getLong(0) % 3).foreach { case (part, rs) =>
          val out = java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(dir, s"shard_$part.pbs"))
          rs.sortBy(_.getLong(0)).foreach { r =>
            VarintUtil.writeRecord(out,
              s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}"
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          out.close()
        }
      }
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.pbs").load(dir)
        .select(col("content")).as[Array[Byte]]
        .flatMap(VarintUtil.readRecords _)
        .toDF("payload", "frame_bytes")
        .withColumn("n_bytes", expr("CAST(length(payload) AS BIGINT)"))
        .withColumn("txt", expr("CAST(payload AS STRING)"))
        .withColumn("doc_id", split(col("txt"), "\\|", 3).getItem(0).cast("bigint"))
        .withColumn("lang", split(col("txt"), "\\|", 3).getItem(1))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_records"),
          sum("n_bytes").as("payload_byte_mass"),
          sum("frame_bytes").as("varint_overhead_bytes"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("lang")
    },
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(strlen(CAST(doc_id AS VARCHAR) || '|' || lang || '|' || text) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 7 = 5)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(len) AS BIGINT) AS payload_byte_mass,
        |  CAST(SUM(CASE WHEN len < 128 THEN 1 WHEN len < 16384 THEN 2 ELSE 3 END) AS BIGINT) AS varint_overhead_bytes,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_doc
        |FROM t GROUP BY 1 ORDER BY lang""".stripMargin),

    // Hedge-delay tuning — service_hedged_requests (Round14Ops) grades
    // ONE policy; the operational question is choosing the delay. Three
    // candidate delays (75/150/300 ms) swept over the same md5 latencies
    // with a planted 1-in-20 +900 ms tail: hedged = min(primary,
    // delay + backup), extra load fires when the primary outlives the
    // delay. Graded per delay: >500 ms exceedance before/after, latency
    // masses, extra load — the wave spec asserts the frontier is real
    // (shorter delay buys a smaller tail at strictly more load).
    Op("service_hedge_delay_sweep", (s, d) => {
      def lat(salt: String) =
        s"""${md5Bits(s"concat('$salt', CAST(k AS STRING))", 6)} % 100 + 50
           | + (CASE WHEN ${md5Bits(s"concat('${salt}t', CAST(k AS STRING))", 6)} % 20 = 0
           |    THEN 900 ELSE 0 END)""".stripMargin
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("l1", expr(lat("hl:")))
        .withColumn("l2", expr(lat("hm:")))
        .withColumn("delay", explode(expr("array(CAST(75 AS BIGINT), 150, 300)")))
        .withColumn("hedged", least(col("l1"), col("l2") + col("delay")))
        .withColumn("fired", col("l1") > col("delay"))
      t.groupBy("delay")
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("l1") > 500L, 1L).otherwise(0L)).as("tail_primary"),
          sum(when(col("hedged") > 500L, 1L).otherwise(0L)).as("tail_hedged"),
          sum("l1").as("primary_latency_mass"),
          sum("hedged").as("hedged_latency_mass"),
          sum(when(col("fired"), 1L).otherwise(0L)).as("extra_load"))
        .orderBy("delay")
    },
      {
      def lat(salt: String) =
        s"""${duckMd5Bits(s"'$salt' || CAST(k AS VARCHAR)", 6)} % 100 + 50
           | + (CASE WHEN ${duckMd5Bits(s"'${salt}t' || CAST(k AS VARCHAR)", 6)} % 20 = 0
           |    THEN 900 ELSE 0 END)""".stripMargin
      s"""WITH t AS (
         |  SELECT k, l1, l2, CAST(v.delay AS BIGINT) AS delay,
         |    LEAST(l1, l2 + v.delay) AS hedged, l1 > v.delay AS fired
         |  FROM (
         |    SELECT CAST(o_orderkey AS BIGINT) AS k,
         |      ${lat("hl:")} AS l1,
         |      ${lat("hm:")} AS l2
         |    FROM orders) q
         |  CROSS JOIN (VALUES (75), (150), (300)) AS v(delay))
         |SELECT delay,
         |  CAST(COUNT(*) AS BIGINT) AS n_requests,
         |  CAST(SUM(CASE WHEN l1 > 500 THEN 1 ELSE 0 END) AS BIGINT) AS tail_primary,
         |  CAST(SUM(CASE WHEN hedged > 500 THEN 1 ELSE 0 END) AS BIGINT) AS tail_hedged,
         |  CAST(SUM(l1) AS BIGINT) AS primary_latency_mass,
         |  CAST(SUM(hedged) AS BIGINT) AS hedged_latency_mass,
         |  CAST(SUM(CASE WHEN fired THEN 1 ELSE 0 END) AS BIGINT) AS extra_load
         |FROM t GROUP BY 1 ORDER BY delay""".stripMargin
    }),

    // Biometric score fusion — the multi-modality decision layer an
    // identity-verification service runs: face/voice/document scores with
    // planted genuine (1-in-4) and imposter distributions that OVERLAP in
    // each single modality, fused by the weighted integer mean
    // (3f + 2v + d) DIV 6. A five-threshold sweep grades FAR/FRR in exact
    // ppm for the fused score AND the face-only baseline on the same
    // trials — the wave spec asserts fusion dominates the single modality
    // at the operating point (narrower overlap: independent noise
    // averages down). Explode over 5 declared thresholds + rollup.
    Op("join_score_fusion", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("genuine", col("k") % 4 === 0)
        .withColumn("face", expr(
          s"""CASE WHEN k % 4 = 0
            | THEN 600 + ${md5Bits("bf", "k", 6)} % 400
            | ELSE ${md5Bits("bf", "k", 6)} % 700 END""".stripMargin))
        .withColumn("voice", expr(
          s"""CASE WHEN k % 4 = 0
            | THEN 550 + ${md5Bits("bv", "k", 6)} % 450
            | ELSE ${md5Bits("bv", "k", 6)} % 750 END""".stripMargin))
        .withColumn("doc", expr(
          s"""CASE WHEN k % 4 = 0
            | THEN 500 + ${md5Bits("bd", "k", 6)} % 500
            | ELSE ${md5Bits("bd", "k", 6)} % 600 END""".stripMargin))
        .withColumn("fused", expr("(3 * face + 2 * voice + doc) DIV 6"))
        .withColumn("tau", explode(expr("array(CAST(400 AS BIGINT), 500, 550, 600, 650)")))
      t.groupBy("tau")
        .agg(sum(when(!col("genuine"), 1L).otherwise(0L)).as("n_imposters"),
          sum(when(col("genuine"), 1L).otherwise(0L)).as("n_genuine"),
          sum(when(!col("genuine") && col("fused") >= col("tau"), 1L).otherwise(0L))
            .as("fused_fa"),
          sum(when(col("genuine") && col("fused") < col("tau"), 1L).otherwise(0L))
            .as("fused_fr"),
          sum(when(!col("genuine") && col("face") >= col("tau"), 1L).otherwise(0L))
            .as("face_fa"),
          sum(when(col("genuine") && col("face") < col("tau"), 1L).otherwise(0L))
            .as("face_fr"))
        .withColumn("fused_far_ppm", expr("(fused_fa * 1000000) DIV n_imposters"))
        .withColumn("fused_frr_ppm", expr("(fused_fr * 1000000) DIV n_genuine"))
        .withColumn("face_far_ppm", expr("(face_fa * 1000000) DIV n_imposters"))
        .withColumn("face_frr_ppm", expr("(face_fr * 1000000) DIV n_genuine"))
        .orderBy("tau")
    },
      {
      def score(salt: String, gBase: Int, gW: Int, iW: Int) =
        s"""CASE WHEN k % 4 = 0
           | THEN $gBase + ${duckMd5Bits(s"'$salt' || CAST(k AS VARCHAR)", 6)} % $gW
           | ELSE ${duckMd5Bits(s"'$salt' || CAST(k AS VARCHAR)", 6)} % $iW END""".stripMargin
      s"""WITH t AS (
         |  SELECT k, k % 4 = 0 AS genuine, face, voice, doc,
         |    (3 * face + 2 * voice + doc) // 6 AS fused
         |  FROM (
         |    SELECT CAST(c_custkey AS BIGINT) AS k,
         |      ${score("bf:", 600, 400, 700)} AS face,
         |      ${score("bv:", 550, 450, 750)} AS voice,
         |      ${score("bd:", 500, 500, 600)} AS doc
         |    FROM customer) q),
         |x AS (SELECT t.*, CAST(v.tau AS BIGINT) AS tau
         |  FROM t CROSS JOIN (VALUES (400), (500), (550), (600), (650)) AS v(tau)),
         |g AS (
         |  SELECT tau,
         |    CAST(SUM(CASE WHEN NOT genuine THEN 1 ELSE 0 END) AS BIGINT) AS n_imposters,
         |    CAST(SUM(CASE WHEN genuine THEN 1 ELSE 0 END) AS BIGINT) AS n_genuine,
         |    CAST(SUM(CASE WHEN NOT genuine AND fused >= tau THEN 1 ELSE 0 END) AS BIGINT) AS fused_fa,
         |    CAST(SUM(CASE WHEN genuine AND fused < tau THEN 1 ELSE 0 END) AS BIGINT) AS fused_fr,
         |    CAST(SUM(CASE WHEN NOT genuine AND face >= tau THEN 1 ELSE 0 END) AS BIGINT) AS face_fa,
         |    CAST(SUM(CASE WHEN genuine AND face < tau THEN 1 ELSE 0 END) AS BIGINT) AS face_fr
         |  FROM x GROUP BY 1)
         |SELECT tau, n_imposters, n_genuine, fused_fa, fused_fr, face_fa, face_fr,
         |  (fused_fa * 1000000) // n_imposters AS fused_far_ppm,
         |  (fused_fr * 1000000) // n_genuine AS fused_frr_ppm,
         |  (face_fa * 1000000) // n_imposters AS face_far_ppm,
         |  (face_fr * 1000000) // n_genuine AS face_frr_ppm
         |FROM g ORDER BY tau""".stripMargin
    }),

    // ISIN checksum — the securities-identifier gate beside IBAN/ABA:
    // country prefix (US/GB/DE by cohort), one A–Z letter + 8 md5 digits
    // as the NSIN, letters digitized A=10..Z=35, then Luhn over the
    // resulting FIXED 14-digit expansion (the letter widths make the
    // doubling patter n position-dependent — fixed here by construction,
    // D2/D4/…/D14 doubled), check digit derived, 1-in-8 slice corrupts
    // one expansion digit. Luhn detects every single-digit substitution,
    // so the invalid census equals the planted corruption census exactly.
    Op("fn_isin_check", (s, d) => {
      // expansion digits D1..D14: country (4), letter (2), 8 md5 digits
      def md(i: Int) =
        s"${md5Bits("concat('is:', CAST(k AS STRING))", 1, i)} % 10"
      val cc = (1 to 4).map(j =>
        s"(CASE WHEN k % 3 = 0 THEN ${Seq(3, 0, 2, 8)(j - 1)} WHEN k % 3 = 1 THEN ${Seq(1, 6, 1, 1)(j - 1)} ELSE ${Seq(1, 3, 1, 4)(j - 1)} END)")
      val letter =
        s"(10 + ${md5Bits("il", "k", 4)} % 26)"
      val ds: Seq[String] = cc ++ Seq(s"($letter DIV 10)", s"($letter % 10)") ++
        (1 to 8).map(i => s"(${md(i)})")
      def luhn2(e: String) = s"(CASE WHEN 2 * $e > 9 THEN 2 * $e - 9 ELSE 2 * $e END)"
      val sum14 = ds.zipWithIndex.map { case (e, idx) =>
        if ((idx + 1) % 2 == 0) luhn2(e) else e
      }.mkString(" + ")
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("s14", expr(sum14))
        .withColumn("check", expr("(10 - s14 % 10) % 10"))
        .withColumn("corrupt", col("k") % 8 === 5)
        .withColumn("cpos", expr(
          s"${md5Bits("ip", "k", 4)} % 14 + 1"))
        .withColumn("cdelta", expr(
          s"${md5Bits("ic", "k", 4)} % 9 + 1"))
        // corrupting D_cpos changes its transformed contribution; the
        // validity recheck recomputes the transformed digit both ways
        .withColumn("dorig", expr(
          ds.zipWithIndex.map { case (e, idx) =>
            s"WHEN cpos = ${idx + 1} THEN $e"
          }.mkString("CASE ", " ", " END")))
        .withColumn("dnew", expr("(dorig + cdelta) % 10"))
        .withColumn("contrib_orig", expr(
          s"CASE WHEN cpos % 2 = 0 THEN ${luhn2("dorig")} ELSE dorig END"))
        .withColumn("contrib_new", expr(
          s"CASE WHEN cpos % 2 = 0 THEN ${luhn2("dnew")} ELSE dnew END"))
        .withColumn("s_final", expr(
          "s14 + check + CASE WHEN corrupt THEN contrib_new - contrib_orig ELSE 0 END"))
        .withColumn("valid", expr("s_final % 10 = 0"))
      t.groupBy((col("k") % 3).cast("int").as("country"))
        .agg(count(lit(1)).as("n_isins"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(!col("valid"), 1L).otherwise(0L)).as("n_invalid"),
          sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_corrupted"))
        .orderBy("country")
    },
      {
      def md(i: Int) =
        s"${duckMd5Bits("'is:' || CAST(k AS VARCHAR)", 1, i)} % 10"
      val cc = (1 to 4).map(j =>
        s"(CASE WHEN k % 3 = 0 THEN ${Seq(3, 0, 2, 8)(j - 1)} WHEN k % 3 = 1 THEN ${Seq(1, 6, 1, 1)(j - 1)} ELSE ${Seq(1, 3, 1, 4)(j - 1)} END)")
      val letter =
        s"(10 + ${duckMd5Bits("il", "k", 4)} % 26)"
      val ds: Seq[String] = cc ++ Seq(s"($letter // 10)", s"($letter % 10)") ++
        (1 to 8).map(i => s"(${md(i)})")
      def luhn2(e: String) = s"(CASE WHEN 2 * $e > 9 THEN 2 * $e - 9 ELSE 2 * $e END)"
      val sum14 = ds.zipWithIndex.map { case (e, idx) =>
        if ((idx + 1) % 2 == 0) luhn2(e) else e
      }.mkString(" + ")
      val dorig = ds.zipWithIndex.map { case (e, idx) =>
        s"WHEN cpos = ${idx + 1} THEN $e"
      }.mkString("CASE ", " ", " END")
      s"""WITH t AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
         |a AS (
         |  SELECT k, ($sum14) AS s14, k % 8 = 5 AS corrupt,
         |    ${duckMd5Bits("ip", "k", 4)} % 14 + 1 AS cpos,
         |    ${duckMd5Bits("ic", "k", 4)} % 9 + 1 AS cdelta
         |  FROM t),
         |b AS (SELECT *, (10 - s14 % 10) % 10 AS chk, ($dorig) AS dorig FROM a),
         |c AS (SELECT *, (dorig + cdelta) % 10 AS dnew FROM b),
         |v AS (
         |  SELECT k, corrupt,
         |    s14 + chk + CASE WHEN corrupt THEN
         |      (CASE WHEN cpos % 2 = 0 THEN ${luhn2("dnew")} ELSE dnew END)
         |      - (CASE WHEN cpos % 2 = 0 THEN ${luhn2("dorig")} ELSE dorig END)
         |    ELSE 0 END AS s_final
         |  FROM c)
         |SELECT CAST(k % 3 AS INT) AS country,
         |  CAST(COUNT(*) AS BIGINT) AS n_isins,
         |  CAST(SUM(CASE WHEN s_final % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         |  CAST(SUM(CASE WHEN s_final % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
         |  CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupted
         |FROM v GROUP BY 1 ORDER BY country""".stripMargin
    }),

    // Wash-trade surveillance — the market-abuse screen an exchange
    // runs: a beneficial-owner registry (5 accounts per owner) joined to
    // BOTH legs of every trade; a wash trade is same-owner-both-sides,
    // different accounts, and not an exempt internal transfer. A 1-in-11
    // slice plants the counter-account inside the trader's own owner
    // group, 1-in-7 of everything is an exempt transfer — the detected
    // census must equal the planted non-exempt census EXACTLY (the rule
    // is exact, the join is the op). Broadcast registry, linear.
    Op("join_wash_trades", (s, d) => {
      val trades = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .withColumn("acct", col("k") % 500L)
        .withColumn("wash_plant", col("k") % 11 === 6)
        .withColumn("counter", when(col("wash_plant"),
          col("acct") - col("acct") % 5 + expr(
            s"${md5Bits("wc", "k", 6)} % 5"))
          .otherwise(expr(
            s"${md5Bits("wo", "k", 6)} % 500")))
        .withColumn("itf", col("k") % 7 === 3)
      // registry keyed off the order stream so all 500 accounts exist at
      // every sf (customer at sf0.001 only reaches 150)
      val owners = Tables.orders(s, d)
        .select((col("o_orderkey") % 500).cast("bigint").as("acct")).distinct()
        .withColumn("owner", expr("acct DIV 5"))
      val joined = trades
        .join(broadcast(owners), Seq("acct"))
        .join(broadcast(owners.select(col("acct").as("counter"),
          col("owner").as("counter_owner"))), Seq("counter"))
        .withColumn("wash", col("owner") === col("counter_owner")
          && col("acct") =!= col("counter") && !col("itf"))
      joined.groupBy((col("k") % 4).cast("int").as("symbol"))
        .agg(count(lit(1)).as("n_trades"),
          sum(when(col("wash"), 1L).otherwise(0L)).as("n_wash"),
          sum(when(col("wash_plant") && !col("itf")
            && col("acct") =!= col("counter"), 1L).otherwise(0L))
            .as("n_planted_live"),
          sum(when(col("wash"), col("cents")).otherwise(0L)).as("wash_cents"))
        .orderBy("symbol")
    },
      s"""WITH trades AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 500 AS acct,
        |    o_orderkey % 11 = 6 AS wash_plant,
        |    o_orderkey % 7 = 3 AS itf,
        |    CASE WHEN o_orderkey % 11 = 6
        |      THEN (o_orderkey % 500) - (o_orderkey % 500) % 5
        |        + ${duckMd5Bits("wc", "o_orderkey", 6)} % 5
        |      ELSE ${duckMd5Bits("wo", "o_orderkey", 6)} % 500
        |    END AS counter
        |  FROM orders),
        |owners AS (
        |  SELECT DISTINCT CAST(o_orderkey % 500 AS BIGINT) AS acct,
        |    (o_orderkey % 500) // 5 AS owner
        |  FROM orders),
        |j AS (
        |  SELECT t.*,
        |    oa.owner = ob.owner AND t.acct <> t.counter AND NOT t.itf AS wash
        |  FROM trades t
        |  JOIN owners oa ON oa.acct = t.acct
        |  JOIN owners ob ON ob.acct = t.counter)
        |SELECT CAST(k % 4 AS INT) AS symbol,
        |  CAST(COUNT(*) AS BIGINT) AS n_trades,
        |  CAST(SUM(CASE WHEN wash THEN 1 ELSE 0 END) AS BIGINT) AS n_wash,
        |  CAST(SUM(CASE WHEN wash_plant AND NOT itf AND acct <> counter
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_planted_live,
        |  CAST(SUM(CASE WHEN wash THEN cents ELSE 0 END) AS BIGINT) AS wash_cents
        |FROM j GROUP BY 1 ORDER BY symbol""".stripMargin),

    // Agent-trace audit — the tool-call hygiene screen an LLM-agent
    // pipeline runs over its transcripts: 16 steps per trace, md5 tool
    // ids, class-planted failure rates (30/50/70%); per trace the MAX
    // consecutive-failure run (one gaps-and-islands window over the
    // bounded 16-step series), a stuck-loop flag at ≥3, and the retry
    // mass. Graded per agent class: traces, loop rate ppm, failure mass,
    // retry-depth mass — the wave spec asserts the loop rate orders with
    // the planted failure rates.
    Op("llm_agent_loop_detect", (s, d) => {
      val steps = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 3).cast("int"))
        .withColumn("i", explode(expr("sequence(0, 15)")))
        .withColumn("fail", expr(
          s"${md5Bits("concat('tc:', CAST(k AS STRING), ':', CAST(i AS STRING))", 6)} % 10 >= 7 - 2 * cls"))
      val wOrd = Window.partitionBy("k").orderBy("i")
      val runs = steps
        .withColumn("failseq",
          sum(when(col("fail"), 1L).otherwise(0L)).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("fail"))
        .withColumn("grp", col("i") - col("failseq"))
        .groupBy("k", "cls", "grp").agg(count(lit(1)).as("run_len"))
        .groupBy("k", "cls")
        .agg(max("run_len").as("max_run"), sum("run_len").as("n_fails"))
      val per = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 3).cast("int"))
        .join(runs.select(col("k"), col("max_run"), col("n_fails")), Seq("k"), "left")
        .select(col("k"), col("cls"),
          coalesce(col("max_run"), lit(0L)).as("max_run"),
          coalesce(col("n_fails"), lit(0L)).as("n_fails"))
      per.groupBy("cls")
        .agg(count(lit(1)).as("n_traces"),
          sum(when(col("max_run") >= 3L, 1L).otherwise(0L)).as("n_stuck"),
          sum("n_fails").as("fail_mass"),
          sum("max_run").as("retry_depth_mass"))
        .withColumn("stuck_ppm", expr("(n_stuck * 1000000) DIV n_traces"))
        .orderBy("cls")
    },
      s"""WITH steps AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey % 3 AS INT) AS cls, g.i,
        |    ${duckMd5Bits("'tc:' || CAST(o_orderkey AS VARCHAR) || ':' || CAST(g.i AS VARCHAR)", 6)} % 10
        |      >= 7 - 2 * (o_orderkey % 3) AS fail
        |  FROM orders, generate_series(0, 15) AS g(i)),
        |f AS (
        |  SELECT k, cls, i,
        |    SUM(CASE WHEN fail THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY k ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS failseq
        |  FROM steps WHERE fail),
        |r AS (
        |  SELECT k, cls, MAX(run_len) AS max_run, SUM(run_len) AS n_fails
        |  FROM (
        |    SELECT k, cls, i - failseq AS grp, CAST(COUNT(*) AS BIGINT) AS run_len
        |    FROM f GROUP BY k, cls, i - failseq) q
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT t.k, t.cls,
        |    coalesce(r.max_run, 0) AS max_run, coalesce(r.n_fails, 0) AS n_fails
        |  FROM (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |      CAST(o_orderkey % 3 AS INT) AS cls FROM orders) t
        |  LEFT JOIN r ON r.k = t.k),
        |g2 AS (
        |  SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_traces,
        |    CAST(SUM(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_stuck,
        |    CAST(SUM(n_fails) AS BIGINT) AS fail_mass,
        |    CAST(SUM(max_run) AS BIGINT) AS retry_depth_mass
        |  FROM per GROUP BY 1)
        |SELECT cls, n_traces, n_stuck, fail_mass, retry_depth_mass,
        |  (n_stuck * 1000000) // n_traces AS stuck_ppm
        |FROM g2 ORDER BY cls""".stripMargin),

    // Dataset cartography — the training-dynamics map (mean confidence ×
    // variability over epochs) a data-curation pipeline uses to split a
    // corpus into easy-to-learn / ambiguous / hard-to-learn regions:
    // 8 md5 epoch confidences per example with class-planted dynamics
    // (easy 800+%150 stable, hard 100+%150 stable, ambiguous 200+%600
    // swinging), mean by exact DIV, variability as the integer stddev
    // floor (isqrt of the 8·Σc²−S² numerator). Region rules: hard if
    // mean < 300, else ambiguous if var ≥ 120, else easy (the easy plant
    // samples σ≈43, the ambiguous one σ≈173 — 120 splits them). Graded as the
    // planted-class × region confusion census — the wave spec asserts
    // diagonal dominance (the map actually separates the plants).
    Op("llm_dataset_cartography", (s, d) => {
      val per = Tables.documents(s, d)
        .select(col("doc_id").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 3).cast("int"))
        .withColumn("e", explode(expr("sequence(0, 7)")))
        .withColumn("conf", expr(
          s"""CASE WHEN k % 3 = 0
            | THEN 800 + ${md5Bits("concat('dc:', CAST(k AS STRING), ':', CAST(e AS STRING))", 6)} % 150
            | WHEN k % 3 = 2
            | THEN 100 + ${md5Bits("concat('dc:', CAST(k AS STRING), ':', CAST(e AS STRING))", 6)} % 150
            | ELSE 200 + ${md5Bits("concat('dc:', CAST(k AS STRING), ':', CAST(e AS STRING))", 6)} % 600
            | END""".stripMargin))
        .groupBy("k", "cls")
        .agg(sum("conf").as("sc"), sum(expr("conf * conf")).as("qc"))
        .withColumn("mean_conf", expr("sc DIV 8"))
        .withColumn("variability", expr("isqrt(8 * qc - sc * sc) DIV 8"))
        .withColumn("region", expr(
          """CASE WHEN mean_conf < 300 THEN 'hard'
            | WHEN variability >= 120 THEN 'ambiguous'
            | ELSE 'easy' END""".stripMargin))
      per.groupBy("cls", "region")
        .agg(count(lit(1)).as("n_examples"),
          sum("mean_conf").as("mean_conf_mass"),
          sum("variability").as("variability_mass"))
        .orderBy("cls", "region")
    },
      {
      val isq = Round12cOps.duckIsqrt("8 * qc - sc * sc")
      s"""WITH obs AS (
         |  SELECT k, cls, e,
         |    CASE WHEN k % 3 = 0
         |      THEN 800 + ${duckMd5Bits("'dc:' || CAST(k AS VARCHAR) || ':' || CAST(e AS VARCHAR)", 6)} % 150
         |      WHEN k % 3 = 2
         |      THEN 100 + ${duckMd5Bits("'dc:' || CAST(k AS VARCHAR) || ':' || CAST(e AS VARCHAR)", 6)} % 150
         |      ELSE 200 + ${duckMd5Bits("'dc:' || CAST(k AS VARCHAR) || ':' || CAST(e AS VARCHAR)", 6)} % 600
         |    END AS conf
         |  FROM (SELECT CAST(doc_id AS BIGINT) AS k,
         |      CAST(doc_id % 3 AS INT) AS cls FROM documents) q,
         |    generate_series(0, 7) AS g(e)),
         |per AS (
         |  SELECT k, cls, CAST(SUM(conf) AS BIGINT) AS sc,
         |    CAST(SUM(conf * conf) AS BIGINT) AS qc
         |  FROM obs GROUP BY 1, 2),
         |m AS (
         |  SELECT k, cls, sc // 8 AS mean_conf, $isq // 8 AS variability
         |  FROM per),
         |r AS (
         |  SELECT cls,
         |    CASE WHEN mean_conf < 300 THEN 'hard'
         |      WHEN variability >= 120 THEN 'ambiguous'
         |      ELSE 'easy' END AS region,
         |    mean_conf, variability
         |  FROM m)
         |SELECT cls, region, CAST(COUNT(*) AS BIGINT) AS n_examples,
         |  CAST(SUM(mean_conf) AS BIGINT) AS mean_conf_mass,
         |  CAST(SUM(variability) AS BIGINT) AS variability_mass
         |FROM r GROUP BY 1, 2 ORDER BY cls, region""".stripMargin
    }),

    // Backpressure / bounded-queue admission — the token-bucket shape a
    // streaming ingester runs: 24 windows per service, md5 arrivals with
    // class-planted intensity (capacity 100, classes arrive at ~80/~100/
    // ~130), queue depth q ← clamp(q + a − 100, 0, 400) and overflow
    // drops — pure LEAST/GREATEST integer recurrences (no division, no
    // floor hazard) run as ONE wide chained projection, replayed by the
    // oracle as chained CTEs. Graded per class: drop mass, peak depth
    // mass, windows spent above the 300 high-water mark — the wave spec
    // asserts only the over-capacity class drops.
    Op("service_backpressure", (s, d) => {
      val obs = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("m"))
        .withColumn("cls", (col("m") % 3).cast("int"))
        .withColumn("t", explode(expr("sequence(0, 23)")))
        .withColumn("a", expr(
          s"55 + 25 * cls + ${md5Bits("concat('bp:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 51"))
      val aggs = (0 to 23).map(t =>
        max(when(col("t") === t, col("a"))).as(s"a$t"))
      var wide = obs.groupBy("m", "cls").agg(aggs.head, aggs.tail: _*)
      backpressureCols.foreach { case (n, e) =>
        wide = wide.withColumn(n, expr(e))
      }
      wide.groupBy("cls")
        .agg(count(lit(1)).as("n_services"),
          sum(expr((0 to 23).map(t => s"d$t").mkString(" + "))).as("drop_mass"),
          sum(expr((0 to 23).map(t => s"q$t").mkString("GREATEST(", ", ", ")")))
            .as("peak_depth_mass"),
          sum(expr((0 to 23).map(t => s"(CASE WHEN q$t > 300 THEN 1 ELSE 0 END)")
            .mkString(" + "))).as("high_water_windows"))
        .orderBy("cls")
    },
      {
      val bpMap: Map[String, String] = backpressureCols.toMap
      val stepCtes = (0 to 23).map { t =>
        val from = if (t == 0) "wide" else s"bp${t - 1}"
        s"bp$t AS (SELECT *, ${bpMap(s"r$t")} AS r$t, " +
          s"${bpMap(s"d$t")} AS d$t, ${bpMap(s"q$t")} AS q$t FROM $from)"
      }.mkString(",\n")
      s"""WITH obs AS (
         |  SELECT m, cls, t,
         |    55 + 25 * cls + ${duckMd5Bits("'bp:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 51 AS a
         |  FROM (SELECT CAST(s_suppkey AS BIGINT) AS m,
         |      CAST(s_suppkey % 3 AS INT) AS cls FROM supplier) q,
         |    generate_series(0, 23) AS g(t)),
         |wide AS (
         |  SELECT m, cls,
         |${(0 to 23).map(t => s"    MAX(CASE WHEN t = $t THEN a END) AS a$t").mkString(",\n")}
         |  FROM obs GROUP BY 1, 2),
         |$stepCtes
         |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_services,
         |  CAST(SUM(${(0 to 23).map(t => s"d$t").mkString(" + ")}) AS BIGINT) AS drop_mass,
         |  CAST(SUM(${(0 to 23).map(t => s"q$t").mkString("GREATEST(", ", ", ")")}) AS BIGINT) AS peak_depth_mass,
         |  CAST(SUM(${(0 to 23).map(t => s"(CASE WHEN q$t > 300 THEN 1 ELSE 0 END)").mkString(" + ")}) AS BIGINT) AS high_water_windows
         |FROM bp23 GROUP BY 1 ORDER BY cls""".stripMargin
    }),

    // Device-fingerprint linking — the identity signal a person-service
    // mines with an entropy guard: 1-in-9 accounts sit in planted fraud
    // rings sharing a rare fingerprint (3 accounts each), 1-in-15 carry a
    // DEFAULT fingerprint (factory browser — hot, meaningless), the rest
    // are unique. Blocking on the fingerprint with a population cap ≤ 5
    // links ring members pairwise while the hot default value is excluded
    // wholesale (the dfCap law applied to identity signals — a hot key
    // must never drive O(n²) pairs OR false links). Graded per cohort:
    // fingerprints, linkable pairs, hot-excluded accounts; the spec
    // asserts every planted ring pair is found and the default
    // fingerprint yields zero.
    Op("join_device_fingerprint", (s, d) => {
      val acct = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("fp", expr(
          """CASE WHEN k % 15 = 7 THEN 'default_fp'
            | WHEN k % 9 = 4 THEN concat('ring_', CAST(k DIV 27 AS STRING))
            | ELSE concat('uniq_', substring(md5(concat('fp:', CAST(k AS STRING))), 1, 10))
            | END""".stripMargin))
      val pops = acct.groupBy("fp").agg(count(lit(1)).as("pop"))
      val live = acct.join(pops, Seq("fp")).where(col("pop") <= 5)
      val pairs = live.as("x").join(live.as("y"),
          col("x.fp") === col("y.fp") && col("x.k") < col("y.k"))
        .select(col("x.fp").as("fp"), col("x.k").as("a"), col("y.k").as("b"))
      val perCohort = acct.groupBy((col("k") % 2).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_accounts"),
          sum(when(col("k") % 15 === 7, 1L).otherwise(0L)).as("n_default_fp"))
      pairs.groupBy((col("a") % 2).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("fp").startsWith("ring_"), 1L).otherwise(0L))
            .as("n_ring_pairs"),
          countDistinct("fp").as("n_linking_fps"))
        .join(perCohort, Seq("cohort"), "right")
        .select(col("cohort"),
          col("n_accounts"), col("n_default_fp"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_ring_pairs"), lit(0L)).as("n_ring_pairs"),
          coalesce(col("n_linking_fps"), lit(0L)).as("n_linking_fps"))
        .orderBy("cohort")
    },
      """WITH acct AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CASE WHEN c_custkey % 15 = 7 THEN 'default_fp'
        |      WHEN c_custkey % 9 = 4 THEN 'ring_' || CAST(c_custkey // 27 AS VARCHAR)
        |      ELSE 'uniq_' || substring(md5('fp:' || CAST(c_custkey AS VARCHAR)), 1, 10)
        |    END AS fp
        |  FROM customer),
        |pops AS (SELECT fp, COUNT(*) AS pop FROM acct GROUP BY 1),
        |live AS (SELECT a.k, a.fp FROM acct a JOIN pops p ON p.fp = a.fp
        |  WHERE p.pop <= 5),
        |pairs AS (
        |  SELECT x.fp, x.k AS a, y.k AS b
        |  FROM live x JOIN live y ON x.fp = y.fp AND x.k < y.k),
        |pc AS (
        |  SELECT CAST(a % 2 AS INT) AS cohort,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN fp LIKE 'ring!_%' ESCAPE '!' THEN 1 ELSE 0 END) AS BIGINT) AS n_ring_pairs,
        |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_linking_fps
        |  FROM pairs GROUP BY 1),
        |ac AS (
        |  SELECT CAST(k % 2 AS INT) AS cohort,
        |    CAST(COUNT(*) AS BIGINT) AS n_accounts,
        |    CAST(SUM(CASE WHEN k % 15 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_default_fp
        |  FROM acct GROUP BY 1)
        |SELECT ac.cohort, ac.n_accounts, ac.n_default_fp,
        |  CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(pc.n_ring_pairs, 0) AS BIGINT) AS n_ring_pairs,
        |  CAST(coalesce(pc.n_linking_fps, 0) AS BIGINT) AS n_linking_fps
        |FROM ac LEFT JOIN pc ON pc.cohort = ac.cohort
        |ORDER BY ac.cohort""".stripMargin),

    // Bech32 (BIP-173) checksum — the segwit-address validation gate: 12
    // md5 5-bit groups folded through the polymod LFSR (state transition
    // ((chk & 0x1ffffff) << 5) ^ g ^ ⊕GEN[bits of chk>>25], the fixed
    // 'bc' hrp expansion pre-folded to a literal), one fold over the
    // clean groups and one over a 1-in-5 single-group corruption. The
    // step is BIJECTIVE, so any single substitution changes the final
    // state — valid ⟺ states equal, and the invalid census equals the
    // planted corruption census exactly. 24 unrolled steps as one wide
    // codegen'd projection; DuckDB replays via chained CTEs with xor()
    // (its ^ is POWER — the dialect split lives in the generator).
    Op("fn_bech32_check", (s, d) => {
      val hrpState = bech32Fold(1L, Seq(3L, 3L, 0L, 2L, 3L))
      def grp(j: Int) =
        s"${md5Bits("concat('bw:', CAST(k AS STRING))", 2, 2 * j + 1)} % 32"
      var t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("corrupt", col("k") % 5 === 2)
        .withColumn("cpos", expr(
          s"${md5Bits("bp", "k", 4)} % 12"))
        .withColumn("cdelta", expr(
          s"${md5Bits("bd", "k", 4)} % 31 + 1"))
      (0 until 12).foreach { j =>
        t = t.withColumn(s"g$j", expr(grp(j)))
          .withColumn(s"xg$j", expr(
            s"CASE WHEN corrupt AND cpos = $j THEN (g$j + cdelta) % 32 ELSE g$j END"))
      }
      val sx: (String, String) => String = (a, b) => s"($a ^ $b)"
      val sl: (String, Int) => String = (e, n) => s"shiftleft($e, $n)"
      val sr: (String, Int) => String = (e, n) => s"shiftright($e, $n)"
      val init = s"CAST($hrpState AS BIGINT)"
      (bech32Steps("c", init, (0 until 12).map(j => s"g$j"), sx, sl, sr) ++
        bech32Steps("x", init, (0 until 12).map(j => s"xg$j"), sx, sl, sr))
        .foreach { case (n, e) => t = t.withColumn(n, expr(e)) }
      t.withColumn("valid", col("c11") === col("x11"))
        .groupBy((col("k") % 3).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_addresses"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(!col("valid"), 1L).otherwise(0L)).as("n_invalid"),
          sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_corrupted"),
          sum("c11").as("checksum_state_mass"))
        .orderBy("cohort")
    },
      {
      val hrpState = bech32Fold(1L, Seq(3L, 3L, 0L, 2L, 3L))
      def grp(j: Int) =
        s"${duckMd5Bits("'bw:' || CAST(k AS VARCHAR)", 2, 2 * j + 1)} % 32"
      val dx: (String, String) => String = (a, b) => s"xor($a, $b)"
      val dl: (String, Int) => String = (e, n) => s"($e << $n)"
      val dr: (String, Int) => String = (e, n) => s"($e >> $n)"
      val init = s"CAST($hrpState AS BIGINT)"
      val cSteps = bech32Steps("c", init, (0 until 12).map(j => s"g$j"), dx, dl, dr)
      val xSteps = bech32Steps("x", init, (0 until 12).map(j => s"xg$j"), dx, dl, dr)
      val stepCtes = (0 until 12).map { i =>
        val from = if (i == 0) "base" else s"bc${i - 1}"
        s"bc$i AS (SELECT *, ${cSteps(i)._2} AS c$i, ${xSteps(i)._2} AS x$i FROM $from)"
      }.mkString(",\n")
      s"""WITH t AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS k,
         |    c_custkey % 5 = 2 AS corrupt,
         |    ${duckMd5Bits("bp", "c_custkey", 4)} % 12 AS cpos,
         |    ${duckMd5Bits("bd", "c_custkey", 4)} % 31 + 1 AS cdelta
         |  FROM customer),
         |base AS (
         |  SELECT *,
         |${(0 until 12).map(j => s"    ${grp(j)} AS g$j").mkString(",\n")},
         |${(0 until 12).map(j => s"    CASE WHEN corrupt AND cpos = $j THEN ((${grp(j)}) + cdelta) % 32 ELSE ${grp(j)} END AS xg$j").mkString(",\n")}
         |  FROM t),
         |$stepCtes
         |SELECT CAST(k % 3 AS INT) AS cohort,
         |  CAST(COUNT(*) AS BIGINT) AS n_addresses,
         |  CAST(SUM(CASE WHEN c11 = x11 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         |  CAST(SUM(CASE WHEN c11 <> x11 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
         |  CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupted,
         |  CAST(SUM(c11) AS BIGINT) AS checksum_state_mass
         |FROM bc11 GROUP BY 1 ORDER BY cohort""".stripMargin
    }),

    // Hawkes-style self-exciting intensity — the burst detector an AML
    // monitor runs on transaction streams: λ_t = μ + excitation, with
    // excitation_t = (excitation_{t-1} + 400·n_{t-1})·700 DIV 1000 (the
    // exponential kernel in exact milli, all values non-negative so plain
    // DIV floors identically both engines), md5 arrivals 0–2 per window
    // and a planted 4-extra-event burst at windows 8–10 for class 2.
    // 24 windows as one wide chained projection; flag λ > 2500 milli —
    // provably above the baseline worst case (all-2 arrivals cap the
    // excitation at 1867, λ ≤ 2067) and provably below the burst floor
    // (three +4 windows from empty reach λ ≥ 2653).
    // Graded per class: flagged windows, peak intensity mass, intensity
    // mass — the spec asserts only the burst class trips the flag in the
    // burst window and intensity decays back below threshold by t=20.
    Op("agg_hawkes_decay", (s, d) => {
      val obs = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("m"))
        .withColumn("cls", (col("m") % 3).cast("int"))
        .withColumn("t", explode(expr("sequence(0, 23)")))
        .withColumn("n", expr(
          s"""${md5Bits("concat('hk:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 3
            | + (CASE WHEN m % 3 = 2 AND t BETWEEN 8 AND 10 THEN 4 ELSE 0 END)""".stripMargin))
      val aggs = (0 to 23).map(t =>
        max(when(col("t") === t, col("n"))).as(s"n$t"))
      var wide = obs.groupBy("m", "cls").agg(aggs.head, aggs.tail: _*)
      hawkesCols("DIV").foreach { case (n, e) => wide = wide.withColumn(n, expr(e)) }
      wide.groupBy("cls")
        .agg(count(lit(1)).as("n_accounts"),
          sum(expr((0 to 23).map(t => s"(CASE WHEN lam$t > 2500 THEN 1 ELSE 0 END)")
            .mkString(" + "))).as("flagged_windows"),
          sum(expr((0 to 23).map(t => s"lam$t").mkString("GREATEST(", ", ", ")")))
            .as("peak_intensity_mass"),
          sum(expr((0 to 23).map(t => s"lam$t").mkString(" + ")))
            .as("intensity_mass"),
          sum(expr("CASE WHEN lam20 > 2500 THEN 1 ELSE 0 END")).as("still_hot_t20"))
        .orderBy("cls")
    },
      {
      val hkMap: Map[String, String] = hawkesCols("//").toMap
      val stepCtes = (0 to 23).map { t =>
        val from = if (t == 0) "wide" else s"hk${t - 1}"
        s"hk$t AS (SELECT *, ${hkMap(s"le$t")} AS le$t, ${hkMap(s"lam$t")} AS lam$t FROM $from)"
      }.mkString(",\n")
      s"""WITH obs AS (
         |  SELECT m, cls, t,
         |    ${duckMd5Bits("'hk:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 3
         |      + (CASE WHEN m % 3 = 2 AND t BETWEEN 8 AND 10 THEN 4 ELSE 0 END) AS n
         |  FROM (SELECT CAST(c_custkey AS BIGINT) AS m,
         |      CAST(c_custkey % 3 AS INT) AS cls FROM customer) q,
         |    generate_series(0, 23) AS g(t)),
         |wide AS (
         |  SELECT m, cls,
         |${(0 to 23).map(t => s"    MAX(CASE WHEN t = $t THEN n END) AS n$t").mkString(",\n")}
         |  FROM obs GROUP BY 1, 2),
         |$stepCtes
         |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_accounts,
         |  CAST(SUM(${(0 to 23).map(t => s"(CASE WHEN lam$t > 2500 THEN 1 ELSE 0 END)").mkString(" + ")}) AS BIGINT) AS flagged_windows,
         |  CAST(SUM(${(0 to 23).map(t => s"lam$t").mkString("GREATEST(", ", ", ")")}) AS BIGINT) AS peak_intensity_mass,
         |  CAST(SUM(${(0 to 23).map(t => s"lam$t").mkString(" + ")}) AS BIGINT) AS intensity_mass,
         |  CAST(SUM(CASE WHEN lam20 > 2500 THEN 1 ELSE 0 END) AS BIGINT) AS still_hot_t20
         |FROM hk23 GROUP BY 1 ORDER BY cls""".stripMargin
    }),

    // 1:1 propensity matching with a bucket caliper — the causal-cohort
    // builder beside agg_stratified_ate/agg_iptw_ate: treatment planted
    // to CORRELATE with the score (higher-score units treat more often),
    // so raw treated/control means diverge; greedy within-bucket rank
    // pairing (i-th treated ↔ i-th control by (score, k), caliper = same
    // score DIV 20000 bucket) — deterministic, window-based, no driver
    // loop. Graded: group sizes, matched pairs, score sums all/matched —
    // the spec asserts matching shrinks the mean-score gap (the balance
    // property that makes the downstream outcome diff causal).
    Op("join_propensity_match", (s, d) => {
      val units = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("score", expr(
          s"300000 + (k % 7) * 50000 + ${md5Bits("ps", "k", 6)} % 100000"))
        .withColumn("treated", expr(
          s"${md5Bits("pt", "k", 6)} % 1000 < 100 + score DIV 2000"))
        .withColumn("bucket", expr("score DIV 20000"))
        .localCheckpoint()
      val wB = Window.partitionBy("bucket", "treated").orderBy("score", "k")
      val ranked = units.withColumn("rn", row_number().over(wB))
      val matched = ranked.where(col("treated"))
        .select(col("bucket"), col("rn"), col("k").as("tk"), col("score").as("ts"))
        .join(ranked.where(!col("treated"))
          .select(col("bucket"), col("rn"), col("k").as("ck"), col("score").as("cs")),
          Seq("bucket", "rn"))
      val all = units.agg(
        sum(when(col("treated"), 1L).otherwise(0L)).as("n_treated"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("n_control"),
        sum(when(col("treated"), col("score")).otherwise(0L)).as("score_treated_all"),
        sum(when(!col("treated"), col("score")).otherwise(0L)).as("score_control_all"))
      val m = matched.agg(count(lit(1)).as("n_matched"),
        sum("ts").as("score_treated_matched"),
        sum("cs").as("score_control_matched"))
      all.crossJoin(broadcast(m))
        .select("n_treated", "n_control", "n_matched",
          "score_treated_all", "score_control_all",
          "score_treated_matched", "score_control_matched")
    },
      s"""WITH units AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    300000 + (c_custkey % 7) * 50000
        |      + ${duckMd5Bits("ps", "c_custkey", 6)} % 100000 AS score
        |  FROM customer),
        |u2 AS (
        |  SELECT k, score,
        |    ${duckMd5Bits("pt", "k", 6)} % 1000
        |      < 100 + score // 2000 AS treated,
        |    score // 20000 AS bucket
        |  FROM units),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY bucket, treated ORDER BY score, k) AS rn
        |  FROM u2),
        |matched AS (
        |  SELECT t.score AS ts, c.score AS cs
        |  FROM ranked t JOIN ranked c
        |    ON t.bucket = c.bucket AND t.rn = c.rn
        |    AND t.treated AND NOT c.treated),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
        |    CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
        |    CAST(SUM(CASE WHEN treated THEN score ELSE 0 END) AS BIGINT) AS score_treated_all,
        |    CAST(SUM(CASE WHEN NOT treated THEN score ELSE 0 END) AS BIGINT) AS score_control_all
        |  FROM u2),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
        |    CAST(coalesce(SUM(ts), 0) AS BIGINT) AS score_treated_matched,
        |    CAST(coalesce(SUM(cs), 0) AS BIGINT) AS score_control_matched
        |  FROM matched)
        |SELECT a.n_treated, a.n_control, m.n_matched,
        |  a.score_treated_all, a.score_control_all,
        |  m.score_treated_matched, m.score_control_matched
        |FROM a, m""".stripMargin),

    // Write-audit-publish — the staging gate a lakehouse ingestion runs:
    // each batch lands on a STAGING path, an audit pass checks it (row
    // floor, null-rate ≤ 5%, exact payload conservation), and only a
    // passing batch is published into the live table (a real second
    // parquet write — the files are the lifecycle). Batch A is clean;
    // batch B plants a 12% null spike and must be rejected. Graded: both
    // audit ledgers plus the final live census, which must equal base +
    // A exactly — the quarantined B rows are nowhere in the live files.
    Op("warehouse_write_audit_publish", (s, d) => {
      val base = Tables.orders(s, d).where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").cast("bigint").as("k"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      def batch(rule: Int, nullRule: org.apache.spark.sql.Column) =
        Tables.orders(s, d).where(col("o_orderkey") % 3 === rule)
          .select(col("o_orderkey").cast("bigint").as("k"),
            when(nullRule, lit(null).cast("bigint"))
              .otherwise(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      val bA = batch(1, lit(false))
      val bB = batch(2, expr(
        s"${md5Bits("wb", "o_orderkey", 6)} % 100 < 12"))
      val liveDir = Scratch.opDir("wap_live", d)
      base.write.mode("overwrite").parquet(liveDir)
      def audit(tag: String, b: DataFrame): (DataFrame, Boolean) = {
        val stageDir = Scratch.opDir(s"wap_stage_$tag", d)
        b.write.mode("overwrite").parquet(stageDir)
        val staged = s.read.parquet(stageDir)
        val row = staged.agg(count(lit(1)).as("n_rows"),
          sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_nulls")).head()
        val passed = row.getLong(0) > 0 &&
          row.getLong(1) * 100L <= row.getLong(0) * 5L
        val ledger = s.range(1).select(lit(tag).as("batch"),
          lit(row.getLong(0)).as("n_rows"), lit(row.getLong(1)).as("n_nulls"),
          lit(row.getLong(1) * 1000000L / row.getLong(0)).as("null_ppm"),
          lit(passed).as("published"))
        if (passed)
          staged.write.mode("append").parquet(liveDir)
        (ledger, passed)
      }
      val (la, _) = audit("a", bA)
      val (lb, _) = audit("b", bB)
      val live = s.read.parquet(liveDir)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_nulls"))
        .select(lit("live_final").as("batch"), col("n_rows"),
          col("n_nulls"), lit(0L).as("null_ppm"), lit(true).as("published"))
      la.unionByName(lb).unionByName(live).orderBy("batch")
    },
      s"""WITH a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_nulls
        |  FROM orders WHERE o_orderkey % 3 = 1),
        |b AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN ${duckMd5Bits("wb", "o_orderkey", 6)} % 100 < 12
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
        |  FROM orders WHERE o_orderkey % 3 = 2),
        |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT * FROM (
        |  SELECT 'a' AS batch, a.n_rows, a.n_nulls,
        |    (a.n_nulls * 1000000) // a.n_rows AS null_ppm,
        |    a.n_rows > 0 AND a.n_nulls * 100 <= a.n_rows * 5 AS published
        |  FROM a
        |  UNION ALL
        |  SELECT 'b', b.n_rows, b.n_nulls, (b.n_nulls * 1000000) // b.n_rows,
        |    b.n_rows > 0 AND b.n_nulls * 100 <= b.n_rows * 5
        |  FROM b
        |  UNION ALL
        |  SELECT 'live_final', base.n_rows + a.n_rows, CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), TRUE
        |  FROM base, a) q
        |ORDER BY batch""".stripMargin),

    // Bass diffusion forward model — the adoption forecast a
    // go-to-market planner runs: N' = N + (p·(M−N) + q·N·(M−N) DIV M)
    // DIV 1000 over 24 periods in exact units of a 10⁶ market, planted
    // (p, q) per-mille classes (innovator-heavy 30/100, imitator-heavy
    // 5/500, balanced 15/300). All states non-negative ⇒ plain DIV
    // floors identically. Graded per class: final penetration ppm, peak
    // single-period adoption, time-to-half-market — the spec asserts the
    // innovator class starts faster while the imitator class shows the
    // S-curve (later half-market crossing, higher peak period).
    Op("agg_bass_diffusion", (s, d) => {
      val mkts = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("m"))
        .withColumn("cls", (col("m") % 3).cast("int"))
        .withColumn("p", expr("CASE WHEN m % 3 = 0 THEN 30 WHEN m % 3 = 1 THEN 5 ELSE 15 END"))
        .withColumn("q", expr("CASE WHEN m % 3 = 0 THEN 100 WHEN m % 3 = 1 THEN 500 ELSE 300 END"))
      var wide = mkts
      bassCols("DIV").foreach { case (n, e) => wide = wide.withColumn(n, expr(e)) }
      wide.groupBy("cls")
        .agg(count(lit(1)).as("n_markets"),
          sum(expr("nn23")).as("final_adopters_mass"),
          sum(expr((1 to 23).map(t => s"(nn$t - nn${t - 1})")
            .mkString("GREATEST(", ", ", ")"))).as("peak_adoption_mass"),
          sum(expr((0 to 23).map(t => s"(CASE WHEN nn$t < 500000 THEN 1 ELSE 0 END)")
            .mkString(" + "))).as("periods_below_half_mass"))
        .orderBy("cls")
    },
      {
      val bMap: Map[String, String] = bassCols("//").toMap
      val stepCtes = (0 to 23).map { t =>
        val from = if (t == 0) "mkts" else s"bs${t - 1}"
        s"bs$t AS (SELECT *, ${bMap(s"nn$t")} AS nn$t FROM $from)"
      }.mkString(",\n")
      s"""WITH mkts AS (
         |  SELECT CAST(s_suppkey AS BIGINT) AS m,
         |    CAST(s_suppkey % 3 AS INT) AS cls,
         |    CASE WHEN s_suppkey % 3 = 0 THEN 30 WHEN s_suppkey % 3 = 1 THEN 5 ELSE 15 END AS p,
         |    CASE WHEN s_suppkey % 3 = 0 THEN 100 WHEN s_suppkey % 3 = 1 THEN 500 ELSE 300 END AS q
         |  FROM supplier),
         |$stepCtes
         |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_markets,
         |  CAST(SUM(nn23) AS BIGINT) AS final_adopters_mass,
         |  CAST(SUM(${(1 to 23).map(t => s"(nn$t - nn${t - 1})").mkString("GREATEST(", ", ", ")")}) AS BIGINT) AS peak_adoption_mass,
         |  CAST(SUM(${(0 to 23).map(t => s"(CASE WHEN nn$t < 500000 THEN 1 ELSE 0 END)").mkString(" + ")}) AS BIGINT) AS periods_below_half_mass
         |FROM bs23 GROUP BY 1 ORDER BY cls""".stripMargin
    }),

    // NHS-number mod-11 checksum — the healthcare-id gate in the
    // person-service intake family: 9 md5 digits with weights 10..2, r =
    // Σ dᵢ·(11−i) mod 11, check digit 11−r (11→0; r=1 makes the number
    // UNISSUABLE — real NHS numbers with check 10 are never allocated,
    // censused here as their own class). A 1-in-7 slice of issuable
    // numbers corrupts one digit; 11 is prime so every weighted single
    // substitution is caught: invalid census == planted census.
    Op("fn_nhs_number", (s, d) => {
      def dig(i: Int) =
        s"${md5Bits("concat('nh:', CAST(k AS STRING))", 1, i)} % 10"
      val wsum = (1 to 9).map(i => s"(${dig(i)}) * ${11 - i}").mkString(" + ")
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("r", expr(s"($wsum) % 11"))
        .withColumn("unissuable", col("r") === 1L)
        .withColumn("check", expr("(11 - r) % 11"))
        .withColumn("corrupt", !col("unissuable") && col("k") % 7 === 2)
        .withColumn("cpos", expr(
          s"${md5Bits("np", "k", 4)} % 9 + 1"))
        .withColumn("cdelta", expr(
          s"${md5Bits("nd", "k", 4)} % 9 + 1"))
        .withColumn("wdelta", expr(
          (1 to 9).map(i => s"WHEN cpos = $i THEN ${11 - i} * cdelta")
            .mkString("CASE ", " ", " END")))
        .withColumn("s_final", expr(
          s"($wsum) + check + CASE WHEN corrupt THEN wdelta ELSE 0 END"))
        .withColumn("valid", !col("unissuable") && expr("s_final % 11 = 0"))
      t.groupBy((col("k") % 4).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_numbers"),
          sum(when(col("unissuable"), 1L).otherwise(0L)).as("n_unissuable"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(!col("valid") && !col("unissuable"), 1L).otherwise(0L))
            .as("n_invalid"),
          sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_corrupted"))
        .orderBy("cohort")
    },
      {
      def dig(i: Int) =
        s"${duckMd5Bits("'nh:' || CAST(k AS VARCHAR)", 1, i)} % 10"
      val wsum = (1 to 9).map(i => s"(${dig(i)}) * ${11 - i}").mkString(" + ")
      val wdelta = (1 to 9).map(i => s"WHEN cpos = $i THEN ${11 - i} * cdelta")
        .mkString("CASE ", " ", " END")
      s"""WITH t AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
         |a AS (
         |  SELECT k, ($wsum) % 11 AS r,
         |    ${duckMd5Bits("np", "k", 4)} % 9 + 1 AS cpos,
         |    ${duckMd5Bits("nd", "k", 4)} % 9 + 1 AS cdelta
         |  FROM t),
         |b AS (
         |  SELECT k, r = 1 AS unissuable, (11 - r) % 11 AS chk,
         |    r <> 1 AND k % 7 = 2 AS corrupt, cpos, cdelta, ($wdelta) AS wdelta
         |  FROM a),
         |v AS (
         |  SELECT k, unissuable, corrupt,
         |    NOT unissuable AND
         |      (($wsum) + chk + CASE WHEN corrupt THEN wdelta ELSE 0 END) % 11 = 0 AS valid
         |  FROM b)
         |SELECT CAST(k % 4 AS INT) AS cohort,
         |  CAST(COUNT(*) AS BIGINT) AS n_numbers,
         |  CAST(SUM(CASE WHEN unissuable THEN 1 ELSE 0 END) AS BIGINT) AS n_unissuable,
         |  CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         |  CAST(SUM(CASE WHEN NOT valid AND NOT unissuable THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
         |  CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupted
         |FROM v GROUP BY 1 ORDER BY cohort""".stripMargin
    }),

    // MoE capacity-factor token dropping — llm_moe_balance grades router
    // SKEW; this grades what the capacity factor does about it: tokens
    // route top-1 by md5 with a planted hot expert (30% forced to 0),
    // per-(batch, expert) capacity C = 25% above the uniform share; over-
    // capacity tokens try their second choice and are admitted iff that
    // expert's PRIMARY load is under capacity (the single-reroute rule —
    // deterministic, window-based), else DROPPED. Conservation admitted +
    // rerouted + dropped == tokens is graded per expert alongside the
    // loads — the spec asserts only the hot expert drops and the drop
    // mass matches its overflow minus successful reroutes.
    Op("llm_moe_capacity_drop", (s, d) => {
      val toks = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("batch", expr("k DIV 256"))
        .withColumn("g", expr(
          s"${md5Bits("me", "k", 6)} % 10"))
        .withColumn("e1", expr(
          s"CASE WHEN g < 3 THEN CAST(0 AS BIGINT) ELSE ${md5Bits("m1", "k", 6)} % 8 END"))
        .withColumn("e2x", expr(
          s"${md5Bits("m2", "k", 6)} % 8"))
        .withColumn("e2", expr("CASE WHEN e2x = e1 THEN (e2x + 1) % 8 ELSE e2x END"))
        .localCheckpoint()
      val batchSizes = toks.groupBy("batch").agg(count(lit(1)).as("bn"))
        .withColumn("cap", expr("(bn * 125) DIV (8 * 100) + 1"))
      val wE = Window.partitionBy("batch", "e1")
        .orderBy(md5(concat(lit("mo:"), col("k").cast("string"))), col("k"))
      val ranked = toks.withColumn("rn", row_number().over(wE))
        .join(broadcast(batchSizes), Seq("batch"))
        .withColumn("admitted", col("rn") <= col("cap"))
        .localCheckpoint()
      val primaryLoad = ranked.groupBy(col("batch").as("b2"), col("e1").as("pe"))
        .agg(count(lit(1)).as("pload"))
      val routed = ranked.join(primaryLoad,
          col("batch") === col("b2") && col("e2") === col("pe"), "left")
        .withColumn("pload", coalesce(col("pload"), lit(0L)))
        .withColumn("outcome", expr(
          """CASE WHEN admitted THEN 'admitted'
            | WHEN pload < cap THEN 'rerouted'
            | ELSE 'dropped' END""".stripMargin))
      routed.groupBy("e1")
        .agg(count(lit(1)).as("primary_tokens"),
          sum(when(col("outcome") === "admitted", 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("outcome") === "rerouted", 1L).otherwise(0L)).as("n_rerouted_out"),
          sum(when(col("outcome") === "dropped", 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("e1")
    },
      s"""WITH toks AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderkey // 256 AS batch,
        |    CASE WHEN ${duckMd5Bits("me", "o_orderkey", 6)} % 10 < 3
        |      THEN CAST(0 AS BIGINT)
        |      ELSE ${duckMd5Bits("m1", "o_orderkey", 6)} % 8 END AS e1,
        |    ${duckMd5Bits("m2", "o_orderkey", 6)} % 8 AS e2x
        |  FROM orders),
        |t2 AS (SELECT *, CASE WHEN e2x = e1 THEN (e2x + 1) % 8 ELSE e2x END AS e2 FROM toks),
        |bs AS (SELECT batch, COUNT(*) AS bn, (COUNT(*) * 125) // (8 * 100) + 1 AS cap
        |  FROM t2 GROUP BY 1),
        |ranked AS (
        |  SELECT t2.*, bs.cap,
        |    ROW_NUMBER() OVER (PARTITION BY t2.batch, t2.e1
        |      ORDER BY md5('mo:' || CAST(t2.k AS VARCHAR)), t2.k) AS rn
        |  FROM t2 JOIN bs ON bs.batch = t2.batch),
        |pl AS (SELECT batch AS b2, e1 AS pe, CAST(COUNT(*) AS BIGINT) AS pload
        |  FROM ranked GROUP BY 1, 2),
        |routed AS (
        |  SELECT r.e1,
        |    CASE WHEN r.rn <= r.cap THEN 'admitted'
        |      WHEN coalesce(pl.pload, 0) < r.cap THEN 'rerouted'
        |      ELSE 'dropped' END AS outcome
        |  FROM ranked r LEFT JOIN pl ON pl.b2 = r.batch AND pl.pe = r.e2)
        |SELECT e1, CAST(COUNT(*) AS BIGINT) AS primary_tokens,
        |  CAST(SUM(CASE WHEN outcome = 'admitted' THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
        |  CAST(SUM(CASE WHEN outcome = 'rerouted' THEN 1 ELSE 0 END) AS BIGINT) AS n_rerouted_out,
        |  CAST(SUM(CASE WHEN outcome = 'dropped' THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM routed GROUP BY 1 ORDER BY e1""".stripMargin),

    // Counter-rollover correction — the uint24 wrap every metrics
    // pipeline must undo (network byte counters, energy meters): planted
    // monotone cumulative series read modulo 2²⁴, reconstructed delta =
    // (r_t − r_{t−1} + 2²⁴) % 2²⁴ via one lag window. The reconstruction
    // law is graded EXACTLY: Σ deltas == true cumulative growth (every
    // wrap undone — one missed wrap shifts the mass by 2²⁴), wraps
    // census == planted wrap count. Per device-class rollup.
    Op("fn_counter_rollover", (s, d) => {
      val wOrd = Window.partitionBy("m").orderBy("t")
      val obs = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("m"))
        .withColumn("cls", (col("m") % 3).cast("int"))
        .withColumn("t", explode(expr("sequence(0, 23)")))
        .withColumn("inc", expr(
          s"(1 + m % 3) * (${md5Bits("concat('cr:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 3000000)"))
        .withColumn("cum",
          sum("inc").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("reading", expr("cum % 16777216"))
      val rec = obs
        .withColumn("prev", lag("reading", 1).over(wOrd))
        .withColumn("delta", expr("(reading - prev + 16777216) % 16777216"))
        .withColumn("wrap", expr("reading < prev"))
      val per = rec.groupBy("m", "cls")
        .agg(sum("delta").as("recon_growth"),
          (max("cum") - min("cum")).as("true_growth"),
          sum(when(col("wrap"), 1L).otherwise(0L)).as("n_wraps"))
      per.groupBy("cls")
        .agg(count(lit(1)).as("n_devices"),
          sum("recon_growth").as("recon_mass"),
          sum("true_growth").as("true_mass"),
          sum(when(col("recon_growth") === col("true_growth"), 1L).otherwise(0L))
            .as("n_exact"),
          sum("n_wraps").as("wrap_mass"))
        .orderBy("cls")
    },
      s"""WITH obs AS (
        |  SELECT m, cls, t,
        |    (1 + m % 3) * (${duckMd5Bits("'cr:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 3000000) AS inc
        |  FROM (SELECT CAST(s_suppkey AS BIGINT) AS m,
        |      CAST(s_suppkey % 3 AS INT) AS cls FROM supplier) q,
        |    generate_series(0, 23) AS g(t)),
        |c AS (
        |  SELECT m, cls, t,
        |    CAST(SUM(inc) OVER (PARTITION BY m ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM obs),
        |r AS (
        |  SELECT m, cls, cum, cum % 16777216 AS reading,
        |    LAG(cum % 16777216, 1) OVER (PARTITION BY m ORDER BY t) AS prev
        |  FROM c),
        |x AS (
        |  SELECT m, cls, cum,
        |    (reading - prev + 16777216) % 16777216 AS delta,
        |    CASE WHEN reading < prev THEN 1 ELSE 0 END AS wrap
        |  FROM r),
        |per AS (
        |  SELECT m, cls, CAST(SUM(delta) AS BIGINT) AS recon_growth,
        |    CAST(MAX(cum) - MIN(cum) AS BIGINT) AS true_growth,
        |    CAST(SUM(wrap) AS BIGINT) AS n_wraps
        |  FROM x GROUP BY 1, 2)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_devices,
        |  CAST(SUM(recon_growth) AS BIGINT) AS recon_mass,
        |  CAST(SUM(true_growth) AS BIGINT) AS true_mass,
        |  CAST(SUM(CASE WHEN recon_growth = true_growth THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(SUM(n_wraps) AS BIGINT) AS wrap_mass
        |FROM per GROUP BY 1 ORDER BY cls""".stripMargin),

    // Data-contract check — the schema/domain gate a landing feed passes
    // before merge: the orders stream with three PLANTED violation
    // classes (status 'X' at 1-in-97, negative price at 1-in-89, a
    // duplicated-key slice at 1-in-101) audited against the contract
    // (status enum, price > 0, key uniqueness via a count window).
    // Graded per rule: violations == the planted census exactly, plus
    // the overall pass verdict each rule's threshold implies. One scan +
    // one key rollup.
    Op("warehouse_data_contract", (s, d) => {
      val feed = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"),
          col("o_orderstatus").as("status0"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents0"))
        .withColumn("status",
          when(col("k") % 97 === 5, lit("X")).otherwise(col("status0")))
        .withColumn("cents",
          when(col("k") % 89 === 7, -col("cents0")).otherwise(col("cents0")))
      val dupes = feed.where(col("k") % 101 === 9)
      val landed = feed.unionByName(dupes).localCheckpoint()
      val keyCounts = landed.groupBy("k").agg(count(lit(1)).as("kc"))
      val enumViol = landed.agg(
        sum(when(!col("status").isin("O", "F", "P"), 1L).otherwise(0L)).as("v"))
        .select(lit("status_enum").as("rule"), col("v").as("n_violations"))
      val rangeViol = landed.agg(
        sum(when(col("cents") <= 0L, 1L).otherwise(0L)).as("v"))
        .select(lit("price_positive").as("rule"), col("v").as("n_violations"))
      val dupViol = keyCounts.where(col("kc") > 1)
        .agg(coalesce(sum(col("kc") - 1), lit(0L)).as("v"))
        .select(lit("key_unique").as("rule"), col("v").as("n_violations"))
      val total = landed.agg(count(lit(1)).as("v"))
        .select(lit("rows_landed").as("rule"), col("v").as("n_violations"))
      enumViol.unionByName(rangeViol).unionByName(dupViol).unionByName(total)
        .withColumn("passed", col("n_violations") === 0L)
        .orderBy("rule")
    },
      """WITH feed AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CASE WHEN o_orderkey % 97 = 5 THEN 'X' ELSE o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 89 = 7
        |      THEN -CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |      ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
        |  FROM orders),
        |landed AS (
        |  SELECT * FROM feed
        |  UNION ALL SELECT * FROM feed WHERE k % 101 = 9),
        |kc AS (SELECT k, COUNT(*) AS n FROM landed GROUP BY 1),
        |rules AS (
        |  SELECT 'key_unique' AS rule,
        |    CAST(coalesce((SELECT SUM(n - 1) FROM kc WHERE n > 1), 0) AS BIGINT) AS n_violations
        |  UNION ALL
        |  SELECT 'price_positive',
        |    (SELECT CAST(SUM(CASE WHEN cents <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM landed)
        |  UNION ALL
        |  SELECT 'rows_landed', (SELECT CAST(COUNT(*) AS BIGINT) FROM landed)
        |  UNION ALL
        |  SELECT 'status_enum',
        |    (SELECT CAST(SUM(CASE WHEN status NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) FROM landed))
        |SELECT rule, n_violations, n_violations = 0 AS passed
        |FROM rules ORDER BY rule""".stripMargin),

    // OFAC 50%-rule ownership cascade — the sanctions-exposure screen a
    // KYC service runs over an ownership DAG: sanctioned roots (k%50=0),
    // level-1 entities owned 60% or 40% by a root (the 60% branch is
    // blocked, the 40% is not), level-2 owned 80% by their level-1
    // parent. Blocked status CASCADES as full ownership (the OFAC rule:
    // property of a blocked person): three unrolled rounds of
    // "Σ ownership pct held by blocked owners ≥ 50%" — so the level-2
    // children of blocked level-1 parents are blocked even though the
    // multiplied-through exposure (48%) is not. Graded per level class:
    // entities, blocked census, blocked-ownership mass.
    Op("join_ownership_sanctions", (s, d) => {
      val ents = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("lvl", expr(
          """CASE WHEN k % 50 = 0 THEN 0 WHEN k % 50 = 1 THEN 1
            | WHEN k % 50 = 2 THEN 2 ELSE 9 END""".stripMargin))
        .localCheckpoint()
      val edges = ents.where(col("lvl") === 1)
        .select(col("k").as("child"), (col("k") - 1).as("owner"),
          when(col("k") % 100 === 1, 60L).otherwise(40L).as("pct"))
        .unionByName(ents.where(col("lvl") === 2)
          .select(col("k").as("child"), (col("k") - 1).as("owner"),
            lit(80L).as("pct")))
        .localCheckpoint()
      var blocked = ents.where(col("lvl") === 0).select(col("k")).localCheckpoint()
      for (_ <- 1 to 3) {
        val newly = edges
          .join(blocked.select(col("k").as("owner")), Seq("owner"), "left_semi")
          .groupBy("child").agg(sum("pct").as("bpct"))
          .where(col("bpct") >= 50L)
          .select(col("child").as("k"))
        blocked = blocked.unionByName(newly).distinct().localCheckpoint()
      }
      val bset = blocked.withColumn("isb", lit(true))
      ents.join(bset, Seq("k"), "left")
        .withColumn("isb", coalesce(col("isb"), lit(false)))
        .groupBy("lvl")
        .agg(count(lit(1)).as("n_entities"),
          sum(when(col("isb"), 1L).otherwise(0L)).as("n_blocked"))
        .orderBy("lvl")
    },
      """WITH ents AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CASE WHEN c_custkey % 50 = 0 THEN 0 WHEN c_custkey % 50 = 1 THEN 1
        |      WHEN c_custkey % 50 = 2 THEN 2 ELSE 9 END AS lvl
        |  FROM customer),
        |edges AS (
        |  SELECT k AS child, k - 1 AS owner,
        |    CASE WHEN k % 100 = 1 THEN 60 ELSE 40 END AS pct
        |  FROM ents WHERE lvl = 1
        |  UNION ALL SELECT k, k - 1, 80 FROM ents WHERE lvl = 2),
        |blk0 AS (SELECT k FROM ents WHERE lvl = 0),
        |n1 AS (SELECT child AS k FROM edges
        |  JOIN blk0 ON blk0.k = edges.owner
        |  GROUP BY child HAVING SUM(pct) >= 50),
        |blk1 AS (SELECT k FROM blk0 UNION SELECT k FROM n1),
        |n2 AS (SELECT child AS k FROM edges
        |  JOIN blk1 ON blk1.k = edges.owner
        |  GROUP BY child HAVING SUM(pct) >= 50),
        |blk2 AS (SELECT k FROM blk1 UNION SELECT k FROM n2),
        |n3 AS (SELECT child AS k FROM edges
        |  JOIN blk2 ON blk2.k = edges.owner
        |  GROUP BY child HAVING SUM(pct) >= 50),
        |blk3 AS (SELECT k FROM blk2 UNION SELECT k FROM n3)
        |SELECT lvl, CAST(COUNT(*) AS BIGINT) AS n_entities,
        |  CAST(SUM(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
        |FROM ents e LEFT JOIN blk3 b ON b.k = e.k
        |GROUP BY 1 ORDER BY lvl""".stripMargin),

    // Time-respecting reachability — the layering trace an AML monitor
    // follows (funds hop a→b→c only along INCREASING timestamps within a
    // window): planted 3-hop chains (three consecutive ledger slots form
    // base→base+1→base+2→base+3 at t, t+1, t+2) inside md5 background
    // noise; 2-hop and 3-hop paths found by unrolled self-joins keyed on
    // the account (equi) with the ≤5-slot window as residual — per-edge
    // successor fan-out is window-bounded, never all-pairs. Graded:
    // per-hop path censuses and completed planted chains (every planted
    // chain must be found; background accidentals are the honest
    // surplus).
    Op("join_temporal_reachability", (s, d) => {
      val e = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("t"))
        .withColumn("planted", col("t") % 90 < 3)
        .withColumn("hop", col("t") % 90)
        .withColumn("base", expr("((t DIV 90) * 10) % 1000"))
        .withColumn("src", when(col("planted"), col("base") + col("hop"))
          .otherwise(expr(
            s"${md5Bits("ts", "t", 6)} % 1000")))
        .withColumn("dst", when(col("planted"), col("base") + col("hop") + 1)
          .otherwise(expr(
            s"${md5Bits("td", "t", 6)} % 1000")))
        .where(col("src") =!= col("dst"))
        .select("src", "dst", "t")
        .localCheckpoint()
      // the successor join keys on (account, 5-slot time bucket) — the
      // probe side explodes to its 2 candidate buckets, so the equi-join
      // carries the window and the account-only fan-out (~in·out per hot
      // account) never materializes
      val eB = e.withColumn("bkt", expr("t DIV 5")).localCheckpoint()
      def successors(probe: DataFrame, acctCol: String, tCol: String): DataFrame =
        probe
          .withColumn("cand", explode(array(expr(s"$tCol DIV 5"), expr(s"$tCol DIV 5 + 1"))))
          .join(eB.select(col("src").as("nsrc"), col("dst").as("ndst"),
            col("t").as("nt"), col("bkt").as("cand")), Seq("cand"))
          .where(col(acctCol) === col("nsrc") && col("nt") > col(tCol)
            && col("nt") <= col(tCol) + 5)
      val hop2 = successors(
          e.select(col("src").as("s"), col("dst").as("mid1"), col("t").as("t1")),
          "mid1", "t1")
        .select(col("s"), col("t1"), col("ndst").as("mid2"), col("nt").as("t2"))
        .localCheckpoint()
      val hop3 = successors(hop2, "mid2", "t2")
        .select(col("s"), col("ndst").as("d3"), col("t1"))
      val nChains = e.agg(sum(when(col("t") % 90 === 0, 1L).otherwise(0L))
        .as("n_planted_starts"))
      hop3.agg(count(lit(1)).as("n_3hop_paths"),
          sum(when(col("d3") === col("s") + 3, 1L).otherwise(0L))
            .as("n_chain_completions"))
        .crossJoin(broadcast(hop2.agg(count(lit(1)).as("n_2hop_paths"))))
        .crossJoin(broadcast(nChains))
        .select("n_2hop_paths", "n_3hop_paths", "n_chain_completions",
          "n_planted_starts")
    },
      s"""WITH e AS (
        |  SELECT
        |    CASE WHEN t % 90 < 3 THEN ((t // 90) * 10) % 1000 + (t % 90)
        |      ELSE ${duckMd5Bits("ts", "t", 6)} % 1000 END AS src,
        |    CASE WHEN t % 90 < 3 THEN ((t // 90) * 10) % 1000 + (t % 90) + 1
        |      ELSE ${duckMd5Bits("td", "t", 6)} % 1000 END AS dst,
        |    t
        |  FROM (SELECT CAST(o_orderkey AS BIGINT) AS t FROM orders) q0),
        |e2 AS (SELECT * FROM e WHERE src <> dst),
        |h2 AS (
        |  SELECT a.src AS s, a.t AS t1, b.dst AS mid2, b.t AS t2
        |  FROM e2 a JOIN e2 b ON b.src = a.dst AND b.t > a.t AND b.t <= a.t + 5),
        |h3 AS (
        |  SELECT h2.s, c.dst AS d3, h2.t1
        |  FROM h2 JOIN e2 c ON c.src = h2.mid2 AND c.t > h2.t2 AND c.t <= h2.t2 + 5)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM h2) AS n_2hop_paths,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM h3) AS n_3hop_paths,
        |  (SELECT CAST(SUM(CASE WHEN d3 = s + 3 THEN 1 ELSE 0 END) AS BIGINT) FROM h3) AS n_chain_completions,
        |  (SELECT CAST(SUM(CASE WHEN t % 90 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM e2) AS n_planted_starts""".stripMargin),

    // Demand-censoring audit — the stockout bias a forecaster must
    // quantify before trusting sales as demand: planted daily demand
    // (md5 % 40 + 10·class) against a fixed shelf stock of 35, observed
    // sales = min(demand, stock). Graded per class with the TRUE demand
    // in hand: true vs observed mass, censored-day census, bias ppm —
    // the spec asserts the bias grows with the planted demand level (the
    // higher class stocks out more) and the uncensored class reads
    // nearly unbiased.
    Op("agg_demand_censoring", (s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("p"))
        .withColumn("cls", (col("p") % 3).cast("int"))
        .withColumn("t", explode(expr("sequence(0, 23)")))
        .withColumn("demand", expr(
          s"${md5Bits("concat('dm:', CAST(p AS STRING), ':', CAST(t AS STRING))", 6)} % 40") + col("cls") * 10L)
        .withColumn("sales", least(col("demand"), lit(35L)))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_days"),
          sum("demand").as("true_mass"),
          sum("sales").as("observed_mass"),
          sum(when(col("demand") >= 35L, 1L).otherwise(0L)).as("censored_days"))
        .withColumn("bias_ppm", expr(
          "((true_mass - observed_mass) * 1000000) DIV true_mass"))
        .orderBy("cls")
    },
      s"""WITH obs AS (
        |  SELECT p, cls, t,
        |    ${duckMd5Bits("'dm:' || CAST(p AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 40
        |      + cls * 10 AS demand
        |  FROM (SELECT CAST(p_partkey AS BIGINT) AS p,
        |      CAST(p_partkey % 3 AS INT) AS cls FROM part) q,
        |    generate_series(0, 23) AS g(t)),
        |x AS (SELECT cls, demand, LEAST(demand, 35) AS sales FROM obs),
        |r AS (
        |  SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(demand) AS BIGINT) AS true_mass,
        |    CAST(SUM(sales) AS BIGINT) AS observed_mass,
        |    CAST(SUM(CASE WHEN demand >= 35 THEN 1 ELSE 0 END) AS BIGINT) AS censored_days
        |  FROM x GROUP BY 1)
        |SELECT cls, n_days, true_mass, observed_mass, censored_days,
        |  ((true_mass - observed_mass) * 1000000) // true_mass AS bias_ppm
        |FROM r ORDER BY cls""".stripMargin),

    // Four-eyes / segregation-of-duties audit — the governance screen an
    // approval ledger passes: requester and approver ids with team =
    // id DIV 10; planted self-approvals (1-in-41) and same-team
    // approvals (1-in-43, adjacent id), background approvers md5-random
    // (≈1-in-20 land same-team by chance — the honest surplus). Rule R1
    // (approver == requester) fires EXACTLY on its plant; R2 (same team,
    // different id) fires on its plant plus the chance mass. Graded per
    // cohort with both planted censuses alongside.
    Op("join_four_eyes", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("req", col("k") % 200L)
        .withColumn("appr", expr(
          s"""CASE WHEN k % 41 = 3 THEN k % 200
            | WHEN k % 43 = 5 THEN (k % 200) - (k % 200) % 10 + ((k % 200) + 1) % 10
            | ELSE ${md5Bits("ap", "k", 6)} % 200
            | END""".stripMargin))
        .withColumn("r1", col("req") === col("appr"))
        .withColumn("r2", expr("req DIV 10 = appr DIV 10") && col("req") =!= col("appr"))
      t.groupBy((col("k") % 4).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_approvals"),
          sum(when(col("r1"), 1L).otherwise(0L)).as("r1_violations"),
          sum(when(col("r2"), 1L).otherwise(0L)).as("r2_violations"),
          sum(when(col("k") % 41 === 3, 1L).otherwise(0L)).as("planted_r1"),
          sum(when(col("k") % 43 === 5 && col("k") % 41 =!= 3, 1L).otherwise(0L))
            .as("planted_r2"))
        .orderBy("cohort")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderkey % 200 AS req,
        |    CASE WHEN o_orderkey % 41 = 3 THEN o_orderkey % 200
        |      WHEN o_orderkey % 43 = 5
        |        THEN (o_orderkey % 200) - (o_orderkey % 200) % 10 + ((o_orderkey % 200) + 1) % 10
        |      ELSE ${duckMd5Bits("ap", "o_orderkey", 6)} % 200
        |    END AS appr
        |  FROM orders)
        |SELECT CAST(k % 4 AS INT) AS cohort,
        |  CAST(COUNT(*) AS BIGINT) AS n_approvals,
        |  CAST(SUM(CASE WHEN req = appr THEN 1 ELSE 0 END) AS BIGINT) AS r1_violations,
        |  CAST(SUM(CASE WHEN req // 10 = appr // 10 AND req <> appr THEN 1 ELSE 0 END) AS BIGINT) AS r2_violations,
        |  CAST(SUM(CASE WHEN k % 41 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS planted_r1,
        |  CAST(SUM(CASE WHEN k % 43 = 5 AND k % 41 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS planted_r2
        |FROM t GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Embedding-snapshot drift monitor — warehouse_schema_drift's twin
    // for the vector column: snapshot B carries a planted +0.05 shift on
    // dims 0–7 of every even vector; per-dim means in exact micro
    // integers (floor(x·10⁶) sums), delta = meanB − meanA is EXACTLY
    // zero on unshifted dims (same vectors) and ≈ +25000 µ on shifted
    // ones — flag |delta| > 20000. Graded per 8-dim block: flagged dims
    // (block 0 → 8, rest → 0, exactly), |delta| mass. One posexplode +
    // two rollups.
    Op("llm_embed_drift", (s, d) => {
      val dims = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("a", expr("CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)"))
        .withColumn("b", expr(
          "CAST(FLOOR((CAST(v AS DOUBLE) + CASE WHEN dim < 8 AND vec_id % 2 = 0 THEN 0.05 ELSE 0.0 END) * 1000000) AS BIGINT)"))
      val perDim = dims.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("a").as("sa"), sum("b").as("sb"))
        .withColumn("delta_micro", expr("(sb - sa) DIV n"))
        .withColumn("flagged", abs(col("delta_micro")) > 20000L)
      perDim.groupBy(expr("CAST(dim DIV 8 AS INT)").as("dim_block"))
        .agg(count(lit(1)).as("n_dims"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          sum(abs(col("delta_micro"))).as("abs_delta_mass"))
        .orderBy("dim_block")
    },
      """WITH pos AS (SELECT CAST(i AS BIGINT) AS dim FROM generate_series(0, 63) AS t(i)),
        |dims AS (
        |  SELECT e.vec_id, p.dim,
        |    CAST(FLOOR(CAST(e.embedding[p.dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS a,
        |    CAST(FLOOR((CAST(e.embedding[p.dim + 1] AS DOUBLE)
        |      + CASE WHEN p.dim < 8 AND e.vec_id % 2 = 0 THEN 0.05 ELSE 0.0 END) * 1000000) AS BIGINT) AS b
        |  FROM embeddings e, pos p WHERE p.dim + 1 <= len(e.embedding)),
        |per AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb
        |  FROM dims GROUP BY 1),
        |x AS (
        |  SELECT dim, (sb - sa) // n AS delta_micro FROM per)
        |SELECT CAST(dim // 8 AS INT) AS dim_block,
        |  CAST(COUNT(*) AS BIGINT) AS n_dims,
        |  CAST(SUM(CASE WHEN abs(delta_micro) > 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(abs(delta_micro)) AS BIGINT) AS abs_delta_mass
        |FROM x GROUP BY 1 ORDER BY dim_block""".stripMargin),

    // Max-min fair allocation (water-filling) — the per-pool quota
    // division a multi-tenant service computes: tenants sorted by
    // demand, the satisfied prefix takes its demand, the rest split the
    // remaining capacity at the fair level θ = (C − satisfied mass) DIV
    // n_unsatisfied — all via per-pool windows, no iteration; C = 250
    // per tenant so the class split survives every scale factor. Pools
    // with total demand ≤ C satisfy everyone; overloaded pools never
    // exceed C (floor guarantees Σ alloc ≤ C). Graded per pool-load
    // class: demand/alloc masses, satisfied/throttled censuses.
    Op("service_maxmin_fair", (s, d) => {
      val ten = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("tn"))
        .withColumn("pool", col("tn") % 40L)
        .withColumn("cls", (col("pool") % 2).cast("int"))
        // even pools stay under the 1000 capacity, odd pools overload
        .withColumn("dem", expr(
          s"${md5Bits("mf", "tn", 6)} % (120 + (pool % 2) * 400) + 20"))
      val wP = Window.partitionBy("pool").orderBy("dem", "tn")
      val ranked = ten
        .withColumn("rn", row_number().over(wP))
        .withColumn("cum", sum("dem").over(
          wP.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("pool")))
        // capacity rides the pool population (250 per tenant) so the
        // under/over class split is scale-invariant: even pools (demand
        // ≤ 139 < 250) can NEVER overload, odd pools (mean ≈ 280) do
        .withColumn("cap", col("cnt") * 250L)
        .withColumn("level", expr("(cap - (cum - dem)) DIV (cnt - rn + 1)"))
        .withColumn("satisfied", col("dem") <= col("level"))
      val poolTheta = ranked.groupBy("pool")
        .agg(max("cap").as("cap"),
          sum(when(col("satisfied"), col("dem")).otherwise(0L)).as("sat_mass"),
          sum(when(!col("satisfied"), 1L).otherwise(0L)).as("n_unsat"))
        .withColumn("theta", expr(
          "CASE WHEN n_unsat > 0 THEN (cap - sat_mass) DIV n_unsat ELSE 0 END"))
      ranked.join(broadcast(poolTheta.select("pool", "theta")), Seq("pool"))
        .withColumn("alloc",
          when(col("satisfied"), col("dem")).otherwise(col("theta")))
        .groupBy("cls")
        .agg(countDistinct("pool").as("n_pools"),
          count(lit(1)).as("n_tenants"),
          sum("dem").as("demand_mass"),
          sum("alloc").as("alloc_mass"),
          sum(when(col("satisfied"), 1L).otherwise(0L)).as("n_satisfied"),
          sum(when(!col("satisfied"), 1L).otherwise(0L)).as("n_throttled"))
        .orderBy("cls")
    },
      s"""WITH ten AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS tn, c_custkey % 40 AS pool,
        |    CAST((c_custkey % 40) % 2 AS INT) AS cls,
        |    ${duckMd5Bits("mf", "c_custkey", 6)}
        |      % (120 + ((c_custkey % 40) % 2) * 400) + 20 AS dem
        |  FROM customer),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY pool ORDER BY dem, tn) AS rn,
        |    CAST(SUM(dem) OVER (PARTITION BY pool ORDER BY dem, tn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    COUNT(*) OVER (PARTITION BY pool) AS cnt
        |  FROM ten),
        |lv AS (
        |  SELECT *, cnt * 250 AS cap,
        |    (cnt * 250 - (cum - dem)) // (cnt - rn + 1) AS level
        |  FROM ranked),
        |sf AS (SELECT *, dem <= level AS satisfied FROM lv),
        |pt AS (
        |  SELECT pool, MAX(cap) AS cap,
        |    CAST(SUM(CASE WHEN satisfied THEN dem ELSE 0 END) AS BIGINT) AS sat_mass,
        |    CAST(SUM(CASE WHEN NOT satisfied THEN 1 ELSE 0 END) AS BIGINT) AS n_unsat
        |  FROM sf GROUP BY 1),
        |th AS (SELECT pool,
        |    CASE WHEN n_unsat > 0 THEN (cap - sat_mass) // n_unsat ELSE 0 END AS theta
        |  FROM pt),
        |al AS (
        |  SELECT sf.cls, sf.pool, sf.dem, sf.satisfied,
        |    CASE WHEN sf.satisfied THEN sf.dem ELSE th.theta END AS alloc
        |  FROM sf JOIN th ON th.pool = sf.pool)
        |SELECT cls, CAST(COUNT(DISTINCT pool) AS BIGINT) AS n_pools,
        |  CAST(COUNT(*) AS BIGINT) AS n_tenants,
        |  CAST(SUM(dem) AS BIGINT) AS demand_mass,
        |  CAST(SUM(alloc) AS BIGINT) AS alloc_mass,
        |  CAST(SUM(CASE WHEN satisfied THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
        |  CAST(SUM(CASE WHEN NOT satisfied THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled
        |FROM al GROUP BY 1 ORDER BY cls""".stripMargin),

    // T+2 settlement-fail ageing — the fails ledger a custodian reports
    // (CSDR-style): each trade settles two days after trade date unless
    // it fails; a failed attempt retries next day, and four consecutive
    // fails trigger a buy-in. Per-attempt fail draws are md5 with a
    // class-planted rate (30% vs 60%), the leading-fail run is a closed
    // CASE chain (bounded 4 — no iteration). Graded per counterparty
    // class: on-time census, delay-day mass, age histogram, buy-ins —
    // the spec asserts the high-fail class ages worse at every bucket.
    Op("agg_settlement_fails", (s, d) => {
      def fail(j: Int) =
        s"(${md5Bits(s"sf$j", "k", 6)} % 10 < 3 + 3 * (k % 2))"
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("cp_cls", (col("k") % 2).cast("int"))
        .withColumn("delay", expr(
          s"""CASE WHEN NOT ${fail(1)} THEN 0
             | WHEN NOT ${fail(2)} THEN 1
             | WHEN NOT ${fail(3)} THEN 2
             | WHEN NOT ${fail(4)} THEN 3
             | ELSE 4 END""".stripMargin))
        .withColumn("buy_in", col("delay") === 4L)
      t.groupBy("cp_cls")
        .agg(count(lit(1)).as("n_trades"),
          sum(when(col("delay") === 0L, 1L).otherwise(0L)).as("n_on_time"),
          sum("delay").as("delay_day_mass"),
          sum(when(col("delay") === 1L, 1L).otherwise(0L)).as("age1"),
          sum(when(col("delay") === 2L, 1L).otherwise(0L)).as("age2"),
          sum(when(col("delay") === 3L, 1L).otherwise(0L)).as("age3"),
          sum(when(col("buy_in"), 1L).otherwise(0L)).as("n_buy_ins"))
        .orderBy("cp_cls")
    },
      {
      def fail(j: Int) =
        s"(${duckMd5Bits(s"sf$j", "k", 6)} % 10 < 3 + 3 * (k % 2))"
      s"""WITH t AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS k,
         |    CAST(o_orderkey % 2 AS INT) AS cp_cls
         |  FROM orders),
         |x AS (
         |  SELECT k, cp_cls,
         |    CASE WHEN NOT ${fail(1)} THEN 0
         |      WHEN NOT ${fail(2)} THEN 1
         |      WHEN NOT ${fail(3)} THEN 2
         |      WHEN NOT ${fail(4)} THEN 3
         |      ELSE 4 END AS delay
         |  FROM t)
         |SELECT cp_cls, CAST(COUNT(*) AS BIGINT) AS n_trades,
         |  CAST(SUM(CASE WHEN delay = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
         |  CAST(SUM(delay) AS BIGINT) AS delay_day_mass,
         |  CAST(SUM(CASE WHEN delay = 1 THEN 1 ELSE 0 END) AS BIGINT) AS age1,
         |  CAST(SUM(CASE WHEN delay = 2 THEN 1 ELSE 0 END) AS BIGINT) AS age2,
         |  CAST(SUM(CASE WHEN delay = 3 THEN 1 ELSE 0 END) AS BIGINT) AS age3,
         |  CAST(SUM(CASE WHEN delay = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_buy_ins
         |FROM x GROUP BY 1 ORDER BY cp_cls""".stripMargin
    }),

    // BIC (ISO 9362) structural validation — the counterparty-id gate
    // beside IBAN/ABA/ISIN: BICs synthesized from md5 letters with a
    // country code from the k%5 wheel (the fifth value 'XX' is a planted
    // non-member) and a 1-in-9 lowercase corruption that breaks the
    // [A-Z0-9] form; validity = structural regex AND country membership.
    // Both planted censuses are caught exactly. Projection + rollup.
    Op("fn_bic_validate", (s, d) => {
      def ch(i: Int) =
        s"chr(65 + ${md5Bits("concat('bc:', CAST(k AS STRING))", 2, i)} % 26)"
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("country", expr(
          "element_at(array('US', 'GB', 'DE', 'FR', 'XX'), CAST(k % 5 AS INT) + 1)"))
        .withColumn("bank", expr(s"concat(${ch(1)}, ${ch(3)}, ${ch(5)}, ${ch(7)})"))
        .withColumn("loc", expr(
          s"lpad(CAST(${md5Bits("bl", "k", 4)} % 100 AS STRING), 2, '0')"))
        .withColumn("bic0", concat(col("bank"), col("country"), col("loc")))
        .withColumn("bic", when(col("k") % 9 === 4,
          concat(lower(substring(col("bic0"), 1, 1)), substring(col("bic0"), 2, 7)))
          .otherwise(col("bic0")))
        .withColumn("form_ok", col("bic").rlike("^[A-Z]{4}[A-Z]{2}[A-Z0-9]{2}$"))
        .withColumn("country_ok", col("country").isin("US", "GB", "DE", "FR"))
        .withColumn("valid", col("form_ok") && col("country_ok"))
      t.groupBy((col("k") % 3).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_bics"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(!col("form_ok"), 1L).otherwise(0L)).as("n_bad_form"),
          sum(when(!col("country_ok"), 1L).otherwise(0L)).as("n_bad_country"),
          sum(when(col("k") % 9 === 4, 1L).otherwise(0L)).as("planted_form"),
          sum(when(col("k") % 5 === 4, 1L).otherwise(0L)).as("planted_country"))
        .orderBy("cohort")
    },
      {
      def ch(i: Int) =
        s"chr(65 + CAST(${duckMd5Bits("'bc:' || CAST(k AS VARCHAR)", 2, i)} % 26 AS INT))"
      s"""WITH t AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
         |b AS (
         |  SELECT k,
         |    (['US', 'GB', 'DE', 'FR', 'XX'])[CAST(k % 5 AS INT) + 1] AS country,
         |    ${ch(1)} || ${ch(3)} || ${ch(5)} || ${ch(7)} AS bank,
         |    lpad(CAST(${duckMd5Bits("bl", "k", 4)} % 100 AS VARCHAR), 2, '0') AS loc
         |  FROM t),
         |c AS (SELECT k, country, bank || country || loc AS bic0 FROM b),
         |e AS (
         |  SELECT k, country,
         |    CASE WHEN k % 9 = 4
         |      THEN lower(substring(bic0, 1, 1)) || substring(bic0, 2, 7)
         |      ELSE bic0 END AS bic
         |  FROM c),
         |v AS (
         |  SELECT k,
         |    regexp_matches(bic, '^[A-Z]{4}[A-Z]{2}[A-Z0-9]{2}$$') AS form_ok,
         |    country IN ('US', 'GB', 'DE', 'FR') AS country_ok
         |  FROM e)
         |SELECT CAST(k % 3 AS INT) AS cohort,
         |  CAST(COUNT(*) AS BIGINT) AS n_bics,
         |  CAST(SUM(CASE WHEN form_ok AND country_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         |  CAST(SUM(CASE WHEN NOT form_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_form,
         |  CAST(SUM(CASE WHEN NOT country_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_country,
         |  CAST(SUM(CASE WHEN k % 9 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS planted_form,
         |  CAST(SUM(CASE WHEN k % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS planted_country
         |FROM v GROUP BY 1 ORDER BY cohort""".stripMargin
    }),

    // Mean reciprocal rank — the retrieval-eval summary the recall@k /
    // NDCG family still lacked: each query's first relevant document
    // lands at a planted md5 rank (retriever A uniform 1..20, retriever
    // B boosted into 1..8 for 70% of queries — strictly better), per-item
    // reciprocal rank as exact floor(10⁶/r), masses summed per class.
    // The wave spec asserts B's MRR mass beats A's on every class and
    // rank-1 hits bound the mass from above.
    Op("llm_retriever_ab_mrr", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 3).cast("int"))
        .withColumn("ra", expr(
          s"${md5Bits("ma", "k", 6)} % 20 + 1"))
        .withColumn("rb", expr(
          s"""CASE WHEN ${md5Bits("mb", "k", 6)} % 10 < 7
            | THEN ${md5Bits("mc", "k", 6)} % 8 + 1
            | ELSE ${md5Bits("mc", "k", 6)} % 20 + 1
            | END""".stripMargin))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_queries"),
          sum(expr("1000000 DIV ra")).as("mrr_a_mass"),
          sum(expr("1000000 DIV rb")).as("mrr_b_mass"),
          sum(when(col("ra") === 1L, 1L).otherwise(0L)).as("a_at_1"),
          sum(when(col("rb") === 1L, 1L).otherwise(0L)).as("b_at_1"))
        .orderBy("cls")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey % 3 AS INT) AS cls,
        |    ${duckMd5Bits("ma", "o_orderkey", 6)} % 20 + 1 AS ra,
        |    CASE WHEN ${duckMd5Bits("mb", "o_orderkey", 6)} % 10 < 7
        |      THEN ${duckMd5Bits("mc", "o_orderkey", 6)} % 8 + 1
        |      ELSE ${duckMd5Bits("mc", "o_orderkey", 6)} % 20 + 1
        |    END AS rb
        |  FROM orders)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(SUM(1000000 // ra) AS BIGINT) AS mrr_a_mass,
        |  CAST(SUM(1000000 // rb) AS BIGINT) AS mrr_b_mass,
        |  CAST(SUM(CASE WHEN ra = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_at_1,
        |  CAST(SUM(CASE WHEN rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b_at_1
        |FROM t GROUP BY 1 ORDER BY cls""".stripMargin),

    // RPC deadline propagation — the budget arithmetic a 3-tier call
    // chain runs (gateway → service → db): overall deadline 800 ms, each
    // hop's effective deadline = min(its local limit 400/350/300,
    // remaining budget), md5 latencies with a 1-in-20 +400 ms tail at
    // every tier, first timeout aborts the chain. One closed CASE chain
    // (no iteration). Graded per cohort: outcome censuses + success
    // latency mass — the spec asserts the db tier (thinnest residual
    // budget) times out the most.
    Op("service_deadline_budgets", (s, d) => {
      def lat(salt: String, base: Int, w: Int) =
        s"""(${md5Bits(s"concat('$salt', CAST(k AS STRING))", 6)} % $w + $base
           | + (CASE WHEN ${md5Bits(s"concat('${salt}t', CAST(k AS STRING))", 6)} % 20 = 0
           |    THEN 400 ELSE 0 END))""".stripMargin
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("lg", expr(lat("dg:", 50, 150)))
        .withColumn("ls", expr(lat("ds:", 50, 200)))
        .withColumn("ldb", expr(lat("dd:", 50, 300)))
        .withColumn("eg", least(lit(400L), lit(800L)))
        .withColumn("es", least(lit(350L), lit(800L) - col("lg")))
        .withColumn("edb", least(lit(300L), lit(800L) - col("lg") - col("ls")))
        .withColumn("outcome", expr(
          """CASE WHEN lg > eg THEN 'timeout_gw'
            | WHEN ls > es THEN 'timeout_svc'
            | WHEN ldb > edb THEN 'timeout_db'
            | ELSE 'ok' END""".stripMargin))
      t.groupBy((col("k") % 3).cast("int").as("cohort"))
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("outcome") === "ok", 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("outcome") === "timeout_gw", 1L).otherwise(0L)).as("n_timeout_gw"),
          sum(when(col("outcome") === "timeout_svc", 1L).otherwise(0L)).as("n_timeout_svc"),
          sum(when(col("outcome") === "timeout_db", 1L).otherwise(0L)).as("n_timeout_db"),
          sum(when(col("outcome") === "ok", col("lg") + col("ls") + col("ldb"))
            .otherwise(0L)).as("ok_latency_mass"))
        .orderBy("cohort")
    },
      {
      def lat(salt: String, base: Int, w: Int) =
        s"""(${duckMd5Bits(s"'$salt' || CAST(k AS VARCHAR)", 6)} % $w + $base
           | + (CASE WHEN ${duckMd5Bits(s"'${salt}t' || CAST(k AS VARCHAR)", 6)} % 20 = 0
           |    THEN 400 ELSE 0 END))""".stripMargin
      s"""WITH t AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS k,
         |    ${lat("dg:", 50, 150)} AS lg,
         |    ${lat("ds:", 50, 200)} AS ls,
         |    ${lat("dd:", 50, 300)} AS ldb
         |  FROM orders),
         |x AS (
         |  SELECT k, lg, ls, ldb,
         |    CASE WHEN lg > LEAST(400, 800) THEN 'timeout_gw'
         |      WHEN ls > LEAST(350, 800 - lg) THEN 'timeout_svc'
         |      WHEN ldb > LEAST(300, 800 - lg - ls) THEN 'timeout_db'
         |      ELSE 'ok' END AS outcome
         |  FROM t)
         |SELECT CAST(k % 3 AS INT) AS cohort,
         |  CAST(COUNT(*) AS BIGINT) AS n_requests,
         |  CAST(SUM(CASE WHEN outcome = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
         |  CAST(SUM(CASE WHEN outcome = 'timeout_gw' THEN 1 ELSE 0 END) AS BIGINT) AS n_timeout_gw,
         |  CAST(SUM(CASE WHEN outcome = 'timeout_svc' THEN 1 ELSE 0 END) AS BIGINT) AS n_timeout_svc,
         |  CAST(SUM(CASE WHEN outcome = 'timeout_db' THEN 1 ELSE 0 END) AS BIGINT) AS n_timeout_db,
         |  CAST(SUM(CASE WHEN outcome = 'ok' THEN lg + ls + ldb ELSE 0 END) AS BIGINT) AS ok_latency_mass
         |FROM x GROUP BY 1 ORDER BY cohort""".stripMargin
    }),

    // Erlang C — the wait-probability the staffing calculator needs
    // (agg_erlang_b blocks, C queues): c = class+2 servers at utilization
    // ρ = 0.7 exactly (A = 700·c milli-erlangs), the whole formula
    // cleared to integers by c!·1000^c (T_k = A^k·(c!/k!)·1000^(c−k),
    // all ≤ 5.3·10¹⁷; the final P_wait division cross-multiplies in
    // DECIMAL(38,0)/HUGEINT). Graded per class: P_wait ppm and the mean
    // wait factor — the spec asserts the POOLING law: more servers at
    // the same utilization wait strictly less.
    Op("agg_erlang_c", (s, d) => {
      val t = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("m"))
        .withColumn("cls", (col("m") % 4).cast("int"))
        .withColumn("c", col("cls") + 2L)
        .withColumn("a", col("c") * 700L) // milli-erlangs, rho = 0.7
        .withColumn("sumt", expr(
          // Σ_{k<c} T_k with T_k = a^k · (c!/k!) · 1000^(c−k), c ≤ 5
          """CASE c
            | WHEN 2 THEN 2000000 + a * 2000
            | WHEN 3 THEN 6000000000 + a * 6000000 + a * a * 3000
            | WHEN 4 THEN 24000000000000 + a * 24000000000 + a * a * 12000000 + a * a * a * 4000
            | WHEN 5 THEN 120000000000000000 + a * 120000000000000 + a * a * 60000000000
            |   + a * a * a * 20000000 + a * a * a * a * 5000
            | END""".stripMargin))
        .withColumn("tc", expr(
          "CASE c WHEN 2 THEN a * a WHEN 3 THEN a * a * a WHEN 4 THEN a * a * a * a ELSE a * a * a * a * a END"))
        .withColumn("pwait_ppm", expr(
          """CAST((CAST(1000 AS DECIMAL(38,0)) * tc * 1000000)
            | DIV (CAST(300 AS DECIMAL(38,0)) * sumt + CAST(1000 AS DECIMAL(38,0)) * tc) AS BIGINT)""".stripMargin))
        .withColumn("wq_factor_ppm", expr("(pwait_ppm * 1000) DIV (c * 300)"))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_pools"), max("c").as("c_servers"),
          max("a").as("a_milli"), max("pwait_ppm").as("pwait_ppm"),
          max("wq_factor_ppm").as("wq_factor_ppm"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS m,
        |    CAST(s_suppkey % 4 AS INT) AS cls,
        |    CAST(s_suppkey % 4 + 2 AS BIGINT) AS c,
        |    (s_suppkey % 4 + 2) * 700 AS a
        |  FROM supplier),
        |x AS (
        |  SELECT m, cls, c, a,
        |    CASE c
        |      WHEN 2 THEN 2000000 + a * 2000
        |      WHEN 3 THEN 6000000000 + a * 6000000 + a * a * 3000
        |      WHEN 4 THEN 24000000000000 + a * 24000000000 + a * a * 12000000 + a * a * a * 4000
        |      WHEN 5 THEN 120000000000000000 + a * 120000000000000 + a * a * 60000000000
        |        + a * a * a * 20000000 + a * a * a * a * 5000
        |    END AS sumt,
        |    CASE c WHEN 2 THEN a * a WHEN 3 THEN a * a * a
        |      WHEN 4 THEN a * a * a * a ELSE a * a * a * a * a END AS tc
        |  FROM t),
        |p AS (
        |  SELECT m, cls, c, a,
        |    CAST((CAST(1000 AS HUGEINT) * tc * 1000000)
        |      // (CAST(300 AS HUGEINT) * sumt + CAST(1000 AS HUGEINT) * tc) AS BIGINT) AS pwait_ppm
        |  FROM x),
        |w AS (SELECT *, (pwait_ppm * 1000) // (c * 300) AS wq_factor_ppm FROM p)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_pools,
        |  CAST(MAX(c) AS BIGINT) AS c_servers, CAST(MAX(a) AS BIGINT) AS a_milli,
        |  CAST(MAX(pwait_ppm) AS BIGINT) AS pwait_ppm,
        |  CAST(MAX(wq_factor_ppm) AS BIGINT) AS wq_factor_ppm
        |FROM w GROUP BY 1 ORDER BY cls""".stripMargin),

    // Order-book imbalance signal — the microstructure screen beside
    // agg_ohlc_candles: per (symbol, tick) md5 bid/ask depths, planted
    // next-move direction agreeing with the imbalance sign 7 times in
    // 10; the lead window grades the signal's hit rate in exact ppm
    // (≈ 700000 by construction) beside the depth masses. Per-symbol
    // windows, linear.
    Op("win_orderbook_imbalance", (s, d) => {
      val wS = Window.partitionBy("m").orderBy("t")
      val t = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("m"))
        .withColumn("cls", (col("m") % 2).cast("int"))
        .withColumn("t", explode(expr("sequence(0, 23)")))
        .withColumn("bid", expr(
          s"${md5Bits("concat('ob:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 900 + 100"))
        .withColumn("ask", expr(
          s"${md5Bits("concat('oa:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 900 + 100"))
        .withColumn("imb_sign", expr(
          "CASE WHEN bid > ask THEN 1 WHEN bid < ask THEN -1 ELSE 0 END"))
        .withColumn("agree", expr(
          s"${md5Bits("concat('om:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 10 < 7"))
        .withColumn("next_move", expr(
          "CASE WHEN agree THEN imb_sign ELSE -imb_sign END"))
      val scored = t
        .withColumn("pred", lag("imb_sign", 1).over(wS))
        .withColumn("actual", col("next_move"))
        .withColumn("actual_prev", lag("next_move", 1).over(wS))
        .where(col("pred").isNotNull && col("pred") =!= 0)
      scored.groupBy("cls")
        .agg(count(lit(1)).as("n_signals"),
          sum(when(col("actual_prev") === col("pred"), 1L).otherwise(0L))
            .as("n_hits"),
          sum("bid").as("bid_mass"), sum("ask").as("ask_mass"))
        .withColumn("hit_ppm", expr("(n_hits * 1000000) DIV n_signals"))
        .orderBy("cls")
    },
      s"""WITH t AS (
        |  SELECT m, cls, t,
        |    ${duckMd5Bits("'ob:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 900 + 100 AS bid,
        |    ${duckMd5Bits("'oa:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 900 + 100 AS ask,
        |    ${duckMd5Bits("'om:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 10 < 7 AS agree
        |  FROM (SELECT CAST(s_suppkey AS BIGINT) AS m,
        |      CAST(s_suppkey % 2 AS INT) AS cls FROM supplier) q,
        |    generate_series(0, 23) AS g(t)),
        |s1 AS (
        |  SELECT m, cls, t, bid, ask,
        |    CASE WHEN bid > ask THEN 1 WHEN bid < ask THEN -1 ELSE 0 END AS imb_sign,
        |    CASE WHEN agree THEN (CASE WHEN bid > ask THEN 1 WHEN bid < ask THEN -1 ELSE 0 END)
        |      ELSE -(CASE WHEN bid > ask THEN 1 WHEN bid < ask THEN -1 ELSE 0 END) END AS next_move
        |  FROM t),
        |s2 AS (
        |  SELECT m, cls, bid, ask,
        |    LAG(imb_sign, 1) OVER (PARTITION BY m ORDER BY t) AS pred,
        |    LAG(next_move, 1) OVER (PARTITION BY m ORDER BY t) AS actual_prev
        |  FROM s1),
        |f AS (SELECT * FROM s2 WHERE pred IS NOT NULL AND pred <> 0),
        |g2 AS (
        |  SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_signals,
        |    CAST(SUM(CASE WHEN actual_prev = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |    CAST(SUM(bid) AS BIGINT) AS bid_mass, CAST(SUM(ask) AS BIGINT) AS ask_mass
        |  FROM f GROUP BY 1)
        |SELECT cls, n_signals, n_hits, bid_mass, ask_mass,
        |  (n_hits * 1000000) // n_signals AS hit_ppm
        |FROM g2 ORDER BY cls""".stripMargin),

    // Garnishment priority allocation — the payroll-compliance waterfall
    // a person-service runs: up to three orders per employee (child
    // support > tax levy > creditor), allocated IN PRIORITY ORDER
    // against the 25%-of-disposable-income ceiling via one cumulative
    // window (alloc = min(amount, remaining ceiling)). Graded per
    // priority class: orders, requested vs allocated mass, shortfall,
    // fully-paid census — the spec asserts seniority (child support
    // never shorts while a junior class collects) and the ceiling is
    // never exceeded.
    Op("join_garnishment_priority", (s, d) => {
      val emp = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("di", expr(
          s"${md5Bits("gd", "k", 6)} % 3000 + 1000"))
        .withColumn("ceiling", expr("(di * 25) DIV 100"))
      val orders = emp
        .withColumn("pri", explode(expr("sequence(1, 3)")))
        .where(expr(
          s"${md5Bits("concat('go:', CAST(k AS STRING), ':', CAST(pri AS STRING))", 6)} % 10 < 6"))
        .withColumn("amount", expr(
          s"${md5Bits("concat('ga:', CAST(k AS STRING), ':', CAST(pri AS STRING))", 6)} % 400 + 50"))
      val wP = Window.partitionBy("k").orderBy("pri")
      val alloc = orders
        .withColumn("cum_before", coalesce(sum("amount").over(
          wP.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("alloc", greatest(lit(0L),
          least(col("amount"), col("ceiling") - col("cum_before"))))
      alloc.groupBy(col("pri").cast("int").as("pri"))
        .agg(count(lit(1)).as("n_orders"),
          sum("amount").as("requested_mass"),
          sum("alloc").as("allocated_mass"),
          sum(col("amount") - col("alloc")).as("shortfall_mass"),
          sum(when(col("alloc") === col("amount"), 1L).otherwise(0L))
            .as("n_fully_paid"))
        .orderBy("pri")
    },
      s"""WITH emp AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    (${duckMd5Bits("gd", "c_custkey", 6)} % 3000 + 1000) AS di
        |  FROM customer),
        |e2 AS (SELECT k, (di * 25) // 100 AS ceiling FROM emp),
        |ords AS (
        |  SELECT e2.k, e2.ceiling, g.pri,
        |    ${duckMd5Bits("'ga:' || CAST(e2.k AS VARCHAR) || ':' || CAST(g.pri AS VARCHAR)", 6)} % 400 + 50 AS amount
        |  FROM e2, generate_series(1, 3) AS g(pri)
        |  WHERE ${duckMd5Bits("'go:' || CAST(e2.k AS VARCHAR) || ':' || CAST(g.pri AS VARCHAR)", 6)} % 10 < 6),
        |al AS (
        |  SELECT k, pri, amount, ceiling,
        |    CAST(coalesce(SUM(amount) OVER (PARTITION BY k ORDER BY pri
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM ords),
        |x AS (
        |  SELECT pri, amount,
        |    GREATEST(0, LEAST(amount, ceiling - cum_before)) AS alloc
        |  FROM al)
        |SELECT CAST(pri AS INT) AS pri, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(amount) AS BIGINT) AS requested_mass,
        |  CAST(SUM(alloc) AS BIGINT) AS allocated_mass,
        |  CAST(SUM(amount - alloc) AS BIGINT) AS shortfall_mass,
        |  CAST(SUM(CASE WHEN alloc = amount THEN 1 ELSE 0 END) AS BIGINT) AS n_fully_paid
        |FROM x GROUP BY 1 ORDER BY pri""".stripMargin),

    // VWAP execution quality — the best-execution report a broker files:
    // 24 market ticks per parent order (md5 prices around 100.00, md5
    // volumes), the child executes on 8 ticks — class 0 picks uniformly,
    // class 1 is PLANTED to execute only on the top-half price ranks
    // (bad for a buyer). Market and execution VWAPs carried as exact
    // (Σp·v, Σv) masses; the slippage verdict is the cross-multiplied
    // integer comparison (no division anywhere). The spec asserts class
    // 1 executes above market VWAP on nearly every order and class 0
    // splits.
    Op("win_vwap_execution", (s, d) => {
      val wR = Window.partitionBy("m").orderBy(desc("p"), col("t"))
      val ticks = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("m"))
        .withColumn("cls", (col("m") % 2).cast("int"))
        .withColumn("t", explode(expr("sequence(0, 23)")))
        .withColumn("p", expr(
          s"10000 + ${md5Bits("concat('vp:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 200 - 100"))
        .withColumn("v", expr(
          s"${md5Bits("concat('vv:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 900 + 100"))
        .withColumn("prank", row_number().over(wR))
        .withColumn("pick", expr(
          s"${md5Bits("concat('vx:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 3 = 0"))
        .withColumn("execd",
          when(col("cls") === 1, col("pick") && col("prank") <= 12)
            .otherwise(col("pick")))
        .withColumn("ev", when(col("execd"), expr(
          s"${md5Bits("concat('ve:', CAST(m AS STRING), ':', CAST(t AS STRING))", 6)} % 90 + 10"))
          .otherwise(lit(0L)))
      val per = ticks.groupBy("m", "cls")
        .agg(sum(expr("p * v")).as("pv_mkt"), sum("v").as("v_mkt"),
          sum(expr("p * ev")).as("pv_exec"), sum("ev").as("v_exec"))
        .where(col("v_exec") > 0)
        .withColumn("above_mkt", expr("pv_exec * v_mkt > pv_mkt * v_exec"))
      per.groupBy("cls")
        .agg(count(lit(1)).as("n_orders"),
          sum("pv_mkt").as("pv_mkt_mass"), sum("v_mkt").as("v_mkt_mass"),
          sum("pv_exec").as("pv_exec_mass"), sum("v_exec").as("v_exec_mass"),
          sum(when(col("above_mkt"), 1L).otherwise(0L)).as("n_above_mkt"))
        .orderBy("cls")
    },
      s"""WITH ticks AS (
        |  SELECT m, cls, t,
        |    10000 + ${duckMd5Bits("'vp:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 200 - 100 AS p,
        |    ${duckMd5Bits("'vv:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 900 + 100 AS v,
        |    ${duckMd5Bits("'vx:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 3 = 0 AS pick,
        |    ${duckMd5Bits("'ve:' || CAST(m AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 90 + 10 AS ev0
        |  FROM (SELECT CAST(s_suppkey AS BIGINT) AS m,
        |      CAST(s_suppkey % 2 AS INT) AS cls FROM supplier) q,
        |    generate_series(0, 23) AS g(t)),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY m ORDER BY p DESC, t) AS prank
        |  FROM ticks),
        |ex AS (
        |  SELECT m, cls, p, v,
        |    CASE WHEN (CASE WHEN cls = 1 THEN pick AND prank <= 12 ELSE pick END)
        |      THEN ev0 ELSE 0 END AS ev
        |  FROM rk),
        |per AS (
        |  SELECT m, cls, CAST(SUM(p * v) AS BIGINT) AS pv_mkt,
        |    CAST(SUM(v) AS BIGINT) AS v_mkt,
        |    CAST(SUM(p * ev) AS BIGINT) AS pv_exec,
        |    CAST(SUM(ev) AS BIGINT) AS v_exec
        |  FROM ex GROUP BY 1, 2),
        |f AS (SELECT *, pv_exec * v_mkt > pv_mkt * v_exec AS above_mkt
        |  FROM per WHERE v_exec > 0)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(pv_mkt) AS BIGINT) AS pv_mkt_mass,
        |  CAST(SUM(v_mkt) AS BIGINT) AS v_mkt_mass,
        |  CAST(SUM(pv_exec) AS BIGINT) AS pv_exec_mass,
        |  CAST(SUM(v_exec) AS BIGINT) AS v_exec_mass,
        |  CAST(SUM(CASE WHEN above_mkt THEN 1 ELSE 0 END) AS BIGINT) AS n_above_mkt
        |FROM f GROUP BY 1 ORDER BY cls""".stripMargin),

    // SSN structural validation — the US person-service intake gate:
    // area 001–899 excluding 666, group 01–99, serial 0001–9999, with
    // four DISJOINT planted defect classes on the k%23 wheel (area 666,
    // area 9xx, group 00, serial 0000); base md5 digits are drawn valid
    // except the honest 1-in-898 chance of area 666. First-matching-rule
    // classification keeps the censuses disjoint; each planted defect is
    // caught, graded beside its plant.
    Op("fn_ssn_validate", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("area0", expr(
          s"1 + ${md5Bits("sa", "k", 6)} % 898"))
        .withColumn("grp0", expr(
          s"1 + ${md5Bits("sg", "k", 6)} % 99"))
        .withColumn("ser0", expr(
          s"1 + ${md5Bits("sn", "k", 6)} % 9999"))
        .withColumn("area", expr(
          s"""CASE WHEN k % 23 = 4 THEN 666
            | WHEN k % 23 = 5 THEN 900 + ${md5Bits("s9", "k", 4)} % 100
            | ELSE area0 END""".stripMargin))
        .withColumn("grp", expr("CASE WHEN k % 23 = 6 THEN 0 ELSE grp0 END"))
        .withColumn("ser", expr("CASE WHEN k % 23 = 7 THEN 0 ELSE ser0 END"))
        .withColumn("verdict", expr(
          """CASE WHEN area = 666 THEN 'bad_area_666'
            | WHEN area >= 900 THEN 'bad_area_9xx'
            | WHEN grp = 0 THEN 'bad_group'
            | WHEN ser = 0 THEN 'bad_serial'
            | ELSE 'valid' END""".stripMargin))
      t.groupBy("verdict")
        .agg(count(lit(1)).as("n_ssns"),
          sum(when(col("k") % 23 >= 4 && col("k") % 23 <= 7, 1L).otherwise(0L))
            .as("n_planted"))
        .orderBy("verdict")
    },
      s"""WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    1 + ${duckMd5Bits("sa", "c_custkey", 6)} % 898 AS area0,
        |    1 + ${duckMd5Bits("sg", "c_custkey", 6)} % 99 AS grp0,
        |    1 + ${duckMd5Bits("sn", "c_custkey", 6)} % 9999 AS ser0
        |  FROM customer),
        |x AS (
        |  SELECT k,
        |    CASE WHEN k % 23 = 4 THEN 666
        |      WHEN k % 23 = 5 THEN 900 + ${duckMd5Bits("s9", "k", 4)} % 100
        |      ELSE area0 END AS area,
        |    CASE WHEN k % 23 = 6 THEN 0 ELSE grp0 END AS grp,
        |    CASE WHEN k % 23 = 7 THEN 0 ELSE ser0 END AS ser
        |  FROM t),
        |v AS (
        |  SELECT k,
        |    CASE WHEN area = 666 THEN 'bad_area_666'
        |      WHEN area >= 900 THEN 'bad_area_9xx'
        |      WHEN grp = 0 THEN 'bad_group'
        |      WHEN ser = 0 THEN 'bad_serial'
        |      ELSE 'valid' END AS verdict
        |  FROM x)
        |SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_ssns,
        |  CAST(SUM(CASE WHEN k % 23 >= 4 AND k % 23 <= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted
        |FROM v GROUP BY 1 ORDER BY verdict""".stripMargin),

    // Ad-budget pacing — the spend governor a delivery system runs: a
    // declared 24-hour diurnal weight curve paces the daily budget
    // (target cumulative = B·Σw DIV 1000), hourly spend = min(demand,
    // remaining target) as a 24-step chained recurrence (non-negative —
    // plain DIV/LEAST). Graded per budget class: total spend ≤ budget
    // ALWAYS (the pacing law), throttled-hour census, fill ppm — the
    // spec asserts spend never exceeds target and the tight-budget class
    // throttles more.
    Op("agg_budget_pacing", (s, d) => {
      val t = Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("p"))
        .withColumn("cls", (col("p") % 3).cast("int"))
        .withColumn("budget", (col("p") % 3 + 1L) * 100000L)
      var wide = t
      (0 to 23).foreach { h =>
        wide = wide.withColumn(s"dm$h", expr(
          s"${md5Bits(s"bp$h", "p", 6)} % 9000 + 1000"))
      }
      pacingCols("DIV").foreach { case (n, e) => wide = wide.withColumn(n, expr(e)) }
      wide.groupBy("cls")
        .agg(count(lit(1)).as("n_campaigns"),
          sum("budget").as("budget_mass"),
          sum("sp23c").as("spend_mass"),
          sum(expr((0 to 23).map(h => s"(CASE WHEN sp$h < dm$h THEN 1 ELSE 0 END)")
            .mkString(" + "))).as("throttled_hours"),
          sum(expr("(sp23c * 1000000) DIV budget")).as("fill_ppm_mass"))
        .orderBy("cls")
    },
      {
      val pcMap: Map[String, String] = pacingCols("//").toMap
      val stepCtes = (0 to 23).map { h =>
        val from = if (h == 0) "wide" else s"pc${h - 1}"
        s"pc$h AS (SELECT *, ${pcMap(s"tg$h")} AS tg$h, ${pcMap(s"sp$h")} AS sp$h, " +
          s"${pcMap(s"sp${h}c")} AS sp${h}c FROM $from)"
      }.mkString(",\n")
      s"""WITH wide AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS p,
         |    CAST(p_partkey % 3 AS INT) AS cls,
         |    (p_partkey % 3 + 1) * 100000 AS budget,
         |${(0 to 23).map(h => s"    ${duckMd5Bits(s"bp$h", "p_partkey", 6)} % 9000 + 1000 AS dm$h").mkString(",\n")}
         |  FROM part),
         |$stepCtes
         |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_campaigns,
         |  CAST(SUM(budget) AS BIGINT) AS budget_mass,
         |  CAST(SUM(sp23c) AS BIGINT) AS spend_mass,
         |  CAST(SUM(${(0 to 23).map(h => s"(CASE WHEN sp$h < dm$h THEN 1 ELSE 0 END)").mkString(" + ")}) AS BIGINT) AS throttled_hours,
         |  CAST(SUM((sp23c * 1000000) // budget) AS BIGINT) AS fill_ppm_mass
         |FROM pc23 GROUP BY 1 ORDER BY cls""".stripMargin
    }),

    // LLM-judge position-bias audit — the eval-harness hygiene check a
    // pairwise-judging pipeline runs: every pair is judged in BOTH
    // presentation orders; an unbiased judge (class 0) prefers the truly
    // better answer at a planted 75% regardless of order, the biased
    // class 1 additionally leans 15 points toward the FIRST position.
    // The swap test grades: order-consistency census (verdicts that
    // agree under swap), first-position win ppm — the spec asserts class
    // 1's first-position rate is inflated and its consistency is lower,
    // the full positional-bias signature.
    Op("llm_judge_position_bias", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("jcls", (col("k") % 2).cast("int"))
        .withColumn("a_better", expr(
          s"${md5Bits("jb", "k", 6)} % 2 = 0"))
        .withColumn("d1", expr(
          s"${md5Bits("j1", "k", 6)} % 100"))
        .withColumn("d2", expr(
          s"${md5Bits("j2", "k", 6)} % 100"))
        // order 1 presents A first; order 2 presents B first. The judge
        // picks the first slot iff draw < p(first wins): 75/25 by truth,
        // +15 first-slot lean for the biased class.
        .withColumn("p1", expr(
          "(CASE WHEN a_better THEN 75 ELSE 25 END) + jcls * 15"))
        .withColumn("p2", expr(
          "(CASE WHEN a_better THEN 25 ELSE 75 END) + jcls * 15"))
        .withColumn("pick_first_1", col("d1") < col("p1"))
        .withColumn("pick_first_2", col("d2") < col("p2"))
        // verdict in truth space: did the judge pick A?
        .withColumn("picked_a_1", col("pick_first_1"))
        .withColumn("picked_a_2", !col("pick_first_2"))
        .withColumn("consistent", col("picked_a_1") === col("picked_a_2"))
      t.groupBy("jcls")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("consistent"), 1L).otherwise(0L)).as("n_consistent"),
          sum(when(col("pick_first_1"), 1L).otherwise(0L))
            .as("first_wins_o1"),
          sum(when(col("pick_first_2"), 1L).otherwise(0L))
            .as("first_wins_o2"),
          sum(when(col("picked_a_1") === col("a_better"), 1L).otherwise(0L))
            .as("correct_o1"))
        .withColumn("first_win_ppm", expr(
          "((first_wins_o1 + first_wins_o2) * 1000000) DIV (2 * n_pairs)"))
        .orderBy("jcls")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey % 2 AS INT) AS jcls,
        |    ${duckMd5Bits("jb", "o_orderkey", 6)} % 2 = 0 AS a_better,
        |    ${duckMd5Bits("j1", "o_orderkey", 6)} % 100 AS d1,
        |    ${duckMd5Bits("j2", "o_orderkey", 6)} % 100 AS d2
        |  FROM orders),
        |x AS (
        |  SELECT k, jcls, a_better,
        |    d1 < (CASE WHEN a_better THEN 75 ELSE 25 END) + jcls * 15 AS pf1,
        |    d2 < (CASE WHEN a_better THEN 25 ELSE 75 END) + jcls * 15 AS pf2
        |  FROM t),
        |v AS (
        |  SELECT k, jcls, a_better, pf1, pf2,
        |    pf1 AS pa1, NOT pf2 AS pa2
        |  FROM x),
        |g AS (
        |  SELECT jcls, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN pa1 = pa2 THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
        |    CAST(SUM(CASE WHEN pf1 THEN 1 ELSE 0 END) AS BIGINT) AS first_wins_o1,
        |    CAST(SUM(CASE WHEN pf2 THEN 1 ELSE 0 END) AS BIGINT) AS first_wins_o2,
        |    CAST(SUM(CASE WHEN pa1 = a_better THEN 1 ELSE 0 END) AS BIGINT) AS correct_o1
        |  FROM v GROUP BY 1)
        |SELECT jcls, n_pairs, n_consistent, first_wins_o1, first_wins_o2,
        |  correct_o1,
        |  ((first_wins_o1 + first_wins_o2) * 1000000) // (2 * n_pairs) AS first_win_ppm
        |FROM g ORDER BY jcls""".stripMargin),

    // Subtitle-timing drift detection — the resync screen a captioning
    // pipeline runs: 24 cues per video, subtitle time = audio anchor +
    // planted LINEAR drift (0 / +2 / +5 ms per cue by class) + bounded
    // jitter; the drift rate estimated by the exact integer least-squares
    // slope over cue index (cross-multiplied — no division), resync
    // flagged when |slope numerator| clears 1 ms/cue × the constant
    // denominator 27600. Worst-case ±4 ms jitter bounds the flat class's
    // |numerator| at 13824 < 27600 (it can NEVER flag) while the 2 ms/cue
    // class sits at 55200 ± 13824 (it ALWAYS does) — both censuses exact
    // by construction, not by luck.
    Op("mm_subtitle_drift", (s, d) => {
      // Σt = 276, Σt² = 4324, n = 24 → den = n·Σt² − (Σt)² = 27600
      val cues = Tables.documents(s, d)
        .select(col("doc_id").cast("bigint").as("v"))
        .withColumn("cls", (col("v") % 3).cast("int"))
        .withColumn("t", explode(expr("sequence(0, 23)")))
        .withColumn("off", expr(
          "(CASE WHEN cls = 1 THEN 2 * t WHEN cls = 2 THEN 5 * t ELSE 0 END)"
            + s" + ${md5Bits("concat('sd:', CAST(v AS STRING), ':', CAST(t AS STRING))", 6)} % 9 - 4"))
      val per = cues.groupBy("v", "cls")
        .agg(count(lit(1)).as("n"), sum("off").as("sx"),
          sum(expr("t * off")).as("stx"))
        .withColumn("slope_num", expr("24 * stx - 276 * sx"))
        // threshold 1 ms/cue: |num| > 1 · 27600
        .withColumn("resync", abs(col("slope_num")) > 27600L)
      per.groupBy("cls")
        .agg(count(lit(1)).as("n_videos"),
          sum(when(col("resync"), 1L).otherwise(0L)).as("n_resync"),
          sum(abs(col("slope_num"))).as("slope_num_mass"))
        .orderBy("cls")
    },
      s"""WITH cues AS (
        |  SELECT v, cls, t,
        |    (CASE WHEN cls = 1 THEN 2 * t WHEN cls = 2 THEN 5 * t ELSE 0 END)
        |      + ${duckMd5Bits("'sd:' || CAST(v AS VARCHAR) || ':' || CAST(t AS VARCHAR)", 6)} % 9 - 4 AS off
        |  FROM (SELECT CAST(doc_id AS BIGINT) AS v,
        |      CAST(doc_id % 3 AS INT) AS cls FROM documents) q,
        |    generate_series(0, 23) AS g(t)),
        |per AS (
        |  SELECT v, cls, CAST(SUM(off) AS BIGINT) AS sx,
        |    CAST(SUM(t * off) AS BIGINT) AS stx
        |  FROM cues GROUP BY 1, 2),
        |x AS (
        |  SELECT v, cls, 24 * stx - 276 * sx AS slope_num FROM per)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_videos,
        |  CAST(SUM(CASE WHEN abs(slope_num) > 27600 THEN 1 ELSE 0 END) AS BIGINT) AS n_resync,
        |  CAST(SUM(abs(slope_num)) AS BIGINT) AS slope_num_mass
        |FROM x GROUP BY 1 ORDER BY cls""".stripMargin)
  )

  /** Budget-pacing recurrence: spend_h = min(demand_h, target_cum_h −
    * spent cumulative), target from the declared diurnal per-mille curve. */
  private[ops] def pacingCols(div: String): Seq[(String, String)] = {
    val w = Seq(10, 10, 10, 10, 20, 30, 50, 60, 60, 50, 50, 50,
      50, 50, 50, 50, 60, 70, 80, 70, 50, 30, 20, 10)
    val cumW = w.scanLeft(0)(_ + _).tail // 24 cumulative weights, end 1000
    (0 to 23).flatMap { h =>
      val spent = if (h == 0) "0" else s"sp${h - 1}c"
      Seq(
        s"tg$h" -> s"((budget * ${cumW(h)}) $div 1000)",
        s"sp$h" -> s"GREATEST(CAST(0 AS BIGINT), LEAST(dm$h, tg$h - $spent))",
        s"sp${h}c" -> s"($spent + sp$h)")
    }
  }

  /** Bass recurrence columns: nn_t adopters after period t of a 10⁶
    * market; all states in [0, 10⁶], plain integer DIV. */
  private[ops] def bassCols(div: String): Seq[(String, String)] =
    (0 to 23).map { t =>
      if (t == 0) "nn0" -> "CAST(0 AS BIGINT)"
      else s"nn$t" ->
        s"(nn${t - 1} + (p * (1000000 - nn${t - 1}) + ((q * nn${t - 1}) * (1000000 - nn${t - 1})) $div 1000000) $div 1000)"
    }

  /** Hawkes excitation recurrence columns (exact milli, non-negative):
    * le_t = (le_{t-1} + 400·n_{t-1})·700 DIV 1000; λ_t = 200 + le_t. */
  private[ops] def hawkesCols(div: String): Seq[(String, String)] =
    (0 to 23).flatMap { t =>
      val exc =
        if (t == 0) s"le$t" -> "CAST(0 AS BIGINT)"
        else s"le$t" -> s"(((le${t - 1} + 400 * n${t - 1}) * 700) $div 1000)"
      Seq(exc, s"lam$t" -> s"(200 + le$t)")
    }

  /** One polymod step in plain Scala — folds the fixed hrp expansion to a
    * literal so the SQL chains start mid-state. */
  private[ops] def bech32Fold(init: Long, groups: Seq[Long]): Long =
    groups.foldLeft(init) { (chk, g) =>
      val b = chk >>> 25
      var n = ((chk & 0x1ffffffL) << 5) ^ g
      Bech32Gen.zipWithIndex.foreach { case (c, i) =>
        if (((b >> i) & 1L) == 1L) n ^= c
      }
      n
    }

  private[ops] def bech32Steps(prefix: String, init: String,
      groups: Seq[String], xor: (String, String) => String,
      shl: (String, Int) => String, shr: (String, Int) => String)
      : Seq[(String, String)] = {
    groups.zipWithIndex.map { case (g, i) =>
      val prev = if (i == 0) init else s"$prefix${i - 1}"
      val shifted = s"(${shl(s"(($prev) & 33554431)", 5)})"
      val genTerm = Bech32Gen.zipWithIndex.map { case (c, bit) =>
        val mask = 1 << bit
        s"(CASE WHEN (((${shr(s"($prev)", 25)}) & $mask) = $mask) " +
          s"THEN CAST($c AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.reduce(xor)
      s"$prefix$i" -> xor(xor(shifted, s"($g)"), genTerm)
    }
  }

  /** Bounded-queue recurrence columns: q_t = clamp(q_{t-1} + a_t − 100,
    * 0, 400), d_t = overflow above the 400 buffer. Pure min/max integer
    * arithmetic — no division, so Spark and DuckDB agree bit-for-bit
    * with no offset tricks. */
  private[ops] def backpressureCols: Seq[(String, String)] = {
    (0 to 23).flatMap { t =>
      val prev = if (t == 0) "0" else s"q${t - 1}"
      Seq(
        s"r$t" -> s"($prev + a$t - 100)",
        s"d$t" -> s"GREATEST(r$t - 400, 0)",
        s"q$t" -> s"LEAST(GREATEST(r$t, 0), 400)")
    }
  }

  /** LEB128 varint framing (the protobuf length-delimited wire shape):
    * each record = varint(length) + payload. Reader returns (payload,
    * frame width in bytes) so the oracle can re-derive the overhead
    * arithmetically (1 byte < 128, 2 < 16384, 3 < 2097152). */
  private[ops] object VarintUtil {
    def writeRecord(out: java.io.OutputStream, data: Array[Byte]): Unit = {
      var v = data.length
      while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
      out.write(v)
      out.write(data)
    }

    def readRecords(shard: Array[Byte]): Seq[(Array[Byte], Long)] = {
      val out = Seq.newBuilder[(Array[Byte], Long)]
      var i = 0
      while (i < shard.length) {
        var len = 0L
        var shift = 0
        var width = 0L
        var more = true
        while (more) {
          val b = shard(i + width.toInt) & 0xff
          len |= (b & 0x7fL) << shift
          shift += 7
          width += 1
          more = (b & 0x80) != 0
        }
        i += width.toInt
        val data = java.util.Arrays.copyOfRange(shard, i, i + len.toInt)
        i += len.toInt
        out += ((data, width))
      }
      out.result()
    }
  }

  /** The Holt–Winters column chain shared conceptually with the oracle:
    * init (l3 from the first season mean, b3 from the season-mean slope,
    * s0..s3 as deviations), then 20 recurrence steps and 4 forecasts.
    * `div` is the dialect's integer division token; every division goes
    * through the +10¹⁵ offset so truncation == floor in both engines. */
  private[ops] def holtWintersCols(div: String): Seq[(String, String)] = {
    def fdiv(e: String, k: Long) =
      s"((($e) + 1000000000000000) $div $k - ${1000000000000000L / k})"
    val init = Seq(
      "l3" -> fdiv("(x0 + x1 + x2 + x3) * 1000", 4),
      "b3" -> fdiv("((x4 + x5 + x6 + x7) - (x0 + x1 + x2 + x3)) * 1000", 16),
      "s0" -> "(x0 * 1000 - l3)", "s1" -> "(x1 * 1000 - l3)",
      "s2" -> "(x2 * 1000 - l3)", "s3" -> "(x3 * 1000 - l3)")
    val steps = (4 to 23).flatMap { t =>
      Seq(
        s"l$t" -> fdiv(
          s"300 * (x$t * 1000 - s${t - 4}) + 700 * (l${t - 1} + b${t - 1})", 1000),
        s"b$t" -> fdiv(s"200 * (l$t - l${t - 1}) + 800 * b${t - 1}", 1000),
        s"s$t" -> fdiv(s"100 * (x$t * 1000 - l$t) + 900 * s${t - 4}", 1000))
    }
    val fc = (1 to 4).map(h => s"fc$h" -> s"(l23 + $h * b23 + s${19 + h})")
    init ++ steps ++ fc
  }

  /** Planted 120-node ring-chain for the articulation/bridge census: 20
    * six-node rings (2-connected interiors) joined in a chain by single
    * bridge edges (6c+5)—(6c+6). Node set realized through the customer
    * table so the fixture rides the driver's parquet at every sf. */
  private def ringChainGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val nodes = Tables.customer(s, d)
      .select((col("c_custkey") % 120).cast("bigint").as("v")).distinct()
      .localCheckpoint()
    val ring = nodes.select(col("v").as("a"),
      (expr("(v DIV 6) * 6") + (col("v") % 6 + 1L) % 6L).as("b"))
    val bridges = nodes.where(col("v") % 6 === 5L && col("v") < 114L)
      .select(col("v").as("a"), (col("v") + 1L).as("b"))
    val edges = ring.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .unionByName(bridges).distinct().localCheckpoint()
    (nodes, edges)
  }

  /** Connected components per exclusion variant: ONE shuffle groups each
    * variant's (bounded, ≤260-row) node+edge list, then an executor-side
    * union-find counts components — exact and algorithm-independent, so
    * the DuckDB oracle may converge by its own method (9 unrolled
    * min-label + pointer-jump rounds, enough for the ≤60-hop worst-case
    * diameter; the wave spec pins the TRUE component counts, certifying
    * both routes). The earlier all-SQL Spark formulation spent ~3.5 s on
    * 18 scheduling-bound shuffle stages over ~15k rows — the grouped
    * imperative form is the right tool for many tiny independent graphs. */
  private def ccComponents(nodesX: DataFrame, edgesX: DataFrame): DataFrame = {
    val classic = nodesX.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val rows = nodesX.select(col("x"), col("v").as("a"), lit(-1L).as("b"))
      .unionByName(edgesX.select(col("x"), col("a"), col("b")))
      .as[(Long, Long, Long)]
    rows.groupByKey(_._1).mapGroups { (x, it) =>
      val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      it.foreach { case (_, a, b) =>
        if (b == -1L) nodes += a else edges += ((a, b))
      }
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      nodes.foreach(n => parent(n) = n)
      def find(u: Long): Long = {
        var r = u
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (x, nodes.iterator.map(find).toSet.size.toLong)
    }.toDF("x", "ncomp")
  }

  /** One Louvain level in DuckDB: degree (self-loops count twice), 2m,
    * best-gain adoption, membership, census, contraction to g{lvl+1}.
    * Mirrors the Spark `pass`/`census`/`coarsen` trio bit for bit. */
  private def louvLevelSql(lvl: Int, e: String): String =
    s"""deg$lvl AS (SELECT n, CAST(SUM(w) AS BIGINT) AS k FROM (
       |    SELECT a AS n, CASE WHEN a = b THEN 2 * w ELSE w END AS w FROM $e
       |    UNION ALL SELECT b, w FROM $e WHERE a <> b) q GROUP BY 1),
       |m2x$lvl AS (SELECT CAST(SUM(k) AS BIGINT) AS m2 FROM deg$lvl),
       |dir$lvl AS (SELECT a AS i, b AS j, w FROM $e WHERE a <> b
       |  UNION ALL SELECT b, a, w FROM $e WHERE a <> b),
       |ad$lvl AS (
       |  SELECT i, CASE WHEN gain2m > 0 THEN j ELSE i END AS comm,
       |    CASE WHEN gain2m > 0 THEN gain2m ELSE 0 END AS gain
       |  FROM (
       |    SELECT dd.i, dd.j, m2.m2 * dd.w - ki.k * kj.k AS gain2m,
       |      ROW_NUMBER() OVER (PARTITION BY dd.i
       |        ORDER BY m2.m2 * dd.w - ki.k * kj.k DESC, dd.j) AS rn
       |    FROM dir$lvl dd JOIN deg$lvl ki ON ki.n = dd.i
       |    JOIN deg$lvl kj ON kj.n = dd.j CROSS JOIN m2x$lvl m2) q
       |  WHERE rn = 1),
       |mem$lvl AS (
       |  SELECT dg.n AS i, CAST(coalesce(ad.comm, dg.n) AS BIGINT) AS comm,
       |    CAST(coalesce(ad.gain, 0) AS BIGINT) AS gain
       |  FROM deg$lvl dg LEFT JOIN ad$lvl ad ON ad.i = dg.n),
       |cen$lvl AS (
       |  SELECT CAST($lvl AS INT) AS level, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(COUNT(DISTINCT comm) AS BIGINT) AS n_communities,
       |    CAST(SUM(gain) AS BIGINT) AS gain_mass FROM mem$lvl),
       |intx$lvl AS (
       |  SELECT CAST(coalesce(SUM(ee.w), 0) AS BIGINT) AS internal_w_mass
       |  FROM $e ee JOIN mem$lvl ma ON ma.i = ee.a
       |  JOIN mem$lvl mb ON mb.i = ee.b
       |  WHERE ma.comm = mb.comm),
       |g${lvl + 1} AS (
       |  SELECT LEAST(ma.comm, mb.comm) AS a, GREATEST(ma.comm, mb.comm) AS b,
       |    CAST(SUM(ee.w) AS BIGINT) AS w
       |  FROM $e ee JOIN mem$lvl ma ON ma.i = ee.a
       |  JOIN mem$lvl mb ON mb.i = ee.b
       |  GROUP BY 1, 2)""".stripMargin

  /** TFRecord framing (public format): [uint64 LE length][uint32 LE masked
    * CRC32C of the 8 length bytes][payload][uint32 LE masked CRC32C of the
    * payload], mask(c) = ((c >> 15) | (c << 17)) + 0xa282ead8 in uint32
    * arithmetic. JDK CRC32C (Castagnoli) does the checksums — no extra
    * dependency. Reader re-verifies BOTH crcs per record. */
  private[ops] object TfRecordUtil {
    private val MaskDelta = 0xa282ead8L

    private def maskedCrc(bytes: Array[Byte]): Int = {
      val c = new java.util.zip.CRC32C
      c.update(bytes)
      val crc = c.getValue
      val rot = ((crc >>> 15) | (crc << 17)) & 0xffffffffL
      ((rot + MaskDelta) & 0xffffffffL).toInt
    }

    private def le(n: Int): java.nio.ByteBuffer =
      java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)

    def writeRecord(out: java.io.OutputStream, data: Array[Byte]): Unit = {
      val lenBytes = le(8).putLong(data.length.toLong).array
      out.write(lenBytes)
      out.write(le(4).putInt(maskedCrc(lenBytes)).array)
      out.write(data)
      out.write(le(4).putInt(maskedCrc(data)).array)
    }

    def readRecords(shard: Array[Byte]): Seq[(Array[Byte], Boolean, Boolean)] = {
      val buf = java.nio.ByteBuffer.wrap(shard)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = Seq.newBuilder[(Array[Byte], Boolean, Boolean)]
      while (buf.remaining >= 16) {
        val lenBytes = new Array[Byte](8)
        buf.get(lenBytes)
        val lenCrc = buf.getInt
        val len = java.nio.ByteBuffer.wrap(lenBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong.toInt
        val data = new Array[Byte](len)
        buf.get(data)
        val dataCrc = buf.getInt
        out += ((data, maskedCrc(lenBytes) == lenCrc, maskedCrc(data) == dataCrc))
      }
      out.result()
    }
  }
}
