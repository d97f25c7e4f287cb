package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-15 operators — same paired impl/oracle style and engine-exactness
  * laws as the Round12–Round14 units: exact integer/DECIMAL(38,0) arithmetic
  * for graded values, floor division (`DIV` / `//`) on both sides, DuckDB
  * twins via HUGEINT.
  *
  * Wave 1 opens with the round-14 verdict's top item: EM-estimated
  * Fellegi–Sunter m/u weights — the unsupervised parameter-learning step
  * (Splink-style) the identity stack's scoring layer lacked.
  */
object Round15Ops extends Family {
  /** Shared DuckDB SQL for the FS EM fixture's blocked pattern census. */
  private val fsEmPatternsSql: String =
    """base AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(c_nationkey AS BIGINT) AS city0,
      |    'cust_' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') AS name,
      |    1950 + CAST(c_custkey AS BIGINT) % 50 AS yob0
      |  FROM customer),
      |m AS (SELECT k AS mk, name AS mname, city0 AS mcity, yob0 AS myob,
      |    substring(name, 1, 11) AS block FROM base),
      |dd AS (
      |  SELECT k AS dk,
      |    CASE WHEN k % 21 = 8 THEN substring(name, 1, 11) || 'X' ELSE name END AS dname,
      |    CASE WHEN k % 15 = 2 THEN (city0 + 1) % 25 ELSE city0 END AS dcity,
      |    CASE WHEN k % 9 = 5 THEN yob0 + 1 ELSE yob0 END AS dyob,
      |    substring(name, 1, 11) AS block
      |  FROM base),
      |pat AS (
      |  SELECT dname = mname AS gn, dcity = mcity AS gc, dyob = myob AS gy,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM dd JOIN m ON dd.block = m.block GROUP BY 1, 2, 3)""".stripMargin

  val ops: Seq[Op] = Seq(
    // EM-estimated Fellegi–Sunter m/u weights — join_fellegi_sunter scores
    // with DECLARED constants; every real linkage deployment learns the
    // per-field m (P(agree|match)) and u (P(agree|unmatch)) probabilities
    // unsupervised via EM over agreement-pattern counts. Fixture: the same
    // blocked master×dirty roster as join_fellegi_sunter (blocks of ~10
    // keys → ~10% of blocked pairs are true matches) with RECOVERABLE
    // planted rates — name drifts for k%21==8 (m_name = 20/21), city for
    // k%15==2 (m_city = 14/15), yob for k%9==5 (m_yob = 8/9); non-match
    // agreement is ~0 (name), ~1/25 (city), small (yob). Three unrolled EM
    // iterations run entirely in exact ppm integers: the E-step
    // responsibility r = π·∏m / (π·∏m + (1−π)·∏u) as a DECIMAL(38,0)/
    // HUGEINT cross-multiplied floor division, the M-step re-estimates
    // (π, m, u) from responsibility-weighted pattern counts — all over the
    // EIGHT-row agreement-pattern census, so the data-scaled work is ONE
    // blocked join + rollup and the EM itself is O(2^fields) metadata at
    // any corpus size. Graded: the final per-pattern responsibilities, the
    // link/possible/non-link census they induce (0.9/0.1 thresholds), and
    // the learned parameters themselves. Round15Wave1Spec asserts the EM
    // recovers the planted drift rates.
    Op("join_fs_em_weights", (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("city0"))
        .withColumn("name",
          concat(lit("cust_"), lpad(col("k").cast("string"), 7, "0")))
        .withColumn("yob0", lit(1950L) + col("k") % 50)
        .withColumn("block", substring(col("name"), 1, 11))
      val m = base.select(col("k").as("mk"), col("name").as("mname"),
        col("city0").as("mcity"), col("yob0").as("myob"), col("block"))
      // dirty-side drift lands in the LAST name char so the block key
      // (first 11 chars) survives and the matched pair still meets
      val dd = base.select(col("k").as("dk"),
        when(col("k") % 21 === 8, concat(col("block"), lit("X")))
          .otherwise(col("name")).as("dname"),
        when(col("k") % 15 === 2, (col("city0") + 1) % 25)
          .otherwise(col("city0")).as("dcity"),
        when(col("k") % 9 === 5, col("yob0") + 1)
          .otherwise(col("yob0")).as("dyob"),
        col("block"))
      val pat = dd.join(m, Seq("block"))
        .select((col("dname") === col("mname")).as("gn"),
          (col("dcity") === col("mcity")).as("gc"),
          (col("dyob") === col("myob")).as("gy"))
        .groupBy("gn", "gc", "gy").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // ≤8 rows; four E-steps fold over it
      // E-step: responsibility per pattern from the CURRENT params (one
      // broadcast 1-row param table; products ≤ 10²⁴ in DECIMAL(38,0))
      def estep(params: DataFrame): DataFrame =
        pat.crossJoin(broadcast(params))
          .withColumn("num", expr(
            """CAST(pi AS DECIMAL(38,0))
              | * (CASE WHEN gn THEN mn ELSE 1000000 - mn END)
              | * (CASE WHEN gc THEN mc ELSE 1000000 - mc END)
              | * (CASE WHEN gy THEN my ELSE 1000000 - my END)""".stripMargin))
          .withColumn("den", expr(
            """CAST(1000000 - pi AS DECIMAL(38,0))
              | * (CASE WHEN gn THEN un ELSE 1000000 - un END)
              | * (CASE WHEN gc THEN uc ELSE 1000000 - uc END)
              | * (CASE WHEN gy THEN uy ELSE 1000000 - uy END)""".stripMargin))
          .withColumn("r", expr(
            "CAST((num * 1000000) DIV (num + den) AS BIGINT)"))
      // M-step: responsibility-weighted re-estimates (all sums ≤ 1.5·10¹⁷
      // — plain BIGINT floor divisions, HUGEINT-cast on the oracle side)
      def mstep(e: DataFrame): DataFrame =
        e.agg(sum(expr("cnt * r")).as("sr"), sum("cnt").as("n"),
            sum(expr("CASE WHEN gn THEN cnt * r ELSE 0 END")).as("srn"),
            sum(expr("CASE WHEN gc THEN cnt * r ELSE 0 END")).as("src"),
            sum(expr("CASE WHEN gy THEN cnt * r ELSE 0 END")).as("sry"),
            sum(expr("cnt * (1000000 - r)")).as("sq"),
            sum(expr("CASE WHEN gn THEN cnt * (1000000 - r) ELSE 0 END")).as("sqn"),
            sum(expr("CASE WHEN gc THEN cnt * (1000000 - r) ELSE 0 END")).as("sqc"),
            sum(expr("CASE WHEN gy THEN cnt * (1000000 - r) ELSE 0 END")).as("sqy"))
          .select(expr("sr DIV n").as("pi"),
            expr("(srn * 1000000) DIV sr").as("mn"),
            expr("(src * 1000000) DIV sr").as("mc"),
            expr("(sry * 1000000) DIV sr").as("my"),
            expr("(sqn * 1000000) DIV sq").as("un"),
            expr("(sqc * 1000000) DIV sq").as("uc"),
            expr("(sqy * 1000000) DIV sq").as("uy"))
      val init = s.range(1).select(lit(500000L).as("pi"),
        lit(800000L).as("mn"), lit(800000L).as("mc"), lit(800000L).as("my"),
        lit(200000L).as("un"), lit(200000L).as("uc"), lit(200000L).as("uy"))
      val p3 = mstep(estep(mstep(estep(mstep(estep(init))))))
      val fin = estep(p3).localCheckpoint() // final responsibilities + p3 cols
      val patterns = fin.select(lit("pattern").as("kind"),
        concat(when(col("gn"), "1").otherwise("0"),
          when(col("gc"), "1").otherwise("0"),
          when(col("gy"), "1").otherwise("0")).as("key"),
        col("cnt").as("n_pairs"), col("r").as("value_ppm"))
      val classes = fin
        .withColumn("cls", when(col("r") >= 900000L, "link")
          .when(col("r") >= 100000L, "possible").otherwise("non_link"))
        .groupBy("cls").agg(sum("cnt").as("n_pairs"))
        .select(lit("class").as("kind"), col("cls").as("key"),
          col("n_pairs"), lit(null).cast("long").as("value_ppm"))
      val params = fin.limit(1).select(expr(
          """stack(7, 'pi', pi, 'm_name', mn, 'm_city', mc, 'm_yob', my,
            | 'u_name', un, 'u_city', uc, 'u_yob', uy)
            | AS (key, value_ppm)""".stripMargin))
        .select(lit("param").as("kind"), col("key"),
          lit(null).cast("long").as("n_pairs"), col("value_ppm"))
      patterns.unionByName(classes).unionByName(params)
        .orderBy("kind", "key")
    },
      {
      val init = """p0 AS (SELECT CAST(500000 AS BIGINT) AS pi,
                   |  CAST(800000 AS BIGINT) AS mn, CAST(800000 AS BIGINT) AS mc,
                   |  CAST(800000 AS BIGINT) AS my, CAST(200000 AS BIGINT) AS un,
                   |  CAST(200000 AS BIGINT) AS uc, CAST(200000 AS BIGINT) AS uy)""".stripMargin
      s"""WITH $fsEmPatternsSql,
         |$init,
         |${fsEmEstepSql("e1", "p0")},
         |${fsEmMstepSql("p1", "e1")},
         |${fsEmEstepSql("e2", "p1")},
         |${fsEmMstepSql("p2", "e2")},
         |${fsEmEstepSql("e3", "p2")},
         |${fsEmMstepSql("p3", "e3")},
         |${fsEmEstepSql("e4", "p3")}
         |SELECT kind, key, n_pairs, value_ppm FROM (
         |  SELECT 'pattern' AS kind,
         |    (CASE WHEN gn THEN '1' ELSE '0' END)
         |      || (CASE WHEN gc THEN '1' ELSE '0' END)
         |      || (CASE WHEN gy THEN '1' ELSE '0' END) AS key,
         |    cnt AS n_pairs, r AS value_ppm
         |  FROM e4
         |  UNION ALL
         |  SELECT 'class' AS kind,
         |    CASE WHEN r >= 900000 THEN 'link'
         |      WHEN r >= 100000 THEN 'possible' ELSE 'non_link' END AS key,
         |    CAST(SUM(cnt) AS BIGINT) AS n_pairs, CAST(NULL AS BIGINT) AS value_ppm
         |  FROM e4 GROUP BY 2
         |  UNION ALL
         |  SELECT 'param' AS kind, u.key AS key,
         |    CAST(NULL AS BIGINT) AS n_pairs, u.value_ppm AS value_ppm
         |  FROM p3, LATERAL (VALUES
         |    ('pi', pi), ('m_name', mn), ('m_city', mc), ('m_yob', my),
         |    ('u_name', un), ('u_city', uc), ('u_yob', uy)) AS u(key, value_ppm)
         |) ORDER BY kind, key""".stripMargin
    }),

    // Metadata-filtered ANN — the single most common production vector
    // query ("nearest neighbors WHERE lang = 'en'") the unfiltered family
    // (topk / IVF / IVF+PQ / HNSW) lacked, graded as the PRE-filter vs
    // POST-filter design decision itself: one shared IVF index (√n md5
    // centroids over the FULL corpus — production builds one index and
    // serves every predicate), probes search their nprobe=4 cells, and a
    // selective predicate (vec_id % 10 = 3, the lang-tag stand-in) is
    // applied either BEFORE the top-5 cut (pre-filter: rank only matching
    // vectors — recall bounded by cell coverage alone) or AFTER it
    // (post-filter: cut first, then filter — the ~90% of the top-5 that
    // fail the predicate are simply lost). Post ⊆ pre by construction;
    // both graded per probe against the exact FILTERED brute-force top-5
    // (hits, returned, recall ppm). Rounded 4-dp cosines + id tie-breaks
    // keep both engines' rankings identical; the data-scaled work is the
    // n·√n assignment + the filtered exact scan, everything downstream is
    // O(probes).
    Op("llm_ann_filtered", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val nTot = e.agg(count(lit(1)).cast("double").as("n_tot"))
      val cent = e.crossJoin(broadcast(nTot))
        .where(expr(md5Bits("CAST(vec_id AS STRING)", 8))
          .cast("double") < lit(4294967296.0) / sqrt(col("n_tot")))
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val wA = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))
      val assigned = e.join(broadcast(cent))
        .withColumn("ccos", round(call_function("cosine_sim", col("emb"), col("cemb")), 4))
        .withColumn("crn", row_number().over(wA)).where(col("crn") === 1)
        .select(col("vec_id"), col("emb"), col("cid").as("cluster"),
          (col("vec_id") % 10 === 3).as("pred"))
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val wP = Window.partitionBy("probe_id").orderBy(desc("pcos"), col("cid"))
      val cells = probes.join(broadcast(cent))
        .withColumn("pcos", round(call_function("cosine_sim", col("p_emb"), col("cemb")), 4))
        .withColumn("prn", row_number().over(wP)).where(col("prn") <= 4)
        .select(col("probe_id"), col("p_emb"), col("cid").as("cluster"))
      val wT = Window.partitionBy("probe_id").orderBy(desc("sim"), col("vec_id"))
      val cand = cells.join(assigned, Seq("cluster"))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("pred"),
          round(call_function("cosine_sim", col("p_emb"), col("emb")), 4).as("sim"))
        .localCheckpoint() // consumed by BOTH strategies
      val pre = cand.where(col("pred"))
        .withColumn("r", row_number().over(wT)).where(col("r") <= 5)
        .select("probe_id", "vec_id")
      val post = cand.withColumn("r", row_number().over(wT)).where(col("r") <= 5)
        .where(col("pred")).select("probe_id", "vec_id")
      val truth = broadcast(probes)
        .join(e.where(col("vec_id") % 10 === 3), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(call_function("cosine_sim", col("p_emb"), col("emb")), 4).as("sim"))
        .withColumn("r", row_number().over(wT)).where(col("r") <= 5)
        .select("probe_id", "vec_id")
        .localCheckpoint() // consumed by both grade joins
      val nTruth = truth.groupBy("probe_id").agg(count(lit(1)).as("n_truth"))
      def grade(strategy: String, found: DataFrame): DataFrame =
        probes.select("probe_id")
          .join(found.groupBy("probe_id").agg(count(lit(1)).as("ret0")),
            Seq("probe_id"), "left")
          .join(found.join(truth, Seq("probe_id", "vec_id"), "left_semi")
            .groupBy("probe_id").agg(count(lit(1)).as("hit0")),
            Seq("probe_id"), "left")
          .join(nTruth, Seq("probe_id"), "left")
          .select(lit(strategy).as("strategy"), col("probe_id"),
            coalesce(col("ret0"), lit(0L)).as("n_returned"),
            coalesce(col("hit0"), lit(0L)).as("n_hits"),
            coalesce(col("n_truth"), lit(0L)).as("n_truth"))
          .withColumn("recall_ppm",
            expr("(n_hits * 1000000) DIV NULLIF(n_truth, 0)"))
      grade("pre_filter", pre).unionByName(grade("post_filter", post))
        .orderBy("strategy", "probe_id")
    },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |st AS (SELECT COUNT(*) AS n_tot FROM e),
        |cent AS (SELECT vec_id AS cid, emb AS cemb FROM e, st
        |         WHERE ${duckMd5Bits("CAST(vec_id AS VARCHAR)", 8)} * 1.0
        |               < 4294967296.0 / sqrt(n_tot * 1.0)),
        |assigned AS (
        |  SELECT vec_id, emb, cluster, vec_id % 10 = 3 AS pred FROM (
        |    SELECT e.vec_id, e.emb, c.cid AS cluster,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(e.emb, c.cemb), 4) DESC, c.cid) AS crn
        |    FROM e CROSS JOIN cent c)
        |  WHERE crn = 1),
        |probes AS (SELECT vec_id AS probe_id, emb AS p_emb FROM e WHERE vec_id < 10),
        |cells AS (
        |  SELECT probe_id, p_emb, cluster FROM (
        |    SELECT p.probe_id, p.p_emb, c.cid AS cluster,
        |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
        |        ORDER BY ROUND(list_cosine_similarity(p.p_emb, c.cemb), 4) DESC, c.cid) AS prn
        |    FROM probes p CROSS JOIN cent c)
        |  WHERE prn <= 4),
        |cand AS (
        |  SELECT ce.probe_id, a.vec_id, a.pred,
        |    ROUND(list_cosine_similarity(ce.p_emb, a.emb), 4) AS sim
        |  FROM cells ce JOIN assigned a ON ce.cluster = a.cluster
        |  WHERE a.vec_id <> ce.probe_id),
        |pre AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS r
        |    FROM cand WHERE pred) q WHERE r <= 5),
        |post AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id, pred,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS r
        |    FROM cand) q WHERE r <= 5 AND pred),
        |truth AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT p.probe_id, e.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
        |        ORDER BY ROUND(list_cosine_similarity(p.p_emb, e.emb), 4) DESC, e.vec_id) AS r
        |    FROM probes p JOIN e ON e.vec_id % 10 = 3 AND e.vec_id <> p.probe_id) q
        |  WHERE r <= 5),
        |nt AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth GROUP BY 1),
        |grade AS (
        |  SELECT s.strategy, p.probe_id,
        |    CAST(coalesce(f.ret, 0) AS BIGINT) AS n_returned,
        |    CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hits,
        |    CAST(coalesce(nt.n_truth, 0) AS BIGINT) AS n_truth
        |  FROM probes p
        |  CROSS JOIN (VALUES ('pre_filter'), ('post_filter')) AS s(strategy)
        |  LEFT JOIN (
        |    SELECT 'pre_filter' AS strategy, probe_id, COUNT(*) AS ret FROM pre GROUP BY 2
        |    UNION ALL
        |    SELECT 'post_filter' AS strategy, probe_id, COUNT(*) AS ret FROM post GROUP BY 2
        |  ) f ON f.strategy = s.strategy AND f.probe_id = p.probe_id
        |  LEFT JOIN (
        |    SELECT 'pre_filter' AS strategy, x.probe_id, COUNT(*) AS hits
        |    FROM pre x JOIN truth t ON t.probe_id = x.probe_id AND t.vec_id = x.vec_id GROUP BY 2
        |    UNION ALL
        |    SELECT 'post_filter' AS strategy, x.probe_id, COUNT(*) AS hits
        |    FROM post x JOIN truth t ON t.probe_id = x.probe_id AND t.vec_id = x.vec_id GROUP BY 2
        |  ) h ON h.strategy = s.strategy AND h.probe_id = p.probe_id
        |  LEFT JOIN nt ON nt.probe_id = p.probe_id)
        |SELECT strategy, probe_id, n_returned, n_hits, n_truth,
        |  (n_hits * 1000000) // NULLIF(n_truth, 0) AS recall_ppm
        |FROM grade ORDER BY strategy, probe_id""".stripMargin),

    // Incremental entity resolution — the serving half join_identity_clusters
    // (batch-only) lacked: a PERSISTED golden-record index (one cluster per
    // person, parquet lifecycle like llm_dedup_incremental's LSH index), an
    // arriving batch linked by BLOCKING + Fellegi–Sunter score against only
    // its block's candidates, existing cluster ids assigned on a match and
    // new ids minted DETERMINISTICALLY (2·10⁹ + person key) on a miss, and
    // the merged index written back. The batch plants both dispositions:
    // re-observations (even keys of the 1-in-23 slice, city/yob drifted —
    // name agreement alone clears the ≥120 déciban bar, so every one links
    // to its true cluster) and genuinely new persons (odd keys, an unseen
    // 'newp_' block → zero candidates → minted). The op then RE-RUNS the
    // same batch against the merged index and grades idempotence in-band:
    // re-observations still link, minted records now match themselves at
    // the full 420 score — rerun_minted must be 0. Cost per batch is
    // O(batch × block) at any corpus size; the full-corpus work is the one
    // index write.
    Op("join_er_incremental", (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("city0"))
        .withColumn("name",
          concat(lit("cust_"), lpad(col("k").cast("string"), 7, "0")))
        .withColumn("yob0", lit(1950L) + col("k") % 50)
        .withColumn("block", substring(col("name"), 1, 11))
      val idxDir = Scratch.opDir("er_idx", d)
      base.select(col("k").as("cluster_id"), col("name"),
          col("city0").as("city"), col("yob0").as("yob"), col("block"))
        .write.mode("overwrite").parquet(idxDir)
      val idx0 = s.read.parquet(idxDir)
      val batch = base.where(col("k") % 23 === 7)
        .select(col("k"),
          when(col("k") % 2 === 0, col("name"))
            .otherwise(concat(lit("newp_"), lpad(col("k").cast("string"), 7, "0")))
            .as("bname"),
          when(col("k") % 2 === 0 && col("k") % 15 === 2, (col("city0") + 1) % 25)
            .otherwise(col("city0")).as("bcity"),
          when(col("k") % 2 === 0 && col("k") % 9 === 5, col("yob0") + 1)
            .otherwise(col("yob0")).as("byob"))
        .withColumn("bblock", substring(col("bname"), 1, 11))
        .localCheckpoint() // two link passes fold over it
      def linkPass(index: DataFrame): DataFrame = {
        val w = Window.partitionBy("k")
          .orderBy(desc_nulls_last("score"), asc_nulls_last("cluster_id"))
        batch.join(index, col("bblock") === col("block"), "left")
          .withColumn("score",
            when(col("cluster_id").isNull, lit(null).cast("long"))
              .otherwise(
                when(col("bname") === col("name"), 240L).otherwise(-120L) +
                  when(col("bcity") === col("city"), 80L).otherwise(-40L) +
                  when(col("byob") === col("yob"), 100L).otherwise(-60L)))
          .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("k"), col("bname"), col("bcity"), col("byob"), col("bblock"),
            when(col("score") >= 120L, col("cluster_id")).as("linked_cluster"),
            when(col("score") >= 120L, col("score")).as("lscore"))
      }
      val pass1 = linkPass(idx0).localCheckpoint()
      val minted = pass1.where(col("linked_cluster").isNull)
        .select((col("k") + 2000000000L).as("cluster_id"), col("bname").as("name"),
          col("bcity").as("city"), col("byob").as("yob"), col("bblock").as("block"))
      val idx2Dir = Scratch.opDir("er_idx_merged", d)
      idx0.unionByName(minted).write.mode("overwrite").parquet(idx2Dir)
      val idx2 = s.read.parquet(idx2Dir)
      val pass2 = linkPass(idx2).localCheckpoint()
      def stat(step: String, df: DataFrame, massCol: Option[String]): DataFrame =
        df.agg(count(lit(1)).as("n"),
            massCol.map(c => coalesce(sum(col(c)), lit(0L)))
              .getOrElse(lit(null).cast("long")).as("score_mass"))
          .select(lit(step).as("step"), col("n"), col("score_mass"))
      stat("01_clusters_before", idx0, None)
        .unionByName(stat("02_batch", batch, None))
        .unionByName(stat("03_linked", pass1.where(col("linked_cluster").isNotNull), Some("lscore")))
        .unionByName(stat("04_minted", pass1.where(col("linked_cluster").isNull), None))
        .unionByName(stat("05_clusters_after", idx2, None))
        .unionByName(stat("06_rerun_linked", pass2.where(col("linked_cluster").isNotNull), Some("lscore")))
        .unionByName(stat("07_rerun_minted", pass2.where(col("linked_cluster").isNull), None))
        .orderBy("step")
    },
      s"""WITH base AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS k,
         |    CAST(c_nationkey AS BIGINT) AS city0,
         |    'cust_' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') AS name,
         |    1950 + CAST(c_custkey AS BIGINT) % 50 AS yob0
         |  FROM customer),
         |idx0 AS (SELECT k AS cluster_id, name, city0 AS city, yob0 AS yob,
         |    substring(name, 1, 11) AS block FROM base),
         |batch AS (
         |  SELECT k,
         |    CASE WHEN k % 2 = 0 THEN name
         |      ELSE 'newp_' || lpad(CAST(k AS VARCHAR), 7, '0') END AS bname,
         |    CASE WHEN k % 2 = 0 AND k % 15 = 2 THEN (city0 + 1) % 25 ELSE city0 END AS bcity,
         |    CASE WHEN k % 2 = 0 AND k % 9 = 5 THEN yob0 + 1 ELSE yob0 END AS byob
         |  FROM base WHERE k % 23 = 7),
         |b2 AS (SELECT k, bname, bcity, byob, substring(bname, 1, 11) AS bblock FROM batch),
         |${erLinkPassSql("p1", "idx0")},
         |minted AS (SELECT k + 2000000000 AS cluster_id, bname AS name,
         |    bcity AS city, byob AS yob, bblock AS block
         |  FROM p1 WHERE linked_cluster IS NULL),
         |idx2 AS (SELECT * FROM idx0 UNION ALL SELECT * FROM minted),
         |${erLinkPassSql("p2", "idx2")}
         |SELECT step, n, score_mass FROM (
         |  SELECT '01_clusters_before' AS step, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(NULL AS BIGINT) AS score_mass FROM idx0
         |  UNION ALL SELECT '02_batch', CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT) FROM b2
         |  UNION ALL SELECT '03_linked', CAST(COUNT(*) AS BIGINT),
         |    CAST(coalesce(SUM(lscore), 0) AS BIGINT) FROM p1 WHERE linked_cluster IS NOT NULL
         |  UNION ALL SELECT '04_minted', CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT)
         |    FROM p1 WHERE linked_cluster IS NULL
         |  UNION ALL SELECT '05_clusters_after', CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT) FROM idx2
         |  UNION ALL SELECT '06_rerun_linked', CAST(COUNT(*) AS BIGINT),
         |    CAST(coalesce(SUM(lscore), 0) AS BIGINT) FROM p2 WHERE linked_cluster IS NOT NULL
         |  UNION ALL SELECT '07_rerun_minted', CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT)
         |    FROM p2 WHERE linked_cluster IS NULL
         |) ORDER BY step""".stripMargin),

    // Hierarchical (multi-layer) HNSW — the upper layers llm_ann_hnsw's
    // single-layer NSW lacked (round-14 "What's missing" #4): layer
    // membership by id stride (L2 = ids ≡ 0 mod 16, L1 = mod 4, L0 = all
    // — deterministic AND dense, so the j-th md5 neighbor is direct
    // arithmetic `stride · (h % layer_count)`, no member-ranking join at
    // any scale), one greedy hop per upper layer to pick the next layer's
    // entry, then the standard beam-8 2-hop search at L0. The sparse
    // upper layers replace the fixed entry point with a probe-adapted one
    // — the hop-count bound that matters at 10⁹ vectors. Graded per
    // probe: the L0 entry the descent chose, candidates visited, and
    // recall@5 vs the exact scan; rounded sims + id tie-breaks keep both
    // engines' descents identical. Data-scaled work is the exact-scan
    // recall baseline; the search itself is O(probes · beam · degree).
    Op("llm_ann_hnsw_layered", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val n = math.max(1L, e.count())
      val n2 = (n + 15) / 16
      val n1 = (n + 3) / 4
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      def expand(beam: DataFrame, layer: Int, cnt: Long, stride: Long, deg: Int): DataFrame =
        beam.select(col("probe_id"), col("node"))
          .withColumn("j", explode(expr(s"sequence(0, ${deg - 1})")))
          .withColumn("v", expr(
            s"$stride * (${md5Bits(s"concat('hl$layer:', CAST(node AS STRING), ':', CAST(j AS STRING))", 8)} % $cnt)"))
          .select(col("probe_id"),
            when(col("v") === col("node"),
              expr(s"$stride * ((node DIV $stride + 1) % $cnt)"))
              .otherwise(col("v")).as("node"))
          .unionByName(beam.select("probe_id", "node"))
          .distinct()
      def score(cand: DataFrame): DataFrame =
        e.join(broadcast(cand), e("vec_id") === cand("node"))
          .join(broadcast(probes), Seq("probe_id"))
          .where(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("node"),
            round(call_function("cosine_sim", col("p_emb"), col("emb")), 4).as("sim"))
      val wB = Window.partitionBy("probe_id").orderBy(desc("sim"), col("node"))
      def top(scored: DataFrame, k: Int): DataFrame =
        scored.withColumn("r", row_number().over(wB)).where(col("r") <= k)
          .select("probe_id", "node")
      val entry = probes.select(col("probe_id"), lit(0L).as("node"))
      val s2u = score(expand(entry, 2, n2, 16L, 4)).localCheckpoint()
      val b2 = top(s2u, 1)
      val s1u = score(expand(b2, 1, n1, 4L, 4)).localCheckpoint()
      val b1 = top(s1u, 1).localCheckpoint() // the L0 entry, also graded
      val t1 = score(expand(b1, 0, n, 1L, 8)).localCheckpoint()
      val t2 = score(expand(top(t1, 8), 0, n, 1L, 8)).localCheckpoint()
      val visited = s2u.unionByName(s1u).unionByName(t1).unionByName(t2)
        .groupBy("probe_id", "node").agg(max("sim").as("sim"))
      val found5 = top(visited, 5)
      val exact5 = top(broadcast(probes)
        .join(e, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("node"),
          round(call_function("cosine_sim", col("p_emb"), col("emb")), 4).as("sim")), 5)
      val hits = exact5
        .join(found5.withColumn("hit", lit(1L)), Seq("probe_id", "node"), "left")
        .groupBy("probe_id").agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      visited.groupBy("probe_id").agg(count(lit(1)).as("n_visited"))
        .join(b1.select(col("probe_id"), col("node").as("entry_l0")), Seq("probe_id"))
        .join(hits, Seq("probe_id"))
        .select(col("probe_id"), col("entry_l0"), col("n_visited"), col("n_hits"),
          expr("n_hits * 200000").as("recall_ppm"))
        .orderBy("probe_id")
    },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |nn AS (SELECT COUNT(*) AS n, (COUNT(*) + 15) // 16 AS n2,
         |       (COUNT(*) + 3) // 4 AS n1 FROM e),
         |p AS (SELECT vec_id AS probe_id, emb AS p_emb FROM e WHERE vec_id < 10),
         |b3 AS (SELECT probe_id, CAST(0 AS BIGINT) AS node FROM p),
         |${layerHopSql("u2", "b3", 2, "n2", 16L, 4, 1)},
         |${layerHopSql("u1", "bu2", 1, "n1", 4L, 4, 1)},
         |${layerHopSql("01", "bu1", 0, "n", 1L, 8, 8)},
         |${layerHopSql("02", "b01", 0, "n", 1L, 8, 8)},
         |visited AS (
         |  SELECT probe_id, node, MAX(sim) AS sim FROM (
         |    SELECT * FROM su2 UNION ALL SELECT * FROM su1
         |    UNION ALL SELECT * FROM s01 UNION ALL SELECT * FROM s02) u
         |  GROUP BY 1, 2),
         |found5 AS (
         |  SELECT probe_id, node FROM (
         |    SELECT probe_id, node,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, node) AS r
         |    FROM visited) q WHERE r <= 5),
         |exact5 AS (
         |  SELECT probe_id, node FROM (
         |    SELECT p.probe_id, e.vec_id AS node,
         |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
         |        ORDER BY ROUND(list_cosine_similarity(p.p_emb, e.emb), 4) DESC, e.vec_id) AS r
         |    FROM p JOIN e ON e.vec_id <> p.probe_id) q WHERE r <= 5),
         |hits AS (
         |  SELECT x.probe_id,
         |    CAST(SUM(CASE WHEN f.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact5 x LEFT JOIN found5 f
         |    ON f.probe_id = x.probe_id AND f.node = x.node
         |  GROUP BY 1),
         |vs AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_visited FROM visited GROUP BY 1)
         |SELECT vs.probe_id, bu1.node AS entry_l0, vs.n_visited, h.n_hits,
         |  h.n_hits * 200000 AS recall_ppm
         |FROM vs JOIN bu1 ON bu1.probe_id = vs.probe_id
         |JOIN hits h ON h.probe_id = vs.probe_id
         |ORDER BY vs.probe_id""".stripMargin),

    // Nickname canonicalization — the name-standardization step every
    // person matcher runs BEFORE blocking (BILL and WILLIAM must block
    // together or the matcher never sees the pair): a 12-entry authored
    // nickname→canonical table (broadcast — real deployments use the
    // ~1000-row pccc/HDI lists) resolves an 18-way raw-name plant (6
    // canonicals + their 12 nicknames) via one left join; unresolved raws
    // pass through as their own canonical. Census per canonical: records,
    // nickname-resolved records, distinct raw spellings unified — the
    // block-key consolidation the table buys. Linear projection +
    // broadcast join + rollup.
    Op("fn_nickname_resolve", (s, d) => {
      val pool = array(lit("WILLIAM"), lit("BILL"), lit("WILL"),
        lit("ROBERT"), lit("BOB"), lit("ROB"),
        lit("MARGARET"), lit("PEGGY"), lit("MEG"),
        lit("JOHN"), lit("JACK"), lit("JOHNNY"),
        lit("ELIZABETH"), lit("BETH"), lit("LIZ"),
        lit("KATHERINE"), lit("KATE"), lit("KITTY"))
      val nicks = s.range(1).select(explode(array(
        struct(lit("BILL").as("nick"), lit("WILLIAM").as("canon")),
        struct(lit("WILL").as("nick"), lit("WILLIAM").as("canon")),
        struct(lit("BOB").as("nick"), lit("ROBERT").as("canon")),
        struct(lit("ROB").as("nick"), lit("ROBERT").as("canon")),
        struct(lit("PEGGY").as("nick"), lit("MARGARET").as("canon")),
        struct(lit("MEG").as("nick"), lit("MARGARET").as("canon")),
        struct(lit("JACK").as("nick"), lit("JOHN").as("canon")),
        struct(lit("JOHNNY").as("nick"), lit("JOHN").as("canon")),
        struct(lit("BETH").as("nick"), lit("ELIZABETH").as("canon")),
        struct(lit("LIZ").as("nick"), lit("ELIZABETH").as("canon")),
        struct(lit("KATE").as("nick"), lit("KATHERINE").as("canon")),
        struct(lit("KITTY").as("nick"), lit("KATHERINE").as("canon")))).as("m"))
        .select(col("m.nick").as("nick"), col("m.canon").as("canon"))
      Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("raw", element_at(pool, (col("k") % 18 + 1).cast("int")))
        .join(broadcast(nicks), col("raw") === col("nick"), "left")
        .withColumn("canonical", coalesce(col("canon"), col("raw")))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("canon").isNotNull, 1L).otherwise(0L)).as("n_from_nick"),
          countDistinct("raw").as("n_spellings"))
        .orderBy("canonical")
    },
      """WITH t AS (
        |  SELECT ['WILLIAM','BILL','WILL','ROBERT','BOB','ROB',
        |          'MARGARET','PEGGY','MEG','JOHN','JACK','JOHNNY',
        |          'ELIZABETH','BETH','LIZ','KATHERINE','KATE','KITTY']
        |      [CAST(c_custkey % 18 AS INT) + 1] AS raw
        |  FROM customer),
        |nicks(nick, canon) AS (VALUES
        |  ('BILL', 'WILLIAM'), ('WILL', 'WILLIAM'),
        |  ('BOB', 'ROBERT'), ('ROB', 'ROBERT'),
        |  ('PEGGY', 'MARGARET'), ('MEG', 'MARGARET'),
        |  ('JACK', 'JOHN'), ('JOHNNY', 'JOHN'),
        |  ('BETH', 'ELIZABETH'), ('LIZ', 'ELIZABETH'),
        |  ('KATE', 'KATHERINE'), ('KITTY', 'KATHERINE')),
        |r AS (SELECT raw, canon FROM t LEFT JOIN nicks ON t.raw = nicks.nick)
        |SELECT coalesce(canon, raw) AS canonical,
        |  CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(CASE WHEN canon IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_from_nick,
        |  CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_spellings
        |FROM r GROUP BY 1 ORDER BY canonical""".stripMargin),

    // Money-mule network detection — the AML graph screen beside
    // agg_txn_structuring (amounts) and join_sanctions_screen (names):
    // organic payments fan out user → unique md5 account, but a planted
    // 1-in-29 slice routes through THREE mule accounts (fan-IN from many
    // payers) which forward every cent to 5 md5 cashout accounts
    // (fan-OUT) — the in≥3 AND out≥2 conjunction is impossible for
    // organic accounts by construction (payers never receive, sinks
    // never send), so the flag has zero false positives at every scale.
    // Per account class: accounts, in/out edge mass in exact cents (the
    // mule pass-through conserves: mule in_mass == out_mass, asserted in
    // the wave spec), max degrees. Two degree rollups + one full outer
    // join — linear, no pairwise graph work.
    Op("join_mule_network", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"))
        .withColumn("cents", expr(
          s"${md5Bits("amt", "event_id", 6)} % 100000"))
      val organic = ev.where(col("event_id") % 29 =!= 11)
        .select(concat(lit("u"), col("user_id").cast("string")).as("src"),
          expr("md5(concat('org:', CAST(event_id AS STRING)))").as("dst"),
          col("cents"))
      val planted = ev.where(col("event_id") % 29 === 11)
      val inflow = planted
        .select(concat(lit("u"), col("user_id").cast("string")).as("src"),
          concat(lit("mule"), (col("event_id") % 3).cast("string")).as("dst"),
          col("cents"))
      val outflow = planted
        .select(concat(lit("mule"), (col("event_id") % 3).cast("string")).as("src"),
          expr("md5(concat('cash:', CAST(event_id % 3 AS STRING), ':', CAST(event_id % 5 AS STRING)))")
            .as("dst"),
          col("cents"))
      val edges = organic.unionByName(inflow).unionByName(outflow)
      val outs = edges.groupBy(col("src").as("acct"))
        .agg(countDistinct("dst").as("out_deg"), sum("cents").as("out_mass"))
      val ins = edges.groupBy(col("dst").as("acct"))
        .agg(countDistinct("src").as("in_deg"), sum("cents").as("in_mass"))
      outs.join(ins, Seq("acct"), "full_outer")
        .select(col("acct"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("out_mass"), lit(0L)).as("out_mass"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("in_mass"), lit(0L)).as("in_mass"))
        .withColumn("cls",
          when(col("in_deg") >= 3 && col("out_deg") >= 2, "mule")
            .when(col("in_deg") === 0, "payer")
            .when(col("out_deg") === 0, "sink")
            .otherwise("passthrough"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_accounts"),
          sum("in_mass").as("in_mass"), sum("out_mass").as("out_mass"),
          max("in_deg").as("max_in_deg"), max("out_deg").as("max_out_deg"))
        .orderBy("cls")
    },
      s"""WITH ev AS (
        |  SELECT event_id, user_id,
        |    ${duckMd5Bits("amt", "event_id", 6)} % 100000 AS cents
        |  FROM events),
        |edges AS (
        |  SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
        |    md5('org:' || CAST(event_id AS VARCHAR)) AS dst, cents
        |  FROM ev WHERE event_id % 29 <> 11
        |  UNION ALL
        |  SELECT 'u' || CAST(user_id AS VARCHAR),
        |    'mule' || CAST(event_id % 3 AS VARCHAR), cents
        |  FROM ev WHERE event_id % 29 = 11
        |  UNION ALL
        |  SELECT 'mule' || CAST(event_id % 3 AS VARCHAR),
        |    md5('cash:' || CAST(event_id % 3 AS VARCHAR) || ':' || CAST(event_id % 5 AS VARCHAR)),
        |    cents
        |  FROM ev WHERE event_id % 29 = 11),
        |outs AS (SELECT src AS acct, CAST(COUNT(DISTINCT dst) AS BIGINT) AS out_deg,
        |    CAST(SUM(cents) AS BIGINT) AS out_mass FROM edges GROUP BY 1),
        |ins AS (SELECT dst AS acct, CAST(COUNT(DISTINCT src) AS BIGINT) AS in_deg,
        |    CAST(SUM(cents) AS BIGINT) AS in_mass FROM edges GROUP BY 1),
        |acct AS (
        |  SELECT coalesce(o.acct, i.acct) AS acct,
        |    coalesce(out_deg, 0) AS out_deg, coalesce(out_mass, 0) AS out_mass,
        |    coalesce(in_deg, 0) AS in_deg, coalesce(in_mass, 0) AS in_mass
        |  FROM outs o FULL OUTER JOIN ins i ON o.acct = i.acct)
        |SELECT CASE WHEN in_deg >= 3 AND out_deg >= 2 THEN 'mule'
        |    WHEN in_deg = 0 THEN 'payer'
        |    WHEN out_deg = 0 THEN 'sink' ELSE 'passthrough' END AS cls,
        |  CAST(COUNT(*) AS BIGINT) AS n_accounts,
        |  CAST(SUM(in_mass) AS BIGINT) AS in_mass,
        |  CAST(SUM(out_mass) AS BIGINT) AS out_mass,
        |  CAST(MAX(in_deg) AS BIGINT) AS max_in_deg,
        |  CAST(MAX(out_deg) AS BIGINT) AS max_out_deg
        |FROM acct GROUP BY 1 ORDER BY cls""".stripMargin),

    // Count-Min sketch — the sublinear heavy-hitter counter every
    // streaming telemetry plane runs when exact per-key counts can't fit
    // (d=4 rows × w=256 md5 counters here): the sketch BUILD is one
    // 4×-explode + rollup over the event keys (1024 cells at any corpus
    // size — the whole point), the QUERY takes min over the 4 row cells,
    // and the one-sided guarantee (estimate ≥ true, overestimate bounded
    // by collisions) is graded directly: per probe (5 planted heavy
    // hitters at ~13% each + one rare key) the exact true count, the CM
    // estimate, and the overestimate. Deterministic md5 hash family →
    // DuckDB replays the sketch bit-for-bit.
    Op("agg_count_min", (s, d) => {
      val items = Tables.events(s, d)
        .select(col("event_id"))
        .withColumn("key", expr(
          s"""CASE WHEN event_id % 3 < 2 THEN concat('hh', CAST(event_id % 5 AS STRING))
            |  WHEN event_id % 997 = 5 THEN 'rare'
            |  ELSE concat('k', CAST(${md5Bits("ck", "event_id", 6)} % 5000 AS STRING))
            |END""".stripMargin))
        .localCheckpoint() // sketch build + truth both fold over it
      val sketch = items
        .withColumn("i", explode(expr("sequence(0, 3)")))
        .withColumn("slot", expr(
          s"${md5Bits("concat('cm', CAST(i AS STRING), ':', key)", 8)} % 256"))
        .groupBy("i", "slot").agg(count(lit(1)).as("cnt"))
      val probeKeys = array((0 until 5).map(h => lit(s"hh$h")) :+ lit("rare"): _*)
      val probes = s.range(1).select(explode(probeKeys).as("key"))
        .withColumn("i", explode(expr("sequence(0, 3)")))
        .withColumn("slot", expr(
          s"${md5Bits("concat('cm', CAST(i AS STRING), ':', key)", 8)} % 256"))
      val estimates = probes.join(sketch, Seq("i", "slot"))
        .groupBy("key").agg(min("cnt").as("estimate"))
      val truth = items.groupBy("key").agg(count(lit(1)).as("true_count"))
      estimates.join(truth, Seq("key"))
        .withColumn("overestimate", col("estimate") - col("true_count"))
        .select("key", "true_count", "estimate", "overestimate")
        .orderBy("key")
    },
      s"""WITH items AS (
        |  SELECT CASE WHEN event_id % 3 < 2 THEN 'hh' || CAST(event_id % 5 AS VARCHAR)
        |    WHEN event_id % 997 = 5 THEN 'rare'
        |    ELSE 'k' || CAST(${duckMd5Bits("ck", "event_id", 6)} % 5000 AS VARCHAR)
        |  END AS key
        |  FROM events),
        |sketch AS (
        |  SELECT i.range AS i,
        |    ${duckMd5Bits("'cm' || CAST(i.range AS VARCHAR) || ':' || key", 8)} % 256 AS slot,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM items CROSS JOIN range(0, 4) i GROUP BY 1, 2),
        |probes AS (
        |  SELECT key, i.range AS i,
        |    ${duckMd5Bits("'cm' || CAST(i.range AS VARCHAR) || ':' || key", 8)} % 256 AS slot
        |  FROM (SELECT unnest(['hh0','hh1','hh2','hh3','hh4','rare']) AS key) pk
        |  CROSS JOIN range(0, 4) i),
        |est AS (
        |  SELECT p.key, CAST(MIN(s.cnt) AS BIGINT) AS estimate
        |  FROM probes p JOIN sketch s ON s.i = p.i AND s.slot = p.slot GROUP BY 1),
        |tr AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS true_count FROM items GROUP BY 1)
        |SELECT e.key, t.true_count, e.estimate,
        |  e.estimate - t.true_count AS overestimate
        |FROM est e JOIN tr t ON t.key = e.key ORDER BY e.key""".stripMargin),

    // Deterministic reservoir sample — the fixed-k uniform sample every
    // profiling/debug path needs from an unbounded table: priority =
    // md5('rs:'||id) (the hash-priority form of Algorithm A-Res; both
    // engines share the total order), sample = top-100 by (priority, id)
    // — a TakeOrdered constant-size heap scan, NO global sort, identical
    // on both engines. Graded: the sample's per-bucket (id % 5)
    // composition and exact id mass — any divergence in the priority
    // order breaks the rollup.
    Op("agg_reservoir_sample", (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("id"))
        .withColumn("pri", expr("md5(concat('rs:', CAST(id AS STRING)))"))
        .orderBy("pri", "id").limit(100)
        .groupBy((col("id") % 5).as("bucket"))
        .agg(count(lit(1)).as("n_sampled"), sum("id").as("id_mass"),
          min("id").as("min_id"))
        .orderBy("bucket")
    },
      """WITH sm AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS id
        |  FROM orders
        |  ORDER BY md5('rs:' || CAST(o_orderkey AS VARCHAR)), CAST(o_orderkey AS BIGINT)
        |  LIMIT 100)
        |SELECT id % 5 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(SUM(id) AS BIGINT) AS id_mass, CAST(MIN(id) AS BIGINT) AS min_id
        |FROM sm GROUP BY 1 ORDER BY bucket""".stripMargin),

    // t-closeness audit — the third leg of the privacy triad beside
    // k-anonymity (class size) and l-diversity (distinct sensitive
    // values): per quasi-identifier class the TOTAL VARIATION distance
    // between the class's sensitive-value distribution and the global
    // one, in exact cross-multiplied ppm (Σ|cnt_cs·N − g_s·n_c| · 10⁶
    // DIV (2·n_c·N) — every product ≤ 10¹⁵, plain BIGINT). Class 3
    // plants a 70% skew toward value 0 (the attribute-disclosure leak
    // t-closeness exists to catch) and must exceed the 300 000-ppm bar.
    // Two rollups + one broadcast global join — linear.
    Op("warehouse_t_closeness", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("qi", (col("k") % 8).cast("int"))
        .withColumn("g", expr(
          md5Bits("sv", "k", 6)))
        .withColumn("sv",
          when(col("qi") === 3 && col("g") % 100 < 70, lit(0L))
            .otherwise(col("g") % 5))
      val cls = t.groupBy("qi", "sv").agg(count(lit(1)).as("c_cs"))
      val glob = t.groupBy("sv").agg(count(lit(1)).as("g_s"))
      val sizes = cls.groupBy("qi").agg(sum("c_cs").as("n_c"))
      val nTot = glob.agg(sum("g_s").as("n_tot"))
      // per (class, value): |cnt_cs·N − g_s·n_c| — values the class never
      // holds still contribute g_s·n_c, so build the full grid from the
      // broadcast global dist and left-join the class counts
      sizes.crossJoin(broadcast(glob)).crossJoin(broadcast(nTot))
        .join(cls, Seq("qi", "sv"), "left")
        .withColumn("c_cs", coalesce(col("c_cs"), lit(0L)))
        .withColumn("dev", abs(col("c_cs") * col("n_tot") - col("g_s") * col("n_c")))
        .groupBy("qi")
        .agg(max("n_c").as("n_persons"),
          expr("CAST((SUM(dev) * 1000000) DIV (2 * MAX(n_c) * MAX(n_tot)) AS BIGINT)")
            .as("tvd_ppm"))
        .withColumn("leaky", col("tvd_ppm") > 300000L)
        .select("qi", "n_persons", "tvd_ppm", "leaky")
        .orderBy("qi")
    },
      s"""WITH t AS (
        |  SELECT CAST(c_custkey % 8 AS INT) AS qi,
        |    ${duckMd5Bits("sv", "c_custkey", 6)} AS g
        |  FROM customer),
        |x AS (SELECT qi, CASE WHEN qi = 3 AND g % 100 < 70 THEN 0 ELSE g % 5 END AS sv FROM t),
        |cls AS (SELECT qi, sv, CAST(COUNT(*) AS BIGINT) AS c_cs FROM x GROUP BY 1, 2),
        |gdist AS (SELECT sv, CAST(COUNT(*) AS BIGINT) AS g_s FROM x GROUP BY 1),
        |sizes AS (SELECT qi, CAST(SUM(c_cs) AS BIGINT) AS n_c FROM cls GROUP BY 1),
        |nt AS (SELECT CAST(SUM(g_s) AS BIGINT) AS n_tot FROM gdist),
        |grid AS (
        |  SELECT z.qi, z.n_c, gl.sv, gl.g_s, nt.n_tot, coalesce(c.c_cs, 0) AS c_cs
        |  FROM sizes z CROSS JOIN gdist gl CROSS JOIN nt
        |  LEFT JOIN cls c ON c.qi = z.qi AND c.sv = gl.sv)
        |SELECT qi, CAST(MAX(n_c) AS BIGINT) AS n_persons,
        |  CAST((SUM(abs(c_cs * n_tot - g_s * n_c)) * 1000000)
        |    // (2 * MAX(n_c) * MAX(n_tot)) AS BIGINT) AS tvd_ppm,
        |  CAST((SUM(abs(c_cs * n_tot - g_s * n_c)) * 1000000)
        |    // (2 * MAX(n_c) * MAX(n_tot)) AS BIGINT) > 300000 AS leaky
        |FROM grid GROUP BY 1 ORDER BY qi""".stripMargin),

    // Interrupted time series — the pre/post causal read on a KPI when
    // there is no control group (the deploy-went-out-at-bucket-24 story):
    // 48 sequence-indexed buckets (event_id % 48 — wall-clock buckets die
    // at sparse SFs), per-bucket mean in exact milli-cents (floor DIV),
    // and per segment the OLS slope in closed cross-multiplied form
    // (n·Σty − Σt·Σy)·10⁶ DIV (n·Σt² − (Σt)²) — no sequential division,
    // DECIMAL(38,0) products. The plant: pre slope 200 cents/bucket, at
    // bucket 24 a +5000-cent level shift AND a +300 slope break — the
    // segmented fit must read both. Per (cohort, segment): buckets, mean
    // milli, slope micro. Two rollups — linear.
    Op("agg_interrupted_ts", (s, d) => {
      val byBucket = Tables.events(s, d)
        .select(col("event_id"), col("user_id"))
        .withColumn("b", (col("event_id") % 48).cast("bigint"))
        .withColumn("cohort", (col("user_id") % 3).cast("int"))
        .withColumn("cents",
          lit(10000L) + col("b") * 200L +
            when(col("b") >= 24, lit(5000L) + (col("b") - 24) * 300L).otherwise(0L) +
            expr(s"${md5Bits("n", "event_id", 6)} % 200"))
        .groupBy("cohort", "b")
        .agg(expr("(SUM(cents) * 1000) DIV COUNT(*)").as("y"))
      byBucket
        .withColumn("segment", when(col("b") < 24, "pre").otherwise("post"))
        .groupBy("cohort", "segment")
        .agg(count(lit(1)).as("n_buckets"),
          expr("SUM(y) DIV COUNT(*)").as("y_mean_milli"),
          expr("""CAST((CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(b * y) - SUM(b) * SUM(y)) * 1000000
                 | DIV (CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(b * b) - SUM(b) * SUM(b)) AS BIGINT)""".stripMargin)
            .as("slope_micro"))
        .orderBy("cohort", "segment")
    },
      s"""WITH e AS (
        |  SELECT event_id % 48 AS b, CAST(user_id % 3 AS INT) AS cohort,
        |    10000 + (event_id % 48) * 200
        |      + CASE WHEN event_id % 48 >= 24 THEN 5000 + (event_id % 48 - 24) * 300 ELSE 0 END
        |      + ${duckMd5Bits("n", "event_id", 6)} % 200 AS cents
        |  FROM events),
        |bk AS (
        |  SELECT cohort, b, CAST((SUM(cents) * 1000) // COUNT(*) AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2),
        |seg AS (SELECT cohort, CASE WHEN b < 24 THEN 'pre' ELSE 'post' END AS segment, b, y FROM bk)
        |SELECT cohort, segment, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(y) // COUNT(*) AS BIGINT) AS y_mean_milli,
        |  CAST((CAST(COUNT(*) AS HUGEINT) * SUM(b * y) - CAST(SUM(b) AS HUGEINT) * SUM(y)) * 1000000
        |    // (CAST(COUNT(*) AS HUGEINT) * SUM(b * b) - CAST(SUM(b) AS HUGEINT) * SUM(b)) AS BIGINT) AS slope_micro
        |FROM seg GROUP BY 1, 2 ORDER BY cohort, segment""".stripMargin),

    // Synthetic control by donor matching — the program-evaluation shape
    // when ONE unit is treated and the counterfactual must be assembled
    // from untreated donors: 8 units with md5-planted level offsets, 12
    // pre + 12 post sequence buckets, per-unit bucket means in exact
    // milli; the donor minimizing the exact pre-period L1 distance to
    // the treated unit becomes the synthetic control (min-dist, unit
    // tie-break — deterministic on both engines), and the effect is the
    // post-gap mean minus the pre-gap mean (the DiD correction for the
    // residual level mismatch). Unit 0 plants a +4000-cent post effect.
    // Graded per donor: pre L1 mass, selection, and the att estimate on
    // the selected row. Bucket rollup + broadcast treated join — linear.
    Op("agg_synthetic_control", (s, d) => {
      val byUnit = Tables.events(s, d)
        .select(col("event_id"), col("user_id"))
        .withColumn("unit", (col("user_id") % 8).cast("bigint"))
        .withColumn("b", (col("event_id") % 24).cast("bigint"))
        .withColumn("cents",
          lit(10000L) + col("b") * 100L +
            expr(s"${md5Bits("lv", "user_id % 8", 6)} % 2000") +
            when(col("unit") === 0 && col("b") >= 12, 4000L).otherwise(0L) +
            expr(s"${md5Bits("sc", "event_id", 6)} % 200"))
        .groupBy("unit", "b")
        .agg(expr("(SUM(cents) * 1000) DIV COUNT(*)").as("y"))
        .localCheckpoint() // treated series + donor sweep both read it
      val treated = byUnit.where(col("unit") === 0)
        .select(col("b"), col("y").as("y0"))
      val donors = byUnit.where(col("unit") =!= 0)
        .join(broadcast(treated), Seq("b"))
        .groupBy("unit")
        .agg(sum(when(col("b") < 12, abs(col("y") - col("y0"))).otherwise(0L))
            .as("pre_l1_mass"),
          // gap MASSES, not means: y0 − y is signed and Spark DIV
          // truncates where DuckDB // floors — exact sums divide nowhere
          sum(when(col("b") < 12, col("y0") - col("y")).otherwise(0L))
            .as("pre_gap_mass"),
          sum(when(col("b") >= 12, col("y0") - col("y")).otherwise(0L))
            .as("post_gap_mass"))
      val w = Window.orderBy(col("pre_l1_mass"), col("unit"))
      donors
        .withColumn("rk", row_number().over(w))
        .withColumn("selected", col("rk") === 1)
        .withColumn("att_mass",
          when(col("selected"), col("post_gap_mass") - col("pre_gap_mass")))
        .select("unit", "pre_l1_mass", "selected", "att_mass")
        .orderBy("unit")
    },
      s"""WITH e AS (
        |  SELECT user_id % 8 AS unit, event_id % 24 AS b,
        |    10000 + (event_id % 24) * 100
        |      + ${duckMd5Bits("lv", "user_id % 8", 6)} % 2000
        |      + CASE WHEN user_id % 8 = 0 AND event_id % 24 >= 12 THEN 4000 ELSE 0 END
        |      + ${duckMd5Bits("sc", "event_id", 6)} % 200 AS cents
        |  FROM events),
        |bu AS (SELECT unit, b, CAST((SUM(cents) * 1000) // COUNT(*) AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2),
        |tr AS (SELECT b, y AS y0 FROM bu WHERE unit = 0),
        |dn AS (
        |  SELECT d.unit,
        |    CAST(SUM(CASE WHEN d.b < 12 THEN abs(d.y - t.y0) ELSE 0 END) AS BIGINT) AS pre_l1_mass,
        |    CAST(SUM(CASE WHEN d.b < 12 THEN t.y0 - d.y ELSE 0 END) AS BIGINT) AS pre_gap_mass,
        |    CAST(SUM(CASE WHEN d.b >= 12 THEN t.y0 - d.y ELSE 0 END) AS BIGINT) AS post_gap_mass
        |  FROM bu d JOIN tr t ON t.b = d.b WHERE d.unit <> 0 GROUP BY 1),
        |rk AS (
        |  SELECT unit, pre_l1_mass, pre_gap_mass, post_gap_mass,
        |    ROW_NUMBER() OVER (ORDER BY pre_l1_mass, unit) AS r
        |  FROM dn)
        |SELECT unit, pre_l1_mass, r = 1 AS selected,
        |  CASE WHEN r = 1 THEN post_gap_mass - pre_gap_mass END AS att_mass
        |FROM rk ORDER BY unit""".stripMargin),

    // Two-model uplift (incrementality) — the causal segmentation every
    // retention campaign needs: md5 1:1 treatment assignment over four
    // planted behavioral segments (sure-things respond regardless,
    // persuadables only if treated, lost causes never, sleeping dogs
    // only if NOT treated — all with a 10% md5 flip so no rate is a
    // degenerate 0/1), per-segment response rates by arm in exact ppm
    // and their difference — positive uplift isolates the persuadables
    // (the only segment worth the contact cost), negative exposes the
    // sleeping dogs a blanket campaign damages. One conditional rollup.
    Op("agg_uplift_twomodel", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("segment", (col("k") % 4).cast("int"))
        .withColumn("treated", expr(
          s"${md5Bits("tr", "k", 6)} % 2 = 1"))
        .withColumn("flip", expr(
          s"${md5Bits("fl", "k", 6)} % 10 = 0"))
        .withColumn("base_resp",
          when(col("segment") === 0, lit(true))
            .when(col("segment") === 1, col("treated"))
            .when(col("segment") === 2, lit(false))
            .otherwise(!col("treated")))
        .withColumn("resp", col("base_resp") =!= col("flip"))
      t.groupBy("segment")
        .agg(sum(when(col("treated"), 1L).otherwise(0L)).as("n_treated"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n_control"),
          sum(when(col("treated") && col("resp"), 1L).otherwise(0L)).as("resp_t"),
          sum(when(!col("treated") && col("resp"), 1L).otherwise(0L)).as("resp_c"))
        .withColumn("uplift_ppm", expr(
          "(resp_t * 1000000) DIV NULLIF(n_treated, 0) - (resp_c * 1000000) DIV NULLIF(n_control, 0)"))
        .orderBy("segment")
    },
      s"""WITH t AS (
        |  SELECT CAST(c_custkey % 4 AS INT) AS segment,
        |    ${duckMd5Bits("tr", "c_custkey", 6)} % 2 = 1 AS treated,
        |    ${duckMd5Bits("fl", "c_custkey", 6)} % 10 = 0 AS flip
        |  FROM customer),
        |r AS (
        |  SELECT segment, treated,
        |    (CASE segment WHEN 0 THEN TRUE WHEN 1 THEN treated
        |      WHEN 2 THEN FALSE ELSE NOT treated END) <> flip AS resp
        |  FROM t),
        |m AS (
        |  SELECT segment,
        |    CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
        |    CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
        |    CAST(SUM(CASE WHEN treated AND resp THEN 1 ELSE 0 END) AS BIGINT) AS resp_t,
        |    CAST(SUM(CASE WHEN NOT treated AND resp THEN 1 ELSE 0 END) AS BIGINT) AS resp_c
        |  FROM r GROUP BY 1)
        |SELECT segment, n_treated, n_control, resp_t, resp_c,
        |  (resp_t * 1000000) // NULLIF(n_treated, 0)
        |    - (resp_c * 1000000) // NULLIF(n_control, 0) AS uplift_ppm
        |FROM m ORDER BY segment""".stripMargin),

    // Sliding-window-counter rate limiter — the Cloudflare-style
    // estimator every API gateway actually deploys (a true rolling log is
    // O(requests) state; the counter pair is O(1)): per (principal,
    // window) request counts, and at the mid-window evaluation point the
    // estimated rate = ½·previous-window count + current count, exact in
    // milli-requests (prev·500 + cur·1000). Windows are sequence-indexed
    // (event_id % 24 — wall-clock windows die at sparse SFs); the w−1
    // adjacency comes from ONE per-user lag join. Planted pressure: the
    // 1-in-5 cohort-0 principals carry ~2.4× the request rate, so their
    // windows dominate the over-limit census at the 8-request bar. Per
    // cohort: windows, over-limit windows, estimate mass — the
    // shed-traffic sizing. Two rollups + one equi-join, linear.
    Op("service_sliding_window_limit", (s, d) => {
      val req = Tables.events(s, d)
        .select(col("user_id"), col("event_id"))
        // cohort-0 principals absorb a planted burst: events re-keyed so
        // user%5==0 receives the 1-in-3 overflow slice too
        .withColumn("principal",
          when(col("event_id") % 3 === 0, expr("(user_id DIV 5) * 5"))
            .otherwise(col("user_id")))
        .withColumn("w", (col("event_id") % 24).cast("bigint"))
      val cnt = req.groupBy("principal", "w")
        .agg(count(lit(1)).as("cur")).localCheckpoint()
      val prev = cnt.select(col("principal"), (col("w") + 1).as("w"),
        col("cur").as("prv"))
      cnt.join(prev, Seq("principal", "w"), "left")
        .withColumn("est_milli",
          coalesce(col("prv"), lit(0L)) * 500L + col("cur") * 1000L)
        .withColumn("over", col("est_milli") > 8000L)
        .groupBy((col("principal") % 5).as("cohort"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("over"), 1L).otherwise(0L)).as("n_over"),
          sum("cur").as("n_requests"),
          sum("est_milli").as("est_mass_milli"))
        .withColumn("over_ppm", expr("(n_over * 1000000) DIV n_windows"))
        .orderBy("cohort")
    },
      """WITH req AS (
        |  SELECT CASE WHEN event_id % 3 = 0 THEN (user_id // 5) * 5 ELSE user_id END AS principal,
        |    event_id % 24 AS w
        |  FROM events),
        |cnt AS (SELECT principal, w, CAST(COUNT(*) AS BIGINT) AS cur FROM req GROUP BY 1, 2),
        |est AS (
        |  SELECT c.principal, c.w, c.cur,
        |    coalesce(p.cur, 0) * 500 + c.cur * 1000 AS est_milli
        |  FROM cnt c LEFT JOIN cnt p ON p.principal = c.principal AND p.w = c.w - 1)
        |SELECT principal % 5 AS cohort, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN est_milli > 8000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
        |  CAST(SUM(cur) AS BIGINT) AS n_requests,
        |  CAST(SUM(est_milli) AS BIGINT) AS est_mass_milli,
        |  CAST((SUM(CASE WHEN est_milli > 8000 THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS over_ppm
        |FROM est GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Retry-budget accounting — the Finagle/Envoy 20%-budget rule that
    // stops retry storms (unbounded retries turn a 15% failure blip into
    // 2× load): per service the md5 failure census (service 2 plants a
    // 35% failure regression), the budget = requests·20 DIV 100, retries
    // granted = min(failures, budget), and the overflow census — failures
    // the budget refused to retry, the load-shed a storm would have
    // amplified. Exact integer budget arithmetic; one rollup.
    Op("service_retry_budget", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"), (col("user_id") % 4).as("svc"))
        .withColumn("failed", expr(
          s"${md5Bits("rf", "event_id", 6)} % 100") <
          when(col("svc") === 2, 35L).otherwise(15L))
        .groupBy("svc")
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("failed"), 1L).otherwise(0L)).as("n_failures"))
        .withColumn("budget", expr("(n_requests * 20) DIV 100"))
        .withColumn("retries_granted", least(col("n_failures"), col("budget")))
        .withColumn("refused", col("n_failures") - col("retries_granted"))
        .withColumn("budget_util_ppm",
          expr("(retries_granted * 1000000) DIV NULLIF(budget, 0)"))
        .orderBy("svc")
    },
      s"""WITH t AS (
        |  SELECT user_id % 4 AS svc,
        |    ${duckMd5Bits("rf", "event_id", 6)} % 100
        |      < CASE WHEN user_id % 4 = 2 THEN 35 ELSE 15 END AS failed
        |  FROM events),
        |m AS (SELECT svc, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |    CAST(SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS n_failures
        |  FROM t GROUP BY 1)
        |SELECT svc, n_requests, n_failures,
        |  (n_requests * 20) // 100 AS budget,
        |  least(n_failures, (n_requests * 20) // 100) AS retries_granted,
        |  n_failures - least(n_failures, (n_requests * 20) // 100) AS refused,
        |  CAST((least(n_failures, (n_requests * 20) // 100) * 1000000)
        |    // NULLIF((n_requests * 20) // 100, 0) AS BIGINT) AS budget_util_ppm
        |FROM m ORDER BY svc""".stripMargin),

    // Apdex score — the user-satisfaction index SLO reviews quote
    // (satisfied ≤ T, tolerating ≤ 4T, apdex = (sat + tol/2) / n): md5
    // latencies 0–1999 ms against T = 300 ms, service 3 planting a
    // +800 ms regression, the score exact in milli-Apdex
    // ((sat·1000 + tol·500) DIV n — no floats). Per service: census +
    // the milli score. One conditional rollup.
    Op("agg_apdex", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"), (col("user_id") % 4).as("svc"))
        .withColumn("lat_ms", expr(
          s"${md5Bits("ap", "event_id", 6)} % 2000") +
          when(col("svc") === 3, 800L).otherwise(0L))
        .groupBy("svc")
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("lat_ms") <= 300, 1L).otherwise(0L)).as("n_satisfied"),
          sum(when(col("lat_ms") > 300 && col("lat_ms") <= 1200, 1L).otherwise(0L))
            .as("n_tolerating"),
          sum(when(col("lat_ms") > 1200, 1L).otherwise(0L)).as("n_frustrated"))
        .withColumn("apdex_milli",
          expr("(n_satisfied * 1000 + n_tolerating * 500) DIV n_requests"))
        .orderBy("svc")
    },
      s"""WITH t AS (
        |  SELECT user_id % 4 AS svc,
        |    ${duckMd5Bits("ap", "event_id", 6)} % 2000
        |      + CASE WHEN user_id % 4 = 3 THEN 800 ELSE 0 END AS lat_ms
        |  FROM events)
        |SELECT svc, CAST(COUNT(*) AS BIGINT) AS n_requests,
        |  CAST(SUM(CASE WHEN lat_ms <= 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
        |  CAST(SUM(CASE WHEN lat_ms > 300 AND lat_ms <= 1200 THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
        |  CAST(SUM(CASE WHEN lat_ms > 1200 THEN 1 ELSE 0 END) AS BIGINT) AS n_frustrated,
        |  CAST((SUM(CASE WHEN lat_ms <= 300 THEN 1 ELSE 0 END) * 1000
        |    + SUM(CASE WHEN lat_ms > 300 AND lat_ms <= 1200 THEN 1 ELSE 0 END) * 500)
        |    // COUNT(*) AS BIGINT) AS apdex_milli
        |FROM t GROUP BY 1 ORDER BY svc""".stripMargin),

    // Read-repair census — the quorum-read side effect service_quorum_
    // staleness doesn't cover (it measures staleness; this measures the
    // REPAIR work): every key lives on N=3 replicas whose versions drift
    // by md5 plant (replica r of key k misses the last write 1-in-(3+r)),
    // a read contacts R=2 md5-chosen replicas, divergence (different
    // versions) triggers a repair that writes back the max version. Per
    // shard: reads, divergent reads, repair-write mass (version gap) —
    // the background write amplification quorum reads pay. One projection
    // + rollup, linear.
    Op("service_read_repair", (s, d) => {
      val t = Tables.events(s, d)
        .select(col("event_id"), (col("user_id") % 8).as("shard"))
        .withColumn("v_latest", expr(
          s"${md5Bits("vw", "event_id", 6)} % 50 + 10"))
      // replica r's version: latest unless the md5 plant says it lags
      def vr(r: Int) = when(expr(
        s"${md5Bits(s"lag$r", "event_id", 6)} % ${3 + r}") === 0,
        col("v_latest") - (expr(
          s"${md5Bits(s"gap$r", "event_id", 6)} % 5") + 1))
        .otherwise(col("v_latest"))
      val read = t
        .withColumn("r0", vr(0)).withColumn("r1", vr(1)).withColumn("r2", vr(2))
        .withColumn("pick", expr(
          s"${md5Bits("pk", "event_id", 6)} % 3"))
        // R=2: contacted pair excludes replica `pick`
        .withColumn("va", when(col("pick") === 0, col("r1")).otherwise(col("r0")))
        .withColumn("vb", when(col("pick") === 2, col("r1")).otherwise(col("r2")))
      read.groupBy("shard")
        .agg(count(lit(1)).as("n_reads"),
          sum(when(col("va") =!= col("vb"), 1L).otherwise(0L)).as("n_divergent"),
          sum(abs(col("va") - col("vb"))).as("repair_gap_mass"),
          sum(greatest(col("va"), col("vb"))).as("resolved_version_mass"))
        .withColumn("divergent_ppm", expr("(n_divergent * 1000000) DIV n_reads"))
        .orderBy("shard")
    },
      s"""WITH t AS (
        |  SELECT event_id, user_id % 8 AS shard,
        |    ${duckMd5Bits("vw", "event_id", 6)} % 50 + 10 AS v_latest
        |  FROM events),
        |r AS (
        |  SELECT shard, event_id, v_latest,
        |    CASE WHEN ${duckMd5Bits("lag0", "event_id", 6)} % 3 = 0
        |      THEN v_latest - (${duckMd5Bits("gap0", "event_id", 6)} % 5 + 1)
        |      ELSE v_latest END AS r0,
        |    CASE WHEN ${duckMd5Bits("lag1", "event_id", 6)} % 4 = 0
        |      THEN v_latest - (${duckMd5Bits("gap1", "event_id", 6)} % 5 + 1)
        |      ELSE v_latest END AS r1,
        |    CASE WHEN ${duckMd5Bits("lag2", "event_id", 6)} % 5 = 0
        |      THEN v_latest - (${duckMd5Bits("gap2", "event_id", 6)} % 5 + 1)
        |      ELSE v_latest END AS r2,
        |    ${duckMd5Bits("pk", "event_id", 6)} % 3 AS pick
        |  FROM t),
        |p AS (SELECT shard,
        |    CASE WHEN pick = 0 THEN r1 ELSE r0 END AS va,
        |    CASE WHEN pick = 2 THEN r1 ELSE r2 END AS vb
        |  FROM r)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_reads,
        |  CAST(SUM(CASE WHEN va <> vb THEN 1 ELSE 0 END) AS BIGINT) AS n_divergent,
        |  CAST(SUM(abs(va - vb)) AS BIGINT) AS repair_gap_mass,
        |  CAST(SUM(greatest(va, vb)) AS BIGINT) AS resolved_version_mass,
        |  CAST((SUM(CASE WHEN va <> vb THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS divergent_ppm
        |FROM p GROUP BY 1 ORDER BY shard""".stripMargin),

    // Merkle-tree anti-entropy — the replica-sync protocol (Dynamo/
    // Cassandra repair) that finds divergent key ranges in O(log n)
    // hash comparisons instead of shipping the keyspace: 64 leaf ranges,
    // leaf digest = SUM of md5(key:value) % 2⁴⁰ over members, re-modded at every level so the fold is bounded at any corpus size (commutative
    // — order-free, so both engines aggregate identically), inner levels
    // by halving the leaf index, replica B planting a value drift on
    // 1-in-16 keys. Graded per tree level (6 → 0): nodes, differing
    // nodes — the comparison frontier — plus the leaf-level transfer
    // census the protocol ends with (keys in differing leaves vs total:
    // the bandwidth anti-entropy saves). Pure rollups per level.
    Op("fn_merkle_antientropy", (s, d) => {
      val keys = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("leaf", expr(
          s"${md5Bits("mk", "k", 8)} % 64"))
        .withColumn("va", expr(
          md5Bits("mv", "k", 6)))
        .withColumn("vb",
          when(col("k") % 16 === 9, col("va") + 1).otherwise(col("va")))
        .withColumn("ha", expr(
          s"${md5Bits("concat('mh:', CAST(k AS STRING), ':', CAST(va AS STRING))", 12)} % 1099511627776"))
        .withColumn("hb", expr(
          s"${md5Bits("concat('mh:', CAST(k AS STRING), ':', CAST(vb AS STRING))", 12)} % 1099511627776"))
        .localCheckpoint() // leaf digests + transfer census share it
      val leaves = keys.groupBy("leaf")
        .agg(expr("SUM(ha) % 1099511627776").as("da"),
          expr("SUM(hb) % 1099511627776").as("db"),
          count(lit(1)).as("n_keys"))
        .localCheckpoint()
      val levels = (0 to 6).map { lvl =>
        val width = 1 << (6 - lvl) // nodes at this level
        leaves.groupBy(expr(s"leaf DIV ${64 / width}").as("node"))
          // digest fold re-mods at every level: bounded at ANY corpus size
          .agg(expr("SUM(da) % 1099511627776").as("da"),
            expr("SUM(db) % 1099511627776").as("db"))
          .agg(count(lit(1)).as("n_nodes"),
            sum(when(col("da") =!= col("db"), 1L).otherwise(0L)).as("n_differing"))
          .select(lit(lvl).as("level"), col("n_nodes"), col("n_differing"),
            lit(null).cast("long").as("n_keys_transferred"),
            lit(null).cast("long").as("n_keys_total"))
      }.reduce(_ unionByName _)
      val transfer = leaves
        .agg(sum(when(col("da") =!= col("db"), col("n_keys")).otherwise(0L))
            .as("n_keys_transferred"),
          sum("n_keys").as("n_keys_total"))
        .select(lit(99).as("level"), lit(null).cast("long").as("n_nodes"),
          lit(null).cast("long").as("n_differing"),
          col("n_keys_transferred"), col("n_keys_total"))
      levels.unionByName(transfer).orderBy("level")
    },
      s"""WITH ks AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    ${duckMd5Bits("mk", "o_orderkey", 8)} % 64 AS leaf,
        |    ${duckMd5Bits("mv", "o_orderkey", 6)} AS va
        |  FROM orders),
        |kv AS (SELECT k, leaf, va, CASE WHEN k % 16 = 9 THEN va + 1 ELSE va END AS vb FROM ks),
        |kh AS (SELECT leaf,
        |    ${duckMd5Bits("'mh:' || CAST(k AS VARCHAR) || ':' || CAST(va AS VARCHAR)", 12)} % 1099511627776 AS ha,
        |    ${duckMd5Bits("'mh:' || CAST(k AS VARCHAR) || ':' || CAST(vb AS VARCHAR)", 12)} % 1099511627776 AS hb
        |  FROM kv),
        |leaves AS (SELECT leaf, CAST(SUM(ha) % 1099511627776 AS BIGINT) AS da,
        |    CAST(SUM(hb) % 1099511627776 AS BIGINT) AS db,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys FROM kh GROUP BY 1),
        |nodes AS (
        |  SELECT CAST(l.range AS INT) AS level, leaf // (1 << CAST(l.range AS INT)) AS node,
        |    CAST(SUM(da) % 1099511627776 AS BIGINT) AS da,
        |    CAST(SUM(db) % 1099511627776 AS BIGINT) AS db
        |  FROM leaves CROSS JOIN range(0, 7) l GROUP BY 1, 2),
        |lvlstats AS (
        |  SELECT level, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(CASE WHEN da <> db THEN 1 ELSE 0 END) AS BIGINT) AS n_differing,
        |    CAST(NULL AS BIGINT) AS n_keys_transferred,
        |    CAST(NULL AS BIGINT) AS n_keys_total
        |  FROM nodes GROUP BY 1)
        |SELECT * FROM (
        |  SELECT * FROM lvlstats
        |  UNION ALL
        |  SELECT 99 AS level, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |    CAST(SUM(CASE WHEN da <> db THEN n_keys ELSE 0 END) AS BIGINT),
        |    CAST(SUM(n_keys) AS BIGINT)
        |  FROM leaves
        |) ORDER BY level""".stripMargin),

    // State-based CRDT counter (G-counter pair = PN-counter) — the
    // coordination-free aggregate a multi-region service merges: three
    // nodes shard the increments (node = event_id % 3, P on g%4≠0 /
    // N on g%4=0), three REPLICA VIEWS each see one node fully and the
    // others through a partial md5 window; merge = per-(key, node) MAX
    // over views (the CRDT join), then Σ nodes. Every node has one full
    // viewer, so the merged value must equal the ground truth at every
    // key while every single view undercounts — eventual consistency
    // graded exactly. Per key: the three local values, merged, truth,
    // convergence flag. Two rollups, linear.
    Op("agg_crdt_counter", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), (col("user_id") % 7).as("key"))
        .withColumn("node", (col("event_id") % 3).cast("int"))
        .withColumn("isP", expr(
          s"${md5Bits("pn", "event_id", 6)} % 4 <> 0"))
      def sees(view: Int) = col("node") === view || expr(
        s"${md5Bits(s"sv$view", "event_id", 6)} % 10 < 7")
      val perNode = ev.groupBy("key", "node")
        .agg(
          sum(when(col("isP"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("isP"), 1L).otherwise(0L)).as("tn"),
          sum(when(sees(0) && col("isP"), 1L).otherwise(0L)).as("p0"),
          sum(when(sees(0) && !col("isP"), 1L).otherwise(0L)).as("n0"),
          sum(when(sees(1) && col("isP"), 1L).otherwise(0L)).as("p1"),
          sum(when(sees(1) && !col("isP"), 1L).otherwise(0L)).as("n1"),
          sum(when(sees(2) && col("isP"), 1L).otherwise(0L)).as("p2"),
          sum(when(sees(2) && !col("isP"), 1L).otherwise(0L)).as("n2"))
      perNode.groupBy("key")
        .agg(
          sum(expr("p0 - n0")).as("view0_value"),
          sum(expr("p1 - n1")).as("view1_value"),
          sum(expr("p2 - n2")).as("view2_value"),
          sum(expr("greatest(p0, p1, p2) - greatest(n0, n1, n2)")).as("merged_value"),
          sum(expr("tp - tn")).as("true_value"))
        .withColumn("converged", col("merged_value") === col("true_value"))
        .orderBy("key")
    },
      s"""WITH ev AS (
        |  SELECT user_id % 7 AS key, CAST(event_id % 3 AS INT) AS node,
        |    ${duckMd5Bits("pn", "event_id", 6)} % 4 <> 0 AS isp,
        |    (event_id % 3 = 0) OR (${duckMd5Bits("sv0", "event_id", 6)} % 10 < 7) AS s0,
        |    (event_id % 3 = 1) OR (${duckMd5Bits("sv1", "event_id", 6)} % 10 < 7) AS s1,
        |    (event_id % 3 = 2) OR (${duckMd5Bits("sv2", "event_id", 6)} % 10 < 7) AS s2
        |  FROM events),
        |pn AS (
        |  SELECT key, node,
        |    CAST(SUM(CASE WHEN isp THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT isp THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN s0 AND isp THEN 1 ELSE 0 END) AS BIGINT) AS p0,
        |    CAST(SUM(CASE WHEN s0 AND NOT isp THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN s1 AND isp THEN 1 ELSE 0 END) AS BIGINT) AS p1,
        |    CAST(SUM(CASE WHEN s1 AND NOT isp THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN s2 AND isp THEN 1 ELSE 0 END) AS BIGINT) AS p2,
        |    CAST(SUM(CASE WHEN s2 AND NOT isp THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM ev GROUP BY 1, 2)
        |SELECT key,
        |  CAST(SUM(p0 - n0) AS BIGINT) AS view0_value,
        |  CAST(SUM(p1 - n1) AS BIGINT) AS view1_value,
        |  CAST(SUM(p2 - n2) AS BIGINT) AS view2_value,
        |  CAST(SUM(greatest(p0, p1, p2) - greatest(n0, n1, n2)) AS BIGINT) AS merged_value,
        |  CAST(SUM(tp - tn) AS BIGINT) AS true_value,
        |  CAST(SUM(greatest(p0, p1, p2) - greatest(n0, n1, n2)) AS BIGINT)
        |    = CAST(SUM(tp - tn) AS BIGINT) AS converged
        |FROM pn GROUP BY 1 ORDER BY key""".stripMargin),

    // Reward-hacking audit (length bias) — the RLHF data-quality screen
    // beside llm_best_of_n_select (which picks winners; this audits the
    // REWARD MODEL): per model variant the exact Pearson machinery
    // between completion length and reward in cross-multiplied integers
    // (cov_num = n·Σlr − Σl·Σr; flag iff cov > 0 AND 4·cov² > varl·varr,
    // i.e. correlation > 0.5 — all DECIMAL(38,0), no sqrt, no floats).
    // Variant 2 plants reward = 200 + 2·len (the length-gamed model a
    // verbosity-biased judge produces); organic variants draw reward
    // independently, so only variant 2 may flag. One rollup.
    Op("llm_reward_hacking_audit", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("variant", (col("k") % 4).cast("int"))
        .withColumn("len", expr(
          s"${md5Bits("cl", "k", 6)} % 400 + 100"))
        .withColumn("reward_milli",
          when(col("variant") === 2, lit(200L) + col("len") * 2L)
            .otherwise(expr(
              s"${md5Bits("rw", "k", 6)} % 1000")))
      t.groupBy("variant")
        .agg(count(lit(1)).as("n_pairs"),
          expr("""CAST(CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(len * reward_milli)
                 | - CAST(SUM(len) AS DECIMAL(38,0)) * SUM(reward_milli) AS DECIMAL(38,0))""".stripMargin)
            .as("cov_num"),
          expr("""CAST(CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(len * len)
                 | - CAST(SUM(len) AS DECIMAL(38,0)) * SUM(len) AS DECIMAL(38,0))""".stripMargin)
            .as("var_l"),
          expr("""CAST(CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(reward_milli * reward_milli)
                 | - CAST(SUM(reward_milli) AS DECIMAL(38,0)) * SUM(reward_milli) AS DECIMAL(38,0))""".stripMargin)
            .as("var_r"))
        .withColumn("length_gamed",
          col("cov_num") > 0 && col("cov_num") * col("cov_num") * 4 > col("var_l") * col("var_r"))
        .select(col("variant"), col("n_pairs"),
          col("cov_num").cast("long").as("cov_num"), col("length_gamed"))
        .orderBy("variant")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, CAST(o_orderkey % 4 AS INT) AS variant,
        |    ${duckMd5Bits("cl", "o_orderkey", 6)} % 400 + 100 AS len
        |  FROM orders),
        |r AS (SELECT variant, len,
        |    CASE WHEN variant = 2 THEN 200 + len * 2
        |      ELSE ${duckMd5Bits("rw", "k", 6)} % 1000 END AS reward_milli
        |  FROM t),
        |m AS (
        |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(COUNT(*) AS HUGEINT) * SUM(len * reward_milli)
        |      - CAST(SUM(len) AS HUGEINT) * SUM(reward_milli) AS cov_num,
        |    CAST(COUNT(*) AS HUGEINT) * SUM(len * len)
        |      - CAST(SUM(len) AS HUGEINT) * SUM(len) AS var_l,
        |    CAST(COUNT(*) AS HUGEINT) * SUM(reward_milli * reward_milli)
        |      - CAST(SUM(reward_milli) AS HUGEINT) * SUM(reward_milli) AS var_r
        |  FROM r GROUP BY 1)
        |SELECT variant, n_pairs, CAST(cov_num AS BIGINT) AS cov_num,
        |  cov_num > 0 AND cov_num * cov_num * 4 > var_l * var_r AS length_gamed
        |FROM m ORDER BY variant""".stripMargin),

    // Context-chunk dedup — the KV-cache sharing audit of a RAG serving
    // batch: each query retrieves 12 chunks, the first 4 slots from a
    // 50-chunk POPULAR pool (the hot head every retrieval distribution
    // has) and the rest from a 100k-chunk tail; chunks retrieved by more
    // than one query in the batch can share a prefix-cache entry, so the
    // graded quantity is Σ(refs − 1)·chunk_tokens — the recompute the
    // dedup saves. Per query cohort: retrievals, distinct chunks, dup
    // ppm, saved-token mass. Two rollups, linear.
    Op("llm_context_dedup", (s, d) => {
      val ret = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("q"))
        .withColumn("slot", explode(expr("sequence(0, 11)")))
        .withColumn("chunk", when(col("slot") < 4,
          expr(s"${md5Bits("concat('rc:', CAST(q AS STRING), ':', CAST(slot AS STRING))", 8)} % 50"))
          .otherwise(expr(
            s"50 + ${md5Bits("concat('rc:', CAST(q AS STRING), ':', CAST(slot AS STRING))", 8)} % 100000")))
        .withColumn("cohort", (col("q") % 4).cast("int"))
      val perChunk = ret.groupBy("cohort", "chunk")
        .agg(count(lit(1)).as("refs"))
        .withColumn("tok", expr(
          s"${md5Bits("ct", "chunk", 6)} % 200 + 50"))
      perChunk.groupBy("cohort")
        .agg(sum("refs").as("n_retrievals"),
          count(lit(1)).as("n_distinct_chunks"),
          sum(expr("(refs - 1) * tok")).as("saved_token_mass"))
        .withColumn("dup_ppm", expr(
          "((n_retrievals - n_distinct_chunks) * 1000000) DIV n_retrievals"))
        .orderBy("cohort")
    },
      s"""WITH ret AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS q,
        |    CASE WHEN j.range < 4
        |      THEN ${duckMd5Bits("'rc:' || CAST(o_orderkey AS VARCHAR) || ':' || CAST(j.range AS VARCHAR)", 8)} % 50
        |      ELSE 50 + ${duckMd5Bits("'rc:' || CAST(o_orderkey AS VARCHAR) || ':' || CAST(j.range AS VARCHAR)", 8)} % 100000
        |    END AS chunk
        |  FROM orders CROSS JOIN range(0, 12) j),
        |pc AS (
        |  SELECT CAST(q % 4 AS INT) AS cohort, chunk, CAST(COUNT(*) AS BIGINT) AS refs
        |  FROM ret GROUP BY 1, 2),
        |pt AS (SELECT cohort, refs,
        |    ${duckMd5Bits("ct", "chunk", 6)} % 200 + 50 AS tok
        |  FROM pc)
        |SELECT cohort, CAST(SUM(refs) AS BIGINT) AS n_retrievals,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
        |  CAST(SUM((refs - 1) * tok) AS BIGINT) AS saved_token_mass,
        |  CAST(((SUM(refs) - COUNT(*)) * 1000000) // SUM(refs) AS BIGINT) AS dup_ppm
        |FROM pt GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Synthetic-data mix gate — the model-collapse guard a 2026 corpus
    // needs before training: md5 synthetic tagging at a 30% base rate
    // with source src2 planting 80% (the over-synthetic feed), per source
    // the exact synthetic share in ppm and the ≤50% cap verdict, split
    // over doc and token mass (a few long synthetic docs can breach the
    // TOKEN cap while the doc cap holds — both graded). One rollup.
    Op("llm_synthetic_mix_gate", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("tok"))
        .withColumn("synth", expr(
          s"${md5Bits("sy", "doc_id", 6)} % 100") <
          when(col("source") === "src2", 80L).otherwise(30L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("synth"), 1L).otherwise(0L)).as("n_synth"),
          sum("tok").as("token_mass"),
          sum(when(col("synth"), col("tok")).otherwise(0L)).as("synth_token_mass"))
        .withColumn("synth_doc_ppm", expr("(n_synth * 1000000) DIV n_docs"))
        .withColumn("synth_token_ppm",
          expr("(synth_token_mass * 1000000) DIV token_mass"))
        .withColumn("cap_breached", col("synth_token_ppm") > 500000L)
        .orderBy("source")
    },
      s"""WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    ${duckMd5Bits("sy", "doc_id", 6)} % 100
        |      < CASE WHEN source = 'src2' THEN 80 ELSE 30 END AS synth
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN synth THEN 1 ELSE 0 END) AS BIGINT) AS n_synth,
        |  CAST(SUM(tok) AS BIGINT) AS token_mass,
        |  CAST(SUM(CASE WHEN synth THEN tok ELSE 0 END) AS BIGINT) AS synth_token_mass,
        |  CAST((SUM(CASE WHEN synth THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS synth_doc_ppm,
        |  CAST((SUM(CASE WHEN synth THEN tok ELSE 0 END) * 1000000) // SUM(tok) AS BIGINT) AS synth_token_ppm,
        |  CAST((SUM(CASE WHEN synth THEN tok ELSE 0 END) * 1000000) // SUM(tok) AS BIGINT) > 500000 AS cap_breached
        |FROM t GROUP BY 1 ORDER BY source""".stripMargin),

    // Keyboard-adjacency typo model — the fat-finger prior an ER scorer
    // should charge less for (an 'n'→'m' slip is evidence FOR a match;
    // 'n'→'q' is not): a broadcast QWERTY adjacency table over the
    // 12-name pool's position-2 characters, planted typos replace that
    // character with an ADJACENT key 85% of the time (md5) and a
    // guaranteed non-adjacent 'q' otherwise; the classifier joins the
    // (original, observed) pair against the adjacency table and the
    // graded census recovers the planted 85/15 split per cohort — the
    // empirical fat-finger rate the matcher weight is calibrated from.
    // Projection + broadcast join + rollup, linear.
    Op("fn_keyboard_typo_model", (s, d) => {
      val pool = array(lit("SMITH"), lit("SMYTH"), lit("SCHMIDT"),
        lit("JOHNSON"), lit("JONSON"), lit("MEYER"), lit("MAYER"),
        lit("BROWN"), lit("BRAUN"), lit("TAYLOR"), lit("WALKER"),
        lit("HARRIS"))
      // QWERTY neighbors of the pool's position-2 characters
      // (M,C,O,E,A,R): enough rows to classify every planted slip
      val adj = s.range(1).select(explode(array(
        struct(lit("M").as("orig"), lit("N").as("adjc")),
        struct(lit("M").as("orig"), lit("K").as("adjc")),
        struct(lit("C").as("orig"), lit("X").as("adjc")),
        struct(lit("C").as("orig"), lit("V").as("adjc")),
        struct(lit("O").as("orig"), lit("I").as("adjc")),
        struct(lit("O").as("orig"), lit("P").as("adjc")),
        struct(lit("E").as("orig"), lit("W").as("adjc")),
        struct(lit("E").as("orig"), lit("R").as("adjc")),
        struct(lit("A").as("orig"), lit("S").as("adjc")),
        struct(lit("A").as("orig"), lit("Q").as("adjc")),
        struct(lit("R").as("orig"), lit("E").as("adjc")),
        struct(lit("R").as("orig"), lit("T").as("adjc")))).as("m"))
        .select(col("m.orig").as("orig"), col("m.adjc").as("adjc"))
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("name0", element_at(pool, (col("k") % 12 + 1).cast("int")))
        .withColumn("c2", substring(col("name0"), 2, 1))
        .withColumn("typo", col("k") % 7 === 3)
        .withColumn("fat", expr(
          s"${md5Bits("kb", "k", 6)} % 100 < 85"))
        .withColumn("pick", expr(
          s"${md5Bits("ka", "k", 6)} % 2"))
      // observed char: an md5-picked adjacent key when fat-fingered,
      // the guaranteed-non-adjacent 'q' otherwise
      val firstAdj = adj.groupBy("orig")
        .agg(min("adjc").as("a0"), max("adjc").as("a1"))
        .withColumnRenamed("orig", "fa_orig")
      val obs = t.join(broadcast(firstAdj), t("c2") === firstAdj("fa_orig"))
        .withColumn("oc",
          when(!col("typo"), col("c2"))
            .when(col("fat"), when(col("pick") === 0, col("a0")).otherwise(col("a1")))
            .otherwise(lit("q")))
      val cls = obs.join(broadcast(adj),
          obs("c2") === adj("orig") && obs("oc") === adj("adjc"), "left")
        .withColumn("is_adjacent", col("adjc").isNotNull)
      cls.groupBy((col("k") % 4).as("cohort"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("typo"), 1L).otherwise(0L)).as("n_typos"),
          sum(when(col("typo") && col("is_adjacent"), 1L).otherwise(0L))
            .as("n_adjacent"))
        .withColumn("adjacent_ppm",
          expr("(n_adjacent * 1000000) DIV NULLIF(n_typos, 0)"))
        .orderBy("cohort")
    },
      s"""WITH adj(orig, adjc) AS (VALUES
        |  ('M','N'), ('M','K'), ('C','X'), ('C','V'), ('O','I'), ('O','P'),
        |  ('E','W'), ('E','R'), ('A','S'), ('A','Q'), ('R','E'), ('R','T')),
        |fa AS (SELECT orig, MIN(adjc) AS a0, MAX(adjc) AS a1 FROM adj GROUP BY 1),
        |t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    ['SMITH','SMYTH','SCHMIDT','JOHNSON','JONSON','MEYER','MAYER',
        |     'BROWN','BRAUN','TAYLOR','WALKER','HARRIS'][CAST(c_custkey % 12 AS INT) + 1] AS name0
        |  FROM customer),
        |o AS (
        |  SELECT k, substring(name0, 2, 1) AS c2, k % 7 = 3 AS typo,
        |    CASE WHEN k % 7 <> 3 THEN substring(name0, 2, 1)
        |      WHEN ${duckMd5Bits("kb", "k", 6)} % 100 < 85
        |        THEN CASE WHEN ${duckMd5Bits("ka", "k", 6)} % 2 = 0
        |          THEN fa.a0 ELSE fa.a1 END
        |      ELSE 'q' END AS oc
        |  FROM t JOIN fa ON fa.orig = substring(t.name0, 2, 1)),
        |c AS (
        |  SELECT o.k, o.typo, a.adjc IS NOT NULL AS is_adjacent
        |  FROM o LEFT JOIN adj a ON a.orig = o.c2 AND a.adjc = o.oc)
        |SELECT k % 4 AS cohort, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(CASE WHEN typo THEN 1 ELSE 0 END) AS BIGINT) AS n_typos,
        |  CAST(SUM(CASE WHEN typo AND is_adjacent THEN 1 ELSE 0 END) AS BIGINT) AS n_adjacent,
        |  CAST((SUM(CASE WHEN typo AND is_adjacent THEN 1 ELSE 0 END) * 1000000)
        |    // NULLIF(SUM(CASE WHEN typo THEN 1 ELSE 0 END), 0) AS BIGINT) AS adjacent_ppm
        |FROM c GROUP BY 1 ORDER BY cohort""".stripMargin),

    // OCR confusion repair — the scanned-document cleanup a KYC intake
    // runs (0↔O, 1↔I, 5↔S, 8↔B are THE glyph confusions): document ids
    // 'REF' + 6 digits, a planted 1-in-6 slice OCR-corrupts one md5-
    // chosen confusable digit to its glyph twin, and the repair pass
    // translate()s the confusion alphabet back to digits. Graded per
    // corruption class: documents, corrupted, repaired-to-exact — the
    // recovery census proving the translate table is total over the
    // planted confusions. Linear projection + rollup.
    Op("fn_ocr_confusion", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("ref", concat(lit("REF"), lpad((col("k") % 1000000).cast("string"), 6, "0")))
        .withColumn("corrupt", col("k") % 6 === 2)
        .withColumn("cls", expr(
          s"${md5Bits("oc", "k", 6)} % 4"))
        .withColumn("seen",
          when(!col("corrupt"), col("ref"))
            .when(col("cls") === 0, expr("translate(ref, '0', 'O')"))
            .when(col("cls") === 1, expr("translate(ref, '1', 'I')"))
            .when(col("cls") === 2, expr("translate(ref, '5', 'S')"))
            .otherwise(expr("translate(ref, '8', 'B')")))
        .withColumn("repaired", expr("translate(seen, 'OISB', '0158')"))
      t.groupBy(when(col("corrupt"), col("cls")).otherwise(lit(-1L)).as("cls"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("seen") =!= col("ref"), 1L).otherwise(0L)).as("n_visibly_corrupted"),
          sum(when(col("repaired") === col("ref"), 1L).otherwise(0L)).as("n_repaired_exact"))
        .orderBy("cls")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    'REF' || lpad(CAST(o_orderkey % 1000000 AS VARCHAR), 6, '0') AS ref,
        |    o_orderkey % 6 = 2 AS corrupt,
        |    ${duckMd5Bits("oc", "o_orderkey", 6)} % 4 AS cls
        |  FROM orders),
        |o AS (
        |  SELECT k, ref, corrupt, cls,
        |    CASE WHEN NOT corrupt THEN ref
        |      WHEN cls = 0 THEN translate(ref, '0', 'O')
        |      WHEN cls = 1 THEN translate(ref, '1', 'I')
        |      WHEN cls = 2 THEN translate(ref, '5', 'S')
        |      ELSE translate(ref, '8', 'B') END AS seen
        |  FROM t),
        |r AS (SELECT *, translate(seen, 'OISB', '0158') AS repaired FROM o)
        |SELECT CASE WHEN corrupt THEN cls ELSE -1 END AS cls,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN seen <> ref THEN 1 ELSE 0 END) AS BIGINT) AS n_visibly_corrupted,
        |  CAST(SUM(CASE WHEN repaired = ref THEN 1 ELSE 0 END) AS BIGINT) AS n_repaired_exact
        |FROM r GROUP BY 1 ORDER BY cls""".stripMargin),

    // Flesch reading-ease scoring — the readability leg of the quality-
    // classifier family (llm_quality_classifier scores stopwords/length;
    // this scores SENTENCE STRUCTURE): words by whitespace split,
    // sentences by terminal-punctuation count (+1), syllables by vowel-
    // group count (one regex both engines share), the score per doc in
    // exact milli via the floor-division variant 206835 − (1015·W) DIV S
    // − (84600·Y) DIV W. Per language: corpus mass of each component,
    // the SIGNED score mass (sums only — no signed division), and the
    // easy-band (≥ 60) census. One projection + rollup, linear.
    Op("agg_flesch_reading", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("lang"),
          size(split(col("text"), " ")).cast("bigint").as("w"),
          (expr("regexp_count(text, '[.!?]')") + 1).cast("bigint").as("st"),
          greatest(expr("regexp_count(lower(text), '[aeiouy]+')").cast("bigint"), lit(1L))
            .as("y"))
        .withColumn("score_milli",
          lit(206835L) - expr("(1015 * w) DIV st") - expr("(84600 * y) DIV w"))
      t.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("w").as("word_mass"), sum("st").as("sentence_mass"),
          sum("y").as("syllable_mass"), sum("score_milli").as("score_mass_milli"),
          sum(when(col("score_milli") >= 60000L, 1L).otherwise(0L)).as("n_easy"))
        .orderBy("lang")
    },
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[.!?]')) + 1 AS BIGINT) AS st,
        |    greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT), 1) AS y
        |  FROM documents),
        |sc AS (
        |  SELECT lang, w, st, y,
        |    206835 - (1015 * w) // st - (84600 * y) // w AS score_milli
        |  FROM t)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS word_mass,
        |  CAST(SUM(st) AS BIGINT) AS sentence_mass,
        |  CAST(SUM(y) AS BIGINT) AS syllable_mass,
        |  CAST(SUM(score_milli) AS BIGINT) AS score_mass_milli,
        |  CAST(SUM(CASE WHEN score_milli >= 60000 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy
        |FROM sc GROUP BY 1 ORDER BY lang""".stripMargin),

    // One synchronous Louvain pass — modularity-based community
    // detection over the weighted trade backbone (the label-propagation
    // family's principled sibling: LPA adopts the heaviest label, Louvain
    // adopts the label maximizing MODULARITY GAIN): every node starts in
    // its own community and adopts the neighbor community maximizing the
    // exact cross-multiplied gain 2m·w(i,j) − k_i·k_j when positive
    // (gain DESC, community ASC tie-break — deterministic both engines).
    // The data-scaled work is the one shared trade-edge build; the pass
    // itself runs on the bounded 25-nation backbone. Graded per adopted
    // community: members, internal edge weight, gain mass.
    Op("graph_louvain_pass", (s, d) => {
      val hw = GraphOps.heavyBackboneW(s, d) // (a, b, w) undirected
      val deg = hw.select(col("a").as("n"), col("w"))
        .unionByName(hw.select(col("b").as("n"), col("w")))
        .groupBy("n").agg(sum("w").as("k"))
      val m2 = deg.agg(sum("k").as("m2")) // 2m
      val dir = hw.select(col("a").as("i"), col("b").as("j"), col("w"))
        .unionByName(hw.select(col("b").as("i"), col("a").as("j"), col("w")))
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
      val members = deg.select(col("n").as("i"))
        .join(adopt, Seq("i"), "left")
        .select(col("i"), coalesce(col("comm"), col("i").cast("long")).as("comm"),
          coalesce(col("gain"), lit(0L)).as("gain"))
        .localCheckpoint() // census + internal-weight join share it
      val internal = hw
        .join(members.select(col("i").as("a"), col("comm").as("ca")), Seq("a"))
        .join(members.select(col("i").as("b"), col("comm").as("cb")), Seq("b"))
        .where(col("ca") === col("cb"))
        .groupBy(col("ca").as("comm")).agg(sum("w").as("internal_w"))
      members.groupBy("comm")
        .agg(count(lit(1)).as("n_members"), sum("gain").as("gain_mass"))
        .join(internal, Seq("comm"), "left")
        .withColumn("internal_w", coalesce(col("internal_w"), lit(0L)))
        .orderBy("comm")
    },
      {
      s"""WITH ${GraphOps.louvainOracleCtes},
         |deg AS (SELECT n, CAST(SUM(w) AS BIGINT) AS k FROM (
         |  SELECT a AS n, w FROM hw UNION ALL SELECT b AS n, w FROM hw) q GROUP BY 1),
         |m2 AS (SELECT CAST(SUM(k) AS BIGINT) AS m2 FROM deg),
         |dirx AS (SELECT a AS i, b AS j, w FROM hw UNION ALL SELECT b AS i, a AS j, w FROM hw),
         |ad AS (
         |  SELECT i, CASE WHEN gain2m > 0 THEN j ELSE i END AS comm,
         |    CASE WHEN gain2m > 0 THEN gain2m ELSE 0 END AS gain
         |  FROM (
         |    SELECT d.i, d.j, m2.m2 * d.w - ki.k * kj.k AS gain2m,
         |      ROW_NUMBER() OVER (PARTITION BY d.i
         |        ORDER BY m2.m2 * d.w - ki.k * kj.k DESC, d.j) AS rn
         |    FROM dirx d JOIN deg ki ON ki.n = d.i JOIN deg kj ON kj.n = d.j
         |    CROSS JOIN m2) q
         |  WHERE rn = 1),
         |internal AS (
         |  SELECT ma.comm AS comm, CAST(SUM(hw.w) AS BIGINT) AS internal_w
         |  FROM hw JOIN ad ma ON ma.i = hw.a JOIN ad mb ON mb.i = hw.b
         |  WHERE ma.comm = mb.comm GROUP BY 1)
         |SELECT ad.comm, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(SUM(ad.gain) AS BIGINT) AS gain_mass,
         |  CAST(coalesce(MAX(i2.internal_w), 0) AS BIGINT) AS internal_w
         |FROM ad LEFT JOIN internal i2 ON i2.comm = ad.comm
         |GROUP BY 1 ORDER BY ad.comm""".stripMargin
    }),

    // Grid-DBSCAN over a 1-d exact-cents axis — density clustering with
    // the deterministic grid-neighborhood variant (ε-buckets of 400; a
    // bucket is CORE iff its ±1-bucket population ≥ 1% of n — the
    // RELATIVE minPts that keeps the plant scale-invariant where an
    // absolute one flips class at 100× the data): 70% of points draw
    // from three planted dense centers, 30% uniform noise; clusters are
    // ISLANDS of consecutive core buckets (gaps-and-islands — no
    // iteration), border buckets attach to their nearest island, the
    // rest is noise. Graded per cluster: core/border points, bucket
    // span; plus the noise row. Bucket rollup + one ≤250-row window.
    Op("agg_dbscan_grid", (s, d) => {
      val pts = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("dense", expr(
          s"${md5Bits("db", "k", 6)} % 10 < 7"))
        .withColumn("x",
          when(col("dense"),
            lit(10000L) + expr(s"${md5Bits("dc", "k", 6)} % 3") * 40000L +
              expr(s"${md5Bits("dx", "k", 6)} % 501"))
            .otherwise(expr(
              s"${md5Bits("du", "k", 6)} % 100000")))
        .withColumn("b", expr("x DIV 400"))
      val n = pts.count()
      val minPts = math.max(1L, n / 100)
      val bc = pts.groupBy("b").agg(count(lit(1)).as("cnt")).localCheckpoint()
      val nb = bc.as("c")
        .join(bc.select((col("b") + 1).as("b"), col("cnt").as("cl")), Seq("b"), "left")
        .join(bc.select((col("b") - 1).as("b"), col("cnt").as("cr")), Seq("b"), "left")
        .withColumn("hood",
          col("cnt") + coalesce(col("cl"), lit(0L)) + coalesce(col("cr"), lit(0L)))
        .withColumn("core", col("hood") >= minPts)
        .localCheckpoint()
      val wI = Window.orderBy("b")
      val islands = nb.where(col("core"))
        .withColumn("rn", row_number().over(wI))
        .withColumn("grp", col("b") - col("rn"))
      val wC = Window.partitionBy("grp")
      val coreB = islands.withColumn("cluster", min("b").over(wC))
        .select(col("b"), col("cluster"), col("cnt"))
        .localCheckpoint()
      val border = nb.where(!col("core"))
        .join(coreB.select((col("b") + 1).as("b"), col("cluster").as("cu")), Seq("b"), "left")
        .join(coreB.select((col("b") - 1).as("b"), col("cluster").as("cd")), Seq("b"), "left")
        .withColumn("cluster", least(col("cu"), col("cd")))
      val clusters = coreB.groupBy("cluster")
        .agg(sum("cnt").as("n_core_points"), count(lit(1)).as("n_buckets"))
        .join(border.where(col("cluster").isNotNull)
          .groupBy("cluster").agg(sum("cnt").as("nb0")), Seq("cluster"), "left")
        .select(col("cluster"), col("n_core_points"),
          coalesce(col("nb0"), lit(0L)).as("n_border_points"), col("n_buckets"))
      val noise = border.where(col("cluster").isNull)
        .agg(coalesce(sum("cnt"), lit(0L)).as("n_border_points"),
          count(lit(1)).as("n_buckets"))
        .select(lit(-1L).as("cluster"), lit(0L).as("n_core_points"),
          col("n_border_points"), col("n_buckets"))
      clusters.unionByName(noise).orderBy("cluster")
    },
      s"""WITH pts AS (
        |  SELECT CASE WHEN ${duckMd5Bits("db", "o_orderkey", 6)} % 10 < 7
        |    THEN 10000 + (${duckMd5Bits("dc", "o_orderkey", 6)} % 3) * 40000
        |       + ${duckMd5Bits("dx", "o_orderkey", 6)} % 501
        |    ELSE ${duckMd5Bits("du", "o_orderkey", 6)} % 100000
        |  END AS x
        |  FROM orders),
        |b0 AS (SELECT x // 400 AS b FROM pts),
        |nt AS (SELECT GREATEST(1, COUNT(*) // 100) AS minpts FROM b0),
        |bc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM b0 GROUP BY 1),
        |nb AS (
        |  SELECT c.b, c.cnt,
        |    c.cnt + coalesce(l.cnt, 0) + coalesce(r.cnt, 0) AS hood
        |  FROM bc c LEFT JOIN bc l ON l.b = c.b - 1 LEFT JOIN bc r ON r.b = c.b + 1),
        |nc AS (SELECT nb.*, hood >= (SELECT minpts FROM nt) AS core FROM nb),
        |isl AS (
        |  SELECT b, cnt, b - ROW_NUMBER() OVER (ORDER BY b) AS grp
        |  FROM nc WHERE core),
        |coreb AS (SELECT b, cnt, MIN(b) OVER (PARTITION BY grp) AS cluster FROM isl),
        |bord AS (
        |  SELECT n.b, n.cnt, LEAST(cu.cluster, cd.cluster) AS cluster
        |  FROM nc n LEFT JOIN coreb cu ON cu.b = n.b - 1
        |  LEFT JOIN coreb cd ON cd.b = n.b + 1
        |  WHERE NOT n.core),
        |cl AS (
        |  SELECT cluster, CAST(SUM(cnt) AS BIGINT) AS n_core_points,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets
        |  FROM coreb GROUP BY 1),
        |bd AS (SELECT cluster, CAST(SUM(cnt) AS BIGINT) AS n_border_points
        |  FROM bord WHERE cluster IS NOT NULL GROUP BY 1),
        |nz AS (SELECT CAST(coalesce(SUM(cnt), 0) AS BIGINT) AS n_border_points,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets FROM bord WHERE cluster IS NULL)
        |SELECT * FROM (
        |  SELECT cl.cluster, cl.n_core_points,
        |    CAST(coalesce(bd.n_border_points, 0) AS BIGINT) AS n_border_points,
        |    cl.n_buckets
        |  FROM cl LEFT JOIN bd ON bd.cluster = cl.cluster
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), n_border_points, n_buckets FROM nz
        |) ORDER BY cluster""".stripMargin),

    // IBAN mod-97 validation — the checksum gate a payments intake runs
    // (ISO 13616: move the country+check prefix to the tail, digitize,
    // valid iff the 24-digit number ≡ 1 mod 97): the 24 digits exceed
    // int64, so both engines fold in CHUNKS with precomputed radix
    // residues (10⁹ ≡ 34, 10⁶ ≡ 27 mod 97) — three small multiplies, no
    // big-int. Check digits are DERIVED by the same arithmetic (98 − r),
    // then a 1-in-9 slice corrupts one account digit; mod 97 detects
    // EVERY single-digit substitution, so the invalid census must equal
    // the planted corruption census exactly (asserted in the spec). One
    // projection + rollup, linear.
    Op("fn_iban_mod97", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("hi", (col("k") * 7919L + 13L) % 1000000000L)
        .withColumn("lo", expr(
          s"${md5Bits("ib", "k", 8)} % 1000000000"))
        // check digits for account || 'DE00' tail: r over acct·10⁶+131400
        .withColumn("m2c", expr("((hi % 97) * 34 + lo) % 97"))
        .withColumn("check", lit(98L) - expr("(m2c * 27 + 131400) % 97"))
        .withColumn("corrupted", col("k") % 9 === 4)
        .withColumn("lo_seen",
          when(col("corrupted"),
            when(col("lo") % 10 < 9, col("lo") + 1).otherwise(col("lo") - 1))
            .otherwise(col("lo")))
        .withColumn("m2v", expr("((hi % 97) * 34 + lo_seen) % 97"))
        .withColumn("valid", expr("(m2v * 27 + 131400 + check) % 97 = 1"))
      t.groupBy((col("k") % 5).as("cohort"))
        .agg(count(lit(1)).as("n_ibans"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(!col("valid"), 1L).otherwise(0L)).as("n_invalid"),
          sum(when(col("corrupted"), 1L).otherwise(0L)).as("n_corrupted"))
        .orderBy("cohort")
    },
      s"""WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    (CAST(c_custkey AS BIGINT) * 7919 + 13) % 1000000000 AS hi,
        |    ${duckMd5Bits("ib", "c_custkey", 8)} % 1000000000 AS lo
        |  FROM customer),
        |c AS (
        |  SELECT k, hi, lo, k % 9 = 4 AS corrupted,
        |    98 - (((hi % 97) * 34 + lo) % 97 * 27 + 131400) % 97 AS chk
        |  FROM t),
        |v AS (
        |  SELECT k, corrupted,
        |    (((hi % 97) * 34 + CASE WHEN corrupted THEN
        |        CASE WHEN lo % 10 < 9 THEN lo + 1 ELSE lo - 1 END
        |      ELSE lo END) % 97 * 27 + 131400 + chk) % 97 = 1 AS valid
        |  FROM c)
        |SELECT k % 5 AS cohort, CAST(COUNT(*) AS BIGINT) AS n_ibans,
        |  CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(SUM(CASE WHEN NOT valid THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
        |  CAST(SUM(CASE WHEN corrupted THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupted
        |FROM v GROUP BY 1 ORDER BY cohort""".stripMargin),

    // WebDataset (tar-shard) ingest — THE multimodal training-data
    // layout (grouped member files per sample inside plain tar shards,
    // streamed sequentially at training time): a 1-in-5 document slice
    // staged as 3 USTAR shards with two members per sample (<key>.txt
    // payload + <key>.cls label), read back via binaryFile + a minimal
    // tar parser in one flatMap (each shard parses independently — the
    // shard list is the parallelism unit, exactly how WebDataset scales
    // to 10⁵ shards), samples regrouped BY KEY across member files.
    // Graded per label: samples, members (must be 2×), exact payload
    // byte conservation vs the relational source.
    Op("source_webdataset_shard", (s, d) => {
      val dir = Scratch.staged("wds", d) { dir =>
        val rows = Tables.documents(s, d).where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"), col("lang")).collect()
        rows.groupBy(_.getLong(0) % 3).foreach { case (part, rs) =>
          val out = java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(dir, s"shard_$part.tar"))
          rs.sortBy(_.getLong(0)).foreach { r =>
            val key = f"sample_${r.getLong(0)}%08d"
            TarUtil.writeEntry(out, s"$key.txt",
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            TarUtil.writeEntry(out, s"$key.cls",
              r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          out.write(new Array[Byte](1024)) // tar end-of-archive blocks
          out.close()
        }
      }
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      val members = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar").load(dir)
        .select(col("content")).as[Array[Byte]]
        .flatMap(TarUtil.readEntries _)
        .toDF("name", "bytes")
        .withColumn("key", regexp_extract(col("name"), "^(.*)\\.[a-z]+$", 1))
        .withColumn("ext", regexp_extract(col("name"), "\\.([a-z]+)$", 1))
      val samples = members.groupBy("key").pivot("ext", Seq("txt", "cls"))
        .agg(first("bytes"))
        .select(col("key"), expr("CAST(txt AS STRING)").as("text"),
          expr("CAST(cls AS STRING)").as("lang"),
          expr("CAST(length(txt) AS BIGINT)").as("txt_bytes"))
      samples.groupBy("lang")
        .agg(count(lit(1)).as("n_samples"),
          (count(lit(1)) * 2).as("n_members"),
          sum("txt_bytes").as("txt_byte_mass"),
          min("key").as("first_key"))
        .orderBy("lang")
    },
      // Sample grouping + payload byte conservation vs the relational slice.
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(COUNT(*) * 2 AS BIGINT) AS n_members,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS txt_byte_mass,
        |  MIN('sample_' || lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS first_key
        |FROM documents WHERE doc_id % 5 = 0 GROUP BY 1 ORDER BY lang""".stripMargin),

    // Zip-shard ingest — the other archive layout crawl dumps actually
    // ship in: the same document slice staged as 3 zip shards with
    // members under lang/<doc_id>.txt, read back via binaryFile + one
    // ZipInputStream flatMap per shard (JDK codec — no extra deps), the
    // lang recovered from the member PATH (the directory-as-metadata
    // convention). Graded per lang: members, exact payload byte
    // conservation — a truncated or double-read member breaks the mass.
    Op("source_zip_shard", (s, d) => {
      val dir = Scratch.staged("zipshard", d) { dir =>
        val rows = Tables.documents(s, d).where(col("doc_id") % 4 === 1)
          .select(col("doc_id"), col("text"), col("lang")).collect()
        rows.groupBy(_.getLong(0) % 3).foreach { case (part, rs) =>
          val zout = new java.util.zip.ZipOutputStream(
            java.nio.file.Files.newOutputStream(
              java.nio.file.Paths.get(dir, s"shard_$part.zip")))
          rs.sortBy(_.getLong(0)).foreach { r =>
            zout.putNextEntry(new java.util.zip.ZipEntry(
              s"${r.getString(2)}/${r.getLong(0)}.txt"))
            zout.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            zout.closeEntry()
          }
          zout.close()
        }
      }
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip").load(dir)
        .select(col("content")).as[Array[Byte]]
        .flatMap { bytes =>
          val zin = new java.util.zip.ZipInputStream(
            new java.io.ByteArrayInputStream(bytes))
          Iterator.continually(zin.getNextEntry)
            .takeWhile(_ != null)
            .map(e => (e.getName, zin.readAllBytes().length.toLong))
            .toVector
        }
        .toDF("name", "n_bytes")
        .withColumn("lang", regexp_extract(col("name"), "^([a-z]+)/", 1))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_members"), sum("n_bytes").as("byte_mass"))
        .orderBy("lang")
    },
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS byte_mass
        |FROM documents WHERE doc_id % 4 = 1 GROUP BY 1 ORDER BY lang""".stripMargin),

    // Hadoop SequenceFile roundtrip — the K/V container format the
    // Hadoop-era lake still holds (Writable-encoded, splittable,
    // sync-marked): a 1-in-13 order slice written as (LongWritable,
    // Text) via the RDD SequenceFile API — the one surface Spark exposes
    // for it — and read back with sequenceFile[Long, String]; the
    // per-status rollup must equal the relational source exactly (a
    // Writable re-use bug — the classic sequenceFile trap — duplicates
    // the last record and breaks the census).
    Op("source_sequencefile_roundtrip", (s, d) => {
      val root = Scratch.staged("seqfile", d) { root =>
        val rows = Tables.orders(s, d).where(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"),
            concat(col("o_orderstatus"), lit("|"),
              round(col("o_totalprice") * 100).cast("bigint").cast("string")))
        val rdd = rows.rdd.map(r => (r.getLong(0), r.getString(1)))
        org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(s"$root/data"), true)
        rdd.saveAsSequenceFile(s"$root/data")
      }
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      s.sparkContext.sequenceFile[Long, String](s"$root/data").toDF("okey", "payload")
        .select(col("okey"), split(col("payload"), "\\|").as("f"))
        .select(col("okey"), col("f").getItem(0).as("status"),
          col("f").getItem(1).cast("bigint").as("cents"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("okey").as("min_key"), max("okey").as("max_key"))
        .orderBy("status")
    },
      """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 13 = 0 GROUP BY 1 ORDER BY 1""".stripMargin),

    // Shewhart control chart with Nelson rules 1 & 2 — the SPC screen a
    // data-quality monitor runs on any KPI stream: per machine 48
    // sequence-indexed samples, control limits estimated from the FIRST
    // 16 (baseline mean + average moving range, σ ≈ MR̄/1.128), then
    // rule 1 (|x − center|·1128 > 3000·MR̄ milli — the cross-multiplied
    // form, no division, no sqrt) and rule 2 (9 consecutive samples the
    // same side of center, one 9-row window). Machine class 2 plants a
    // +4σ jump at sample 30 (rule 1 must fire), class 5 a +1.2σ drift
    // at sample 20 (rule 2 fires where rule 1 stays silent — the whole
    // point of the run rule). Census per class. Windows + rollups.
    Op("win_control_chart", (s, d) => {
      val base = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("m"))
        .withColumn("i", explode(expr("sequence(0, 47)")))
        .withColumn("cls", (col("m") % 7).cast("int"))
        .withColumn("noise", expr(
          s"${md5Bits("concat('cc:', CAST(m AS STRING), ':', CAST(i AS STRING))", 6)} % 41") - 20L)
        .withColumn("x",
          lit(500L) + col("noise") +
            when(col("cls") === 2 && col("i") >= 30, 80L).otherwise(0L) +
            when(col("cls") === 5 && col("i") >= 20, 14L).otherwise(0L))
      val wOrd = Window.partitionBy("m").orderBy("i")
      val withMr = base
        .withColumn("prev", lag("x", 1).over(wOrd))
        .withColumn("mr", abs(col("x") - col("prev")))
      val baseline = withMr.where(col("i") < 16)
        .groupBy("m")
        .agg(expr("(SUM(x) * 1000) DIV 16").as("center_milli"),
          expr("(SUM(CASE WHEN i >= 1 THEN mr ELSE 0 END) * 1000) DIV 15")
            .as("mrbar_milli"))
      val marked = base.join(baseline, Seq("m"))
        .withColumn("dev_milli", abs(col("x") * 1000L - col("center_milli")))
        .withColumn("rule1",
          col("i") >= 16 && col("dev_milli") * 1128L > col("mrbar_milli") * 3000L)
        .withColumn("above", (col("x") * 1000L > col("center_milli")).cast("int"))
        .withColumn("run9",
          sum("above").over(wOrd.rowsBetween(-8, 0)))
        .withColumn("rule2", col("i") >= 24 && (col("run9") === 9 || col("run9") === 0))
      val perM = marked.groupBy("m", "cls")
        .agg(sum(when(col("rule1"), 1L).otherwise(0L)).as("n_rule1"),
          sum(when(col("rule2"), 1L).otherwise(0L)).as("n_rule2"))
      perM.groupBy("cls")
        .agg(count(lit(1)).as("n_machines"),
          sum("n_rule1").as("rule1_mass"), sum("n_rule2").as("rule2_mass"),
          sum(when(col("n_rule1") > 0, 1L).otherwise(0L)).as("machines_rule1"),
          sum(when(col("n_rule2") > 0, 1L).otherwise(0L)).as("machines_rule2"))
        .orderBy("cls")
    },
      s"""WITH base AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS m, CAST(i.range AS INT) AS i,
        |    CAST(s_suppkey % 7 AS INT) AS cls,
        |    500 + (${duckMd5Bits("'cc:' || CAST(s_suppkey AS VARCHAR) || ':' || CAST(i.range AS VARCHAR)", 6)} % 41) - 20
        |      + CASE WHEN s_suppkey % 7 = 2 AND i.range >= 30 THEN 80 ELSE 0 END
        |      + CASE WHEN s_suppkey % 7 = 5 AND i.range >= 20 THEN 14 ELSE 0 END AS x
        |  FROM supplier CROSS JOIN range(0, 48) i),
        |mr AS (SELECT m, i, cls, x,
        |    abs(x - lag(x) OVER (PARTITION BY m ORDER BY i)) AS mr
        |  FROM base),
        |bl AS (SELECT m, CAST((SUM(x) * 1000) // 16 AS BIGINT) AS center_milli,
        |    CAST((SUM(CASE WHEN i >= 1 THEN mr ELSE 0 END) * 1000) // 15 AS BIGINT) AS mrbar_milli
        |  FROM mr WHERE i < 16 GROUP BY 1),
        |mk AS (
        |  SELECT b.m, b.cls, b.i,
        |    b.i >= 16 AND abs(b.x * 1000 - bl.center_milli) * 1128 > bl.mrbar_milli * 3000 AS rule1,
        |    CASE WHEN b.x * 1000 > bl.center_milli THEN 1 ELSE 0 END AS above
        |  FROM base b JOIN bl ON bl.m = b.m),
        |r2 AS (SELECT m, cls, i, rule1,
        |    SUM(above) OVER (PARTITION BY m ORDER BY i
        |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS run9
        |  FROM mk),
        |pm AS (SELECT m, cls,
        |    CAST(SUM(CASE WHEN rule1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rule1,
        |    CAST(SUM(CASE WHEN i >= 24 AND (run9 = 9 OR run9 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_rule2
        |  FROM r2 GROUP BY 1, 2)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_machines,
        |  CAST(SUM(n_rule1) AS BIGINT) AS rule1_mass,
        |  CAST(SUM(n_rule2) AS BIGINT) AS rule2_mass,
        |  CAST(SUM(CASE WHEN n_rule1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS machines_rule1,
        |  CAST(SUM(CASE WHEN n_rule2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS machines_rule2
        |FROM pm GROUP BY 1 ORDER BY cls""".stripMargin),

    // Honorific strip — the title/suffix cleanup fn_name_standardize's
    // family still lacked (a matcher that blocks 'DR JOHN SMITH JR'
    // against 'JOHN SMITH' never sees the pair): four planted prefix
    // classes (DR/MR/MS/PROF) × suffix classes (JR/SR/III/none) around
    // a canonical core, stripped by two anchored regexes; graded per
    // layout class: records, stripped == canonical recovery (must be
    // total), residual char mass. Linear projection + rollup.
    Op("fn_honorific_strip", (s, d) => {
      val pre = array(lit("DR "), lit("MR "), lit("MS "), lit("PROF "))
      val suf = array(lit(" JR"), lit(" SR"), lit(" III"), lit(""))
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("canon",
          concat(lit("PERSON "), lpad((col("k") % 997).cast("string"), 4, "0")))
        .withColumn("p", (col("k") % 4).cast("int"))
        .withColumn("q", (expr("k DIV 4") % 4).cast("int"))
        .withColumn("raw", concat(
          element_at(pre, col("p") + 1), col("canon"), element_at(suf, col("q") + 1)))
        .withColumn("stripped", regexp_replace(regexp_replace(
          col("raw"), "^(DR|MR|MS|PROF) ", ""), " (JR|SR|III)$", ""))
      t.groupBy("p", "q")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("stripped") === col("canon"), 1L).otherwise(0L))
            .as("n_recovered"),
          sum(length(col("raw")) - length(col("stripped"))).as("chars_stripped"))
        .orderBy("p", "q")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    'PERSON ' || lpad(CAST(c_custkey % 997 AS VARCHAR), 4, '0') AS canon,
        |    CAST(c_custkey % 4 AS INT) AS p, CAST((c_custkey // 4) % 4 AS INT) AS q
        |  FROM customer),
        |r AS (SELECT k, canon, p, q,
        |    ['DR ','MR ','MS ','PROF '][p + 1] || canon || [' JR',' SR',' III',''][q + 1] AS raw
        |  FROM t),
        |x AS (SELECT p, q, canon, raw,
        |    regexp_replace(regexp_replace(raw, '^(DR|MR|MS|PROF) ', ''), ' (JR|SR|III)$', '') AS stripped
        |  FROM r)
        |SELECT p, q, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(CASE WHEN stripped = canon THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
        |  CAST(SUM(len(raw) - len(stripped)) AS BIGINT) AS chars_stripped
        |FROM x GROUP BY 1, 2 ORDER BY p, q""".stripMargin),

    // Deceased / gone-away suppression — the mailing-list hygiene join
    // every person service runs before contact (and a regulatory duty
    // after a death notification): two broadcast suppression registries
    // (deceased 1-in-23, gone-away 1-in-17 — keys OVERLAP at lcm 391,
    // the inclusion-exclusion case a naive subtraction double-counts),
    // the mailable census graded per cohort with the overlap made
    // explicit: mailable = n − deceased − goneaway + both. Two broadcast
    // semi-join flags + one rollup, linear.
    Op("warehouse_deceased_suppression", (s, d) => {
      val persons = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
      val dec = persons.where(col("k") % 23 === 6).select(col("k").as("dk"))
      val gone = persons.where(col("k") % 17 === 6).select(col("k").as("gk"))
      persons
        .join(broadcast(dec), col("k") === col("dk"), "left")
        .join(broadcast(gone), col("k") === col("gk"), "left")
        .withColumn("is_dec", col("dk").isNotNull)
        .withColumn("is_gone", col("gk").isNotNull)
        .groupBy((col("k") % 4).as("cohort"))
        .agg(count(lit(1)).as("n_persons"),
          sum(when(col("is_dec"), 1L).otherwise(0L)).as("n_deceased"),
          sum(when(col("is_gone"), 1L).otherwise(0L)).as("n_goneaway"),
          sum(when(col("is_dec") && col("is_gone"), 1L).otherwise(0L)).as("n_both"),
          sum(when(!col("is_dec") && !col("is_gone"), 1L).otherwise(0L)).as("n_mailable"))
        .orderBy("cohort")
    },
      """WITH p AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer)
        |SELECT k % 4 AS cohort, CAST(COUNT(*) AS BIGINT) AS n_persons,
        |  CAST(SUM(CASE WHEN k % 23 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_deceased,
        |  CAST(SUM(CASE WHEN k % 17 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_goneaway,
        |  CAST(SUM(CASE WHEN k % 23 = 6 AND k % 17 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(SUM(CASE WHEN k % 23 <> 6 AND k % 17 <> 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_mailable
        |FROM p GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Age-gate classification (COPPA / GDPR Art. 8) — the age-derived
    // consent regime every person service must route on: DOBs spread
    // 1950–2025, age at the FIXED reference date 2026-08-16 computed by
    // the integer-date trick ((refYMD − dobYMD) DIV 10000 — exact
    // birthday handling, no date-type dialect drift); classes child
    // (<13, COPPA), consent_age (13–15, parental consent), minor
    // (16–17), adult (≥18). Graded per class: persons, consent-required
    // flag, age mass (the retention-schedule driver). One projection +
    // rollup, linear.
    Op("fn_age_gate", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("by", lit(1950L) + col("k") % 76)
        .withColumn("bm", col("k") % 12 + 1)
        .withColumn("bd", col("k") % 28 + 1)
        .withColumn("age", expr(
          "(20260816 - (by * 10000 + bm * 100 + bd)) DIV 10000"))
        .withColumn("cls",
          when(col("age") < 13, "1_child")
            .when(col("age") < 16, "2_consent_age")
            .when(col("age") < 18, "3_minor")
            .otherwise("4_adult"))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_persons"), sum("age").as("age_mass"),
          min("age").as("min_age"), max("age").as("max_age"))
        .withColumn("consent_required", col("cls") =!= "4_adult")
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    1950 + CAST(c_custkey AS BIGINT) % 76 AS by,
        |    CAST(c_custkey AS BIGINT) % 12 + 1 AS bm,
        |    CAST(c_custkey AS BIGINT) % 28 + 1 AS bd
        |  FROM customer),
        |a AS (SELECT (20260816 - (by * 10000 + bm * 100 + bd)) // 10000 AS age FROM t),
        |c AS (SELECT age,
        |    CASE WHEN age < 13 THEN '1_child' WHEN age < 16 THEN '2_consent_age'
        |      WHEN age < 18 THEN '3_minor' ELSE '4_adult' END AS cls
        |  FROM a)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_persons,
        |  CAST(SUM(age) AS BIGINT) AS age_mass,
        |  CAST(MIN(age) AS BIGINT) AS min_age, CAST(MAX(age) AS BIGINT) AS max_age,
        |  cls <> '4_adult' AS consent_required
        |FROM c GROUP BY 1 ORDER BY cls""".stripMargin),

    // DOB day/month-transposition check — the US/EU date-format hazard
    // (03/04/1990 is April 3rd in one system and March 4th in the
    // other): system B stores the SWAPPED date whenever day ≤ 12 makes
    // the swap legal; records classify as unambiguous (day > 12 — a
    // swap would be an illegal month), ambiguous-consistent (day ==
    // month — the swap is the identity), or ambiguous-divergent (the
    // dangerous class). Graded per class: records, raw date agreement,
    // agreement AFTER the swap-back repair — divergent must go 0 → all.
    // One projection + rollup, linear.
    Op("fn_dob_transpose_check", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("y", lit(1960L) + col("k") % 50)
        .withColumn("m", col("k") % 12 + 1)
        .withColumn("dd", col("k") % 28 + 1)
        .withColumn("a_date", expr("y * 10000 + m * 100 + dd"))
        // system B: day/month swapped when the swap is a legal date
        .withColumn("b_date",
          when(col("dd") <= 12, expr("y * 10000 + dd * 100 + m"))
            .otherwise(col("a_date")))
        .withColumn("cls",
          when(col("dd") > 12, "unambiguous")
            .when(col("dd") === col("m"), "ambiguous_consistent")
            .otherwise("ambiguous_divergent"))
        .withColumn("b_swapback", expr(
          "(b_date DIV 10000) * 10000 + (b_date % 100) * 100 + (b_date % 10000) DIV 100"))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("a_date") === col("b_date"), 1L).otherwise(0L))
            .as("n_match_raw"),
          sum(when(col("a_date") === col("b_swapback")
            || col("a_date") === col("b_date"), 1L).otherwise(0L))
            .as("n_match_after_swap"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    1960 + CAST(c_custkey AS BIGINT) % 50 AS y,
        |    CAST(c_custkey AS BIGINT) % 12 + 1 AS m,
        |    CAST(c_custkey AS BIGINT) % 28 + 1 AS dd
        |  FROM customer),
        |x AS (
        |  SELECT y * 10000 + m * 100 + dd AS a_date,
        |    CASE WHEN dd <= 12 THEN y * 10000 + dd * 100 + m
        |      ELSE y * 10000 + m * 100 + dd END AS b_date,
        |    CASE WHEN dd > 12 THEN 'unambiguous'
        |      WHEN dd = m THEN 'ambiguous_consistent'
        |      ELSE 'ambiguous_divergent' END AS cls
        |  FROM t),
        |r AS (SELECT cls, a_date, b_date,
        |    (b_date // 10000) * 10000 + (b_date % 100) * 100 + (b_date % 10000) // 100 AS b_swapback
        |  FROM x)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(CASE WHEN a_date = b_date THEN 1 ELSE 0 END) AS BIGINT) AS n_match_raw,
        |  CAST(SUM(CASE WHEN a_date = b_swapback OR a_date = b_date THEN 1 ELSE 0 END) AS BIGINT) AS n_match_after_swap
        |FROM r GROUP BY 1 ORDER BY cls""".stripMargin),

    // Round-number bias census — the AML red flag beside
    // agg_txn_structuring (amounts engineered UNDER a threshold; this
    // catches amounts engineered ON round values): organic md5 cents
    // spread uniformly, account cohort 3 planting 40% exact $100
    // multiples; per cohort the exact multiples-of-100/1000/10000-cents
    // census and the $100-multiple ppm — at uniform the expected rate is
    // 100 ppm, so the planted cohort reads 3 orders of magnitude hot.
    // One projection + rollup, linear.
    Op("agg_round_number_bias", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"),
          col("o_custkey").cast("bigint").as("acct"))
        .withColumn("cohort", (col("acct") % 5).cast("int"))
        .withColumn("g", expr(
          md5Bits("rn", "k", 8)))
        .withColumn("cents",
          when(col("cohort") === 3 && col("g") % 10 < 4,
            (col("g") % 150 + 1) * 10000L)
            .otherwise(col("g") % 1500000 + 1))
      t.groupBy("cohort")
        .agg(count(lit(1)).as("n_txns"),
          sum(when(col("cents") % 100 === 0, 1L).otherwise(0L)).as("n_r100"),
          sum(when(col("cents") % 1000 === 0, 1L).otherwise(0L)).as("n_r1000"),
          sum(when(col("cents") % 10000 === 0, 1L).otherwise(0L)).as("n_r10000"))
        .withColumn("r10000_ppm", expr("(n_r10000 * 1000000) DIV n_txns"))
        .orderBy("cohort")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_custkey % 5 AS INT) AS cohort,
        |    ${duckMd5Bits("rn", "o_orderkey", 8)} AS g
        |  FROM orders),
        |c AS (
        |  SELECT cohort,
        |    CASE WHEN cohort = 3 AND g % 10 < 4 THEN (g % 150 + 1) * 10000
        |      ELSE g % 1500000 + 1 END AS cents
        |  FROM t)
        |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_txns,
        |  CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_r100,
        |  CAST(SUM(CASE WHEN cents % 1000 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_r1000,
        |  CAST(SUM(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_r10000,
        |  CAST((SUM(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS r10000_ppm
        |FROM c GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Chain-ladder development factors — the claims run-off triangle
    // every insurer (and every delayed-feedback pipeline, cf.
    // agg_chargeback_lag) projects from: 8 accident periods × development
    // lags observed only up to the current diagonal (lag ≤ 7 − accident),
    // cumulative paid in exact cents, volume-weighted factor per lag as a
    // cross-multiplied mass pair (f_j = Σ C(i,j+1) / Σ C(i,j) over rows
    // where BOTH lags exist — the all-year chain-ladder estimator), and
    // the one-step next-diagonal projection per accident period (latest ×
    // factor via one floor division — no factor-product overflow).
    // Graded: per-lag factor masses + milli, per-accident latest and
    // projection. Two rollups + one broadcast factor join.
    Op("agg_chain_ladder", (s, d) => {
      val pay = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("acc", (col("k") % 8).cast("int"))
        .withColumn("lag", expr(
          s"CAST(${md5Bits("cd", "k", 6)} % (8 - k % 8) AS INT)"))
        .withColumn("cents", expr(
          s"${md5Bits("cp", "k", 6)} % 100000 + 1000"))
      val incr = pay.groupBy("acc", "lag").agg(sum("cents").as("inc"))
      val wCum = Window.partitionBy("acc").orderBy("lag")
      val cum = incr.withColumn("c", sum("inc").over(wCum))
        .select("acc", "lag", "c").localCheckpoint()
      val paired = cum.as("a")
        .join(cum.select(col("acc"), (col("lag") - 1).as("lag"),
          col("c").as("c_next")), Seq("acc", "lag"))
      val factors = paired.groupBy("lag")
        .agg(count(lit(1)).as("n_cells"),
          sum("c").as("mass_j"), sum("c_next").as("mass_j1"))
        .withColumn("factor_milli", expr("(mass_j1 * 1000) DIV mass_j"))
        .localCheckpoint()
      val wLatest = Window.partitionBy("acc").orderBy(desc("lag"))
      val latest = cum.withColumn("rn", row_number().over(wLatest))
        .where(col("rn") === 1)
        .select(col("acc"), col("lag").as("latest_lag"), col("c").as("latest"))
      val perAcc = latest
        .join(broadcast(factors.select(col("lag").as("latest_lag"),
          col("mass_j"), col("mass_j1"))), Seq("latest_lag"), "left")
        .select(lit("accident").as("kind"), col("acc").cast("long").as("idx"),
          col("latest").as("v1"),
          expr("CAST((CAST(latest AS DECIMAL(38,0)) * mass_j1) DIV mass_j AS BIGINT)").as("v2"),
          lit(null).cast("long").as("v3"))
      val perLag = factors
        .select(lit("factor").as("kind"), col("lag").cast("long").as("idx"),
          col("mass_j").as("v1"), col("mass_j1").as("v2"), col("factor_milli").as("v3"))
      perLag.unionByName(perAcc).orderBy("kind", "idx")
    },
      s"""WITH pay AS (
        |  SELECT CAST(o_orderkey % 8 AS INT) AS acc,
        |    CAST(${duckMd5Bits("cd", "o_orderkey", 6)} % (8 - o_orderkey % 8) AS INT) AS lag,
        |    ${duckMd5Bits("cp", "o_orderkey", 6)} % 100000 + 1000 AS cents
        |  FROM orders),
        |incr AS (SELECT acc, lag, CAST(SUM(cents) AS BIGINT) AS inc FROM pay GROUP BY 1, 2),
        |cum AS (SELECT acc, lag,
        |    CAST(SUM(inc) OVER (PARTITION BY acc ORDER BY lag) AS BIGINT) AS c
        |  FROM incr),
        |paired AS (
        |  SELECT a.lag, a.c, b.c AS c_next
        |  FROM cum a JOIN cum b ON b.acc = a.acc AND b.lag = a.lag + 1),
        |factors AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |    CAST(SUM(c) AS BIGINT) AS mass_j, CAST(SUM(c_next) AS BIGINT) AS mass_j1
        |  FROM paired GROUP BY 1),
        |latest AS (
        |  SELECT acc, lag AS latest_lag, c AS latest FROM (
        |    SELECT acc, lag, c, ROW_NUMBER() OVER (PARTITION BY acc ORDER BY lag DESC) AS rn
        |    FROM cum) q WHERE rn = 1)
        |SELECT kind, idx, v1, v2, v3 FROM (
        |  SELECT 'factor' AS kind, CAST(lag AS BIGINT) AS idx, mass_j AS v1, mass_j1 AS v2,
        |    CAST((mass_j1 * 1000) // mass_j AS BIGINT) AS v3
        |  FROM factors
        |  UNION ALL
        |  SELECT 'accident', CAST(l.acc AS BIGINT), l.latest,
        |    CAST((CAST(l.latest AS HUGEINT) * f.mass_j1) // f.mass_j AS BIGINT),
        |    CAST(NULL AS BIGINT)
        |  FROM latest l LEFT JOIN factors f ON f.lag = l.latest_lag
        |) ORDER BY kind, idx""".stripMargin),

    // Bonus-malus (no-claims-discount) ladder — the merit-rating state
    // machine motor insurance prices on: drivers start at level 5, each
    // of 6 md5 claim-years moves them down 2 on a claim / up 1 (cap 5)
    // on a clean year — the fold UNROLLS into 6 chained CASE steps
    // (bounded horizon, no iteration, both engines replay identically).
    // Cohort 2 plants a 40% claim rate vs the 20% base; premium =
    // 10 000 · level-multiplier (150/130/115/100/90/80 %) exact. Graded
    // per (cohort, final level): drivers, claim mass, premium mass.
    Op("agg_bonus_malus", (s, d) => {
      var t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cohort", (col("k") % 4).cast("int"))
        .withColumn("lvl", lit(5L))
        .withColumn("n_claims", lit(0L))
      for (yr <- 1 to 6) {
        t = t.withColumn("claim", expr(
          s"${md5Bits(s"bm$yr", "k", 6)} % 100") <
          when(col("cohort") === 2, 40L).otherwise(20L))
          .withColumn("lvl",
            when(col("claim"), greatest(col("lvl") - 2, lit(0L)))
              .otherwise(least(col("lvl") + 1, lit(5L))))
          .withColumn("n_claims",
            col("n_claims") + when(col("claim"), 1L).otherwise(0L))
      }
      t.withColumn("premium", expr(
          "(10000 * element_at(array(150L, 130L, 115L, 100L, 90L, 80L), CAST(lvl + 1 AS INT))) DIV 100"))
        .groupBy("cohort", "lvl")
        .agg(count(lit(1)).as("n_drivers"), sum("n_claims").as("claim_mass"),
          sum("premium").as("premium_mass"))
        .orderBy("cohort", "lvl")
    },
      {
      val steps = (1 to 6).map { yr =>
        s"""y$yr AS (SELECT k, cohort,
           |    CASE WHEN claim THEN GREATEST(lvl - 2, 0) ELSE LEAST(lvl + 1, 5) END AS lvl,
           |    n_claims + CASE WHEN claim THEN 1 ELSE 0 END AS n_claims
           |  FROM (SELECT y${yr - 1}.*,
           |      ${duckMd5Bits(s"bm$yr", "k", 6)} % 100
           |        < CASE WHEN cohort = 2 THEN 40 ELSE 20 END AS claim
           |    FROM y${yr - 1}) q)""".stripMargin
      }.mkString(",\n")
      s"""WITH y0 AS (SELECT CAST(c_custkey AS BIGINT) AS k,
         |    CAST(c_custkey % 4 AS INT) AS cohort,
         |    CAST(5 AS BIGINT) AS lvl, CAST(0 AS BIGINT) AS n_claims FROM customer),
         |$steps
         |SELECT cohort, lvl, CAST(COUNT(*) AS BIGINT) AS n_drivers,
         |  CAST(SUM(n_claims) AS BIGINT) AS claim_mass,
         |  CAST(SUM((10000 * [150, 130, 115, 100, 90, 80][CAST(lvl + 1 AS INT)]) // 100) AS BIGINT) AS premium_mass
         |FROM y6 GROUP BY 1, 2 ORDER BY cohort, lvl""".stripMargin
    }),

    // Bühlmann credibility premium — the blended rate a class is charged
    // when its own history is thin: Z = n/(n+k) with declared k = 40, and
    // the blend computed in ONE floor division ((ind_mass·1000 +
    // k·coll_mean_milli) DIV (n+k) — algebraically n·Z-weighted, no
    // intermediate mean division to lose exactness). Class 4 plants 2×
    // claim severity, so its credibility premium must sit strictly
    // between the collective mean and its individual mean — the
    // shrinkage the estimator exists for (asserted in the spec). Two
    // rollups + one broadcast scalar join.
    Op("agg_credibility_buhlmann", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("cls", (col("k") % 8).cast("int"))
        .withColumn("cents", expr(
          s"${md5Bits("cb", "k", 6)} % 50000 + 1000") *
          when(col("cls") === 4, 2L).otherwise(1L))
      val coll = t.agg(
        expr("(SUM(cents) * 1000) DIV COUNT(*)").as("coll_mean_milli"))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_claims"), sum("cents").as("ind_mass"))
        .crossJoin(broadcast(coll))
        .withColumn("z_ppm", expr("(n_claims * 1000000) DIV (n_claims + 40)"))
        .withColumn("premium_milli", expr(
          "(ind_mass * 1000 + 40 * coll_mean_milli) DIV (n_claims + 40)"))
        .select("cls", "n_claims", "ind_mass", "coll_mean_milli",
          "z_ppm", "premium_milli")
        .orderBy("cls")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey % 8 AS INT) AS cls,
        |    (${duckMd5Bits("cb", "o_orderkey", 6)} % 50000 + 1000)
        |      * CASE WHEN o_orderkey % 8 = 4 THEN 2 ELSE 1 END AS cents
        |  FROM orders),
        |coll AS (SELECT CAST((SUM(cents) * 1000) // COUNT(*) AS BIGINT) AS coll_mean_milli FROM t),
        |m AS (SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_claims,
        |    CAST(SUM(cents) AS BIGINT) AS ind_mass FROM t GROUP BY 1)
        |SELECT cls, n_claims, ind_mass, coll.coll_mean_milli,
        |  CAST((n_claims * 1000000) // (n_claims + 40) AS BIGINT) AS z_ppm,
        |  CAST((ind_mass * 1000 + 40 * coll_mean_milli) // (n_claims + 40) AS BIGINT) AS premium_milli
        |FROM m CROSS JOIN coll ORDER BY cls""".stripMargin),

    // Loan amortization schedule — the exact-cents annuity unroll a
    // consumer-finance book reconciles on: 1%/month over 12 months, the
    // annuity factor (1.01)¹² precomputed by the SAME floor chain both
    // engines share (micro 1126822), payment A = P·10⁴·f DIV
    // ((f − 10⁶)·10⁶), then 12 unrolled months of interest = bal DIV 100
    // and balance reduction — all floor cents, so the FINAL RESIDUAL is
    // the rounding drift a float schedule silently hides (graded
    // per cohort along with interest and scheduled-payment mass).
    Op("agg_loan_amortization", (s, d) => {
      var t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cohort", (col("k") % 4).cast("int"))
        .withColumn("p0", expr(
          s"${md5Bits("ln", "k", 8)} % 2000000 + 100000"))
        .withColumn("pay", expr(
          "(p0 * 10000 * 1126822) DIV 126822000000"))
        .withColumn("bal", col("p0"))
        .withColumn("interest_total", lit(0L))
      for (_ <- 1 to 12) {
        t = t.withColumn("i_m", expr("bal DIV 100"))
          .withColumn("interest_total", col("interest_total") + col("i_m"))
          .withColumn("bal", col("bal") + col("i_m") - col("pay"))
      }
      t.groupBy("cohort")
        .agg(count(lit(1)).as("n_loans"),
          sum("p0").as("principal_mass"),
          sum(expr("pay * 12")).as("scheduled_mass"),
          sum("interest_total").as("interest_mass"),
          sum("bal").as("residual_mass"),
          max(abs(col("bal"))).as("max_residual"))
        .orderBy("cohort")
    },
      {
      val months = (1 to 12).map { m =>
        s"""m$m AS (SELECT k, cohort, p0, pay,
           |    interest_total + bal // 100 AS interest_total,
           |    bal + bal // 100 - pay AS bal
           |  FROM m${m - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH m0 AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS k, CAST(c_custkey % 4 AS INT) AS cohort,
         |    ${duckMd5Bits("ln", "c_custkey", 8)} % 2000000 + 100000 AS p0,
         |    ((${duckMd5Bits("ln", "c_custkey", 8)} % 2000000 + 100000)
         |      * 10000 * 1126822) // 126822000000 AS pay,
         |    ${duckMd5Bits("ln", "c_custkey", 8)} % 2000000 + 100000 AS bal,
         |    CAST(0 AS BIGINT) AS interest_total
         |  FROM customer),
         |$months
         |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_loans,
         |  CAST(SUM(p0) AS BIGINT) AS principal_mass,
         |  CAST(SUM(pay * 12) AS BIGINT) AS scheduled_mass,
         |  CAST(SUM(interest_total) AS BIGINT) AS interest_mass,
         |  CAST(SUM(bal) AS BIGINT) AS residual_mass,
         |  CAST(MAX(abs(bal)) AS BIGINT) AS max_residual
         |FROM m12 GROUP BY 1 ORDER BY cohort""".stripMargin
    }),

    // Macaulay bond duration — the interest-rate-risk number a treasury
    // desk quotes: 8 annual coupons + face at par, 5% yield with the
    // discount-factor ladder PRECOMPUTED by the same floor chain both
    // engines inline (952380, 907028, … micro), duration =
    // Σ t·CF_t·df_t · 1000 DIV Σ CF_t·df_t in DECIMAL(38,0)/HUGEINT.
    // Coupon classes 2%..9% planted by key: higher coupons must shorten
    // the duration (more mass arrives early) — asserted in the spec.
    // One bounded explode + rollup.
    Op("agg_bond_duration", (s, d) => {
      val dfArr = "array(952380L, 907028L, 863836L, 822700L, 783523L, 746212L, 710678L, 676836L)"
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("coupon_pct", (col("k") % 8 + 2).cast("int"))
        .withColumn("t", explode(expr("sequence(1, 8)")))
        .withColumn("cf", expr(
          "coupon_pct * 10000 + CASE WHEN t = 8 THEN 1000000 ELSE 0 END"))
        .withColumn("df", expr(s"element_at($dfArr, t)"))
      t.groupBy("coupon_pct")
        .agg(countDistinct("k").as("n_bonds"),
          expr("CAST(SUM(CAST(cf AS DECIMAL(38,0)) * df) AS DECIMAL(38,0))").as("pv_num"),
          expr("""CAST((SUM(CAST(t AS DECIMAL(38,0)) * cf * df) * 1000)
                 | DIV SUM(CAST(cf AS DECIMAL(38,0)) * df) AS BIGINT)""".stripMargin)
            .as("duration_milli"))
        .select(col("coupon_pct"), col("n_bonds"),
          col("pv_num").cast("long").as("pv_num"), col("duration_milli"))
        .orderBy("coupon_pct")
    },
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey % 8 + 2 AS INT) AS coupon_pct,
        |    CAST(s.range AS INT) AS t
        |  FROM customer CROSS JOIN range(1, 9) s),
        |c AS (
        |  SELECT k, coupon_pct, t,
        |    coupon_pct * 10000 + CASE WHEN t = 8 THEN 1000000 ELSE 0 END AS cf,
        |    [952380, 907028, 863836, 822700, 783523, 746212, 710678, 676836][t] AS df
        |  FROM t)
        |SELECT coupon_pct, CAST(COUNT(DISTINCT k) AS BIGINT) AS n_bonds,
        |  CAST(SUM(CAST(cf AS HUGEINT) * df) AS BIGINT) AS pv_num,
        |  CAST((SUM(CAST(t AS HUGEINT) * cf * df) * 1000)
        |    // SUM(CAST(cf AS HUGEINT) * df) AS BIGINT) AS duration_milli
        |FROM c GROUP BY 1 ORDER BY coupon_pct""".stripMargin),

    // 12-step binomial (CRR-style) option valuation — the lattice kept
    // EXACT by rational node prices (S·11^k·9^(12−k) over 10¹², never a
    // floored intermediate — floor-per-step would break the tree's
    // recombination), risk-neutral p = ½ so the terminal weights are the
    // binomial row C(12,k)/4096, and the call value one DECIMAL(38,0)
    // floor division at the very end. Moneyness classes plant strikes
    // from deep ITM to far OTM; the value must be monotone in strike
    // (asserted). One 13-way bounded explode + rollup per class.
    Op("agg_binomial_option", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("key"))
        .withColumn("cls", (col("key") % 5).cast("int"))
        .withColumn("spot", expr(
          s"${md5Bits("op", "key", 6)} % 5000 + 8000"))
        .withColumn("strike", expr("spot + (cls - 2) * 2000"))
        .withColumn("k", explode(expr("sequence(0, 12)")))
        .withColumn("coef", expr(
          "element_at(array(1L, 12L, 66L, 220L, 495L, 792L, 924L, 792L, 495L, 220L, 66L, 12L, 1L), CAST(k + 1 AS INT))"))
        .withColumn("price_num", expr(
          "CAST(spot AS DECIMAL(38,0)) * CAST(power(11, k) AS DECIMAL(38,0)) * CAST(power(9, 12 - k) AS DECIMAL(38,0))"))
        .withColumn("payoff_num", expr(
          "GREATEST(price_num - CAST(strike AS DECIMAL(38,0)) * 1000000000000, CAST(0 AS DECIMAL(38,0)))"))
      t.groupBy("cls")
        .agg(countDistinct("key").as("n_options"),
          expr("""CAST(SUM(coef * payoff_num)
                 | DIV (4096 * CAST(1000000000000 AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
            .as("value_mass_cents"))
        .orderBy("cls")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS key, CAST(o_orderkey % 5 AS INT) AS cls,
        |    ${duckMd5Bits("op", "o_orderkey", 6)} % 5000 + 8000 AS spot
        |  FROM orders),
        |x AS (
        |  SELECT key, cls, spot, spot + (cls - 2) * 2000 AS strike,
        |    CAST(j.range AS INT) AS k,
        |    [1, 12, 66, 220, 495, 792, 924, 792, 495, 220, 66, 12, 1][CAST(j.range AS INT) + 1] AS coef
        |  FROM t CROSS JOIN range(0, 13) j),
        |p AS (
        |  SELECT cls, key, coef,
        |    GREATEST(CAST(spot AS HUGEINT) * CAST(power(11, k) AS HUGEINT) * CAST(power(9, 12 - k) AS HUGEINT)
        |      - CAST(strike AS HUGEINT) * 1000000000000, CAST(0 AS HUGEINT)) AS payoff_num
        |  FROM x)
        |SELECT cls, CAST(COUNT(DISTINCT key) AS BIGINT) AS n_options,
        |  CAST(SUM(coef * payoff_num) // (4096 * CAST(1000000000000 AS HUGEINT)) AS BIGINT) AS value_mass_cents
        |FROM p GROUP BY 1 ORDER BY cls""".stripMargin),

    // PII scan — the redaction pre-pass every LLM training corpus runs
    // before tokenization: four planted PII classes appended to document
    // text by doc_id residue (SSN xxx-xx-xxxx, 16-digit PAN in 4-blocks,
    // email, NANP phone), detected with anchored character-class regexes
    // both engines parse identically. Graded per planted class: docs,
    // hits per detector (the off-diagonal must stay 0 — an SSN detector
    // that fires on phone numbers over-redacts), and the redaction char
    // mass. One projection + rollup, linear.
    Op("llm_pii_scan", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("cls", (col("doc_id") % 5).cast("int"))
        .withColumn("g", expr(
          md5Bits("pii", "doc_id", 8)))
        .withColumn("planted",
          when(col("cls") === 1, concat(lit(" ssn "),
            lpad((col("g") % 900 + 100).cast("string"), 3, "0"), lit("-"),
            lpad((col("g") % 90 + 10).cast("string"), 2, "0"), lit("-"),
            lpad((col("g") % 9000 + 1000).cast("string"), 4, "0")))
            .when(col("cls") === 2, concat(lit(" card 4"),
              lpad((col("g") % 1000).cast("string"), 3, "0"), lit(" "),
              lpad((col("g") % 10000).cast("string"), 4, "0"), lit(" "),
              lpad((col("g") % 10000).cast("string"), 4, "0"), lit(" "),
              lpad((col("g") % 10000).cast("string"), 4, "0")))
            .when(col("cls") === 3, concat(lit(" mail user"),
              (col("g") % 1000).cast("string"), lit("@example.com")))
            .when(col("cls") === 4, concat(lit(" call (555) "),
              lpad((col("g") % 900 + 100).cast("string"), 3, "0"), lit("-"),
              lpad((col("g") % 9000 + 1000).cast("string"), 4, "0")))
            .otherwise(lit("")))
        .withColumn("full", concat(col("text"), col("planted")))
        .withColumn("n_ssn", expr(
          "regexp_count(full, '[0-9]{3}-[0-9]{2}-[0-9]{4}')").cast("bigint"))
        .withColumn("n_pan", expr(
          "regexp_count(full, '4[0-9]{3} [0-9]{4} [0-9]{4} [0-9]{4}')").cast("bigint"))
        .withColumn("n_email", expr(
          "regexp_count(full, '[a-z0-9]+@[a-z]+\\\\.[a-z]+')").cast("bigint"))
        .withColumn("n_phone", expr(
          "regexp_count(full, '\\\\([0-9]{3}\\\\) [0-9]{3}-[0-9]{4}')").cast("bigint"))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_ssn").as("ssn_hits"), sum("n_pan").as("pan_hits"),
          sum("n_email").as("email_hits"), sum("n_phone").as("phone_hits"),
          sum(length(col("planted"))).as("redaction_char_mass"))
        .orderBy("cls")
    },
      raw"""WITH t AS (
        |  SELECT CAST(doc_id % 5 AS INT) AS cls, text,
        |    ${duckMd5Bits("pii", "doc_id", 8)} AS g
        |  FROM documents),
        |p AS (
        |  SELECT cls, text,
        |    CASE WHEN cls = 1 THEN ' ssn ' || lpad(CAST(g % 900 + 100 AS VARCHAR), 3, '0')
        |        || '-' || lpad(CAST(g % 90 + 10 AS VARCHAR), 2, '0')
        |        || '-' || lpad(CAST(g % 9000 + 1000 AS VARCHAR), 4, '0')
        |      WHEN cls = 2 THEN ' card 4' || lpad(CAST(g % 1000 AS VARCHAR), 3, '0')
        |        || ' ' || lpad(CAST(g % 10000 AS VARCHAR), 4, '0')
        |        || ' ' || lpad(CAST(g % 10000 AS VARCHAR), 4, '0')
        |        || ' ' || lpad(CAST(g % 10000 AS VARCHAR), 4, '0')
        |      WHEN cls = 3 THEN ' mail user' || CAST(g % 1000 AS VARCHAR) || '@example.com'
        |      WHEN cls = 4 THEN ' call (555) ' || lpad(CAST(g % 900 + 100 AS VARCHAR), 3, '0')
        |        || '-' || lpad(CAST(g % 9000 + 1000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS planted
        |  FROM t),
        |f AS (SELECT cls, planted, text || planted AS ftxt FROM p)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(ftxt, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))) AS BIGINT) AS ssn_hits,
        |  CAST(SUM(len(regexp_extract_all(ftxt, '4[0-9]{3} [0-9]{4} [0-9]{4} [0-9]{4}'))) AS BIGINT) AS pan_hits,
        |  CAST(SUM(len(regexp_extract_all(ftxt, '[a-z0-9]+@[a-z]+\.[a-z]+'))) AS BIGINT) AS email_hits,
        |  CAST(SUM(len(regexp_extract_all(ftxt, '\([0-9]{3}\) [0-9]{3}-[0-9]{4}'))) AS BIGINT) AS phone_hits,
        |  CAST(SUM(len(planted)) AS BIGINT) AS redaction_char_mass
        |FROM f GROUP BY 1 ORDER BY cls""".stripMargin),

    // Secret scan — the credential screen beside the PII pass (a leaked
    // key in training data is a breach, not just a privacy risk): three
    // planted key shapes by doc residue (AKIA+16 upper-alnum AWS-style,
    // ghp_+36 token, 40-hex SHA1-style) plus a SHORT-hex control class
    // the 40-hex rule must NOT fire on (the false-positive guard an
    // entropy-only scanner fails). Graded per class: docs, per-detector
    // hits. One projection + rollup, linear.
    Op("llm_secret_scan", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("cls", (col("doc_id") % 4).cast("int"))
        .withColumn("h", expr("md5(concat('sk:', CAST(doc_id AS STRING)))"))
        .withColumn("planted",
          when(col("cls") === 1, concat(lit(" AKIA"),
            upper(expr("substring(regexp_replace(h, '[^a-z0-9]', ''), 1, 16)"))))
            .when(col("cls") === 2, concat(lit(" ghp_"), col("h"),
              expr("substring(md5(concat('sk2:', CAST(doc_id AS STRING))), 1, 4)")))
            .when(col("cls") === 3, concat(lit(" sha "), col("h"),
              expr("substring(md5(concat('sk3:', CAST(doc_id AS STRING))), 1, 8)")))
            .otherwise(concat(lit(" ref "), expr("substring(h, 1, 16)"))))
        .withColumn("full", concat(col("text"), col("planted")))
        .withColumn("n_akia",
          expr("regexp_count(full, 'AKIA[A-Z0-9]{16}')").cast("bigint"))
        .withColumn("n_ghp",
          expr("regexp_count(full, 'ghp_[A-Za-z0-9]{36}')").cast("bigint"))
        .withColumn("n_hex40",
          expr("regexp_count(full, '[0-9a-f]{40}')").cast("bigint"))
      t.groupBy("cls")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_akia").as("akia_hits"), sum("n_ghp").as("ghp_hits"),
          sum("n_hex40").as("hex40_hits"))
        .orderBy("cls")
    },
      """WITH t AS (
        |  SELECT CAST(doc_id % 4 AS INT) AS cls, text,
        |    md5('sk:' || CAST(doc_id AS VARCHAR)) AS h,
        |    md5('sk2:' || CAST(doc_id AS VARCHAR)) AS h2,
        |    md5('sk3:' || CAST(doc_id AS VARCHAR)) AS h3
        |  FROM documents),
        |p AS (
        |  SELECT cls, text,
        |    CASE WHEN cls = 1 THEN ' AKIA' || upper(substring(regexp_replace(h, '[^a-z0-9]', '', 'g'), 1, 16))
        |      WHEN cls = 2 THEN ' ghp_' || h || substring(h2, 1, 4)
        |      WHEN cls = 3 THEN ' sha ' || h || substring(h3, 1, 8)
        |      ELSE ' ref ' || substring(h, 1, 16) END AS planted
        |  FROM t),
        |f AS (SELECT cls, text || planted AS ftxt FROM p)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(ftxt, 'AKIA[A-Z0-9]{16}'))) AS BIGINT) AS akia_hits,
        |  CAST(SUM(len(regexp_extract_all(ftxt, 'ghp_[A-Za-z0-9]{36}'))) AS BIGINT) AS ghp_hits,
        |  CAST(SUM(len(regexp_extract_all(ftxt, '[0-9a-f]{40}'))) AS BIGINT) AS hex40_hits
        |FROM f GROUP BY 1 ORDER BY cls""".stripMargin),

    // PMI collocations — the pointwise-mutual-information ranking a
    // phrase miner runs over corpus bigrams: adjacent-token pairs, left/
    // right marginals by position (the deterministic convention both
    // engines share), association as the exact cross-multiplied ratio
    // c_xy·N·10⁶ DIV (c_x·c_y) (> 10⁶ ⟺ positive PMI — the log is
    // monotone, so ranking needs no floats), support floor c_xy ≥ 5,
    // top-20 by (ratio DESC, pair). One token explode + three rollups.
    Op("llm_pmi_collocations", (s, d) => {
      val bg = Tables.documents(s, d)
        .select(split(col("text"), " ").as("t"))
        .where(size(col("t")) > 1)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS x, t[i+1] AS y))"))
          .as("b"))
        .select(col("b.x").as("x"), col("b.y").as("y"))
        .localCheckpoint() // three rollups fold over it
      val n = bg.count()
      val cx = bg.groupBy("x").agg(count(lit(1)).as("c_x"))
      val cy = bg.groupBy("y").agg(count(lit(1)).as("c_y"))
      bg.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
        .where(col("c_xy") >= 5)
        .join(cx, Seq("x")).join(cy, Seq("y"))
        .withColumn("ratio_ppm", expr(
          s"CAST((CAST(c_xy AS DECIMAL(38,0)) * ${n}L * 1000000) DIV (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)"))
        .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"), col("ratio_ppm"))
        .orderBy(desc("ratio_ppm"), col("x"), col("y")).limit(20)
    },
      """WITH bg AS (
        |  SELECT t[i] AS x, t[i + 1] AS y FROM (
        |    SELECT string_split(text, ' ') AS t FROM documents) d,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) > 1),
        |nn AS (SELECT COUNT(*) AS n FROM bg),
        |cx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c_x FROM bg GROUP BY 1),
        |cy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS c_y FROM bg GROUP BY 1),
        |cxy AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bg GROUP BY 1, 2)
        |SELECT b.x, b.y, b.c_xy, cx.c_x, cy.c_y,
        |  CAST((CAST(b.c_xy AS HUGEINT) * (SELECT n FROM nn) * 1000000)
        |    // (CAST(cx.c_x AS HUGEINT) * cy.c_y) AS BIGINT) AS ratio_ppm
        |FROM cxy b JOIN cx ON cx.x = b.x JOIN cy ON cy.y = b.y
        |WHERE b.c_xy >= 5
        |ORDER BY ratio_ppm DESC, b.x, b.y LIMIT 20""".stripMargin),

    // Double-entry trial balance — the closing control every ledger runs:
    // each business event posts a debit AND a credit line of the same
    // cents (a 2-row explode), except a planted 1-in-997 slice that DROPS
    // the credit line — the broken posting the trial balance exists to
    // catch. Per period: debit/credit mass, the exact imbalance (must
    // equal the planted single-sided cents), and the broken-posting
    // census by a per-event line-count rollup. Two rollups, linear.
    Op("warehouse_trial_balance", (s, d) => {
      val ev = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("period", (col("k") % 12).cast("int"))
        .withColumn("cents", expr(
          s"${md5Bits("tb", "k", 6)} % 500000 + 100"))
        .withColumn("broken", col("k") % 997 === 13)
      val lines = ev.withColumn("side", explode(
          when(col("broken"), array(lit("debit")))
            .otherwise(array(lit("debit"), lit("credit")))))
      val balance = lines.groupBy("period")
        .agg(sum(when(col("side") === "debit", col("cents")).otherwise(0L))
            .as("debit_mass"),
          sum(when(col("side") === "credit", col("cents")).otherwise(0L))
            .as("credit_mass"))
        .withColumn("imbalance", col("debit_mass") - col("credit_mass"))
      val brokenCnt = ev.groupBy("period")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("broken"), 1L).otherwise(0L)).as("n_broken"),
          sum(when(col("broken"), col("cents")).otherwise(0L)).as("broken_mass"))
      balance.join(brokenCnt, Seq("period")).orderBy("period")
    },
      s"""WITH ev AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, CAST(o_orderkey % 12 AS INT) AS period,
        |    ${duckMd5Bits("tb", "o_orderkey", 6)} % 500000 + 100 AS cents,
        |    o_orderkey % 997 = 13 AS broken
        |  FROM orders),
        |ln AS (
        |  SELECT period, cents, 'debit' AS side FROM ev
        |  UNION ALL
        |  SELECT period, cents, 'credit' FROM ev WHERE NOT broken),
        |bal AS (
        |  SELECT period,
        |    CAST(SUM(CASE WHEN side = 'debit' THEN cents ELSE 0 END) AS BIGINT) AS debit_mass,
        |    CAST(SUM(CASE WHEN side = 'credit' THEN cents ELSE 0 END) AS BIGINT) AS credit_mass
        |  FROM ln GROUP BY 1),
        |bc AS (
        |  SELECT period, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN broken THEN 1 ELSE 0 END) AS BIGINT) AS n_broken,
        |    CAST(SUM(CASE WHEN broken THEN cents ELSE 0 END) AS BIGINT) AS broken_mass
        |  FROM ev GROUP BY 1)
        |SELECT bal.period, bal.debit_mass, bal.credit_mass,
        |  bal.debit_mass - bal.credit_mass AS imbalance,
        |  bc.n_events, bc.n_broken, bc.broken_mass
        |FROM bal JOIN bc ON bc.period = bal.period ORDER BY bal.period""".stripMargin),

    // Accounts-receivable aging — the dunning report beside the ledger:
    // invoice ages md5 0–119 days with customer cohort 1 planted +30
    // (the slow payer a collections team tiers), bucketed current /
    // 1-30 / 31-60 / 61-90 / 90+ with the dunning escalation level per
    // bucket; per (cohort, bucket): invoices, exact cents exposure — the
    // working-capital number. One projection + rollup, linear.
    Op("warehouse_ar_aging", (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"),
          col("o_custkey").cast("bigint").as("cust"))
        .withColumn("cohort", (col("cust") % 4).cast("int"))
        .withColumn("age_days", expr(
          s"${md5Bits("ar", "k", 6)} % 120") +
          when(col("cohort") === 1, 30L).otherwise(0L))
        .withColumn("cents", expr(
          s"${md5Bits("ai", "k", 6)} % 800000 + 5000"))
        .withColumn("bucket",
          when(col("age_days") === 0, "0_current")
            .when(col("age_days") <= 30, "1_1to30")
            .when(col("age_days") <= 60, "2_31to60")
            .when(col("age_days") <= 90, "3_61to90")
            .otherwise("4_over90"))
        .withColumn("dunning_level",
          when(col("bucket") === "0_current", 0L)
            .when(col("bucket") === "1_1to30", 0L)
            .when(col("bucket") === "2_31to60", 1L)
            .when(col("bucket") === "3_61to90", 2L).otherwise(3L))
        .groupBy("cohort", "bucket")
        .agg(count(lit(1)).as("n_invoices"), sum("cents").as("exposure_cents"),
          max("dunning_level").as("dunning_level"))
        .orderBy("cohort", "bucket")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_custkey % 4 AS INT) AS cohort,
        |    ${duckMd5Bits("ar", "o_orderkey", 6)} % 120
        |      + CASE WHEN o_custkey % 4 = 1 THEN 30 ELSE 0 END AS age_days,
        |    ${duckMd5Bits("ai", "o_orderkey", 6)} % 800000 + 5000 AS cents
        |  FROM orders),
        |b AS (
        |  SELECT cohort, cents,
        |    CASE WHEN age_days = 0 THEN '0_current'
        |      WHEN age_days <= 30 THEN '1_1to30'
        |      WHEN age_days <= 60 THEN '2_31to60'
        |      WHEN age_days <= 90 THEN '3_61to90'
        |      ELSE '4_over90' END AS bucket,
        |    CASE WHEN age_days <= 30 THEN 0
        |      WHEN age_days <= 60 THEN 1
        |      WHEN age_days <= 90 THEN 2 ELSE 3 END AS dunning_level
        |  FROM t)
        |SELECT cohort, bucket, CAST(COUNT(*) AS BIGINT) AS n_invoices,
        |  CAST(SUM(cents) AS BIGINT) AS exposure_cents,
        |  CAST(MAX(dunning_level) AS BIGINT) AS dunning_level
        |FROM b GROUP BY 1, 2 ORDER BY cohort, bucket""".stripMargin),

    // Late-arriving fact census — the partition-layout decision every
    // event warehouse makes: facts carry an event sequence and an
    // md5-delayed processing sequence (0–20 organic, a 1-in-13 slice
    // +50 very late); a partition "closes" 10 ticks after its event
    // bucket, so delay > 10 lands OUTSIDE the closed partition (the
    // late-arriving case) and delay > 40 forces a RESTATEMENT of an
    // already-published aggregate. Per event bucket: facts, late,
    // restatements, restated cents mass — the reprocessing bill the
    // watermark choice controls. One projection + rollup, linear.
    Op("warehouse_late_arriving_fact", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"))
        .withColumn("bucket", (col("event_id") % 8).cast("int"))
        .withColumn("delay", expr(
          s"${md5Bits("la", "event_id", 6)} % 21") +
          when(col("event_id") % 13 === 7, 50L).otherwise(0L))
        .withColumn("cents", expr(
          s"${md5Bits("lc", "event_id", 6)} % 10000"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_facts"),
          sum(when(col("delay") > 10, 1L).otherwise(0L)).as("n_late"),
          sum(when(col("delay") > 40, 1L).otherwise(0L)).as("n_restatements"),
          sum(when(col("delay") > 40, col("cents")).otherwise(0L))
            .as("restated_mass"))
        .withColumn("late_ppm", expr("(n_late * 1000000) DIV n_facts"))
        .orderBy("bucket")
    },
      s"""WITH t AS (
        |  SELECT CAST(event_id % 8 AS INT) AS bucket,
        |    ${duckMd5Bits("la", "event_id", 6)} % 21
        |      + CASE WHEN event_id % 13 = 7 THEN 50 ELSE 0 END AS delay,
        |    ${duckMd5Bits("lc", "event_id", 6)} % 10000 AS cents
        |  FROM events)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_facts,
        |  CAST(SUM(CASE WHEN delay > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(SUM(CASE WHEN delay > 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_restatements,
        |  CAST(SUM(CASE WHEN delay > 40 THEN cents ELSE 0 END) AS BIGINT) AS restated_mass,
        |  CAST((SUM(CASE WHEN delay > 10 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS late_ppm
        |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Erlang-B blocking probability — the trunk/capacity-sizing recursion
    // (B_n = aB_{n−1}/(n + aB_{n−1})) every call-center and connection-
    // pool planner runs, kept exact in ppm by the cross-multiplied form
    // B_n = a_milli·B·10⁶ DIV (n·10⁹ + a_milli·B), unrolled for 12
    // servers (bounded recursion, no iteration). Per offered-load band:
    // trunk groups, blocking mass, max blocking — the planted heavy band
    // (≥ 10 erlangs on 12 servers) must block an order of magnitude more
    // than the light one. One projection + rollup.
    Op("agg_erlang_b", (s, d) => {
      var t = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("g"))
        .withColumn("a_milli", expr(
          s"${md5Bits("el", "g", 6)} % 19000 + 1000"))
        .withColumn("b", lit(1000000L))
      for (n <- 1 to 12) {
        t = t.withColumn("b", expr(
          s"(a_milli * b * 1000000) DIV (${n * 1000000000L}L + a_milli * b)"))
      }
      t.withColumn("band",
          when(col("a_milli") < 5000, "1_light")
            .when(col("a_milli") < 10000, "2_medium").otherwise("3_heavy"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_groups"),
          sum("b").as("blocking_mass_ppm"), max("b").as("max_blocking_ppm"),
          min("b").as("min_blocking_ppm"))
        .orderBy("band")
    },
      {
      val steps = (1 to 12).map { n =>
        s"""e$n AS (SELECT g, a_milli,
           |    (a_milli * b * 1000000) // (${n * 1000000000L} + a_milli * b) AS b
           |  FROM e${n - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT CAST(s_suppkey AS BIGINT) AS g,
         |    ${duckMd5Bits("el", "s_suppkey", 6)} % 19000 + 1000 AS a_milli,
         |    CAST(1000000 AS BIGINT) AS b
         |  FROM supplier),
         |$steps
         |SELECT CASE WHEN a_milli < 5000 THEN '1_light'
         |    WHEN a_milli < 10000 THEN '2_medium' ELSE '3_heavy' END AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(SUM(b) AS BIGINT) AS blocking_mass_ppm,
         |  CAST(MAX(b) AS BIGINT) AS max_blocking_ppm,
         |  CAST(MIN(b) AS BIGINT) AS min_blocking_ppm
         |FROM e12 GROUP BY 1 ORDER BY band""".stripMargin
    }),

    // Fill-rate / stockout census — the service-level number an
    // inventory planner answers for: md5 demand against a planted stock
    // position (cohort 2 under-stocks at 60% of mean demand), fulfilled
    // = min(demand, stock), fill rate exact in ppm of UNITS (not orders
    // — the distinction that matters when big orders stock out). Per
    // cohort: orders, stockouts, demanded/fulfilled unit mass, fill ppm.
    // One projection + rollup, linear.
    Op("agg_fill_rate", (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"))
        .withColumn("cohort", (col("k") % 4).cast("int"))
        .withColumn("demand", expr(
          s"${md5Bits("fd", "k", 6)} % 100 + 1"))
        .withColumn("stock", expr(
          s"${md5Bits("fs", "k", 6)} % 120") +
          when(col("cohort") === 2, 0L).otherwise(40L))
        .withColumn("fulfilled", least(col("demand"), col("stock")))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("fulfilled") < col("demand"), 1L).otherwise(0L))
            .as("n_stockouts"),
          sum("demand").as("demand_units"),
          sum("fulfilled").as("fulfilled_units"))
        .withColumn("fill_ppm",
          expr("(fulfilled_units * 1000000) DIV demand_units"))
        .orderBy("cohort")
    },
      s"""WITH t AS (
        |  SELECT CAST(o_orderkey % 4 AS INT) AS cohort,
        |    ${duckMd5Bits("fd", "o_orderkey", 6)} % 100 + 1 AS demand,
        |    ${duckMd5Bits("fs", "o_orderkey", 6)} % 120
        |      + CASE WHEN o_orderkey % 4 = 2 THEN 0 ELSE 40 END AS stock
        |  FROM orders),
        |f AS (SELECT cohort, demand, LEAST(demand, stock) AS fulfilled FROM t)
        |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN fulfilled < demand THEN 1 ELSE 0 END) AS BIGINT) AS n_stockouts,
        |  CAST(SUM(demand) AS BIGINT) AS demand_units,
        |  CAST(SUM(fulfilled) AS BIGINT) AS fulfilled_units,
        |  CAST((SUM(fulfilled) * 1000000) // SUM(demand) AS BIGINT) AS fill_ppm
        |FROM f GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Laplace-smoothed CTR — the additive-(α=5) shrinkage every ranking
    // pipeline applies before sorting by rate (a 1-view/1-click item must
    // NOT outrank a 95/100 one): md5 views 0–99 and clicks ≤ views,
    // smoothed = (clicks+5)·10⁶ DIV (views+50) exact ppm. Graded per
    // cohort: items, zero-view items (raw undefined — smoothed lands at
    // the 100 000-ppm prior), raw-extreme items (0 or 10⁶) vs
    // smoothed-extreme (must be 0 — the whole point), smoothed mass.
    Op("agg_laplace_ctr", (s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("k"))
        .withColumn("cohort", (col("k") % 3).cast("int"))
        .withColumn("views", expr(
          s"${md5Bits("lv", "k", 6)} % 100"))
        .withColumn("clicks",
          when(col("views") === 0, 0L).otherwise(expr(
            s"${md5Bits("lk", "k", 6)} % (views + 1)")))
        .withColumn("raw_ppm", expr("(clicks * 1000000) DIV NULLIF(views, 0)"))
        .withColumn("smoothed_ppm", expr("((clicks + 5) * 1000000) DIV (views + 50)"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("views") === 0, 1L).otherwise(0L)).as("n_zero_view"),
          sum(when(col("raw_ppm") === 0L || col("raw_ppm") === 1000000L, 1L)
            .otherwise(0L)).as("n_raw_extreme"),
          sum(when(col("smoothed_ppm") === 0L || col("smoothed_ppm") === 1000000L, 1L)
            .otherwise(0L)).as("n_smoothed_extreme"),
          sum("smoothed_ppm").as("smoothed_mass_ppm"))
        .orderBy("cohort")
    },
      s"""WITH t AS (
        |  SELECT CAST(p_partkey % 3 AS INT) AS cohort,
        |    ${duckMd5Bits("lv", "p_partkey", 6)} % 100 AS views,
        |    p_partkey AS k
        |  FROM part),
        |c AS (
        |  SELECT cohort, views,
        |    CASE WHEN views = 0 THEN 0
        |      ELSE ${duckMd5Bits("lk", "k", 6)} % (views + 1) END AS clicks
        |  FROM t),
        |r AS (
        |  SELECT cohort, views, clicks,
        |    (clicks * 1000000) // NULLIF(views, 0) AS raw_ppm,
        |    ((clicks + 5) * 1000000) // (views + 50) AS smoothed_ppm
        |  FROM c)
        |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CASE WHEN views = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_view,
        |  CAST(SUM(CASE WHEN raw_ppm = 0 OR raw_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_raw_extreme,
        |  CAST(SUM(CASE WHEN smoothed_ppm = 0 OR smoothed_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_smoothed_extreme,
        |  CAST(SUM(smoothed_ppm) AS BIGINT) AS smoothed_mass_ppm
        |FROM r GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Term-frequency-adjusted Fellegi–Sunter — the Splink feature the
    // EM op (join_fs_em_weights) learns GLOBAL weights for, applied at
    // the VALUE level: agreement on a rare surname is strong evidence,
    // on a hot one weak. Two system rosters block on surname (2-in-3
    // draw 200 hot 'S###' names, 1-in-3 a unique 'R' name), the name
    // weight buckets by the block's OWN frequency (unique +240,
    // uncommon ≤20 +160, common +80) plus the usual city field
    // (+80/−40, drift k%15=2), link at ≥ 200 — so a unique name links
    // even through city drift while a common name NEVER links on name
    // alone (the over-merge TF adjustment prevents). Oversize blocks
    // (> 2000) are SKIPPED outright — the production block-size guard
    // that keeps hot-key pairs from going quadratic at corpus scale —
    // and censused. Graded per bucket: pairs, links, true matches, true
    // links. One frequency rollup + one blocked self-join + census.
    Op("join_fs_tf_adjust", (s, d) => {
      def roster(drift: Boolean) = {
        val base = Tables.customer(s, d)
          .select(col("c_custkey").cast("bigint").as("k"),
            col("c_nationkey").cast("bigint").as("city0"))
          .withColumn("surname",
            when(col("k") % 3 < 2, concat(lit("S"), lpad(expr(
              s"${md5Bits("tf", "k DIV 3", 6)} % 200")
              .cast("string"), 3, "0")))
              .otherwise(concat(lit("R"), col("k").cast("string"))))
        if (drift) base.withColumn("city",
          when(col("k") % 15 === 2, (col("city0") + 1) % 25).otherwise(col("city0")))
        else base.withColumn("city", col("city0"))
      }
      val a = roster(drift = false)
        .select(col("k").as("ak"), col("surname"), col("city").as("acity"))
      val b = roster(drift = true)
        .select(col("k").as("bk"), col("surname"), col("city").as("bcity"))
      val freq = a.groupBy("surname").agg(count(lit(1)).as("f"))
      val pairs = a.join(b, Seq("surname"))
        .join(freq, Seq("surname"))
        .where(col("f") <= 2000) // the block-size guard under grade
        .withColumn("bucket",
          when(col("f") === 1, "1_unique")
            .when(col("f") <= 20, "2_uncommon").otherwise("3_common"))
        .withColumn("score",
          when(col("f") === 1, 240L).when(col("f") <= 20, 160L).otherwise(80L) +
            when(col("acity") === col("bcity"), 80L).otherwise(-40L))
        .withColumn("link", col("score") >= 200L)
        .withColumn("true_match", col("ak") === col("bk"))
      // the pair mass the guard AVOIDED (f² per skipped block), censused
      val skipped = freq.where(col("f") > 2000)
        .agg(coalesce(sum(expr("f * f")), lit(0L)).as("n_pairs"))
        .select(lit("4_oversize_skipped").as("bucket"), col("n_pairs"),
          lit(0L).as("n_links"), lit(0L).as("n_true"), lit(0L).as("n_true_linked"))
      pairs.groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("link"), 1L).otherwise(0L)).as("n_links"),
          sum(when(col("true_match"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("true_match") && col("link"), 1L).otherwise(0L))
            .as("n_true_linked"))
        .unionByName(skipped)
        .orderBy("bucket")
    },
      s"""WITH a AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS ak,
        |    CASE WHEN c_custkey % 3 < 2
        |      THEN 'S' || lpad(CAST(${duckMd5Bits("tf", "c_custkey // 3", 6)} % 200 AS VARCHAR), 3, '0')
        |      ELSE 'R' || CAST(c_custkey AS VARCHAR) END AS surname,
        |    CAST(c_nationkey AS BIGINT) AS acity
        |  FROM customer),
        |b AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS bk,
        |    CASE WHEN c_custkey % 3 < 2
        |      THEN 'S' || lpad(CAST(${duckMd5Bits("tf", "c_custkey // 3", 6)} % 200 AS VARCHAR), 3, '0')
        |      ELSE 'R' || CAST(c_custkey AS VARCHAR) END AS surname,
        |    CASE WHEN c_custkey % 15 = 2 THEN (CAST(c_nationkey AS BIGINT) + 1) % 25
        |      ELSE CAST(c_nationkey AS BIGINT) END AS bcity
        |  FROM customer),
        |freq AS (SELECT surname, CAST(COUNT(*) AS BIGINT) AS f FROM a GROUP BY 1),
        |pr AS (
        |  SELECT CASE WHEN f = 1 THEN '1_unique'
        |      WHEN f <= 20 THEN '2_uncommon' ELSE '3_common' END AS bucket,
        |    (CASE WHEN f = 1 THEN 240 WHEN f <= 20 THEN 160 ELSE 80 END
        |      + CASE WHEN acity = bcity THEN 80 ELSE -40 END) >= 200 AS lnk,
        |    ak = bk AS tm
        |  FROM a JOIN b USING (surname) JOIN freq USING (surname)
        |  WHERE f <= 2000)
        |SELECT bucket, n_pairs, n_links, n_true, n_true_linked FROM (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN lnk THEN 1 ELSE 0 END) AS BIGINT) AS n_links,
        |    CAST(SUM(CASE WHEN tm THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |    CAST(SUM(CASE WHEN tm AND lnk THEN 1 ELSE 0 END) AS BIGINT) AS n_true_linked
        |  FROM pr GROUP BY 1
        |  UNION ALL
        |  SELECT '4_oversize_skipped', CAST(coalesce(SUM(f * f), 0) AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM freq WHERE f > 2000
        |) ORDER BY bucket""".stripMargin),

    // ER split detection — the UNDER-linking audit dual to
    // join_identity_clusters' over-link census: each person has 3 system
    // records chained 0–1–2, the matcher drops the 0–1 link for k%7==3
    // (a 2-way split) and BOTH links for k%11==4 (a 3-way shatter; keys
    // hitting both plants shatter too). After 3 synchronous min-label
    // rounds (diameter ≤ 2), the per-person cluster-span census grades
    // the split rate — the recall-side ER quality number every steward
    // report pairs with the merge queue. Bounded join rounds, linear.
    Op("join_er_split_detection", (s, d) => {
      val p = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("p"))
      val recs = p.withColumn("sys", explode(expr("sequence(0, 2)")))
        .select(col("p"), (col("p") * 3 + col("sys")).as("rid"))
      val e01 = p.where(col("p") % 7 =!= 3 && col("p") % 11 =!= 4)
        .select((col("p") * 3).as("a"), (col("p") * 3 + 1).as("b"))
      val e12 = p.where(col("p") % 11 =!= 4)
        .select((col("p") * 3 + 1).as("a"), (col("p") * 3 + 2).as("b"))
      val und = e01.unionByName(e12)
      val edges = und
        .unionByName(und.select(col("b").as("a"), col("a").as("b")))
        .localCheckpoint()
      var lab = recs.select(col("rid"), col("rid").as("l"))
      for (_ <- 1 to 3) {
        val cand = edges
          .join(lab.select(col("rid").as("a"), col("l").as("al")), "a")
          .groupBy(col("b").as("rid")).agg(min("al").as("cand"))
        lab = lab.join(cand, Seq("rid"), "left")
          .select(col("rid"),
            least(col("l"), coalesce(col("cand"), col("l"))).as("l"))
          // lab feeds both next round's cand join and the carry-forward —
          // per-round eager cuts beat lineage doubling (the round-17
          // graph_components A/B, guide §5)
          .localCheckpoint()
      }
      recs.join(lab, Seq("rid"))
        .groupBy("p").agg(countDistinct("l").as("n_clusters"))
        .groupBy("n_clusters")
        .agg(count(lit(1)).as("n_persons"),
          (count(lit(1)) * 3).as("n_records"))
        .orderBy("n_clusters")
    },
      {
      val rounds = (1 to 3).map { r =>
        s"""l$r AS (
           |  SELECT x.rid, LEAST(x.l, coalesce(c.cand, x.l)) AS l, x.p
           |  FROM l${r - 1} x LEFT JOIN (
           |    SELECT e.b AS rid, MIN(y.l) AS cand
           |    FROM edges e JOIN l${r - 1} y ON y.rid = e.a GROUP BY 1) c
           |  ON c.rid = x.rid)""".stripMargin
      }.mkString(",\n")
      s"""WITH pp AS (SELECT CAST(c_custkey AS BIGINT) AS p FROM customer),
         |recs AS (SELECT p, p * 3 + s.range AS rid FROM pp CROSS JOIN range(0, 3) s),
         |e01 AS (SELECT p * 3 AS a, p * 3 + 1 AS b FROM pp WHERE p % 7 <> 3 AND p % 11 <> 4),
         |e12 AS (SELECT p * 3 + 1 AS a, p * 3 + 2 AS b FROM pp WHERE p % 11 <> 4),
         |und AS (SELECT a, b FROM e01 UNION ALL SELECT a, b FROM e12),
         |edges AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
         |l0 AS (SELECT rid, rid AS l, p FROM recs),
         |$rounds
         |SELECT n_clusters, CAST(COUNT(*) AS BIGINT) AS n_persons,
         |  CAST(COUNT(*) * 3 AS BIGINT) AS n_records
         |FROM (SELECT p, CAST(COUNT(DISTINCT l) AS BIGINT) AS n_clusters
         |      FROM l3 GROUP BY 1) q
         |GROUP BY 1 ORDER BY n_clusters""".stripMargin
    }),

    // Customer lifetime value — 8 retention-decayed, discounted margin
    // periods in exact micro-units: per-cohort md5 retention 700–949
    // milli chained by floor per period (surv_t = surv·r DIV 1000), the
    // 5%-yield discount ladder shared with agg_bond_duration, margin in
    // exact cents; CLV = Σ margin·surv_t·df_t DIV 10¹² cents. Cohort
    // retention is the planted lever: higher-retention cohorts must
    // grade strictly higher CLV per customer. 8 unrolled steps + rollup.
    Op("agg_clv_discounted", (s, d) => {
      val dfLadder = Seq(952380L, 907028L, 863836L, 822700L, 783523L, 746212L, 710678L, 676836L)
      var t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cohort", (col("k") % 5).cast("int"))
        .withColumn("r_milli", expr(s"700 + (k % 5) * 50 + ${md5Bits("rt", "k", 4)} % 50"))
        .withColumn("margin", expr(
          s"${md5Bits("mg", "k", 6)} % 5000 + 500"))
        .withColumn("surv", lit(1000000L))
        .withColumn("clv_num", lit(0L))
      for (p <- 1 to 8) {
        t = t.withColumn("surv", expr("(surv * r_milli) DIV 1000"))
          .withColumn("clv_num", expr(
            s"clv_num + (margin * surv) DIV 1000000 * ${dfLadder(p - 1)}"))
      }
      t.withColumn("clv_cents", expr("clv_num DIV 1000000"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n_customers"),
          sum("clv_cents").as("clv_mass_cents"),
          expr("SUM(clv_cents) DIV COUNT(*)").as("clv_per_customer"))
        .orderBy("cohort")
    },
      {
      val dfLadder = Seq(952380L, 907028L, 863836L, 822700L, 783523L, 746212L, 710678L, 676836L)
      val steps = (1 to 8).map { p =>
        s"""c$p AS (
           |  SELECT k, cohort, r_milli, margin, surv,
           |    clv_num + (margin * surv) // 1000000 * ${dfLadder(p - 1)} AS clv_num
           |  FROM (SELECT k, cohort, r_milli, margin,
           |      (surv * r_milli) // 1000 AS surv, clv_num FROM c${p - 1}) q)""".stripMargin
      }.mkString(",\n")
      s"""WITH c0 AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS k, CAST(c_custkey % 5 AS INT) AS cohort,
         |    700 + (c_custkey % 5) * 50
         |      + ${duckMd5Bits("rt", "c_custkey", 4)} % 50 AS r_milli,
         |    ${duckMd5Bits("mg", "c_custkey", 6)} % 5000 + 500 AS margin,
         |    CAST(1000000 AS BIGINT) AS surv, CAST(0 AS BIGINT) AS clv_num
         |  FROM customer),
         |$steps
         |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers,
         |  CAST(SUM(clv_num // 1000000) AS BIGINT) AS clv_mass_cents,
         |  CAST(SUM(clv_num // 1000000) // COUNT(*) AS BIGINT) AS clv_per_customer
         |FROM c8 GROUP BY 1 ORDER BY cohort""".stripMargin
    }),

    // Batch padding waste — the serving-throughput number a continuous
    // batcher optimizes: requests pad to the LONGEST sequence in their
    // batch of 16, so arrival-order batching wastes Σ(max − len) tokens
    // while LENGTH-BUCKETED batching (rank by length within the service
    // shard, then group by rank DIV 16 — partitioned ranking, no global
    // sort) collapses the waste. Both strategies graded side by side:
    // batches, token mass, padding waste, waste ppm — sorted must waste
    // strictly less (the spec asserts it). Two window passes + rollups.
    Op("llm_batch_padding", (s, d) => {
      val req = Tables.events(s, d)
        .select(col("event_id"), (col("user_id") % 4).as("svc"))
        .withColumn("len", expr(
          s"${md5Bits("bl", "event_id", 6)} % 491 + 10"))
        .localCheckpoint() // both strategies fold over it
      def waste(assigned: DataFrame, strategy: String): DataFrame =
        assigned.groupBy("svc", "batch")
          .agg(count(lit(1)).as("n"), max("len").as("mx"), sum("len").as("tok"))
          .withColumn("pad", col("mx") * col("n") - col("tok"))
          .groupBy("svc")
          .agg(count(lit(1)).as("n_batches"), sum("tok").as("token_mass"),
            sum("pad").as("padding_waste"))
          .withColumn("waste_ppm", expr(
            "(padding_waste * 1000000) DIV (token_mass + padding_waste)"))
          .select(lit(strategy).as("strategy"), col("svc"), col("n_batches"),
            col("token_mass"), col("padding_waste"), col("waste_ppm"))
      val naive = waste(req.withColumn("batch",
        expr("(row_number() OVER (PARTITION BY svc ORDER BY event_id) - 1) DIV 16")),
        "1_arrival")
      val sorted = waste(req.withColumn("batch",
        expr("(row_number() OVER (PARTITION BY svc ORDER BY len, event_id) - 1) DIV 16")),
        "2_length_bucketed")
      naive.unionByName(sorted).orderBy("strategy", "svc")
    },
      s"""WITH req AS (
        |  SELECT event_id, user_id % 4 AS svc,
        |    ${duckMd5Bits("bl", "event_id", 6)} % 491 + 10 AS len
        |  FROM events),
        |a1 AS (SELECT svc, len,
        |    (ROW_NUMBER() OVER (PARTITION BY svc ORDER BY event_id) - 1) // 16 AS batch
        |  FROM req),
        |a2 AS (SELECT svc, len,
        |    (ROW_NUMBER() OVER (PARTITION BY svc ORDER BY len, event_id) - 1) // 16 AS batch
        |  FROM req),
        |w1 AS (SELECT svc, batch, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(MAX(len) AS BIGINT) AS mx, CAST(SUM(len) AS BIGINT) AS tok
        |  FROM a1 GROUP BY 1, 2),
        |w2 AS (SELECT svc, batch, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(MAX(len) AS BIGINT) AS mx, CAST(SUM(len) AS BIGINT) AS tok
        |  FROM a2 GROUP BY 1, 2)
        |SELECT strategy, svc, n_batches, token_mass, padding_waste, waste_ppm FROM (
        |  SELECT '1_arrival' AS strategy, svc, CAST(COUNT(*) AS BIGINT) AS n_batches,
        |    CAST(SUM(tok) AS BIGINT) AS token_mass,
        |    CAST(SUM(mx * n - tok) AS BIGINT) AS padding_waste,
        |    CAST((SUM(mx * n - tok) * 1000000) // (SUM(tok) + SUM(mx * n - tok)) AS BIGINT) AS waste_ppm
        |  FROM w1 GROUP BY 2
        |  UNION ALL
        |  SELECT '2_length_bucketed', svc, CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(tok) AS BIGINT),
        |    CAST(SUM(mx * n - tok) AS BIGINT),
        |    CAST((SUM(mx * n - tok) * 1000000) // (SUM(tok) + SUM(mx * n - tok)) AS BIGINT)
        |  FROM w2 GROUP BY 2
        |) ORDER BY strategy, svc""".stripMargin),

    // Int8 scalar quantization of embeddings — the 4× memory cut every
    // vector store offers: per-vector scale = max|x| in exact milli,
    // q_i = sign·(|x_milli|·127 DIV scale) (magnitude division only —
    // the signed-division floor/trunc engine divergence never fires),
    // reconstruction error |x·127 − q·scale| in exact integer mass.
    // Graded per cohort: vectors, saturated dims (|q| = 127 — exactly
    // the max-magnitude dims), error mass, max per-dim error (bounded
    // by scale: one quantization step). One explode + two rollups.
    Op("llm_embed_int8_quantize", (s, d) => {
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("xs"))
        .withColumn("scale", expr("aggregate(xs, CAST(0 AS BIGINT), (a, x) -> greatest(a, abs(x)))"))
        .where(col("scale") > 0)
        .withColumn("x", explode(col("xs")))
        .withColumn("q", expr(
          "CASE WHEN x < 0 THEN -((-x * 127) DIV scale) ELSE (x * 127) DIV scale END"))
        .withColumn("err", abs(col("x") * 127 - col("q") * col("scale")))
      v.groupBy((col("vec_id") % 4).as("cohort"))
        .agg(countDistinct("vec_id").as("n_vecs"),
          sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_saturated"),
          sum(when(abs(col("q")) > 127, 1L).otherwise(0L)).as("n_overflow"),
          sum("err").as("err_mass"),
          max(expr("(err * 1000000) DIV scale")).as("max_err_ppm_of_scale"))
        .orderBy("cohort")
    },
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS xs
        |  FROM embeddings),
        |e AS (SELECT vec_id,
        |    list_max(list_transform(xs, x -> abs(x))) AS scale,
        |    unnest(xs) AS x
        |  FROM v),
        |q AS (SELECT vec_id % 4 AS cohort, vec_id, scale, x,
        |    CASE WHEN x < 0 THEN -((-x * 127) // scale) ELSE (x * 127) // scale END AS q
        |  FROM e WHERE scale > 0),
        |r AS (SELECT cohort, vec_id, scale, q, abs(x * 127 - q * scale) AS err FROM q)
        |SELECT cohort, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
        |  CAST(SUM(CASE WHEN abs(q) > 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
        |  CAST(SUM(err) AS BIGINT) AS err_mass,
        |  CAST(MAX((err * 1000000) // scale) AS BIGINT) AS max_err_ppm_of_scale
        |FROM r GROUP BY 1 ORDER BY cohort""".stripMargin),

    // 1-bit (sign) embedding sketch — the 32× memory cut binary
    // retrieval runs on: each 64-dim vector folds into two 32-bit sign
    // words (bit 63 would overflow int64 — the simhash two-word layout),
    // Hamming distance via bit_count(xor), and the Hamming top-5 graded
    // against the exact cosine top-5 per probe (rounded sims + id
    // tie-breaks). The data-scaled work is one linear sketch pass + the
    // exact-scan recall baseline. Graded per probe: hits, recall ppm.
    Op("llm_embed_binary_sketch", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("lo", expr(
          "aggregate(transform(sequence(0, 31), i -> IF(emb[i] > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .withColumn("hi", expr(
          "aggregate(transform(sequence(32, 63), i -> IF(emb[i] > 0, shiftleft(CAST(1 AS BIGINT), i - 32), CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .localCheckpoint()
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"),
          col("lo").as("plo"), col("hi").as("phi"))
      val wH = Window.partitionBy("probe_id").orderBy("ham", "vec_id")
      val hamm5 = e.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("probe_id"))
        .withColumn("ham", expr(
          "CAST(bit_count(lo ^ plo) + bit_count(hi ^ phi) AS INT)"))
        .withColumn("r", row_number().over(wH)).where(col("r") <= 5)
        .select("probe_id", "vec_id")
      val wT = Window.partitionBy("probe_id").orderBy(desc("sim"), col("vec_id"))
      val exact5 = e.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("probe_id"))
        .withColumn("sim",
          round(call_function("cosine_sim", col("p_emb"), col("emb")), 4))
        .withColumn("r", row_number().over(wT)).where(col("r") <= 5)
        .select("probe_id", "vec_id")
      exact5.join(hamm5.withColumn("hit", lit(1L)), Seq("probe_id", "vec_id"), "left")
        .groupBy("probe_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall_ppm", expr("n_hits * 200000"))
        .orderBy("probe_id")
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    CAST(list_sum(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(generate_series(33, 64),
        |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS hi
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, emb AS p_emb, lo AS plo, hi AS phi
        |  FROM e WHERE vec_id < 10),
        |h5 AS (SELECT probe_id, vec_id FROM (
        |    SELECT p.probe_id, e.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
        |        ORDER BY bit_count(xor(e.lo, p.plo)) + bit_count(xor(e.hi, p.phi)), e.vec_id) AS r
        |    FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id) q WHERE r <= 5),
        |x5 AS (SELECT probe_id, vec_id FROM (
        |    SELECT p.probe_id, e.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
        |        ORDER BY ROUND(list_cosine_similarity(p.p_emb, e.emb), 4) DESC, e.vec_id) AS r
        |    FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id) q WHERE r <= 5)
        |SELECT x.probe_id,
        |  CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 200000 AS BIGINT) AS recall_ppm
        |FROM x5 x LEFT JOIN h5 h ON h.probe_id = x.probe_id AND h.vec_id = x.vec_id
        |GROUP BY 1 ORDER BY x.probe_id""".stripMargin),

    // Gift-card breakage — the unclaimed-balance revenue-recognition
    // number beside the trial balance: cards carry md5 issued cents and
    // an md5 redemption fraction (cohort 2 plants heavy redeemers), a
    // 1-in-5 slice is past expiry, and BREAKAGE = the expired unredeemed
    // remainder (recognizable) vs live unredeemed (still a liability).
    // Per cohort: issued / redeemed / breakage / liability mass, exact
    // breakage ppm of issued. One projection + rollup, linear.
    Op("agg_gift_card_breakage", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("cohort", (col("k") % 4).cast("int"))
        .withColumn("issued", expr(
          s"${md5Bits("gc", "k", 6)} % 20000 + 500"))
        .withColumn("redeem_pct", expr(
          s"${md5Bits("gr", "k", 6)} % 101") +
          when(col("cohort") === 2, 40L).otherwise(0L))
        .withColumn("redeemed", expr("(issued * least(redeem_pct, 100)) DIV 100"))
        .withColumn("expired", col("k") % 5 === 3)
        .withColumn("remainder", col("issued") - col("redeemed"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n_cards"),
          sum("issued").as("issued_mass"),
          sum("redeemed").as("redeemed_mass"),
          sum(when(col("expired"), col("remainder")).otherwise(0L)).as("breakage_mass"),
          sum(when(!col("expired"), col("remainder")).otherwise(0L)).as("liability_mass"))
        .withColumn("breakage_ppm",
          expr("(breakage_mass * 1000000) DIV issued_mass"))
        .orderBy("cohort")
    },
      s"""WITH t AS (
        |  SELECT CAST(c_custkey % 4 AS INT) AS cohort,
        |    ${duckMd5Bits("gc", "c_custkey", 6)} % 20000 + 500 AS issued,
        |    LEAST(${duckMd5Bits("gr", "c_custkey", 6)} % 101
        |      + CASE WHEN c_custkey % 4 = 2 THEN 40 ELSE 0 END, 100) AS redeem_pct,
        |    c_custkey % 5 = 3 AS expired
        |  FROM customer),
        |r AS (SELECT cohort, issued, (issued * redeem_pct) // 100 AS redeemed, expired FROM t)
        |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cards,
        |  CAST(SUM(issued) AS BIGINT) AS issued_mass,
        |  CAST(SUM(redeemed) AS BIGINT) AS redeemed_mass,
        |  CAST(SUM(CASE WHEN expired THEN issued - redeemed ELSE 0 END) AS BIGINT) AS breakage_mass,
        |  CAST(SUM(CASE WHEN NOT expired THEN issued - redeemed ELSE 0 END) AS BIGINT) AS liability_mass,
        |  CAST((SUM(CASE WHEN expired THEN issued - redeemed ELSE 0 END) * 1000000)
        |    // SUM(issued) AS BIGINT) AS breakage_ppm
        |FROM r GROUP BY 1 ORDER BY cohort""".stripMargin),

    // Column null-rate drift — the schema-drift monitor a feed contract
    // runs between snapshots (warehouse_expectations verdicts ONE
    // snapshot; this compares TWO): snapshot A (even keys) vs B (odd),
    // per modeled column the exact null-rate ppm in each and the drift —
    // 'email' plants a 10% → 40% null jump in B (the upstream-regression
    // signature), 'phone' stays at 20% both sides. Stack projection +
    // one rollup, linear.
    Op("warehouse_schema_drift", (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").cast("bigint").as("k"))
        .withColumn("snapshot", when(col("k") % 2 === 0, "a").otherwise("b"))
        .withColumn("email_null", expr(
          s"${md5Bits("ne", "k", 6)} % 10") <
          when(col("k") % 2 === 0, 1L).otherwise(4L))
        .withColumn("phone_null", expr(
          s"${md5Bits("np", "k", 6)} % 10 < 2"))
        .select(col("snapshot"), expr(
          "stack(2, 'email', email_null, 'phone', phone_null) AS (col_name, is_null)"))
      val rates = t.groupBy("col_name", "snapshot")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_null"), 1L).otherwise(0L)).as("nulls"))
        .withColumn("null_ppm", expr("(nulls * 1000000) DIV n"))
      rates.where(col("snapshot") === "a")
        .select(col("col_name"), col("n").as("n_a"), col("null_ppm").as("null_ppm_a"))
        .join(rates.where(col("snapshot") === "b")
          .select(col("col_name"), col("n").as("n_b"), col("null_ppm").as("null_ppm_b")),
          Seq("col_name"))
        .withColumn("drift_ppm", abs(col("null_ppm_a") - col("null_ppm_b")))
        .withColumn("drifted", col("drift_ppm") > 100000L)
        .orderBy("col_name")
    },
      s"""WITH t AS (
        |  SELECT CASE WHEN c_custkey % 2 = 0 THEN 'a' ELSE 'b' END AS snapshot,
        |    ${duckMd5Bits("ne", "c_custkey", 6)} % 10
        |      < CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 4 END AS email_null,
        |    ${duckMd5Bits("np", "c_custkey", 6)} % 10 < 2 AS phone_null
        |  FROM customer),
        |u AS (
        |  SELECT snapshot, 'email' AS col_name, email_null AS is_null FROM t
        |  UNION ALL SELECT snapshot, 'phone', phone_null FROM t),
        |rates AS (
        |  SELECT col_name, snapshot, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST((SUM(CASE WHEN is_null THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS null_ppm
        |  FROM u GROUP BY 1, 2)
        |SELECT a.col_name, a.n AS n_a, a.null_ppm AS null_ppm_a,
        |  b.n AS n_b, b.null_ppm AS null_ppm_b,
        |  abs(a.null_ppm - b.null_ppm) AS drift_ppm,
        |  abs(a.null_ppm - b.null_ppm) > 100000 AS drifted
        |FROM rates a JOIN rates b ON b.col_name = a.col_name
        |WHERE a.snapshot = 'a' AND b.snapshot = 'b'
        |ORDER BY a.col_name""".stripMargin),

    // Conversation-window truncation — the context-cap policy a chat
    // serving layer applies (keep the MOST RECENT turns whose token sum
    // fits): 12 md5-length turns per conversation, cap 1200 tokens, the
    // keep set by one reverse cumulative window (suffix sum ≤ cap — no
    // iteration), dropped turns censused with their token mass — the
    // context the model silently never saw, the #1 cause of "it forgot
    // my earlier message" reports. One window + rollup per cohort.
    Op("llm_turn_truncation", (s, d) => {
      val turns = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("cv"))
        .withColumn("turn", explode(expr("sequence(0, 11)")))
        .withColumn("tok", expr(
          s"${md5Bits("concat('tt:', CAST(cv AS STRING), ':', CAST(turn AS STRING))", 6)} % 290 + 10"))
      val wSuffix = Window.partitionBy("cv").orderBy(desc("turn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      turns.withColumn("suffix_tok", sum("tok").over(wSuffix))
        .withColumn("kept", col("suffix_tok") <= 1200L)
        .groupBy((col("cv") % 4).as("cohort"))
        .agg(countDistinct("cv").as("n_conversations"),
          count(lit(1)).as("n_turns"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(!col("kept"), col("tok")).otherwise(0L)).as("dropped_token_mass"))
        .withColumn("dropped_ppm", expr("(n_dropped * 1000000) DIV n_turns"))
        .orderBy("cohort")
    },
      s"""WITH turns AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS cv, CAST(j.range AS INT) AS turn,
        |    ${duckMd5Bits("'tt:' || CAST(o_orderkey AS VARCHAR) || ':' || CAST(j.range AS VARCHAR)", 6)} % 290 + 10 AS tok
        |  FROM orders CROSS JOIN range(0, 12) j),
        |k AS (
        |  SELECT cv, turn, tok,
        |    SUM(tok) OVER (PARTITION BY cv ORDER BY turn DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 1200 AS kept
        |  FROM turns)
        |SELECT cv % 4 AS cohort, CAST(COUNT(DISTINCT cv) AS BIGINT) AS n_conversations,
        |  CAST(COUNT(*) AS BIGINT) AS n_turns,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN NOT kept THEN tok ELSE 0 END) AS BIGINT) AS dropped_token_mass,
        |  CAST((SUM(CASE WHEN NOT kept THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS dropped_ppm
        |FROM k GROUP BY 1 ORDER BY cohort""".stripMargin)
  )

  /** Minimal USTAR tar writer/reader for `source_webdataset_shard` —
    * plain 512-byte header + padded data blocks (the subset WebDataset
    * itself uses; no extensions, names < 100 chars). */
  private[ops] object TarUtil {
    def writeEntry(out: java.io.OutputStream, name: String, data: Array[Byte]): Unit = {
      val h = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, h, 0, nb.length)
      def oct(v: Long, off: Int, len: Int): Unit = {
        val sv = ("%0" + (len - 1) + "o").format(v).getBytes("US-ASCII")
        System.arraycopy(sv, 0, h, off, sv.length)
      }
      oct(420, 100, 8)           // mode 0644
      oct(0, 108, 8); oct(0, 116, 8) // uid, gid
      oct(data.length.toLong, 124, 12)
      oct(0, 136, 12)            // mtime
      h(156) = '0'               // typeflag: regular file
      System.arraycopy("ustar\u000000".getBytes("US-ASCII"), 0, h, 257, 8)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum field = spaces
      var sum = 0L; var i = 0
      while (i < 512) { sum += (h(i) & 0xff); i += 1 }
      oct(sum, 148, 8); h(155) = 0
      out.write(h)
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      if (pad > 0) out.write(new Array[Byte](pad))
    }

    def readEntries(tar: Array[Byte]): Seq[(String, Array[Byte])] = {
      val out = Vector.newBuilder[(String, Array[Byte])]
      var off = 0
      while (off + 512 <= tar.length) {
        val name = new String(tar, off, 100, "US-ASCII").takeWhile(_ != '\u0000')
        if (name.isEmpty) { off = tar.length } // end-of-archive zero block
        else {
          val size = java.lang.Long.parseLong(
            new String(tar, off + 124, 12, "US-ASCII").trim.takeWhile(_ != '\u0000'), 8)
          val data = java.util.Arrays.copyOfRange(tar, off + 512, off + 512 + size.toInt)
          out += ((name, data))
          off += 512 + ((size.toInt + 511) / 512) * 512
        }
      }
      out.result()
    }
  }

  /** One EM E-step in DuckDB: responsibilities from the params CTE `p`. */
  private def fsEmEstepSql(out: String, p: String): String =
    s"""$out AS (
       |  SELECT gn, gc, gy, cnt,
       |    CAST((num * 1000000) // (num + den) AS BIGINT) AS r
       |  FROM (
       |    SELECT gn, gc, gy, cnt,
       |      CAST(pi AS HUGEINT)
       |        * (CASE WHEN gn THEN mn ELSE 1000000 - mn END)
       |        * (CASE WHEN gc THEN mc ELSE 1000000 - mc END)
       |        * (CASE WHEN gy THEN my ELSE 1000000 - my END) AS num,
       |      CAST(1000000 - pi AS HUGEINT)
       |        * (CASE WHEN gn THEN un ELSE 1000000 - un END)
       |        * (CASE WHEN gc THEN uc ELSE 1000000 - uc END)
       |        * (CASE WHEN gy THEN uy ELSE 1000000 - uy END) AS den
       |    FROM pat CROSS JOIN $p) q)""".stripMargin

  /** One EM M-step in DuckDB: params from the responsibilities CTE `e`. */
  private def fsEmMstepSql(out: String, e: String): String =
    s"""$out AS (
       |  SELECT CAST(SUM(cnt * r) // SUM(cnt) AS BIGINT) AS pi,
       |    CAST((SUM(CASE WHEN gn THEN cnt * r ELSE 0 END) * 1000000)
       |      // SUM(cnt * r) AS BIGINT) AS mn,
       |    CAST((SUM(CASE WHEN gc THEN cnt * r ELSE 0 END) * 1000000)
       |      // SUM(cnt * r) AS BIGINT) AS mc,
       |    CAST((SUM(CASE WHEN gy THEN cnt * r ELSE 0 END) * 1000000)
       |      // SUM(cnt * r) AS BIGINT) AS my,
       |    CAST((SUM(CASE WHEN gn THEN cnt * (1000000 - r) ELSE 0 END) * 1000000)
       |      // SUM(cnt * (1000000 - r)) AS BIGINT) AS un,
       |    CAST((SUM(CASE WHEN gc THEN cnt * (1000000 - r) ELSE 0 END) * 1000000)
       |      // SUM(cnt * (1000000 - r)) AS BIGINT) AS uc,
       |    CAST((SUM(CASE WHEN gy THEN cnt * (1000000 - r) ELSE 0 END) * 1000000)
       |      // SUM(cnt * (1000000 - r)) AS BIGINT) AS uy
       |  FROM $e)""".stripMargin

  /** One blocked FS link pass of the join_er_incremental oracle against
    * the index CTE `idx`: best block candidate per batch record, link at
    * score ≥ 120, else leave NULL (→ mint). Mirrors the Spark linkPass. */
  private def erLinkPassSql(out: String, idx: String): String =
    s"""$out AS (
       |  SELECT k, bname, bcity, byob, bblock,
       |    CASE WHEN score >= 120 THEN cluster_id END AS linked_cluster,
       |    CASE WHEN score >= 120 THEN score END AS lscore
       |  FROM (
       |    SELECT b.k, b.bname, b.bcity, b.byob, b.bblock, i.cluster_id,
       |      CASE WHEN i.cluster_id IS NULL THEN NULL
       |        ELSE (CASE WHEN b.bname = i.name THEN 240 ELSE -120 END
       |            + CASE WHEN b.bcity = i.city THEN 80 ELSE -40 END
       |            + CASE WHEN b.byob = i.yob THEN 100 ELSE -60 END) END AS score,
       |      ROW_NUMBER() OVER (PARTITION BY b.k ORDER BY
       |        CASE WHEN i.cluster_id IS NULL THEN NULL
       |          ELSE (CASE WHEN b.bname = i.name THEN 240 ELSE -120 END
       |              + CASE WHEN b.bcity = i.city THEN 80 ELSE -40 END
       |              + CASE WHEN b.byob = i.yob THEN 100 ELSE -60 END) END DESC NULLS LAST,
       |        i.cluster_id ASC NULLS LAST) AS rn
       |    FROM b2 b LEFT JOIN $idx i ON b.bblock = i.block) q
       |  WHERE rn = 1)""".stripMargin

  /** One greedy hop of the llm_ann_hnsw_layered oracle at layer `layer`
    * (stride/cnt define the id-arithmetic membership; deg neighbors per
    * beam node; keep top `k`). Mirrors the Spark expand/score/top trio. */
  private def layerHopSql(i: String, prev: String, layer: Int,
      cntCol: String, stride: Long, deg: Int, k: Int): String =
    s"""x$i AS (
       |  SELECT DISTINCT probe_id, node FROM (
       |    SELECT probe_id,
       |      CASE WHEN v = node
       |        THEN $stride * ((node // $stride + 1) % (SELECT $cntCol FROM nn))
       |        ELSE v END AS node
       |    FROM (SELECT probe_id, node,
       |            $stride * (${duckMd5Bits(s"'hl$layer:' || CAST(node AS VARCHAR) || ':' || CAST(j.range AS VARCHAR)", 8)}
       |              % (SELECT $cntCol FROM nn)) AS v
       |          FROM $prev CROSS JOIN range(0, $deg) j) q1
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
       |    FROM s$i) q WHERE r <= $k)""".stripMargin
}
