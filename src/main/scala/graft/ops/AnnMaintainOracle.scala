package graft.ops

/** DuckDB replay of `llm_ann_index_maintain` (Round12Ops): the full IVF
  * lifecycle — md5-sampled member centroids, exact-integer dot-product
  * assignment, 2-probe top-3 search, recall@3 vs brute force — for both
  * the stale index (built BEFORE the drift batch landed: only `corpus`
  * rows are assigned, so the probes' true neighbors are invisible and
  * recall collapses to 0) and the refreshed one (maintenance re-samples
  * centroids and re-assigns corpus ∪ drift; recall recovers to ≥95%).
  * Kept in its own file only because the SQL is long.
  *
  * Exactness contract with the Spark side: coordinates are
  * floor(CAST(x AS DOUBLE) * 10000) BIGINTs, dots are integer sums
  * (≤ 64·10⁸ — far inside int64), every top-k is ROW_NUMBER with a
  * (metric DESC, id ASC) total order, and the centroid sampler is
  * `duckMd5Bits` of the vec_id, 8 hex digits, % floor(sqrt(n)).
  */
object AnnMaintainOracle {
  val sql: String =
    s"""WITH pos AS (SELECT CAST(i AS BIGINT) AS pos FROM generate_series(0, 63) AS t(i)),
      |raw AS (
      |  SELECT e.vec_id, p.pos,
      |    CAST(FLOOR(CAST(e.embedding[p.pos + 1] AS DOUBLE) * 10000) AS BIGINT) AS xm
      |  FROM embeddings e, pos p
      |  WHERE p.pos + 1 <= len(e.embedding)),
      |corpus AS (SELECT * FROM raw WHERE vec_id % 5 <> 4),
      |drift  AS (SELECT vec_id, pos, xm + 5000 AS xm FROM raw WHERE vec_id % 5 = 4),
      |un     AS (SELECT * FROM corpus UNION ALL SELECT * FROM drift),
      |mod_stale AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(CAST(COUNT(DISTINCT vec_id) AS DOUBLE))) AS BIGINT)) AS m
      |  FROM corpus),
      |mod_fresh AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(CAST(COUNT(DISTINCT vec_id) AS DOUBLE))) AS BIGINT)) AS m
      |  FROM un),
      |cent_stale AS (
      |  SELECT c.vec_id AS cid, c.pos, c.xm AS cm FROM corpus c, mod_stale
      |  WHERE ${duckMd5Bits("CAST(c.vec_id AS VARCHAR)", 8)} % mod_stale.m = 0),
      |cent_fresh AS (
      |  SELECT u.vec_id AS cid, u.pos, u.xm AS cm FROM un u, mod_fresh
      |  WHERE ${duckMd5Bits("CAST(u.vec_id AS VARCHAR)", 8)} % mod_fresh.m = 0),
      |probe_ids AS (
      |  SELECT vec_id FROM (SELECT DISTINCT vec_id FROM drift)
      |  ORDER BY md5('probe:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 200),
      |probes AS (
      |  SELECT d.vec_id AS probe_id, d.pos, d.xm AS pm
      |  FROM drift d JOIN probe_ids pi ON d.vec_id = pi.vec_id),
      |truth AS (
      |  SELECT probe_id, vec_id FROM (
      |    SELECT probe_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rk
      |    FROM (
      |      SELECT p.probe_id, u.vec_id, SUM(p.pm * u.xm) AS qdot
      |      FROM probes p JOIN un u ON p.pos = u.pos
      |      WHERE u.vec_id <> p.probe_id
      |      GROUP BY 1, 2))
      |  WHERE rk <= 3),
      |asg_stale AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT u.vec_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY SUM(u.xm * c.cm) DESC, c.cid) AS rn
      |    FROM corpus u JOIN cent_stale c ON u.pos = c.pos
      |    GROUP BY u.vec_id, c.cid)
      |  WHERE rn = 1),
      |asg_fresh AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT u.vec_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY SUM(u.xm * c.cm) DESC, c.cid) AS rn
      |    FROM un u JOIN cent_fresh c ON u.pos = c.pos
      |    GROUP BY u.vec_id, c.cid)
      |  WHERE rn = 1),
      |cells_stale AS (
      |  SELECT probe_id, cid AS cluster FROM (
      |    SELECT p.probe_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY SUM(p.pm * c.cm) DESC, c.cid) AS rn
      |    FROM probes p JOIN cent_stale c ON p.pos = c.pos
      |    GROUP BY p.probe_id, c.cid)
      |  WHERE rn <= 2),
      |cells_fresh AS (
      |  SELECT probe_id, cid AS cluster FROM (
      |    SELECT p.probe_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY SUM(p.pm * c.cm) DESC, c.cid) AS rn
      |    FROM probes p JOIN cent_fresh c ON p.pos = c.pos
      |    GROUP BY p.probe_id, c.cid)
      |  WHERE rn <= 2),
      |approx_stale AS (
      |  SELECT probe_id, vec_id FROM (
      |    SELECT probe_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rk
      |    FROM (
      |      SELECT cd.probe_id, a.vec_id, SUM(p.pm * u.xm) AS qdot
      |      FROM cells_stale cd
      |      JOIN asg_stale a ON cd.cluster = a.cluster AND a.vec_id <> cd.probe_id
      |      JOIN probes p ON p.probe_id = cd.probe_id
      |      JOIN un u ON u.vec_id = a.vec_id AND u.pos = p.pos
      |      GROUP BY 1, 2))
      |  WHERE rk <= 3),
      |approx_fresh AS (
      |  SELECT probe_id, vec_id FROM (
      |    SELECT probe_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) AS rk
      |    FROM (
      |      SELECT cd.probe_id, a.vec_id, SUM(p.pm * u.xm) AS qdot
      |      FROM cells_fresh cd
      |      JOIN asg_fresh a ON cd.cluster = a.cluster AND a.vec_id <> cd.probe_id
      |      JOIN probes p ON p.probe_id = cd.probe_id
      |      JOIN un u ON u.vec_id = a.vec_id AND u.pos = p.pos
      |      GROUP BY 1, 2))
      |  WHERE rk <= 3),
      |n_truth AS (SELECT COUNT(*) AS n FROM truth),
      |phase_stale AS (
      |  SELECT 'stale' AS phase,
      |    (SELECT COUNT(DISTINCT cid) FROM cent_stale) AS n_centroids,
      |    (SELECT n FROM n_truth) AS n_truth,
      |    (SELECT COUNT(*) FROM approx_stale a JOIN truth t
      |       ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id) AS hits),
      |phase_fresh AS (
      |  SELECT 'refreshed' AS phase,
      |    (SELECT COUNT(DISTINCT cid) FROM cent_fresh) AS n_centroids,
      |    (SELECT n FROM n_truth) AS n_truth,
      |    (SELECT COUNT(*) FROM approx_fresh a JOIN truth t
      |       ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id) AS hits)
      |SELECT phase, CAST(n_centroids AS BIGINT) AS n_centroids,
      |  CAST(n_truth AS BIGINT) AS n_truth, CAST(hits AS BIGINT) AS hits,
      |  CAST((hits * 1000000) // n_truth AS BIGINT) AS recall_ppm
      |FROM (SELECT * FROM phase_stale UNION ALL SELECT * FROM phase_fresh)
      |ORDER BY phase""".stripMargin
}
