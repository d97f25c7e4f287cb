package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over relations derived from the fact tables — the
  * PageRank/centrality/motif family a warehouse serves next to the
  * iterative connected-components already in `llm_dedup_cluster`.
  *
  * Scale posture: the expensive part is building the edge list (a fact-
  * fact join + rollup — one shuffle on the order key, dimensions
  * broadcast); the algorithms then run over the AGGREGATED graph
  * (≤ |nations|² rows), re-joined per step exactly like Pregel
  * supersteps. At 100 TB the edge rollup is the same one-shuffle
  * aggregate, and a bigger node domain (users, domains, hosts) keeps the
  * identical join-per-step shape — every step is a key-partitioned
  * equi-join + groupBy, never a driver-side adjacency structure.
  *
  * Determinism: ranks are BIGINT micro-units and triangle counts are
  * exact integers; every step is integer multiply / integer DIV /
  * integer sum (associative, partition-order free), so both engines hold
  * bit-identical results — no FP drift.
  */
object GraphOps extends Family {
  /** Fixed power-iteration rounds (rank_micro changes < 0.3%/round by
    * r5 on the fixture graph — comfortably converged for a 25-node
    * graph; the oracle replays the same 5 rounds as chained CTEs). */
  private val PrIters = 5

  /** Directed nation trade edges: src→dst weighted by how many lineitems
    * customers of nation src bought from suppliers of nation dst. The
    * one real shuffle of the family — five graph ops consume the SAME
    * deterministic rollup, so it is materialized once per (JVM, sf) into
    * the scratch dir and every later op reads the ≤625-row parquet
    * instead of re-running the fact join (the reuse-a-partitioning law;
    * at 100 TB this is the difference between one edge-build job feeding
    * the whole graph suite and one per query). First build is
    * localCheckpoint'd so the write and the first consumer share the
    * shuffle. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.opDir("graph_edges", d)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))) {
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(dir).localCheckpoint()
  }

  /** The oracle twin of `tradeEdges` (kept adjacent so they drift
    * together or not at all). */
  private val EdgesCte =
    """edges AS MATERIALIZED (
      |  SELECT c_nationkey AS src, s_nationkey AS dst,
      |    COUNT(*)::BIGINT AS w
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  GROUP BY 1, 2)""".stripMargin

  /** Above-average-weight undirected backbone edges (the scale-free cut
    * shared by the motif/path ops), with their weight: und edge weight sums
    * both orientations, the cut is the cross-multiplied exact-integer
    * compare (tpch_q11 law). */
  private def heavyCut(s: SparkSession, d: String): DataFrame = {
    val und = tradeEdges(s, d).where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum("w").as("w"))
    val tot = und.agg(sum("w").as("tw"), count(lit(1)).as("ne"))
    und.join(broadcast(tot))
      .where(col("w") * col("ne") > col("tw"))
  }

  /** Oracle twin of `heavyCut` up to its last projection (chains after
    * EdgesCte). */
  private val UndCtes =
    """und AS MATERIALIZED (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
      |    CAST(SUM(w) AS BIGINT) AS w
      |  FROM edges WHERE src <> dst GROUP BY 1, 2),
      |t AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS tw, COUNT(*) AS ne FROM und)""".stripMargin

  /** The heavy backbone's (a, b) pairs, shared with Round11Ops and
    * Round12bOps. */
  private[ops] def heavyBackbone(s: SparkSession, d: String): DataFrame =
    heavyCut(s, d).select("a", "b").localCheckpoint()

  /** Oracle twin of `heavyBackbone` (chains after EdgesCte). */
  private val HeavyCte =
    s"""$UndCtes,
       |h AS MATERIALIZED (SELECT a, b FROM und, t WHERE w * ne > tw)""".stripMargin

  /** Oracle CTE prefix shared with Round11Ops (edges + heavy cut). */
  private[ops] def coreOracleCtes: String = s"$EdgesCte,\n$HeavyCte"

  /** The heavy backbone as directed BIGINT (src, dst) edges, each edge in
    * both orientations. */
  private[ops] def undirected(heavy: DataFrame): DataFrame =
    heavy.select(col("a").cast("bigint").as("src"), col("b").cast("bigint").as("dst"))
      .unionAll(heavy.select(col("b").cast("bigint").as("src"), col("a").cast("bigint").as("dst")))

  /** Oracle twin of `undirected` over HeavyCte's `h`. */
  private[ops] val BiCte =
    """bi AS MATERIALIZED (SELECT CAST(a AS BIGINT) AS src, CAST(b AS BIGINT) AS dst FROM h
      |       UNION ALL SELECT CAST(b AS BIGINT), CAST(a AS BIGINT) FROM h)""".stripMargin

  /** Oracle twin of the BFS hop-distance loop over `nodes` and `bi`: `p0`
    * puts every (u, v) pair at 0 (u = v) or 99 (unreached), and round i
    * relaxes one hop (`c$i`) and keeps the minimum (`p$i`). The distances
    * after the last round are in `p$rounds`. */
  private[ops] def hopDistCtes(rounds: Int): String =
    ("""p0 AS MATERIALIZED (SELECT n1.u, n2.u AS v,
       |    CAST(CASE WHEN n1.u = n2.u THEN 0 ELSE 99 END AS BIGINT) AS dist
       |  FROM nodes n1, nodes n2)""".stripMargin +: (1 to rounds).map { i =>
      val p = s"p${i - 1}"
      s"""c$i AS MATERIALIZED (SELECT $p.u, bi.dst AS v,
         |    CAST(MIN($p.dist + 1) AS BIGINT) AS cand
         |  FROM bi JOIN $p ON $p.v = bi.src GROUP BY 1, 2),
         |p$i AS MATERIALIZED (SELECT q.u, q.v,
         |    CAST(LEAST(q.dist, COALESCE(c$i.cand, 99)) AS BIGINT) AS dist
         |  FROM $p q LEFT JOIN c$i ON c$i.u = q.u AND c$i.v = q.v)""".stripMargin
    }).mkString(",\n")

  /** Fixed BFS relaxation rounds (diameter of the fixture backbone is
    * ≤ 3; round 4 is the convergence slack the oracle replays too). */
  private val BfsIters = 4

  /** Min-label propagation rounds for connected components: converges in
    * diameter rounds; 5 = diameter bound + slack, replayed by the oracle.
    * The O(log n) pointer-doubling variant of the same computation lives
    * in `llm_dedup_cluster`; fixed synchronous rounds are used here so
    * the oracle can replay them as chained CTEs. */
  private val CcIters = 5

  /** Synchronous label-propagation (community detection) rounds. LPA
    * stabilizes on the 25-node backbone within 3 synchronous rounds;
    * every round is deterministic (exact integer weight tallies,
    * (Σw DESC, label ASC) tie-break), so both engines replay the same
    * community assignment bit-for-bit. */
  private val LpIters = 3

  /** k-core peeling: k = 6 removes a meaningful shell of the fixture
    * backbone (7 of 25 nations peel away, cascades included) while the
    * fixpoint lands by round 5; 6 rounds = fixpoint + the slack round
    * the spec checks. The oracle replays the same 6 rounds. */
  private val KcK = 6
  private val KcIters = 6

  /** `heavyBackbone` with the edge weight kept — the label-propagation
    * family tallies neighbor votes BY WEIGHT, not just adjacency. */
  private[graft] def heavyBackboneW(s: SparkSession, d: String): DataFrame =
    heavyCut(s, d).select("a", "b", "w").localCheckpoint()

  /** Oracle twin of `heavyBackboneW` (chains after EdgesCte). */
  private val HeavyWCte =
    s"""$UndCtes,
       |hw AS MATERIALIZED (SELECT a, b, w FROM und, t WHERE w * ne > tw)""".stripMargin

  /** Oracle CTE prefix for Round15Ops.graph_louvain_pass (edges + the
    * weighted heavy cut), mirroring `heavyBackboneW`. */
  private[ops] def louvainOracleCtes: String = s"$EdgesCte,\n$HeavyWCte"

  /** Weighted-SSSP geometry: integer edge cost = max(1, 1e6 DIV w) —
    * heavier trade = cheaper hop — relaxed for 6 Bellman-Ford rounds
    * (diameter bound ≤ 3 hops, but a cheap 3-hop path can undercut an
    * expensive 1-hop edge, so weighted convergence needs the extra
    * slack; the oracle replays the same 6 rounds). 1e12 = unreachable. */
  private val SsspIters = 6
  private val SsspInf = 999999999999L

  /** HITS rounds: hubs/authorities stabilize in rank order on the dense
    * 25-node trade graph within 3 mutually-recursive rounds; per-round
    * max-normalization to 10⁶ micro-units keeps every value in [0, 10⁶]
    * (and the h·w / a·w products far from Long overflow). */
  private val HitsIters = 3

  /** Fixed min-label rounds for graph_scc's forward/backward sweeps
    * (diameter of the 25-node sparsified trade graph is well under 6;
    * the oracle replays the same rounds as chained CTEs). */
  private val SccIters = 6

  val ops: Seq[Op] = Seq(
    // Four-cycle (rectangle) census — the quadrilateral motif beside
    // graph_triangles' triangle one (rectangles are the butterfly motif
    // of co-purchase / co-citation analysis: two nodes sharing TWO
    // distinct neighbors): common-neighbor counts per diagonal pair via
    // the wedge join through each center — O(Σdeg²), never all-pairs —
    // rects = C(cn,2) exact; every 4-cycle is seen by exactly its two
    // diagonals, so the global total is Σ/2 (parity + conservation
    // asserted in ScalaTest). Output: the cn ≥ 2 diagonal pairs.
    Op("graph_four_cycles", (s, d) => {
      val e = heavyBackbone(s, d)
      val bi = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      bi.as("e1").join(bi.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.dst").cast("bigint").as("u"),
          col("e2.dst").cast("bigint").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
        .where(col("cn") >= 2)
        .withColumn("rects", expr("cn * (cn - 1) DIV 2"))
        .orderBy("u", "v")
    },
      // Same wedge join, same diagonal-pair C(cn,2).
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |wd AS (SELECT e1.dst AS u, e2.dst AS v FROM bi e1 JOIN bi e2
         |  ON e1.src = e2.src AND e1.dst < e2.dst)
         |SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
         |  CAST(COUNT(*) AS BIGINT) * (COUNT(*) - 1) // 2 AS rects
         |FROM wd GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2""".stripMargin),

    // node2vec biased walk — the SECOND-ORDER walk graph_random_walk
    // can't express (the next hop depends on where you CAME FROM: p
    // discourages returning, q trades breadth vs depth; p = q = 2 here,
    // integer weights 1/2/1 for return/triangle/far): per step the
    // candidate frame is (state × neighbors), the triangle class comes
    // from one adjacency left-join against prev, and the draw is the
    // exact cumulative-weight pick cum ≤ md5 % total < cum+w over a
    // per-state window of ≤ deg ≤ 24 rows. Step 1 degenerates to
    // uniform (prev = start is a neighbor's neighbor for every
    // candidate) exactly like the paper's init. 4 steps, replayed by
    // the oracle as chained CTEs.
    Op("graph_node2vec_walk", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy).localCheckpoint()
      val adj = bi.select(col("src").as("p_src"), col("dst").as("p_dst"))
      var walk = bi.select(col("src").as("start")).distinct()
        .select(col("start"), col("start").as("node"), col("start").as("prev"),
          lit(0L).as("step"))
        .localCheckpoint()
      val steps = scala.collection.mutable.ArrayBuffer(walk)
      for (t <- 1 to 4) {
        val cand = walk.select(col("start"), col("node"), col("prev"))
          .join(bi, col("node") === col("src"))
          .join(adj, col("p_src") === col("prev") && col("p_dst") === col("dst"), "left")
          .withColumn("w", expr(
            """CASE WHEN dst = prev THEN 1
               WHEN p_dst IS NOT NULL THEN 2
               ELSE 1 END"""))
        val ws = Window.partitionBy("start", "node", "prev").orderBy("dst")
        walk = cand
          .withColumn("cum", coalesce(sum("w").over(
            ws.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("tot", sum("w").over(
            ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("r", expr(
            s"""${md5Bits(s"concat(CAST(start AS STRING), ':', CAST(prev AS STRING), ':', CAST(node AS STRING), ':', '$t')", 8)}
                % tot"""))
          .where(col("r") >= col("cum") && col("r") < col("cum") + col("w"))
          .select(col("start"), col("dst").as("node"), col("node").as("prev"),
            lit(t.toLong).as("step"))
          .localCheckpoint()
        steps += walk
      }
      steps.reduce(_ unionAll _).select("start", "step", "node", "prev")
        .orderBy("start", "step")
    },
      // Same common-neighbor join, same anti-join, same exact-milli score.
      // Same integer 1/2/1 bias weights, same cumulative-weight pick.
      {
      val hops = (1 to 4).map { t =>
        val p = t - 1
        s"""c$t AS MATERIALIZED (SELECT w$p.start, w$p.node, w$p.prev, bi.dst,
           |    CASE WHEN bi.dst = w$p.prev THEN 1
           |      WHEN adj.p_dst IS NOT NULL THEN 2 ELSE 1 END AS w
           |  FROM w$p JOIN bi ON bi.src = w$p.node
           |  LEFT JOIN adj ON adj.p_src = w$p.prev AND adj.p_dst = bi.dst),
           |k$t AS MATERIALIZED (SELECT *,
           |    COALESCE(CAST(SUM(w) OVER (PARTITION BY start, node, prev ORDER BY dst
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum,
           |    CAST(SUM(w) OVER (PARTITION BY start, node, prev) AS BIGINT) AS tot
           |  FROM c$t),
           |w$t AS MATERIALIZED (SELECT start, dst AS node, node AS prev,
           |    CAST($t AS BIGINT) AS step
           |  FROM k$t
           |  WHERE ${duckMd5Bits(s"CAST(start AS VARCHAR) || ':' || CAST(prev AS VARCHAR) || ':' || CAST(node AS VARCHAR) || ':' || '$t'", 8)} % tot >= cum
           |    AND ${duckMd5Bits(s"CAST(start AS VARCHAR) || ':' || CAST(prev AS VARCHAR) || ':' || CAST(node AS VARCHAR) || ':' || '$t'", 8)} % tot < cum + w)"""
      }.mkString(",\n")
      val union = (0 to 4).map(i => s"SELECT * FROM w$i").mkString(" UNION ALL ")
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |adj AS MATERIALIZED (SELECT src AS p_src, dst AS p_dst FROM bi),
         |w0 AS MATERIALIZED (SELECT DISTINCT src AS start, src AS node, src AS prev,
         |    CAST(0 AS BIGINT) AS step FROM bi),
         |$hops
         |SELECT start, step, node, prev FROM ($union)
         |ORDER BY start, step""".stripMargin
    }),

    // Eccentricity / radius / diameter — the DISTANCE-extremes summary
    // beside graph_closeness' distance-means one: the same BfsIters
    // min-plus relaxation over the heavy backbone, then per-node ecc =
    // max finite distance, and the graph's radius (min ecc) and diameter
    // (max ecc) attached by one broadcast so central/peripheral verdicts
    // grade in-band. Distances stay small exact integers.
    Op("graph_eccentricity", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy)
      val nodes = Tables.nation(s, d).select(col("n_nationkey").cast("bigint").as("u"))
      var dist = nodes.crossJoin(nodes.select(col("u").as("v")))
        .withColumn("dist", when(col("u") === col("v"), 0L).otherwise(lit(99L)))
      for (_ <- 1 to BfsIters) {
        val relax = dist.join(bi, dist("v") === bi("src"))
          .select(col("u"), col("dst").as("v"), (col("dist") + 1).as("cand"))
          .groupBy("u", "v").agg(min("cand").as("cand"))
        dist = dist.join(relax, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            least(col("dist"), coalesce(col("cand"), lit(99L))).as("dist"))
        // per-round cut — round-17 A/B, same rationale as graph_components
        dist = dist.localCheckpoint()
      }
      val ecc = dist.where(col("u") =!= col("v") && col("dist") < 99)
        .groupBy("u").agg(max("dist").as("ecc"), count(lit(1)).as("n_reach"))
      val bounds = ecc.agg(min("ecc").as("radius"), max("ecc").as("diameter"))
      ecc.crossJoin(broadcast(bounds))
        .select(col("u").as("node"), col("n_reach"), col("ecc"),
          col("radius"), col("diameter"),
          (col("ecc") === col("radius")).as("central"),
          (col("ecc") === col("diameter")).as("peripheral"))
        .orderBy("node")
    },
      // Same relaxation chain as graph_closeness, extremes instead of means.
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS u FROM nation),
         |${hopDistCtes(BfsIters)},
         |ec AS (SELECT u, CAST(MAX(dist) AS BIGINT) AS ecc,
         |    CAST(COUNT(*) AS BIGINT) AS n_reach
         |  FROM p$BfsIters WHERE u <> v AND dist < 99 GROUP BY 1),
         |bd AS (SELECT CAST(MIN(ecc) AS BIGINT) AS radius,
         |    CAST(MAX(ecc) AS BIGINT) AS diameter FROM ec)
         |SELECT u AS node, n_reach, ecc, radius, diameter,
         |  ecc = radius AS central, ecc = diameter AS peripheral
         |FROM ec CROSS JOIN bd ORDER BY node""".stripMargin),

    // Directed dyad + triangle census — the motif SPECTRUM reading of the
    // trade graph (graph_triangles counts undirected closure; this
    // separates RECIPROCITY at the dyad level and CYCLES vs HIERARCHY at
    // the triad level): deterministic w%3 sparsification, mutual/asym/
    // null dyad counts, cyclic triangles counted once via the min-node
    // anchor, transitive triples counted directly. Bounded |V| = nations;
    // every count exact.
    Op("graph_triad_census", (s, d) => {
      val e = tradeEdges(s, d)
        .where(col("src") =!= col("dst") && col("w") % 3 === 0)
        .select(col("src").cast("bigint").as("src"), col("dst").cast("bigint").as("dst"))
        .localCheckpoint()
      val nNodes = Tables.nation(s, d).count()
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val mutual = e.intersect(rev).where(col("src") < col("dst")).count()
      val undirected = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct().count()
      val asym = undirected - mutual
      val nulls = nNodes * (nNodes - 1) / 2 - undirected
      val e1 = e.select(col("src").as("a"), col("dst").as("b"))
      val e2 = e.select(col("src").as("b"), col("dst").as("c"))
      val e3 = e.select(col("src").as("c"), col("dst").as("a2"))
      val cyc = e1.join(e2, "b").join(e3, "c")
        .where(col("a") === col("a2") && col("a") < col("b") && col("a") < col("c")
          && col("b") =!= col("c")).count()
      val e3t = e.select(col("src").as("a3"), col("dst").as("c2"))
      val trans = e1.join(e2, "b").join(e3t,
          col("a") === col("a3") && col("c") === col("c2"))
        .where(col("a") =!= col("c") && col("a") =!= col("b") && col("b") =!= col("c"))
        .count()
      val s2 = e.sparkSession
      import s2.implicits._
      Seq((nNodes, e.count(), mutual, asym, nulls, cyc, trans))
        .toDF("n_nodes", "n_dir_edges", "mutual", "asym", "nulls",
          "cyclic_triangles", "transitive_triples")
    },
      // Same sparsification, same anchored cycle count, same direct
      // transitive count.
      s"""WITH $EdgesCte,
         |e AS MATERIALIZED (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
         |  FROM edges WHERE src <> dst AND w % 3 = 0),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nation),
         |mu AS (SELECT CAST(COUNT(*) AS BIGINT) AS mutual
         |  FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
         |  WHERE a.src < a.dst),
         |ug AS (SELECT CAST(COUNT(*) AS BIGINT) AS undirected FROM (
         |  SELECT DISTINCT LEAST(src, dst), GREATEST(src, dst) FROM e)),
         |cy AS (SELECT CAST(COUNT(*) AS BIGINT) AS cyclic_triangles
         |  FROM e x JOIN e y ON x.dst = y.src JOIN e z ON y.dst = z.src
         |  WHERE z.dst = x.src AND x.src < x.dst AND x.src < y.dst
         |    AND x.dst <> y.dst),
         |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS transitive_triples
         |  FROM e x JOIN e y ON x.dst = y.src JOIN e z
         |    ON z.src = x.src AND z.dst = y.dst
         |  WHERE x.src <> y.dst AND x.src <> x.dst AND x.dst <> y.dst),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dir_edges FROM e)
         |SELECT n_nodes, n_dir_edges, mutual, undirected - mutual AS asym,
         |  n_nodes * (n_nodes - 1) // 2 - undirected AS nulls,
         |  cyclic_triangles, transitive_triples
         |FROM n, ne, mu, ug, cy, tr""".stripMargin),
    // Single-source WEIGHTED shortest paths over the weighted backbone —
    // the routing/centrality primitive BFS's unit hops can't express:
    // dist′ = min(dist, min over in-neighbors (dist + cost)), all exact
    // BIGINT so both engines replay bit-identically. Each round is one
    // equi-join + min-groupBy over the checkpointed backbone (the Pregel
    // superstep shape); per-node state is one long regardless of scale.
    Op("graph_sssp_weighted", (s, d) => {
      val hw = heavyBackboneW(s, d)
      val bi = hw.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(hw.select(col("b").as("src"), col("a").as("dst"), col("w")))
        .withColumn("cost", expr("GREATEST(CAST(1 AS BIGINT), 1000000 DIV w)"))
      val src = hw.agg(min(col("a")).cast("long")).collect()(0).getLong(0)
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var dist = nodes.withColumn("dist",
        when(col("node") === src, 0L).otherwise(lit(SsspInf)))
      for (i <- 1 to SsspIters) {
        val relax = bi.join(dist.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("dist") + col("cost")).as("cand"))
          .groupBy("node").agg(min("cand").as("cand"))
        dist = dist.join(relax, Seq("node"), "left")
          .select(col("node"),
            least(col("dist"), coalesce(col("cand"), lit(SsspInf))).as("dist"))
        // single mid-loop cut: the round-17 per-round-cut A/B measured
        // FLAT here (the 25-row dist frame replays cheaply; job launches
        // cost more than the saved recompute)
        if (i == 3) dist = dist.localCheckpoint()
      }
      dist.orderBy("node")
    },
      // The 6 weighted relaxation rounds replayed as chained CTEs from the
      // same constants (cost formula inlined in the bi CTE).
      {
      val iters = (1 to SsspIters).map { i =>
        val p = s"d${i - 1}"
        s"""c$i AS MATERIALIZED (SELECT bi.dst AS node,
           |    CAST(MIN($p.dist + bi.cost) AS BIGINT) AS cand
           |  FROM bi JOIN $p ON $p.node = bi.src GROUP BY 1),
           |d$i AS MATERIALIZED (SELECT n.node,
           |    CAST(LEAST($p.dist, COALESCE(c$i.cand, 999999999999)) AS BIGINT) AS dist
           |  FROM nodes n JOIN $p ON $p.node = n.node
           |  LEFT JOIN c$i ON c$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |$HeavyWCte,
         |bi AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, GREATEST(1, 1000000 // w) AS cost FROM hw
         |  UNION ALL SELECT b, a, GREATEST(1, 1000000 // w) FROM hw),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |d0 AS (SELECT node, CASE WHEN node = (SELECT MIN(a) FROM hw)
         |                         THEN CAST(0 AS BIGINT)
         |                         ELSE CAST(999999999999 AS BIGINT) END AS dist FROM nodes),
         |$iters
         |SELECT node, dist FROM d$SsspIters ORDER BY node""".stripMargin
    }),

    // Weighted PageRank over the nation trade graph. Damping 0.85 in
    // micro-units:
    //   r' = 150000 + (85 · Σ_in (r · w DIV out_w)) DIV 100
    // (teleport 0.15 · 1e6, all-integer). Each round is one equi-join +
    // groupBy over the checkpointed edge rollup.
    Op("graph_pagerank", (s, d) => {
      val edges = tradeEdges(s, d)
      val outw = edges.groupBy("src").agg(sum("w").as("ow"))
      val ew = edges.join(outw, "src")
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var rank = nodes.withColumn("r", lit(1000000L))
      for (_ <- 1 to PrIters) {
        val contrib = ew
          .join(rank.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), expr("(r * w) DIV ow").as("c"))
          .groupBy("node").agg(sum("c").as("contrib"))
        rank = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            expr("150000 + (85 * coalesce(contrib, CAST(0 AS BIGINT))) DIV 100")
              .as("r"))
      }
      rank
        .select(col("node").as("n_nationkey"), col("r").as("rank_micro"),
          (col("r").cast("double") / 1e6).as("rank"))
        .orderBy("n_nationkey")
    },
      // The 5 power-iteration rounds replayed as chained CTEs, generated
      // from the same PrIters constant so round counts can never drift.
      {
      val iters = (1 to PrIters).map { i =>
        val p = s"r${i - 1}"
        s"""c$i AS MATERIALIZED (SELECT e.dst AS node,
           |    CAST(SUM(($p.r * e.w) // x.ow) AS BIGINT) AS contrib
           |  FROM edges e JOIN outw x ON e.src = x.src
           |  JOIN $p ON $p.node = e.src GROUP BY 1),
           |r$i AS MATERIALIZED (SELECT n.node,
           |    CAST(150000 + (85 * COALESCE(c$i.contrib, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |$iters
         |SELECT node AS n_nationkey, r AS rank_micro,
         |  CAST(r AS DOUBLE) / 1e6 AS rank
         |FROM r$PrIters ORDER BY n_nationkey""".stripMargin
    }),

    // HITS hubs & authorities over the DIRECTED weighted trade graph —
    // the mutually-recursive centrality PageRank's single score can't
    // express (a nation can be a big buyer-hub without being a seller-
    // authority): a′(v) = Σ_in h(u)·w, h′(v) = Σ_out a(u)·w, each
    // max-normalized to 10⁶ micro-units per round — all-integer, so the
    // rounds replay bit-identically. Two equi-join + groupBy supersteps
    // per round over the checkpointed edge rollup plus one 1-row
    // broadcast max; self-loops excluded (they would self-amplify).
    Op("graph_hits", (s, d) => {
      val edges = tradeEdges(s, d).where(col("src") =!= col("dst"))
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var hub = nodes.withColumn("h", lit(1000000L))
      var auth: DataFrame = null
      // Per-round max-normalization over a GLOBAL window instead of a
      // crossJoin(broadcast(agg(max))): identical values (window max ==
      // agg max; same DIV), but the normalizer stays inside the round's
      // one plan — no doubled araw/hraw subtree and no per-round
      // broadcast-materialization jobs. The window funnels only the
      // per-NODE aggregated frame (|V| rows, already reduced from |E|)
      // through its single partition; for a graph whose |V| itself
      // outgrows one task, swap back to a two-phase agg(max) broadcast.
      // With no subtree doubling the plan is LINEAR in rounds, so NO
      // per-round checkpoint is needed either: the whole recurrence runs
      // as one job and ReuseExchange dedups auth's shared prefix in the
      // final join (6.3 s -> 0.8 s vs the checkpoint-per-round version).
      val wAll = Window.partitionBy()
      for (_ <- 1 to HitsIters) {
        val araw = edges.join(hub.select(col("node").as("src"), col("h")), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("h") * col("w")).as("ar"))
        auth = nodes.join(araw, Seq("node"), "left")
          .withColumn("am", max("ar").over(wAll))
          .select(col("node"),
            expr("(coalesce(ar, CAST(0 AS BIGINT)) * 1000000) DIV am").as("a"))
        val hraw = edges.join(auth.select(col("node").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("a") * col("w")).as("hr"))
        hub = nodes.join(hraw, Seq("node"), "left")
          .withColumn("hm", max("hr").over(wAll))
          .select(col("node"),
            expr("(coalesce(hr, CAST(0 AS BIGINT)) * 1000000) DIV hm").as("h"))
      }
      hub.join(auth, "node")
        .select(col("node"), col("h").as("hub_micro"), col("a").as("auth_micro"))
        .orderBy("node")
    },
      // The 3 HITS rounds replayed as chained CTEs from the same constant:
      // raw tally → max-normalize, authorities then hubs each round.
      {
      val iters = (1 to HitsIters).map { i =>
        val p = s"h${i - 1}"
        s"""ar$i AS MATERIALIZED (SELECT ed.dst AS node, CAST(SUM($p.h * ed.w) AS BIGINT) AS ar
           |  FROM ed JOIN $p ON $p.node = ed.src GROUP BY 1),
           |a$i AS MATERIALIZED (SELECT n.node,
           |    CAST((COALESCE(ar, 0) * 1000000) // (SELECT MAX(ar) FROM ar$i) AS BIGINT) AS a
           |  FROM nodes n LEFT JOIN ar$i ON ar$i.node = n.node),
           |hr$i AS MATERIALIZED (SELECT ed.src AS node, CAST(SUM(a$i.a * ed.w) AS BIGINT) AS hr
           |  FROM ed JOIN a$i ON a$i.node = ed.dst GROUP BY 1),
           |h$i AS MATERIALIZED (SELECT n.node,
           |    CAST((COALESCE(hr, 0) * 1000000) // (SELECT MAX(hr) FROM hr$i) AS BIGINT) AS h
           |  FROM nodes n LEFT JOIN hr$i ON hr$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |ed AS MATERIALIZED (SELECT src, dst, w FROM edges WHERE src <> dst),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
         |$iters
         |SELECT h$HitsIters.node, h$HitsIters.h AS hub_micro,
         |  a$HitsIters.a AS auth_micro
         |FROM h$HitsIters JOIN a$HitsIters ON a$HitsIters.node = h$HitsIters.node
         |ORDER BY h$HitsIters.node""".stripMargin
    }),

    // Triangle counting (the clustering-coefficient numerator / community
    // motif): undirected trade edges thinned to the above-average-weight
    // backbone (scale-FREE cut, cross-multiplied exact integers — the
    // tpch_q11 law), then the canonical two-join oriented enumeration:
    // wedges a<b<c from (a,b)⋈(b,c), closed by (a,c). Orienting every
    // edge low→high counts each triangle exactly once and bounds the
    // wedge fan-out by the smaller endpoint's degree — the standard
    // distributed-triangle trick. Per-node participation via a bounded
    // 3-way explode; nations outside any triangle report 0.
    Op("graph_triangles", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val wedges = heavy
        .join(heavy.select(col("a").as("b"), col("b").as("c")), "b")
      val tri = wedges
        .join(heavy.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .select("a", "b", "c")
      val perNode = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("cnt"))
      Tables.nation(s, d).select(col("n_nationkey").as("node"))
        .join(perNode, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("cnt"), lit(0L)).as("n_triangles"))
        .orderBy("node")
    },
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |w2 AS (SELECT h1.a, h1.b, h2.b AS c
         |  FROM h h1 JOIN h h2 ON h1.b = h2.a),
         |tri AS (SELECT w2.a, w2.b, w2.c
         |  FROM w2 JOIN h h3 ON h3.a = w2.a AND h3.b = w2.c),
         |x AS (SELECT unnest([a, b, c]) AS node FROM tri),
         |g AS (SELECT node, COUNT(*) AS cnt FROM x GROUP BY 1)
         |SELECT n_nationkey AS node, CAST(COALESCE(cnt, 0) AS BIGINT) AS n_triangles
         |FROM nation LEFT JOIN g ON node = n_nationkey
         |ORDER BY node""".stripMargin),

    // Local clustering coefficient per node: 2·tri / (deg·(deg−1)) over
    // the heavy backbone, emitted as exact micro-units
    // ((2·tri·10⁶) DIV (deg·(deg−1)) — integer, no FP division) beside
    // the raw degree and triangle counts. Reuses the oriented wedge
    // enumeration; the degree rollup is one groupBy over the
    // bidirectional edge list.
    Op("graph_clustering_coeff", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = heavy.select(col("a").as("node"))
        .unionAll(heavy.select(col("b").as("node")))
      val deg = bi.groupBy("node").agg(count(lit(1)).as("deg"))
      val wedges = heavy
        .join(heavy.select(col("a").as("b"), col("b").as("c")), "b")
      val tri = wedges
        .join(heavy.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      Tables.nation(s, d).select(col("n_nationkey").as("node"))
        .join(deg, Seq("node"), "left")
        .join(tri, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("deg"), lit(0L)).as("deg"),
          coalesce(col("tri"), lit(0L)).as("n_triangles"))
        .withColumn("coeff_micro", expr(
          "CASE WHEN deg >= 2 THEN (2 * n_triangles * 1000000) DIV (deg * (deg - 1)) ELSE CAST(0 AS BIGINT) END"))
        .orderBy("node")
    },
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |bi AS (SELECT a AS node FROM h UNION ALL SELECT b FROM h),
         |deg AS (SELECT node, COUNT(*) AS deg FROM bi GROUP BY 1),
         |w2 AS (SELECT h1.a, h1.b, h2.b AS c
         |  FROM h h1 JOIN h h2 ON h1.b = h2.a),
         |trirows AS (SELECT w2.a, w2.b, w2.c
         |  FROM w2 JOIN h h3 ON h3.a = w2.a AND h3.b = w2.c),
         |x AS (SELECT unnest([a, b, c]) AS node FROM trirows),
         |tri AS (SELECT node, COUNT(*) AS tri FROM x GROUP BY 1)
         |SELECT n_nationkey AS node,
         |  CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
         |  CAST(COALESCE(tri.tri, 0) AS BIGINT) AS n_triangles,
         |  CAST(CASE WHEN COALESCE(deg.deg, 0) >= 2
         |       THEN (2 * COALESCE(tri.tri, 0) * 1000000)
         |            // (COALESCE(deg.deg, 0) * (COALESCE(deg.deg, 0) - 1))
         |       ELSE 0 END AS BIGINT) AS coeff_micro
         |FROM nation
         |LEFT JOIN deg ON deg.node = n_nationkey
         |LEFT JOIN tri ON tri.node = n_nationkey
         |ORDER BY node""".stripMargin),

    // Multi-source-capable BFS (here single source: the backbone's
    // smallest endpoint — guaranteed connected at every scale, unlike a
    // fixed nation id) over the heavy backbone — hop distances by
    // iterative frontier relaxation:
    //   dist' = min(dist, min over neighbors (dist_nbr + 1))
    // per round, the Bellman-Ford/Pregel shape; unreachable stays at the
    // 99 sentinel. Each round is one equi-join + min-groupBy over the
    // checkpointed backbone (both orientations), bounded state per node.
    Op("graph_bfs", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = heavy.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(heavy.select(col("b").as("src"), col("a").as("dst")))
      val src = heavy.agg(min(col("a")).cast("long")).collect()(0).getLong(0)
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var dist = nodes.withColumn("dist",
        when(col("node") === src, 0L).otherwise(lit(99L)))
      for (_ <- 1 to BfsIters) {
        val relax = bi.join(dist.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("dist") + 1).as("cand"))
          .groupBy("node").agg(min("cand").as("cand"))
        dist = dist.join(relax, Seq("node"), "left")
          .select(col("node"),
            least(col("dist"), coalesce(col("cand"), lit(99L))).as("dist"))
      }
      dist.orderBy("node")
    },
      // BFS rounds replayed as chained CTEs from the same BfsIters constant.
      {
      val iters = (1 to BfsIters).map { i =>
        val p = s"d${i - 1}"
        s"""c$i AS MATERIALIZED (SELECT bi.dst AS node, CAST(MIN($p.dist + 1) AS BIGINT) AS cand
           |  FROM bi JOIN $p ON $p.node = bi.src GROUP BY 1),
           |d$i AS MATERIALIZED (SELECT n.node,
           |    CAST(LEAST($p.dist, COALESCE(c$i.cand, 99)) AS BIGINT) AS dist
           |  FROM nodes n JOIN $p ON $p.node = n.node
           |  LEFT JOIN c$i ON c$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM h
         |       UNION ALL SELECT b, a FROM h),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |d0 AS (SELECT node, CASE WHEN node = (SELECT MIN(a) FROM h)
         |                         THEN CAST(0 AS BIGINT)
         |                         ELSE CAST(99 AS BIGINT) END AS dist FROM nodes),
         |$iters
         |SELECT node, dist FROM d$BfsIters ORDER BY node""".stripMargin
    }),

    // Connected components by synchronous min-label propagation over the
    // heavy backbone: label' = min(label, min over neighbors' labels) per
    // round — every node ends labeled with the smallest node id reachable
    // from it; isolated nations form singleton components. Each round is
    // one equi-join + min-groupBy (the Pregel superstep shape); component
    // sizes come from one final rollup joined back.
    Op("graph_components", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = heavy.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(heavy.select(col("b").as("src"), col("a").as("dst")))
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var comp = nodes.withColumn("comp", col("node").cast("long"))
      for (_ <- 1 to CcIters) {
        val cand = bi.join(comp.select(col("node").as("src"), col("comp").as("scomp")), "src")
          .groupBy(col("dst").as("node")).agg(min("scomp").as("cand"))
        comp = comp.join(cand, Seq("node"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("cand"), col("comp"))).as("comp"))
        // comp feeds BOTH the relax join and the carry-forward select, so
        // the plan doubles per round (2^5 joins by round 5 — the
        // llm_dedup_cluster lesson); per-round eager cuts re-measured
        // cheaper than the single mid-loop cut in the round-17 A/B (the
        // kcore result generalized)
        comp = comp.localCheckpoint()
      }
      val sizes = comp.groupBy("comp").agg(count(lit(1)).as("csize"))
      comp.join(sizes, "comp")
        .select(col("node"), col("comp").as("component"),
          col("csize").as("component_size"))
        .orderBy("node")
    },
      // Min-label rounds replayed as chained CTEs from the same CcIters
      // constant, then the size rollup joined back.
      {
      val iters = (1 to CcIters).map { i =>
        val p = s"l${i - 1}"
        s"""c$i AS MATERIALIZED (SELECT bi.dst AS node, CAST(MIN($p.comp) AS BIGINT) AS cand
           |  FROM bi JOIN $p ON $p.node = bi.src GROUP BY 1),
           |l$i AS MATERIALIZED (SELECT n.node,
           |    CAST(LEAST($p.comp, COALESCE(c$i.cand, $p.comp)) AS BIGINT) AS comp
           |  FROM nodes n JOIN $p ON $p.node = n.node
           |  LEFT JOIN c$i ON c$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM h
         |       UNION ALL SELECT b, a FROM h),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |l0 AS (SELECT node, CAST(node AS BIGINT) AS comp FROM nodes),
         |$iters,
         |sz AS (SELECT comp, COUNT(*) AS cs FROM l$CcIters GROUP BY 1)
         |SELECT l.node, l.comp AS component, CAST(sz.cs AS BIGINT) AS component_size
         |FROM l$CcIters l JOIN sz ON sz.comp = l.comp
         |ORDER BY l.node""".stripMargin
    }),

    // Label-propagation community detection over the WEIGHTED backbone:
    // every node starts in its own community; each synchronous round it
    // adopts the label with the highest total incident edge weight among
    // its neighbors (tie → smallest label), keeping its label when it has
    // no neighbors. Exact integer tallies + a total tie order make the
    // rounds engine-replayable — the determinism LPA normally lacks.
    Op("graph_label_prop", (s, d) => {
      val hw = heavyBackboneW(s, d)
      val bi = hw.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(hw.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var lab = nodes.withColumn("lab", col("node").cast("long"))
      for (_ <- 1 to LpIters) {
        val tally = bi.join(lab.select(col("node").as("src"), col("lab").as("nlab")), "src")
          .groupBy(col("dst").as("node"), col("nlab"))
          .agg(sum("w").as("sw"))
        val pick = tally
          .withColumn("rn", row_number().over(
            Window.partitionBy("node").orderBy(desc("sw"), col("nlab"))))
          .where(col("rn") === 1)
          .select(col("node"), col("nlab").as("cand"))
        lab = lab.join(pick, Seq("node"), "left")
          .select(col("node"), coalesce(col("cand"), col("lab")).as("lab"))
        // lab feeds BOTH next round's tally join and the carry-forward, so
        // the uncut plan doubles per round — per-round eager cuts measured
        // cheaper in the round-17 graph_components/kcore A/Bs (≤25-row
        // state frame, guide §5)
        lab = lab.localCheckpoint()
      }
      val sizes = lab.groupBy("lab").agg(count(lit(1)).as("csize"))
      lab.join(sizes, "lab")
        .select(col("node"), col("lab").as("community"),
          col("csize").as("community_size"))
        .orderBy("node")
    },
      // The LPA rounds replayed from the same LpIters constant: weighted
      // tally → (Σw DESC, label ASC) pick → synchronous relabel.
      {
      val iters = (1 to LpIters).map { i =>
        val p = s"l${i - 1}"
        s"""t$i AS MATERIALIZED (SELECT bi.dst AS node, $p.lab AS nlab,
           |    CAST(SUM(bi.w) AS BIGINT) AS sw
           |  FROM bi JOIN $p ON $p.node = bi.src GROUP BY 1, 2),
           |p$i AS MATERIALIZED (SELECT node, nlab,
           |    ROW_NUMBER() OVER (PARTITION BY node ORDER BY sw DESC, nlab ASC) AS rn
           |  FROM t$i),
           |l$i AS MATERIALIZED (SELECT n.node,
           |    CAST(COALESCE(w$i.nlab, $p.lab) AS BIGINT) AS lab
           |  FROM nodes n JOIN $p ON $p.node = n.node
           |  LEFT JOIN (SELECT node, nlab FROM p$i WHERE rn = 1) w$i
           |    ON w$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |$HeavyWCte,
         |bi AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM hw
         |       UNION ALL SELECT b, a, w FROM hw),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |l0 AS (SELECT node, CAST(node AS BIGINT) AS lab FROM nodes),
         |$iters,
         |sz AS (SELECT lab, COUNT(*) AS cs FROM l$LpIters GROUP BY 1)
         |SELECT l.node, l.lab AS community, CAST(sz.cs AS BIGINT) AS community_size
         |FROM l$LpIters l JOIN sz ON sz.lab = l.lab
         |ORDER BY l.node""".stripMargin
    }),

    // k-core decomposition (k = KcK) by synchronous peeling over the
    // heavy backbone: every round drops each node whose surviving degree
    // is below k together with its incident edges; cascading removals
    // reach the fixpoint within KcIters rounds (ScalaTest asserts rounds
    // KcIters−1 and KcIters agree, so the constant carries slack). Each
    // round is one degree rollup + two semi joins over the checkpointed
    // ≤|V|²-row backbone — the Pregel superstep shape; at 100 TB the
    // same rounds run over a key-partitioned edge list with per-node
    // scalar state, never a driver-side adjacency structure. Output:
    // the nodes that survive in the k-core with their in-core degree.
    Op("graph_kcore", (s, d) => {
      var edges = heavyBackbone(s, d)
      for (_ <- 1 to KcIters) {
        val keep = edges.select(col("a").as("n"))
          .unionAll(edges.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= KcK)
        // keep is BOUNDED BY THE NATION DIMENSION (≤25 nodes at every SF —
        // the backbone is nation-keyed by construction), so both semi
        // joins broadcast it: the per-round plan drops from two sort-merge
        // semi joins (four exchanges of the edge list per round, ×6
        // rounds) to zero edge-side exchanges (guide §3.1/§2.4); the
        // keep rollup's own exchange is shared between the two broadcasts
        // via ReusedExchange.
        edges = edges
          .join(broadcast(keep.select(col("n").as("a"))), Seq("a"), "left_semi")
          .join(broadcast(keep.select(col("n").as("b"))), Seq("b"), "left_semi")
          .select("a", "b")
        // checkpoint EVERY round (round-17): each round's keep set is
        // consumed by two broadcasts plus the main path, so an
        // unmaterialized round replays the whole prior lineage 3× —
        // with ≤300 edges the per-round materialization job is cheaper
        // than the recompute fan-out (guide §5 localCheckpoint note; the
        // round-16 single mid-loop cut left rounds 4-6 replaying 1-3)
        edges = edges.localCheckpoint()
      }
      edges.select(col("a").as("node")).unionAll(edges.select(col("b").as("node")))
        // CAST the key: parquet int width differs across SF dirs (§7.3)
        .groupBy(col("node").cast("bigint").as("node"))
        .agg(count(lit(1)).as("core_deg"))
        .orderBy("node")
    },
      // The KcIters peel rounds replayed as chained CTEs from the same
      // constants (e0 = the HeavyCte backbone `h`).
      {
      val iters = (1 to KcIters).map { i =>
        val p = if (i == 1) "h" else s"e${i - 1}"
        s"""d$i AS MATERIALIZED (SELECT n FROM (
           |    SELECT a AS n FROM $p UNION ALL SELECT b FROM $p)
           |  GROUP BY n HAVING COUNT(*) >= $KcK),
           |e$i AS MATERIALIZED (SELECT a, b FROM $p
           |  WHERE a IN (SELECT n FROM d$i) AND b IN (SELECT n FROM d$i))"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$iters
         |SELECT CAST(node AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM (SELECT a AS node FROM e$KcIters UNION ALL SELECT b FROM e$KcIters)
         |GROUP BY node ORDER BY node""".stripMargin
    }),

    // Harmonic closeness centrality: all-pairs hop distances by BfsIters
    // rounds of frontier relaxation over the (u, v) pair frame — the
    // multi-source generalization of graph_bfs (25² rows on the fixture;
    // at scale the pair frame is |V|·|landmarks| with a sampled landmark
    // set, same shape). Harmonic (Σ 1/d) instead of classic closeness so
    // disconnected pairs contribute 0 naturally; each reciprocal is the
    // exact integer 1e6 DIV d, so the centrality is a BIGINT micro-sum —
    // no FP, engine-identical. Per-round: one equi-join + min-groupBy
    // keyed (u, v); per-pair state is one long.
    Op("graph_closeness", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy)
      val nodes = Tables.nation(s, d).select(col("n_nationkey").cast("bigint").as("u"))
      var dist = nodes.crossJoin(nodes.select(col("u").as("v")))
        .withColumn("dist", when(col("u") === col("v"), 0L).otherwise(lit(99L)))
      for (i <- 1 to BfsIters) {
        val relax = dist.join(bi, dist("v") === bi("src"))
          .select(col("u"), col("dst").as("v"), (col("dist") + 1).as("cand"))
          .groupBy("u", "v").agg(min("cand").as("cand"))
        dist = dist.join(relax, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            least(col("dist"), coalesce(col("cand"), lit(99L))).as("dist"))
        // single mid-loop cut: the round-17 per-round-cut A/B measured
        // slightly WORSE here (unlike eccentricity — same shape, but this
        // op's tail work is lighter so the extra jobs dominate)
        if (i == 2) dist = dist.localCheckpoint()
      }
      val h = dist.where(col("u") =!= col("v") && col("dist") < 99)
        .groupBy("u").agg(count(lit(1)).as("n_reach"),
          sum(expr("1000000 DIV dist")).as("harmonic_micro"))
      nodes.join(h, Seq("u"), "left")
        .select(col("u").as("node"),
          coalesce(col("n_reach"), lit(0L)).as("n_reach"),
          coalesce(col("harmonic_micro"), lit(0L)).as("harmonic_micro"))
        .orderBy("node")
    },
      // The BfsIters all-pairs relaxation rounds replayed as chained CTEs,
      // then the 1e6 DIV d harmonic rollup.
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS u FROM nation),
         |${hopDistCtes(BfsIters)},
         |hc AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_reach,
         |    CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_micro
         |  FROM p$BfsIters WHERE u <> v AND dist < 99 GROUP BY u)
         |SELECT nodes.u AS node, CAST(COALESCE(n_reach, 0) AS BIGINT) AS n_reach,
         |  CAST(COALESCE(harmonic_micro, 0) AS BIGINT) AS harmonic_micro
         |FROM nodes LEFT JOIN hc ON hc.u = nodes.u
         |ORDER BY node""".stripMargin),

    // Shortest-path counts (σ_st from graph_bfs's source — the Brandes
    // forward pass / path-redundancy metric): level-synchronous BFS where
    // each new layer's count is the SUM of its predecessors' counts
    // (np(v) = Σ np(w) over neighbors w one level closer). Layers are
    // disjoint by construction (anti-join against the visited set), so
    // the per-round shape is one equi-join + sum-groupBy + anti-join —
    // exact integers, engine-replayable; nodes beyond BfsIters hops are
    // absent in both engines. Output: (node, n_paths, dist) per reached
    // node.
    Op("graph_path_counts", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy)
      val srcId = heavy.agg(min(col("a")).cast("long")).collect()(0).getLong(0)
      var layer = s.range(1)
        .select(lit(srcId).as("node"), lit(1L).as("np"), lit(0L).as("dist"))
        .localCheckpoint()
      var visited = layer.select("node").localCheckpoint()
      val layers = scala.collection.mutable.ArrayBuffer(layer)
      for (i <- 1 to BfsIters) {
        layer = bi.join(layer.withColumnRenamed("node", "src"), "src")
          .join(visited.select(col("node").as("dst")), Seq("dst"), "left_anti")
          .groupBy(col("dst").as("node")).agg(sum("np").as("np"))
          .withColumn("dist", lit(i.toLong))
          .select("node", "np", "dist")
          .localCheckpoint()
        layers += layer
        visited = visited.unionAll(layer.select("node")).localCheckpoint()
      }
      layers.reduce(_ unionAll _)
        .select(col("node"), col("np").as("n_paths"), col("dist"))
        .orderBy("node")
    },
      // The BFS layers replayed as chained CTEs: f_i = next disjoint layer
      // with summed predecessor counts, v_i = visited set so far.
      {
      val iters = (1 to BfsIters).map { i =>
        val p = i - 1
        s"""f$i AS MATERIALIZED (SELECT bi.dst AS node,
           |    CAST(SUM(f$p.np) AS BIGINT) AS np, CAST($i AS BIGINT) AS dist
           |  FROM bi JOIN f$p ON f$p.node = bi.src
           |  WHERE bi.dst NOT IN (SELECT node FROM v$p)
           |  GROUP BY 1),
           |v$i AS MATERIALIZED (SELECT node FROM v$p UNION ALL SELECT node FROM f$i)"""
      }.mkString(",\n")
      val union = (0 to BfsIters).map(i => s"SELECT * FROM f$i").mkString(" UNION ALL ")
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |f0 AS MATERIALIZED (SELECT CAST((SELECT MIN(a) FROM h) AS BIGINT) AS node,
         |    CAST(1 AS BIGINT) AS np, CAST(0 AS BIGINT) AS dist),
         |v0 AS (SELECT node FROM f0),
         |$iters
         |SELECT node, np AS n_paths, dist FROM ($union)
         |ORDER BY node""".stripMargin
    }),

    // Stress centrality — how many shortest paths pass THROUGH each node
    // (the exact-integer member of the betweenness family; betweenness
    // itself divides by σ_st and leaves rationals): σ_st(v) =
    // np(s,v)·np(v,t) whenever dist(s,v)+dist(v,t) = dist(s,t), summed
    // over unordered pairs s<t. Three phases, all Pregel-shaped: the
    // all-pairs dist relaxation (graph_closeness's frame), the layered
    // all-pairs path counts (graph_path_counts generalized to every
    // source), and one triple join over the (u,v)-keyed frames. Exact
    // BIGINTs end to end; at scale phases 1–2 run per landmark sample
    // and the triple join stays keyed on the middle node.
    Op("graph_stress", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy).localCheckpoint()
      val nodes = Tables.nation(s, d).select(col("n_nationkey").cast("bigint").as("u"))
      var dist = nodes.crossJoin(nodes.select(col("u").as("v")))
        .withColumn("dist", when(col("u") === col("v"), 0L).otherwise(lit(99L)))
      for (i <- 1 to BfsIters) {
        val relax = dist.join(bi, dist("v") === bi("src"))
          .select(col("u"), col("dst").as("v"), (col("dist") + 1).as("cand"))
          .groupBy("u", "v").agg(min("cand").as("cand"))
        dist = dist.join(relax, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            least(col("dist"), coalesce(col("cand"), lit(99L))).as("dist"))
        if (i == 2) dist = dist.localCheckpoint()
      }
      dist = dist.localCheckpoint()
      var layer = nodes
        .select(col("u"), col("u").as("v"), lit(1L).as("np"), lit(0L).as("dist"))
        .localCheckpoint()
      val layers = scala.collection.mutable.ArrayBuffer(layer)
      for (i <- 1 to BfsIters) {
        layer = layer.join(bi, layer("v") === bi("src"))
          .select(col("u"), col("dst").as("v"), col("np"))
          .join(dist.where(col("dist") === i).select("u", "v"), Seq("u", "v"), "left_semi")
          .groupBy("u", "v").agg(sum("np").as("np"))
          .withColumn("dist", lit(i.toLong))
          .select("u", "v", "np", "dist")
          .localCheckpoint()
        layers += layer
      }
      val np = layers.reduce(_ unionAll _).where(col("dist") >= 1)
      val a = np.select(col("u").as("s"), col("v").as("m"),
        col("np").as("np1"), col("dist").as("d1"))
      val b = np.select(col("u").as("m"), col("v").as("t"),
        col("np").as("np2"), col("dist").as("d2"))
      val st = dist.select(col("u").as("s"), col("v").as("t"), col("dist").as("d_st"))
      val through = a.join(b, Seq("m"))
        .where(col("s") < col("t"))
        .join(st, Seq("s", "t"))
        .where(col("d1") + col("d2") === col("d_st"))
        .groupBy(col("m").as("node"))
        .agg(sum(col("np1") * col("np2")).as("stress"))
      nodes.select(col("u").as("node")).join(through, Seq("node"), "left")
        .select(col("node"), coalesce(col("stress"), lit(0L)).as("stress"))
        .orderBy("node")
    },
      // All-pairs dist rounds + all-pairs layered path counts + the
      // through-node triple join, all replayed from the same constants.
      {
      val nIters = (1 to BfsIters).map { i =>
        s"""n$i AS MATERIALIZED (SELECT l.u, bi.dst AS v,
           |    CAST(SUM(l.np) AS BIGINT) AS np, CAST($i AS BIGINT) AS dist
           |  FROM n${i - 1} l JOIN bi ON bi.src = l.v
           |  JOIN p$BfsIters dd ON dd.u = l.u AND dd.v = bi.dst AND dd.dist = $i
           |  GROUP BY 1, 2)"""
      }.mkString(",\n")
      val union = (1 to BfsIters).map(i => s"SELECT * FROM n$i").mkString(" UNION ALL ")
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS u FROM nation),
         |${hopDistCtes(BfsIters)},
         |n0 AS MATERIALIZED (SELECT u, u AS v, CAST(1 AS BIGINT) AS np,
         |    CAST(0 AS BIGINT) AS dist FROM nodes),
         |$nIters,
         |allnp AS MATERIALIZED ($union),
         |thru AS (SELECT a.v AS m, CAST(SUM(a.np * b.np) AS BIGINT) AS stress
         |  FROM allnp a JOIN allnp b ON b.u = a.v
         |  JOIN p$BfsIters d ON d.u = a.u AND d.v = b.v
         |  WHERE a.u < b.v AND a.dist + b.dist = d.dist
         |  GROUP BY 1)
         |SELECT nodes.u AS node, CAST(COALESCE(thru.stress, 0) AS BIGINT) AS stress
         |FROM nodes LEFT JOIN thru ON thru.m = nodes.u
         |ORDER BY node""".stripMargin
    }),

    // Jaccard link prediction — score NON-adjacent backbone pairs by
    // neighbor-set overlap (the classic common-neighbors recommender):
    // cn(u,v) = |N(u) ∩ N(v)| from one self-join of the bi-directed edge
    // list on the shared neighbor, degrees from one rollup, candidates
    // anti-joined against the live edge set, score = 1000·cn DIV
    // (deg_u + deg_v − cn) in exact milli. Shapes: two equi-joins + one
    // anti-join, all keyed — at 100 TB the neighbor self-join is the
    // triangle-count shape and caps the same way (degree-capped
    // adjacency); everything integer → hash-graded.
    Op("graph_jaccard_link_pred", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy).localCheckpoint()
      val deg = bi.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val cn = bi.select(col("src").as("n"), col("dst").as("u"))
        .join(bi.select(col("src").as("n"), col("dst").as("v")), Seq("n"))
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
      cn.join(bi.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"), "left_anti")
        .join(deg.select(col("src").as("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("src").as("v"), col("deg").as("dv")), Seq("v"))
        .select(col("u"), col("v"), col("cn"),
          expr("(cn * 1000) DIV (du + dv - cn)").as("jaccard_milli"))
        .orderBy("u", "v")
    },
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bi GROUP BY 1),
         |cn AS (SELECT x.dst AS u, y.dst AS v, CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM bi x JOIN bi y ON x.src = y.src AND x.dst < y.dst
         |  GROUP BY 1, 2),
         |nonadj AS (SELECT cn.* FROM cn
         |  WHERE NOT EXISTS (SELECT 1 FROM bi WHERE bi.src = cn.u AND bi.dst = cn.v))
         |SELECT u, v, cn, (cn * 1000) // (du.deg + dv.deg - cn) AS jaccard_milli
         |FROM nonadj
         |JOIN deg du ON du.src = nonadj.u
         |JOIN deg dv ON dv.src = nonadj.v
         |ORDER BY u, v""".stripMargin),

    // Resource-allocation link prediction — the EXACT-RATIONAL sibling of
    // Adamic–Adar (AA's 1/ln deg is a transcendental on data, banned by
    // the exactness laws; RA's 1/deg clears to integers): for each
    // non-adjacent pair (u,v), RA = Σ_{z∈Γ(u)∩Γ(v)} 1/deg(z) accumulated
    // in micro-units with ONE integer DIV per common neighbor — the
    // per-term truncation IS the cross-engine contract, and an integer
    // sum is partition-order independent where a float sum is not. Same
    // one-join wedge enumeration as jaccard_link_pred: O(Σ deg²) through
    // the hub z, never all-pairs.
    Op("graph_resource_alloc_link_pred", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy).localCheckpoint()
      val deg = bi.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      bi.select(col("src").as("z"), col("dst").as("u"))
        .join(bi.select(col("src").as("z"), col("dst").as("v")), Seq("z"))
        .where(col("u") < col("v"))
        .join(deg.select(col("src").as("z"), col("deg").as("dz")), Seq("z"))
        .groupBy("u", "v")
        .agg(count(lit(1)).as("cn"),
          sum(expr("1000000 DIV dz")).as("ra_micro"))
        .join(bi.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"), "left_anti")
        .select("u", "v", "cn", "ra_micro")
        .orderBy("u", "v")
    },
      // Same wedge enumeration, same per-term micro-unit truncation.
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bi GROUP BY 1),
         |wed AS (SELECT x.dst AS u, y.dst AS v, CAST(COUNT(*) AS BIGINT) AS cn,
         |    CAST(SUM(1000000 // dz.deg) AS BIGINT) AS ra_micro
         |  FROM bi x JOIN bi y ON x.src = y.src AND x.dst < y.dst
         |  JOIN deg dz ON dz.src = x.src
         |  GROUP BY 1, 2)
         |SELECT u, v, cn, ra_micro FROM wed
         |WHERE NOT EXISTS (SELECT 1 FROM bi WHERE bi.src = wed.u AND bi.dst = wed.v)
         |ORDER BY u, v""".stripMargin),

    // Deterministic random walks (the node2vec/DeepWalk sampling stage of
    // a graph-embedding pipeline, made replayable): every backbone node
    // starts one walk of 4 steps; at step t from node v the walk picks
    // neighbor rank h(start,v,t) mod deg(v), where the adjacency is
    // ranked once (ROW_NUMBER per src over dst) and h is the shared
    // md5-integer law — a pure function of the walk state, so both
    // engines draw the IDENTICAL corpus and a re-run is audit-stable
    // (the llm_sample_split law, applied to graph sampling). Per step:
    // one equi-join on (node, rank) — the frontier never fans out, so k
    // steps cost k keyed joins; at 100 TB walks shard by start node.
    Op("graph_random_walk", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy)
      val ad = bi
        .withColumn("r", row_number().over(
          Window.partitionBy("src").orderBy("dst")).cast("bigint") - 1)
        .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
        .localCheckpoint()
      var walk = ad.select(col("src").as("start")).distinct()
        .select(col("start"), col("start").as("node"), lit(0L).as("step"))
        .localCheckpoint()
      val steps = scala.collection.mutable.ArrayBuffer(walk)
      for (t <- 1 to 4) {
        walk = walk.select(col("start"), col("node"))
          .withColumn("h", expr(
            md5Bits(s"concat(CAST(start AS STRING), ':', CAST(node AS STRING), ':', '$t')", 8)))
          .join(ad, col("node") === col("src") && expr("h % deg") === col("r"))
          .select(col("start"), col("dst").as("node"), lit(t.toLong).as("step"))
          .localCheckpoint()
        steps += walk
      }
      steps.reduce(_ unionAll _).orderBy("start", "step")
    },
      // The ranked adjacency + 4 hash-picked hops replayed as chained CTEs.
      {
      val hops = (1 to 4).map { t =>
        val p = t - 1
        s"""w$t AS MATERIALIZED (SELECT w$p.start, ad.dst AS node,
           |    CAST($t AS BIGINT) AS step
           |  FROM w$p JOIN ad ON ad.src = w$p.node
           |    AND ad.r = ${duckMd5Bits(s" CAST(w$p.start AS VARCHAR) || ':' || CAST(w$p.node AS VARCHAR) || ':' || '$t'", 8)} % ad.deg)"""
      }.mkString(",\n")
      val union = (0 to 4).map(i => s"SELECT * FROM w$i").mkString(" UNION ALL ")
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |ad AS MATERIALIZED (SELECT src, dst,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) - 1 AS r,
         |    CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
         |  FROM bi),
         |w0 AS MATERIALIZED (SELECT DISTINCT src AS start, src AS node,
         |    CAST(0 AS BIGINT) AS step FROM bi),
         |$hops
         |SELECT start, node, step FROM ($union)
         |ORDER BY start, step""".stripMargin
    }),

    // Weighted modularity of the REGION partition over the trade backbone
    // — the community-quality score that tells a pipeline whether a
    // partition (here the geographic one) explains the graph's weight:
    // Q_c = in_c/m − (deg_c/2m)², emitted as the EXACT integer pair
    // (q_num, q_den) = (4·m·in_c − deg_c², 4·m²) plus ONE shared-IEEE
    // division — no rational ever rounds before the hash. in_c from one
    // intra-community filter, deg_c from the bi-directed degree rollup;
    // nodes with no backbone edge contribute zero through the left join.
    // At 100 TB the three rollups are keyed and the totals broadcast.
    Op("graph_modularity", (s, d) => {
      val hw = heavyBackboneW(s, d)
        .select(col("a").cast("bigint").as("a"), col("b").cast("bigint").as("b"), col("w"))
      val m = hw.agg(sum("w").as("m"))
      val reg = Tables.nation(s, d)
        .select(col("n_nationkey").cast("bigint").as("node"),
          col("n_regionkey").cast("bigint").as("region"))
      val deg = hw.select(col("a").as("node"), col("w"))
        .unionAll(hw.select(col("b").as("node"), col("w")))
        .groupBy("node").agg(sum("w").as("dw"))
      val degC = reg.join(deg, Seq("node"), "left")
        .groupBy("region")
        .agg(count(lit(1)).as("n_nodes"),
          sum(coalesce(col("dw"), lit(0L))).as("deg_w"))
      val inC = hw
        .join(reg.select(col("node").as("a"), col("region").as("ra")), Seq("a"))
        .join(reg.select(col("node").as("b"), col("region").as("rb")), Seq("b"))
        .where(col("ra") === col("rb"))
        .groupBy(col("ra").as("region")).agg(sum("w").as("in_w"))
      degC.join(inC, Seq("region"), "left")
        .crossJoin(broadcast(m))
        .withColumn("in_w", coalesce(col("in_w"), lit(0L)))
        .withColumn("q_num", expr("4 * m * in_w - deg_w * deg_w"))
        .withColumn("q_den", expr("4 * m * m"))
        .select(col("region"), col("n_nodes"), col("in_w"), col("deg_w"),
          col("q_num"), col("q_den"),
          (col("q_num").cast("double") / col("q_den").cast("double")).as("q"))
        .orderBy("region")
    },
      // Same exact integer (q_num, q_den) pair, same single division.
      s"""WITH $EdgesCte,
         |$HeavyWCte,
         |m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM hw),
         |reg AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
         |    CAST(n_regionkey AS BIGINT) AS region FROM nation),
         |deg AS (SELECT node, CAST(SUM(w) AS BIGINT) AS dw FROM (
         |    SELECT CAST(a AS BIGINT) AS node, w FROM hw
         |    UNION ALL SELECT CAST(b AS BIGINT), w FROM hw)
         |  GROUP BY 1),
         |degc AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    CAST(SUM(COALESCE(dw, 0)) AS BIGINT) AS deg_w
         |  FROM reg LEFT JOIN deg USING (node) GROUP BY 1),
         |inc AS (SELECT ra.region, CAST(SUM(w) AS BIGINT) AS in_w
         |  FROM hw
         |  JOIN reg ra ON ra.node = CAST(hw.a AS BIGINT)
         |  JOIN reg rb ON rb.node = CAST(hw.b AS BIGINT)
         |  WHERE ra.region = rb.region GROUP BY 1)
         |SELECT degc.region, n_nodes,
         |  CAST(COALESCE(in_w, 0) AS BIGINT) AS in_w, deg_w,
         |  CAST(4 * m * COALESCE(in_w, 0) - deg_w * deg_w AS BIGINT) AS q_num,
         |  CAST(4 * m * m AS BIGINT) AS q_den,
         |  CAST(4 * m * COALESCE(in_w, 0) - deg_w * deg_w AS DOUBLE)
         |    / CAST(4 * m * m AS DOUBLE) AS q
         |FROM degc LEFT JOIN inc ON inc.region = degc.region, m
         |ORDER BY degc.region""".stripMargin),

    // Degree assortativity of the backbone — do high-degree nodes link to
    // high-degree nodes? Pearson r over the directed edge list's endpoint
    // degree pairs (x, y). Because the list holds both orientations the
    // marginals coincide (Σx = Σy, Σx² = Σy²), so r = (n·Σxy − Σx·Σy) /
    // (n·Σx² − (Σx)²) — an EXACT integer num/den pair plus one shared-
    // IEEE division, no sqrt at all. One degree rollup + one keyed join
    // per endpoint + a scalar aggregate; the constant output row is the
    // whole shuffle footprint at any scale.
    Op("graph_assortativity", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy)
      val deg = bi.groupBy("src").agg(count(lit(1)).as("deg"))
      bi.join(deg.select(col("src"), col("deg").as("x")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("y")), Seq("dst"))
        .agg(count(lit(1)).as("n_edges"), sum("x").as("sum_x"),
          sum(expr("x * y")).as("sum_xy"), sum(expr("x * x")).as("sum_x2"))
        .withColumn("r_num", expr("n_edges * sum_xy - sum_x * sum_x"))
        .withColumn("r_den", expr("n_edges * sum_x2 - sum_x * sum_x"))
        .select(col("n_edges"), col("sum_x"), col("sum_xy"), col("sum_x2"),
          col("r_num"), col("r_den"),
          (col("r_num").cast("double") / col("r_den").cast("double")).as("r"))
    },
      // Same symmetric-marginal identity, same exact pair + one division.
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bi GROUP BY 1),
         |e AS (SELECT dx.deg AS x, dy.deg AS y
         |  FROM bi JOIN deg dx ON dx.src = bi.src JOIN deg dy ON dy.src = bi.dst),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         |    CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(x * y) AS BIGINT) AS sum_xy,
         |    CAST(SUM(x * x) AS BIGINT) AS sum_x2 FROM e)
         |SELECT n_edges, sum_x, sum_xy, sum_x2,
         |  CAST(n_edges * sum_xy - sum_x * sum_x AS BIGINT) AS r_num,
         |  CAST(n_edges * sum_x2 - sum_x * sum_x AS BIGINT) AS r_den,
         |  CAST(n_edges * sum_xy - sum_x * sum_x AS DOUBLE)
         |    / CAST(n_edges * sum_x2 - sum_x * sum_x AS DOUBLE) AS r
         |FROM s""".stripMargin),

    // Conductance of each region cut — modularity's decision-theoretic
    // sibling (the metric partitioners MINIMIZE): φ(S) = cut(S) /
    // min(vol(S), vol(V∖S)), where cut = vol − 2·intra on the weighted
    // backbone — all exact BIGINTs from the same three keyed rollups,
    // φ as the exact (num, den) pair + one division; a region holding
    // every live edge has den 0 and reports NULL, not a NaN.
    Op("graph_conductance", (s, d) => {
      val hw = heavyBackboneW(s, d)
        .select(col("a").cast("bigint").as("a"), col("b").cast("bigint").as("b"), col("w"))
      val m = hw.agg(sum("w").as("m"))
      val reg = Tables.nation(s, d)
        .select(col("n_nationkey").cast("bigint").as("node"),
          col("n_regionkey").cast("bigint").as("region"))
      val deg = hw.select(col("a").as("node"), col("w"))
        .unionAll(hw.select(col("b").as("node"), col("w")))
        .groupBy("node").agg(sum("w").as("dw"))
      val volC = reg.join(deg, Seq("node"), "left")
        .groupBy("region")
        .agg(count(lit(1)).as("n_nodes"), sum(coalesce(col("dw"), lit(0L))).as("vol"))
      val inC = hw
        .join(reg.select(col("node").as("a"), col("region").as("ra")), Seq("a"))
        .join(reg.select(col("node").as("b"), col("region").as("rb")), Seq("b"))
        .where(col("ra") === col("rb"))
        .groupBy(col("ra").as("region")).agg(sum("w").as("in_w"))
      volC.join(inC, Seq("region"), "left")
        .crossJoin(broadcast(m))
        .withColumn("in_w", coalesce(col("in_w"), lit(0L)))
        .withColumn("cut_w", expr("vol - 2 * in_w"))
        .withColumn("phi_den", expr("least(vol, 2 * m - vol)"))
        .select(col("region"), col("n_nodes"), col("vol"), col("cut_w"), col("phi_den"),
          expr("""CASE WHEN phi_den > 0
                 THEN CAST(cut_w AS DOUBLE) / CAST(phi_den AS DOUBLE)
                 ELSE NULL END""").as("phi"))
        .orderBy("region")
    },
      // Same three rollups, same cut = vol − 2·intra, same guarded division.
      s"""WITH $EdgesCte,
         |$HeavyWCte,
         |m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM hw),
         |reg AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
         |    CAST(n_regionkey AS BIGINT) AS region FROM nation),
         |deg AS (SELECT node, CAST(SUM(w) AS BIGINT) AS dw FROM (
         |    SELECT CAST(a AS BIGINT) AS node, w FROM hw
         |    UNION ALL SELECT CAST(b AS BIGINT), w FROM hw)
         |  GROUP BY 1),
         |volc AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    CAST(SUM(COALESCE(dw, 0)) AS BIGINT) AS vol
         |  FROM reg LEFT JOIN deg USING (node) GROUP BY 1),
         |inc AS (SELECT ra.region, CAST(SUM(w) AS BIGINT) AS in_w
         |  FROM hw
         |  JOIN reg ra ON ra.node = CAST(hw.a AS BIGINT)
         |  JOIN reg rb ON rb.node = CAST(hw.b AS BIGINT)
         |  WHERE ra.region = rb.region GROUP BY 1)
         |SELECT volc.region, n_nodes, vol,
         |  CAST(vol - 2 * COALESCE(in_w, 0) AS BIGINT) AS cut_w,
         |  CAST(LEAST(vol, 2 * m - vol) AS BIGINT) AS phi_den,
         |  CASE WHEN LEAST(vol, 2 * m - vol) > 0
         |    THEN CAST(vol - 2 * COALESCE(in_w, 0) AS DOUBLE)
         |      / CAST(LEAST(vol, 2 * m - vol) AS DOUBLE)
         |    ELSE NULL END AS phi
         |FROM volc LEFT JOIN inc ON inc.region = volc.region, m
         |ORDER BY volc.region""".stripMargin),

    // Reciprocity of the DIRECTED trade graph — does flow go both ways?
    // Unweighted: share of directed edges whose reverse exists; weighted:
    // Σ min(w, w_reverse) over Σ w (the balanced-flow share). One
    // self-join on the reversed key + a scalar rollup, exact ppm.
    Op("graph_reciprocity", (s, d) => {
      val e = tradeEdges(s, d).where(col("src") =!= col("dst"))
        .select(col("src").cast("bigint").as("src"),
          col("dst").cast("bigint").as("dst"), col("w"))
      e.join(e.select(col("dst").as("src"), col("src").as("dst"),
            col("w").as("w_rev")), Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("w_rev").isNotNull, 1L).otherwise(0L)).as("n_mutual"),
          sum("w").as("w_total"),
          sum(least(col("w"), coalesce(col("w_rev"), lit(0L)))).as("w_balanced"))
        .select(col("n_edges"), col("n_mutual"), col("w_total"), col("w_balanced"),
          expr("(n_mutual * 1000000) DIV n_edges").as("recip_ppm"),
          expr("(w_balanced * 1000000) DIV w_total").as("w_recip_ppm"))
    },
      // Same reversed-key self-join, same exact ppm shares.
      s"""WITH $EdgesCte,
         |e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, w
         |  FROM edges WHERE src <> dst),
         |j AS (SELECT e.src, e.dst, e.w, r.w AS w_rev
         |  FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         |  CAST(SUM(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual,
         |  CAST(SUM(w) AS BIGINT) AS w_total,
         |  CAST(SUM(LEAST(w, COALESCE(w_rev, 0))) AS BIGINT) AS w_balanced,
         |  (CAST(SUM(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // CAST(COUNT(*) AS BIGINT) AS recip_ppm,
         |  (CAST(SUM(LEAST(w, COALESCE(w_rev, 0))) AS BIGINT) * 1000000)
         |    // CAST(SUM(w) AS BIGINT) AS w_recip_ppm
         |FROM j""".stripMargin),

    // 4-truss of the backbone — EDGE-level cohesion (graph_kcore peels
    // nodes by degree; the truss peels edges by TRIANGLE support, the
    // stricter community filter): an edge survives while it sits in ≥ 2
    // triangles among surviving edges. Three peel rounds (fixed, replayed
    // identically by the oracle; the dense fixture converges in fewer),
    // each round = one common-neighbor count over the current edge set —
    // the triangle-join shape, all keyed. Output: surviving edges + final
    // support.
    Op("graph_ktruss", (s, d) => {
      def support(e: DataFrame): DataFrame = {
        val bi = e.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
        e.join(bi.select(col("dst").as("a"), col("src").as("n")), Seq("a"))
          .join(bi.select(col("dst").as("b"), col("src").as("n")), Seq("b", "n"))
          .groupBy("a", "b").agg(count(lit(1)).as("sup"))
      }
      var e = heavyBackbone(s, d)
        .select(col("a").cast("bigint").as("a"), col("b").cast("bigint").as("b"))
        .localCheckpoint()
      for (_ <- 1 to 3) {
        e = e.join(support(e), Seq("a", "b"), "left")
          .where(coalesce(col("sup"), lit(0L)) >= 2)
          .select("a", "b")
          .localCheckpoint()
      }
      e.join(support(e), Seq("a", "b"), "left")
        .select(col("a"), col("b"), coalesce(col("sup"), lit(0L)).as("support"))
        .orderBy("a", "b")
    },
      // The three peel rounds replayed as chained CTEs over the same
      // common-neighbor support join.
      {
      def supCte(i: Int) =
        s"""s$i AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS sup
           |  FROM e$i e
           |  JOIN (SELECT a AS u, b AS v FROM e$i UNION ALL SELECT b, a FROM e$i) x ON x.v = e.a
           |  JOIN (SELECT a AS u, b AS v FROM e$i UNION ALL SELECT b, a FROM e$i) y
           |    ON y.v = e.b AND y.u = x.u
           |  GROUP BY 1, 2)"""
      val rounds = (0 until 3).map { i =>
        s"""${supCte(i)},
           |e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e
           |  JOIN s$i ON s$i.a = e.a AND s$i.b = e.b
           |  WHERE s$i.sup >= 2)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |e0 AS MATERIALIZED (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM h),
         |$rounds,
         |${supCte(3)}
         |SELECT e.a, e.b, CAST(COALESCE(s3.sup, 0) AS BIGINT) AS support
         |FROM e3 e LEFT JOIN s3 ON s3.a = e.a AND s3.b = e.b
         |ORDER BY e.a, e.b""".stripMargin
    }),

    // Rich-club coefficient — do the hubs trade among THEMSELVES? For
    // each degree threshold k: the nodes with degree > k, the edges
    // both of whose endpoints qualify, and φ(k) = 2·E_k / (n_k(n_k−1))
    // in exact ppm — rising φ with k is the rich-club effect. One
    // degree rollup broadcast against the edge list, one pass per
    // threshold over the same frame (a 4-row explode, not 4 jobs).
    Op("graph_rich_club", (s, d) => {
      val heavy = heavyBackbone(s, d)
        .select(col("a").cast("bigint").as("a"), col("b").cast("bigint").as("b"))
      val deg = heavy.select(col("a").as("node"))
        .unionAll(heavy.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val ks = Seq(2L, 4L, 6L, 8L)
      val edgesK = heavy
        .join(broadcast(deg.select(col("node").as("a"), col("deg").as("da"))), Seq("a"))
        .join(broadcast(deg.select(col("node").as("b"), col("deg").as("db"))), Seq("b"))
        .withColumn("k", explode(lit(ks.toArray)))
        .where(col("da") > col("k") && col("db") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      val nodesK = deg.withColumn("k", explode(lit(ks.toArray)))
        .where(col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      nodesK.join(edgesK, Seq("k"), "left")
        .withColumn("e_k", coalesce(col("e_k"), lit(0L)))
        .select(col("k"), col("n_k"), col("e_k"),
          expr("""CASE WHEN n_k >= 2
                 THEN (e_k * 2 * 1000000) DIV (n_k * (n_k - 1))
                 ELSE NULL END""").as("phi_ppm"))
        .orderBy("k")
    },
      // Same thresholds, same hub-edge filter, same exact ppm density.
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |e AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM h),
         |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |  GROUP BY 1),
         |ks AS (SELECT CAST(unnest([2, 4, 6, 8]) AS BIGINT) AS k),
         |ek AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS e_k
         |  FROM e
         |  JOIN deg da ON da.node = e.a
         |  JOIN deg db ON db.node = e.b, ks
         |  WHERE da.deg > k AND db.deg > k GROUP BY 1),
         |nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k
         |  FROM deg, ks WHERE deg > k GROUP BY 1)
         |SELECT nk.k, n_k, CAST(COALESCE(e_k, 0) AS BIGINT) AS e_k,
         |  CASE WHEN n_k >= 2
         |    THEN (COALESCE(e_k, 0) * 2 * 1000000) // (n_k * (n_k - 1))
         |    ELSE NULL END AS phi_ppm
         |FROM nk LEFT JOIN ek ON ek.k = nk.k
         |ORDER BY nk.k""".stripMargin),

    // Characteristic path length + diameter — the small-world summary
    // (the two numbers every topology report leads with): all-pairs
    // distances from the same 4-round relaxation the stress op uses,
    // then one scalar rollup over unordered reachable pairs — average
    // in exact milli (Σdist·1000 DIV pairs), diameter = max. At scale
    // the relaxation runs per landmark sample; the output is O(1).
    Op("graph_path_stats", (s, d) => {
      val heavy = heavyBackbone(s, d)
      val bi = undirected(heavy).localCheckpoint()
      val nodes = Tables.nation(s, d).select(col("n_nationkey").cast("bigint").as("u"))
      var dist = nodes.crossJoin(nodes.select(col("u").as("v")))
        .withColumn("dist", when(col("u") === col("v"), 0L).otherwise(lit(99L)))
      for (i <- 1 to BfsIters) {
        val relax = dist.join(bi, dist("v") === bi("src"))
          .select(col("u"), col("dst").as("v"), (col("dist") + 1).as("cand"))
          .groupBy("u", "v").agg(min("cand").as("cand"))
        dist = dist.join(relax, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            least(col("dist"), coalesce(col("cand"), lit(99L))).as("dist"))
        if (i == 2) dist = dist.localCheckpoint()
      }
      dist.where(col("u") < col("v"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("dist") < 99, 1L).otherwise(0L)).as("n_reachable"),
          sum(when(col("dist") < 99, col("dist")).otherwise(0L)).as("sum_dist"),
          max(when(col("dist") < 99, col("dist"))).as("diameter"))
        .withColumn("avg_path_milli", expr("(sum_dist * 1000) DIV n_reachable"))
    },
      // Same relaxation rounds, same unordered-pair rollup.
      s"""WITH $EdgesCte,
         |$HeavyCte,
         |$BiCte,
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS u FROM nation),
         |${hopDistCtes(BfsIters)}
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN dist < 99 THEN 1 ELSE 0 END) AS BIGINT) AS n_reachable,
         |  CAST(SUM(CASE WHEN dist < 99 THEN dist ELSE 0 END) AS BIGINT) AS sum_dist,
         |  CAST(MAX(CASE WHEN dist < 99 THEN dist END) AS BIGINT) AS diameter,
         |  (CAST(SUM(CASE WHEN dist < 99 THEN dist ELSE 0 END) AS BIGINT) * 1000)
         |    // CAST(SUM(CASE WHEN dist < 99 THEN 1 ELSE 0 END) AS BIGINT) AS avg_path_milli
         |FROM p$BfsIters WHERE u < v""".stripMargin),

    // Katz centrality — the attenuated all-walk centrality that PageRank's
    // out-degree normalization hides (a node pointed to by many LOW-degree
    // nodes scores high here, low there): k′(v) = β + α·Σ_in k(u) over the
    // UNWEIGHTED adjacency (presence, self-loops excluded), β = 10⁶
    // micro-units, α = 1/200 (in-degree ≤ 24 keeps α·λ_max ≤ 0.12 ≪ 1 so
    // 3 rounds converge to the micro-unit). All-integer recurrence
    // (non-negative, so DIV == floor == //) — the rounds replay
    // bit-identically as chained CTEs; each round is one equi-join +
    // groupBy superstep over the checkpointed edge rollup.
    Op("graph_katz", (s, d) => {
      val adj = tradeEdges(s, d).where(col("src") =!= col("dst"))
        .select("src", "dst").localCheckpoint()
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var k = nodes.withColumn("k", lit(1000000L))
      for (i <- 1 to 3) {
        val contrib = adj.join(k.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum("k").as("sk"))
        k = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            expr("1000000 + coalesce(sk, CAST(0 AS BIGINT)) DIV 200").as("k"))
        if (i == 2) k = k.localCheckpoint()
      }
      k.select(col("node").as("n_nationkey"), col("k").as("katz_micro"))
        .orderBy("n_nationkey")
    },
      // The same 3 attenuated supersteps as chained CTEs; everything
      // non-negative BIGINT so // (floor) == DIV (truncate).
      {
      val iters = (1 to 3).map { i =>
        val p = s"k${i - 1}"
        s"""c$i AS MATERIALIZED (SELECT a.dst AS node, CAST(SUM($p.k) AS BIGINT) AS sk
           |  FROM adj a JOIN $p ON $p.node = a.src GROUP BY 1),
           |k$i AS MATERIALIZED (SELECT n.node,
           |    CAST(1000000 + COALESCE(c$i.sk, 0) // 200 AS BIGINT) AS k
           |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |adj AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |k0 AS (SELECT node, CAST(1000000 AS BIGINT) AS k FROM nodes),
         |$iters
         |SELECT node AS n_nationkey, k AS katz_micro FROM k3 ORDER BY 1""".stripMargin
    }),

    // Degree distribution + CCDF — the first chart of every topology
    // report (power-law vs Poisson decides which scale-out strategy the
    // graph family needs). Undirected degree = distinct neighbors either
    // direction, self-loops excluded; per-degree node counts plus the
    // complementary CDF (nodes with degree ≥ d) in exact milli via one
    // descending running sum over the ≤|V| histogram rows. Two tiny
    // shuffles after the shared edge rollup; output O(max degree).
    Op("graph_degree_histogram", (s, d) => {
      val e = tradeEdges(s, d).where(col("src") =!= col("dst"))
      val deg = e.select(col("src").as("node"), col("dst").as("nbr"))
        .unionAll(e.select(col("dst").as("node"), col("src").as("nbr")))
        .distinct()
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      val total = Tables.nation(s, d).count()
      hist
        .withColumn("n_at_least",
          sum("n_nodes").over(Window.orderBy(col("degree").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ccdf_milli", expr(s"(n_at_least * 1000) DIV $total"))
        .select("degree", "n_nodes", "n_at_least", "ccdf_milli")
        .orderBy("degree")
    },
      // Same undirected distinct-neighbor degree, same descending running
      // sum; total node count is the nation cardinality scalar.
      s"""WITH $EdgesCte,
         |und AS (SELECT DISTINCT src AS node, dst AS nbr FROM edges WHERE src <> dst
         |  UNION SELECT DISTINCT dst AS node, src AS nbr FROM edges WHERE src <> dst),
         |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY node),
         |h AS (SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY degree),
         |c AS (SELECT degree, n_nodes,
         |    CAST(SUM(n_nodes) OVER (ORDER BY degree DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_least
         |  FROM h)
         |SELECT degree, n_nodes, n_at_least,
         |  (n_at_least * 1000) // (SELECT COUNT(*) FROM nation) AS ccdf_milli
         |FROM c ORDER BY degree""".stripMargin),

    // Bipartite projection — customer–supplier co-purchase graph folded
    // onto suppliers (the collaborative-filtering backbone): suppliers
    // are linked with weight = #shared customers. The quadratic hazard is
    // a hot customer (every pair of its suppliers becomes an edge —
    // O(deg²)); the dfCap law bounds it: customers above 20 distinct
    // suppliers are dropped BEFORE pairing (mirrored in the oracle CTE),
    // exactly llm_dedup_near's posting-list cap. Output is the weight
    // histogram (O(max weight) rows), not the pair list.
    Op("graph_bipartite_project", (s, d) => {
      val cs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
        .distinct()
      val deg = cs.groupBy("c").agg(count(lit(1)).as("nsup"))
      val kept = cs.join(deg.where(col("nsup") <= 20), "c")
        .select("c", "sup").localCheckpoint()
      kept.as("a")
        .join(kept.as("b"),
          col("a.c") === col("b.c") && col("a.sup") < col("b.sup"))
        .groupBy(col("a.sup").as("s1"), col("b.sup").as("s2"))
        .agg(count(lit(1)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n_pairs"))
        .orderBy("w")
    },
      // Same distinct bipartite edges, same ≤20 cap before pairing.
      """WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |deg AS (SELECT c, COUNT(*) AS nsup FROM cs GROUP BY c),
        |kept AS (SELECT cs.c, cs.sup FROM cs JOIN deg ON cs.c = deg.c
        |  WHERE deg.nsup <= 20),
        |p AS (SELECT a.sup AS s1, b.sup AS s2, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM kept a JOIN kept b ON a.c = b.c AND a.sup < b.sup
        |  GROUP BY 1, 2)
        |SELECT w, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY w ORDER BY w""".stripMargin),

    // Personalized PageRank — the "importance RELATIVE to a seed set"
    // variant that powers related-item recommendation: identical
    // integer power iteration to graph_pagerank except ALL teleport mass
    // returns to the 3 seed nations (25·150000 DIV 3 µ-units each, 0
    // elsewhere), so scores measure proximity to the seeds instead of
    // global centrality. Same superstep shape over the shared edge
    // rollup; 5 rounds replay bit-identically.
    Op("graph_ppr", (s, d) => {
      val seeds = Seq(0L, 1L, 2L)
      val edges = tradeEdges(s, d)
      val outw = edges.groupBy("src").agg(sum("w").as("ow"))
      val ew = edges.join(outw, "src")
      val nodes = Tables.nation(s, d)
        .select(col("n_nationkey").cast("bigint").as("node"))
        .withColumn("seed_base",
          when(col("node").isin(seeds: _*), lit(25L * 150000L / 3)).otherwise(0L))
      var rank = nodes.withColumn("r", lit(1000000L))
      for (i <- 1 to PrIters) {
        val contrib = ew
          .join(rank.select(col("node").as("src"), col("r")), "src")
          .select(col("dst").as("node"), expr("(r * w) DIV ow").as("c"))
          .groupBy("node").agg(sum("c").as("contrib"))
        rank = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"), col("seed_base"),
            expr("seed_base + (85 * coalesce(contrib, CAST(0 AS BIGINT))) DIV 100")
              .as("r"))
        if (i == 3) rank = rank.localCheckpoint()
      }
      rank.select(col("node").as("n_nationkey"), col("r").as("ppr_micro"),
          (col("seed_base") > 0).as("is_seed"))
        .orderBy("n_nationkey")
    },
      // The same 5 seed-teleport supersteps as chained CTEs.
      {
      val iters = (1 to PrIters).map { i =>
        val p = s"r${i - 1}"
        s"""c$i AS MATERIALIZED (SELECT e.dst AS node,
           |    CAST(SUM(($p.r * e.w) // x.ow) AS BIGINT) AS contrib
           |  FROM edges e JOIN outw x ON e.src = x.src
           |  JOIN $p ON $p.node = e.src GROUP BY 1),
           |r$i AS MATERIALIZED (SELECT n.node, n.seed_base,
           |    CAST(n.seed_base + (85 * COALESCE(c$i.contrib, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
         |    CAST(CASE WHEN n_nationkey IN (0, 1, 2) THEN 25 * 150000 // 3 ELSE 0 END AS BIGINT)
         |      AS seed_base
         |  FROM nation),
         |r0 AS (SELECT node, seed_base, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |$iters
         |SELECT node AS n_nationkey, r AS ppr_micro, seed_base > 0 AS is_seed
         |FROM r$PrIters ORDER BY 1""".stripMargin
    }),

    // Sampled-estimator audit for triangle counting — the estimator a
    // 100 TB graph runs FIRST (exact counting joins every wedge; a
    // p=1/4 edge sample costs ~p² of that and unbiased-rescales by
    // 1/p³ = 64): edges kept iff the md5 coin lands 0-of-4 (shared
    // randomness law), triangles counted on the sampled set, and the
    // SIGNED error vs the exact count graded sign-safely in ppm — the
    // op carries its own ground truth, so the estimator can never
    // silently drift.
    Op("graph_triangle_estimate", (s, d) => {
      val und = heavyBackboneW(s, d).select("a", "b").localCheckpoint()
      def tri(e: DataFrame): DataFrame =
        e.as("ab").join(e.as("bc"), col("ab.b") === col("bc.a"))
          .join(e.as("ac"),
            col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
          .agg(count(lit(1)).as("n"))
      val coin = expr(
        s"${md5Bits("concat('tri:', CAST(a AS STRING), ':', CAST(b AS STRING))", 8)} % 4")
      tri(und).select(col("n").as("exact_triangles"))
        .crossJoin(tri(und.where(coin === 0)).select((col("n") * 64).as("estimated")))
        .withColumn("err_signed_ppm",
          expr("""CASE WHEN estimated >= exact_triangles
                 THEN ((estimated - exact_triangles) * 1000000) DIV exact_triangles
                 ELSE -(((exact_triangles - estimated) * 1000000) DIV exact_triangles) END"""))
    },
      // Same backbone, same md5 coin, same wedge-closing join, same
      // sign-safe ppm error.
      s"""WITH $EdgesCte,
         |$HeavyWCte,
         |h AS (SELECT a, b FROM hw),
         |sam AS (SELECT a, b FROM h
         |  WHERE ${duckMd5Bits("'tri:' || CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)", 8)} % 4 = 0),
         |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_triangles
         |  FROM h ab JOIN h bc ON ab.b = bc.a
         |  JOIN h ac ON ac.a = ab.a AND ac.b = bc.b),
         |es AS (SELECT CAST(COUNT(*) AS BIGINT) * 64 AS estimated
         |  FROM sam ab JOIN sam bc ON ab.b = bc.a
         |  JOIN sam ac ON ac.a = ab.a AND ac.b = bc.b)
         |SELECT exact_triangles, estimated,
         |  CASE WHEN estimated >= exact_triangles
         |    THEN ((estimated - exact_triangles) * 1000000) // exact_triangles
         |    ELSE -(((exact_triangles - estimated) * 1000000) // exact_triangles) END
         |    AS err_signed_ppm
         |FROM ex, es""".stripMargin),

    // Distributed greedy maximal matching — the pairing primitive
    // (assignment seeding, graph coarsening) computed Luby-style: per
    // round, an edge joins the matching iff its (a·1000+b) key is the
    // MINIMUM incident key at BOTH endpoints (locally verifiable — no
    // coordination), matched nodes leave, 4 rounds empty a 25-node
    // backbone. Each round is two tiny rollups + one anti-join; the
    // matching is maximal because a surviving edge would have won some
    // round.
    Op("graph_greedy_matching", (s, d) => {
      var edges = heavyBackboneW(s, d)
        .select(col("a").cast("bigint").as("a"), col("b").cast("bigint").as("b"))
        .localCheckpoint()
      var acc: DataFrame = null
      for (r <- 1 to 4) {
        val e2 = edges.withColumn("k", col("a") * 1000 + col("b"))
        val ends = e2.select(col("a").as("node"), col("k"))
          .unionAll(e2.select(col("b").as("node"), col("k")))
        val mk = ends.groupBy("node").agg(min("k").as("mk"))
        // mk is node-keyed (≤25 rows — nation-bounded backbone), so both
        // lookup joins broadcast it (guide §3.1); sel itself is no longer
        // checkpointed — the round's edges ARE, so every plan that re-reads
        // sel replays one tiny join over a materialized 25-row relation
        // instead of paying a per-round checkpoint job
        val sel = e2
          .join(broadcast(mk.select(col("node").as("a"), col("mk").as("ma"))), "a")
          .join(broadcast(mk.select(col("node").as("b"), col("mk").as("mb"))), "b")
          .where(col("k") === col("ma") && col("k") === col("mb"))
          .select(col("a"), col("b")).withColumn("round", lit(r.toLong))
        acc = if (acc == null) sel else acc.unionByName(sel)
        val mn = sel.select(col("a").as("n")).unionAll(sel.select(col("b").as("n")))
        edges = edges
          .join(broadcast(mn), edges("a") === mn("n"), "left_anti")
          .join(broadcast(mn), edges("b") === mn("n"), "left_anti")
          .localCheckpoint()
      }
      acc.orderBy("a", "b")
    },
      // The same 4 local-minimum rounds as chained CTEs.
      {
      val rounds = (1 to 4).map { i =>
        val p = s"e${i - 1}"
        s"""k$i AS MATERIALIZED (SELECT a, b, a * 1000 + b AS k FROM $p),
           |mk$i AS MATERIALIZED (SELECT node, MIN(k) AS mk FROM (
           |  SELECT a AS node, k FROM k$i UNION ALL SELECT b AS node, k FROM k$i)
           |  GROUP BY node),
           |sel$i AS MATERIALIZED (SELECT t.a, t.b, CAST($i AS BIGINT) AS round
           |  FROM k$i t JOIN mk$i x ON x.node = t.a JOIN mk$i y ON y.node = t.b
           |  WHERE t.k = x.mk AND t.k = y.mk),
           |mn$i AS MATERIALIZED (SELECT a AS n FROM sel$i UNION SELECT b FROM sel$i),
           |e$i AS MATERIALIZED (SELECT a, b FROM $p
           |  WHERE a NOT IN (SELECT n FROM mn$i) AND b NOT IN (SELECT n FROM mn$i))"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |$HeavyWCte,
         |e0 AS (SELECT a, b FROM hw),
         |$rounds
         |SELECT a, b, round FROM sel1
         |UNION ALL SELECT a, b, round FROM sel2
         |UNION ALL SELECT a, b, round FROM sel3
         |UNION ALL SELECT a, b, round FROM sel4
         |ORDER BY a, b""".stripMargin
    }),

    // Ego-network reach — the per-node 1-hop/2-hop audience sizes a
    // social or recommendation layer quotes ("friends, friends-of-
    // friends"): undirected backbone adjacency, 2-hop set as ONE
    // mid-keyed self-join (never per-node BFS), distinct union minus
    // self. Output O(|V|); the self-join is the wedge shape already
    // bounded by the backbone's density.
    Op("graph_ego_stats", (s, d) => {
      val h = heavyBackboneW(s, d).select("a", "b")
      val adj = h.unionAll(h.select(col("b").as("a"), col("a").as("b")))
        .distinct().localCheckpoint()
      val oneHop = adj.select(col("a").as("u"), col("b").as("v"))
      val twoHop = adj.select(col("a").as("u"), col("b").as("m"))
        .join(adj.select(col("a").as("m"), col("b").as("v")), "m")
        .select("u", "v")
      val reach = oneHop.unionAll(twoHop).where(col("u") =!= col("v")).distinct()
      val deg = oneHop.groupBy("u").agg(count(lit(1)).as("degree"))
      reach.groupBy("u").agg(count(lit(1)).as("n_within_2"))
        .join(deg, "u")
        .select(col("u").cast("bigint").as("node"), col("degree"), col("n_within_2"))
        .orderBy("node")
    },
      // Same undirected adjacency, same one mid-keyed 2-hop join.
      s"""WITH $EdgesCte,
         |$HeavyWCte,
         |adj AS (SELECT a, b FROM hw UNION SELECT b AS a, a AS b FROM hw),
         |one AS (SELECT a AS u, b AS v FROM adj),
         |two AS (SELECT x.a AS u, y.b AS v
         |  FROM adj x JOIN adj y ON y.a = x.b),
         |reach AS (SELECT DISTINCT u, v FROM (
         |  SELECT u, v FROM one UNION ALL SELECT u, v FROM two)
         |  WHERE u <> v),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS degree FROM one GROUP BY u)
         |SELECT r.u AS node, deg.degree,
         |  CAST(COUNT(*) AS BIGINT) AS n_within_2
         |FROM reach r JOIN deg ON deg.u = r.u
         |GROUP BY r.u, deg.degree ORDER BY node""".stripMargin),

    // Critical-path layering over the DAG orientation (a<b) of the
    // backbone — the scheduling decomposition (which tasks can run in
    // parallel; how deep is the dependency chain): L(v) = longest hop
    // path ending at v, relaxed Bellman-style for 6 rounds (≥ any
    // chain in a 25-node backbone), layer histogram + the critical
    // length as max. Each round is one equi-join + groupBy superstep —
    // the Pregel shape of the whole family.
    Op("graph_critical_path", (s, d) => {
      val dag = heavyBackboneW(s, d).select("a", "b").localCheckpoint()
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var lvl = nodes.withColumn("l", lit(0L))
      for (i <- 1 to 6) {
        val relax = dag.join(lvl.select(col("node").as("a"), col("l")), "a")
          .groupBy(col("b").as("node")).agg(max(col("l") + 1).as("cand"))
        lvl = lvl.join(relax, Seq("node"), "left")
          .select(col("node"),
            greatest(col("l"), coalesce(col("cand"), lit(0L))).as("l"))
        if (i == 3) lvl = lvl.localCheckpoint()
      }
      lvl.groupBy(col("l").as("layer"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("layer")
    },
      // The same 6 longest-path relaxation rounds as chained CTEs.
      {
      val iters = (1 to 6).map { i =>
        val p = s"l${i - 1}"
        s"""c$i AS MATERIALIZED (SELECT h.b AS node, CAST(MAX($p.l + 1) AS BIGINT) AS cand
           |  FROM h JOIN $p ON $p.node = h.a GROUP BY 1),
           |l$i AS MATERIALIZED (SELECT n.node,
           |    CAST(GREATEST($p.l, COALESCE(c$i.cand, 0)) AS BIGINT) AS l
           |  FROM nodes n JOIN $p ON $p.node = n.node
           |  LEFT JOIN c$i ON c$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |$HeavyWCte,
         |h AS (SELECT a, b FROM hw),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |l0 AS (SELECT node, CAST(0 AS BIGINT) AS l FROM nodes),
         |$iters
         |SELECT l AS layer, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM l6 GROUP BY l ORDER BY layer""".stripMargin
    }),

    // Strongly connected components — the FORWARD-BACKWARD peel (the
    // Coloring/FB-trim building block every distributed SCC engine
    // iterates): the directed graph is the deterministically SPARSIFIED
    // trade graph (w % 7 < 2 keeps ~2/7 of arcs, and since w(u→v) ≠
    // w(v→u) the sparsified graph is genuinely asymmetric), lf = min
    // label over ancestors and lb = min label over descendants by 6
    // synchronous min-label rounds each, and a node is CONFIRMED in the
    // SCC of node m iff lf = lb = m — the pair inequality is exactly the
    // not-yet-peeled frontier a second FB round would recurse into.
    Op("graph_scc", (s, d) => {
      val arcs = tradeEdges(s, d)
        .where(col("src") =!= col("dst") && col("w") % 7 < 2)
        .select("src", "dst").localCheckpoint()
      val rev = arcs.select(col("dst").as("src"), col("src").as("dst"))
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      def minLabel(edges: DataFrame): DataFrame = {
        var lab = nodes.withColumn("l", col("node").cast("long"))
        for (i <- 1 to SccIters) {
          val cand = edges
            .join(lab.select(col("node").as("src"), col("l").as("sl")), "src")
            .groupBy(col("dst").as("node")).agg(min("sl").as("cand"))
          lab = lab.join(cand, Seq("node"), "left")
            .select(col("node"),
              least(col("l"), coalesce(col("cand"), col("l"))).as("l"))
          if (i == 3) lab = lab.localCheckpoint()
        }
        lab
      }
      val lf = minLabel(arcs).withColumnRenamed("l", "lf")
      val lb = minLabel(rev).withColumnRenamed("l", "lb")
      lf.join(lb, "node")
        .withColumn("confirmed", col("lf") === col("lb"))
        .withColumn("scc", expr("CASE WHEN lf = lb THEN lf ELSE CAST(-1 AS BIGINT) END"))
        .select("node", "lf", "lb", "confirmed", "scc")
        .orderBy("node")
    },
      // Same sparsified arcs, same 6 min-label rounds per direction.
      {
      def sweep(p: String, edges: String) = (1 to 6).map { i =>
        val prev = s"$p${i - 1}"
        s"""${p}c$i AS MATERIALIZED (SELECT e.dst AS node, CAST(MIN($prev.l) AS BIGINT) AS cand
           |  FROM $edges e JOIN $prev ON $prev.node = e.src GROUP BY 1),
           |$p$i AS MATERIALIZED (SELECT n.node,
           |    CAST(LEAST($prev.l, COALESCE(${p}c$i.cand, $prev.l)) AS BIGINT) AS l
           |  FROM nodes n JOIN $prev ON $prev.node = n.node
           |  LEFT JOIN ${p}c$i ON ${p}c$i.node = n.node)"""
      }.mkString(",\n")
      s"""WITH $EdgesCte,
         |arcs AS MATERIALIZED (SELECT src, dst FROM edges
         |  WHERE src != dst AND w % 7 < 2),
         |rarcs AS MATERIALIZED (SELECT dst AS src, src AS dst FROM arcs),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |f0 AS (SELECT node, CAST(node AS BIGINT) AS l FROM nodes),
         |${sweep("f", "arcs")},
         |b0 AS (SELECT node, CAST(node AS BIGINT) AS l FROM nodes),
         |${sweep("b", "rarcs")}
         |SELECT f6.node, f6.l AS lf, b6.l AS lb,
         |  f6.l = b6.l AS confirmed,
         |  CASE WHEN f6.l = b6.l THEN f6.l ELSE CAST(-1 AS BIGINT) END AS scc
         |FROM f6 JOIN b6 ON b6.node = f6.node
         |ORDER BY f6.node""".stripMargin
    })
  )

}
