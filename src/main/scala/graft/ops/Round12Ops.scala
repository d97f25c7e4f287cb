package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Round-12 operators. Same small-compilation-unit discipline as
  * Round11Ops (Analytics.scala recompiles cost minutes; this file costs
  * seconds), same paired impl/oracle style, same engine-exactness laws
  * (exact-integer metrics, md5 shared randomness, DECIMAL money).
  */
object Round12Ops extends Family {
  /** Spec channels for the Arrow-batch proof, set by `udf_arrow_batch`
    * on execution: number of Arrow batches seen and total rows across
    * them. rows/batches >> 1 proves whole columnar batches flow through
    * the vectorized path (a per-row path would average 1). */
  @volatile var arrowBatches: org.apache.spark.util.LongAccumulator = _
  @volatile var arrowRows: org.apache.spark.util.LongAccumulator = _

  val ops: Seq[Op] = Seq(
    // Arrow-vectorized batch UDF — the Scala-native `mapInArrow` class of
    // operator: whole Arrow RecordBatches in, whole RecordBatches out,
    // user code touching columnar VECTORS (VarCharVector/BigIntVector),
    // never a row iterator. The compute is a byte-level text profiler
    // (UTF-8 byte length + whitespace-run token count) that reads each
    // document's raw UTF-8 bytes straight out of the VarChar data buffer
    // — zero String allocation, zero row boxing; the shape every
    // vectorized tokenizer/codec over a 100 TB corpus wants. Batch size
    // rides spark.sql.execution.arrow.maxRecordsPerBatch (10k default),
    // so executor memory per task is bounded regardless of corpus size;
    // partitions stream batch-by-batch through constant-size roots.
    Op("udf_arrow_batch", (s, d) => {
      val in = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val inSchema = in.schema
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("n_tokens", LongType),
        StructField("n_bytes", LongType)))
      val tz = s.conf.get("spark.sql.session.timeZone")
      val nBatches = s.sparkContext.longAccumulator("graft_arrow_batches")
      val nRows = s.sparkContext.longAccumulator("graft_arrow_rows")
      arrowBatches = nBatches; arrowRows = nRows
      import org.apache.spark.sql.graftbridge.ArrowBatchBridge
      val outBatches = ArrowBatchBridge.toBatchRdd(in).mapPartitions { batches =>
        if (!batches.hasNext) Iterator.empty
        else {
          val alloc = new org.apache.arrow.memory.RootAllocator()
          val inRoot = org.apache.arrow.vector.VectorSchemaRoot.create(
            ArrowBatchBridge.arrowSchema(inSchema, tz), alloc)
          val outRoot = org.apache.arrow.vector.VectorSchemaRoot.create(
            ArrowBatchBridge.arrowSchema(outSchema, tz), alloc)
          // Direct memory must not outlive the task even when the
          // downstream consumer stops early (limit/take, task failure):
          // a completion listener closes the roots + allocator
          // unconditionally; the iterator's hasNext close below is only
          // the eager fast path for fully-drained partitions.
          var closed = false
          def closeAll(): Unit = if (!closed) {
            closed = true; inRoot.close(); outRoot.close(); alloc.close()
          }
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => closeAll()))
          val out = batches.map { bytes =>
            ArrowBatchBridge.loadBatch(bytes, inRoot, alloc)
            val n = inRoot.getRowCount
            nBatches.add(1L); nRows.add(n.toLong)
            val ids = inRoot.getVector(0).asInstanceOf[org.apache.arrow.vector.BigIntVector]
            val txt = inRoot.getVector(1).asInstanceOf[org.apache.arrow.vector.VarCharVector]
            outRoot.allocateNew()
            val oIds = outRoot.getVector(0).asInstanceOf[org.apache.arrow.vector.BigIntVector]
            val oTok = outRoot.getVector(1).asInstanceOf[org.apache.arrow.vector.BigIntVector]
            val oByt = outRoot.getVector(2).asInstanceOf[org.apache.arrow.vector.BigIntVector]
            var i = 0
            while (i < n) {
              if (ids.isNull(i)) oIds.setNull(i) else oIds.setSafe(i, ids.get(i))
              if (txt.isNull(i)) { oTok.setNull(i); oByt.setNull(i) }
              else {
                // raw UTF-8 bytes, in place: a token is a maximal run of
                // non-ASCII-whitespace bytes (multi-byte code points are
                // all >= 0x80, never mistaken for whitespace)
                val b = txt.get(i)
                var toks = 0L; var inTok = false; var j = 0
                while (j < b.length) {
                  val ws = b(j) == ' ' || b(j) == '\t' || b(j) == '\n' || b(j) == '\r'
                  if (!ws && !inTok) { toks += 1; inTok = true }
                  else if (ws) inTok = false
                  j += 1
                }
                oTok.setSafe(i, toks); oByt.setSafe(i, b.length.toLong)
              }
              i += 1
            }
            outRoot.setRowCount(n)
            ArrowBatchBridge.writeBatch(outRoot)
          }
          new Iterator[Array[Byte]] {
            def hasNext: Boolean = {
              val h = out.hasNext
              if (!h) closeAll()
              h
            }
            def next(): Array[Byte] = out.next()
          }
        }
      }
      ArrowBatchBridge.fromBatchRdd(s, outBatches, outSchema, tz).orderBy("doc_id")
    },
      // Byte-level profile replay: strlen is BYTES in DuckDB; tokens =
      // non-empty pieces after splitting on ASCII-whitespace runs.
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\r]+'),
        |    x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Hive ACID (ORC merge-on-read) — the warehouse sibling of the
    // Iceberg/Delta readers: a transactional table on disk is base files
    // plus insert deltas plus DELETE deltas keyed by synthetic row
    // identity (originalTransaction, bucket, rowId), and a reader must
    // merge them on the fly. The layout is staged once per scale from
    // the orders table with the real ACID directory grammar
    // (base_0000001 / delta_0000002_0000002 / delete_delta_0000003_
    // 0000003) and the real row-id schema; the graded read lists the
    // directory, unions base + insert deltas, and applies the delete
    // delta with a DISTRIBUTED anti-join on the 3-part row id (never a
    // collected delete set — a delete delta at 100 TB can hold 10⁹
    // ids). Oracle replays the delete predicates over the source.
    Op("source_hive_acid_read", (s, d) => {
      val root = Scratch.staged("hive_acid", d)(HiveAcid.stage(s, d))
      val rootP = java.nio.file.Paths.get(root)
      // ---- the reader: directory-grammar listing (driver-side, O(dirs),
      // like any table-format snapshot resolution), then distributed MOR.
      // The native ORC reader recognizes the exact 6-field ACID tuple as
      // a transactional file and remaps pruned reads against the payload
      // struct (AIOOBE / vector-cast crashes — reproduced on a minimal
      // fixture: 6 acid-named cols + struct breaks, 5 cols or renamed
      // cols work). Hive's ORC path reads the same files correctly, so
      // it is pinned for the merge scans and the tiny rollup is
      // checkpointed inside the scope.
      withConfs(s)("spark.sql.orc.impl" -> "hive") {
        val dirs = java.nio.file.Files.list(rootP).iterator().asScala
          .map(_.getFileName.toString).toSeq.sorted
        // ACID snapshot resolution: serve the HIGHEST base and only the
        // deltas committed AFTER it (a compaction writes base_N and the
        // folded-in deltas become invisible — without this watermark a
        // post-compaction read would double-count)
        val baseTxn = dirs.filter(_.startsWith("base_"))
          .map(_.stripPrefix("base_").toLong).max
        def startTxn(n: String) = { val p = n.split("_"); p(p.length - 2).toLong }
        val live = f"base_$baseTxn%07d" +: dirs.filter(n =>
          n.startsWith("delta_") && startTxn(n) > baseTxn)
        val dels = dirs.filter(n =>
          n.startsWith("delete_delta_") && startTxn(n) > baseTxn)
        val rows = live.map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
        val merged =
          if (dels.isEmpty) rows
          else {
            val deleted = dels.map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
              .select("originalTransaction", "bucket", "rowId")
            rows.join(deleted,
              Seq("originalTransaction", "bucket", "rowId"), "left_anti")
          }
        merged
          .select(col("row.o_orderstatus").as("o_orderstatus"),
            col("row.o_totalprice").as("o_totalprice"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .orderBy("o_orderstatus")
          .localCheckpoint() // materialize before the conf is restored
      }
    },
      // Merge-on-read replay: live = inserts of txns 1 (even keys) and 2
      // (odd keys) minus the txn-3 delete set (every 10th key; odd
      // multiples of 7).
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 0
        |       OR (o_orderkey % 2 = 1 AND o_orderkey % 7 = 0))
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // ANN index maintenance lifecycle — completes llm_dedup_incremental's
    // serving story for the IVF side: a PERSISTED index ages as the
    // corpus drifts, and the maintenance job (re-centroid + compact)
    // must restore recall. Deterministic build: corpus = vec_id %5 ≠ 4;
    // drift batch = vec_id %5 = 4 with every coordinate shifted +5000
    // milli-units (a planted embedding-space drift — the incoming query
    // load now lives where the index has no vectors). Phase 'stale':
    // the index built BEFORE the drift landed (√n md5-sampled member
    // centroids over the corpus, nearest-centroid assignment by exact
    // integer dot product, corpus rows only in the files) is asked
    // about the drift probes — 2-probe cell search, top-3 by exact dot.
    // Every true neighbor is an unindexed drift vector, so recall@3 is
    // 0: the crisp signature of a stale serving index. Phase
    // 'refreshed': the maintenance pass re-samples centroids over
    // corpus ∪ drift, re-assigns EVERYTHING, compacts the index
    // parquet, and re-answers — recall recovers to ≥95%. Graded:
    // per-phase centroid count and recall@3 vs brute-force truth in
    // exact ppm; Round12WaveSpec asserts the recovery. All arithmetic
    // is exact integers on floor(x·10⁴), so DuckDB replays bit-for-bit;
    // the assignment join is Θ(n·√n) at every scale (the IVF law from
    // llm_ann_ivf_pq).
    Op("llm_ann_index_maintain", (s, d) => {
      // Coordinates stay ARRAYS end to end: every dot product runs
      // scan-side against a BROADCAST centroid table — the first cut
      // shuffled n·√n·64 rows per phase and cost 28 calib-units. The
      // arithmetic itself is the native codegen'd graft_ldot expression
      // (round-15: the earlier aggregate/zip_with HOF fold evaluates
      // INTERPRETED per element and was ~4 s of this op's 6 s at sf0.1;
      // LongDotProduct computes the identical exact BIGINT Σ a(i)·b(i)
      // inside whole-stage codegen).
      def dot(a: String, b: String) = s"graft_ldot($a, $b)"
      val vecs = Tables.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
          .as("xs"))
      val corpus = vecs.where(col("vec_id") % 5 =!= 4)
      val drift = vecs.where(col("vec_id") % 5 === 4)
        .withColumn("xs", expr("transform(xs, x -> x + 5000)"))
      val union = corpus.unionByName(drift).localCheckpoint()
      // ONE pass for both sizes (round-15 job-count trim: two .count()
      // actions were two full scans of the checkpointed union)
      val sizes = union.agg(count(lit(1)).as("t"),
        sum(when(col("vec_id") % 5 =!= 4, 1L).otherwise(0L)).as("c")).head()
      val nTotal = sizes.getLong(0)
      val nCorpus = sizes.getLong(1)
      def centroidsOf(vs: DataFrame, mod: Long) = vs.where(
        expr(s"${md5Bits("CAST(vec_id AS STRING)", 8)} % $mod = 0"))
        .select(col("vec_id").as("cid"), col("xs").as("cs"))
      // FIXED-k probe sample (round-13 scale fix): the recall-truth sweep
      // below is |union| × |probes|; the old vec_id%25 rule grew the probe
      // set with n, making the sweep O(n²/25) — the md5-ranked top-200
      // keeps it O(n·k) at every scale. TakeOrdered(200) is a linear scan
      // with a constant-size heap per partition; mirrored verbatim in
      // AnnMaintainOracle (ORDER BY md5('probe:'||vec_id), vec_id LIMIT 200).
      val probes = drift
        .orderBy(md5(concat(lit("probe:"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(200)
        .select(col("vec_id").as("probe_id"), col("xs").as("ps"))
        .localCheckpoint()
      // brute-force truth is index-independent; one broadcast sweep
      val wT = Window.partitionBy("probe_id").orderBy(desc("qdot"), col("vec_id"))
      val truth = union.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), expr(dot("ps", "xs")).as("qdot"))
        .withColumn("rk", row_number().over(wT)).where(col("rk") <= 3)
        .select(col("probe_id"), col("vec_id"))
        .localCheckpoint()
      def phase(name: String, cent0: DataFrame, indexed: DataFrame,
          idxDir: String): DataFrame = {
        // no localCheckpoint: cent0 is one md5 filter over the already-
        // checkpointed union — recomputing it inside each broadcast is
        // cheaper than the extra materialization job (round-15 trim)
        val cent = broadcast(cent0)
        // the persisted index: (vec_id, cluster) over the vectors that
        // EXISTED at build time — written, then read back (the
        // lifecycle under grade is the FILES, not the lineage). The
        // argmax is a MAP-SIDE max_by on the (dot, −cid) order (ties to
        // the LOWEST cid, same total order as the oracle's row_number)
        // — no window sort of the n·√n score table.
        indexed.crossJoin(cent)
          .select(col("vec_id"), col("cid"), expr(dot("xs", "cs")).as("dot"))
          .groupBy("vec_id")
          .agg(max_by(col("cid"), struct(col("dot"), -col("cid"))).as("cluster"))
          .write.mode("overwrite").parquet(idxDir)
        val assigned = s.read.parquet(idxDir)
        val wP = Window.partitionBy("probe_id").orderBy(desc("dot"), col("cid"))
        val cells = probes.crossJoin(cent)
          .select(col("probe_id"), col("cid"), expr(dot("ps", "cs")).as("dot"))
          .withColumn("rn", row_number().over(wP)).where(col("rn") <= 2)
          .select(col("probe_id"), col("cid").as("cluster"))
        val approx = cells.join(assigned, Seq("cluster"))
          .where(col("vec_id") =!= col("probe_id"))
          .select("probe_id", "vec_id").distinct()
          .join(broadcast(probes), "probe_id")
          .join(union, "vec_id")
          .select(col("probe_id"), col("vec_id"), expr(dot("ps", "xs")).as("qdot"))
          .withColumn("rk", row_number().over(wT)).where(col("rk") <= 3)
          .select(col("probe_id"), col("vec_id"))
        approx.join(truth, Seq("probe_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
          .crossJoin(broadcast(
            cent.select("cid").distinct().agg(count(lit(1)).as("n_centroids"))))
          .select(lit(name).as("phase"), col("n_centroids"),
            col("n_truth"), col("hits"),
            expr("(hits * 1000000) DIV n_truth").as("recall_ppm"))
      }
      val modStale = math.max(1L, math.sqrt(nCorpus.toDouble).toLong)
      val modFresh = math.max(1L, math.sqrt(nTotal.toDouble).toLong)
      val stale = phase("stale", centroidsOf(corpus, modStale), corpus,
        Scratch.opDir("ann_idx_stale", d))
      val fresh = phase("refreshed", centroidsOf(union, modFresh), union,
        Scratch.opDir("ann_idx_fresh", d))
      stale.unionByName(fresh).orderBy("phase")
    },
      // Full lifecycle replay in SQL: same md5 centroid sampling, same
      // exact-integer dots, same 2-probe/top-3 search, both phases.
      AnnMaintainOracle.sql),

    // Two-sample Kolmogorov–Smirnov — the distribution-shift test a
    // data-drift monitor runs between cohorts: cohorts = orderkey
    // parity over exact price cents, ECDFs compared at every distinct
    // value via one cumulative window (D as an exact cross-multiplied
    // integer: max |c0·n1 − c1·n0|), and the α=0.05 verdict by squaring
    // the critical band — D² · 10⁶ > 1.358² · (n0+n1) · n0·n1 — in
    // DECIMAL(38,0) (D_num² alone overflows int64 at sf0.1). One value
    // rollup + one ordered window; no pairwise work at any scale.
    Op("agg_ks_test", (s, d) => {
      val t = Tables.orders(s, d).select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"),
        (col("o_orderkey") % 2).cast("int").as("grp"))
      val byVal = t.groupBy("cents").agg(
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("d0"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("d1"))
        .withColumn("bkt", expr("cents DIV 10000000"))
      // the global cumulative is TWO-LEVEL so no single task ever sorts
      // the whole value domain: a bounded $100k-band prefix (≤ a few
      // hundred bands at any sf — the only serial window) plus a
      // per-band partitioned cumsum; c = band offset + within-band.
      val wBand = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val bandPrefix = byVal.groupBy("bkt")
        .agg(sum("d0").as("b0"), sum("d1").as("b1"))
        .withColumn("off0", coalesce(sum("b0").over(wBand), lit(0L)))
        .withColumn("off1", coalesce(sum("b1").over(wBand), lit(0L)))
        .select("bkt", "off0", "off1")
      val wIn = Window.partitionBy("bkt").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byVal
        .withColumn("i0", sum("d0").over(wIn))
        .withColumn("i1", sum("d1").over(wIn))
        .join(broadcast(bandPrefix), "bkt")
        .select((col("off0") + col("i0")).as("c0"), (col("off1") + col("i1")).as("c1"))
        .crossJoin(broadcast(t.groupBy().agg(
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"))))
        .select(col("n0"), col("n1"),
          abs(col("c0") * col("n1") - col("c1") * col("n0")).as("gap"))
        .groupBy("n0", "n1").agg(max("gap").as("d_num"))
        .select(col("n0"), col("n1"), col("d_num"),
          expr("(d_num * 1000) DIV (n0 * n1)").as("d_milli"),
          expr("""CAST(d_num AS DECIMAL(38,0)) * d_num * 1000000
                 | > CAST(1844164 AS DECIMAL(38,0)) * (n0 + n1) * n0 * n1""".stripMargin)
            .as("reject_95"))
    },
      // Same distinct-value ECDF walk; the verdict compare is HUGEINT in
      // DuckDB (its native wide integer) against Spark's DECIMAL(38,0).
      """WITH t AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents,
        |    CAST(o_orderkey % 2 AS INT) AS grp FROM orders),
        |v AS (SELECT cents,
        |    SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS d0,
        |    SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS d1
        |  FROM t GROUP BY cents),
        |c AS (SELECT cents,
        |    SUM(d0) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c0,
        |    SUM(d1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c1
        |  FROM v),
        |n AS (SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
        |    SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1 FROM t)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |  CAST(MAX(ABS(c0 * n1 - c1 * n0)) AS BIGINT) AS d_num,
        |  CAST(MAX(ABS(c0 * n1 - c1 * n0)) * 1000 // (n0 * n1) AS BIGINT) AS d_milli,
        |  (CAST(MAX(ABS(c0 * n1 - c1 * n0)) AS HUGEINT)
        |     * MAX(ABS(c0 * n1 - c1 * n0)) * 1000000
        |   > CAST(1844164 AS HUGEINT) * (n0 + n1) * n0 * n1) AS reject_95
        |FROM c, n GROUP BY n0, n1""".stripMargin),

    // Cliff's delta — the nonparametric effect size beside the
    // mann-whitney TEST (significance says "different"; delta says "by
    // how much"): δ = (#(a>b) − #(a<b)) / (n_a·n_b) between view and
    // purchase event values, computed WITHOUT the pairwise product —
    // one distinct-value rollup, one cumulative window, #(a>b) =
    // Σ nA(v)·cumB(<v). Exact sign-safe milli; Romano's magnitude bands
    // as integer literals (|δ| < 147 negligible, < 330 small, < 474
    // medium, else large).
    Op("agg_cliffs_delta", (s, d) => {
      val t = Tables.events(s, d)
        .where(col("event_type").isin("view", "purchase"))
        .select(expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
      val byVal = t.groupBy("cents").agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("na"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("nb"))
        .withColumn("bkt", expr("cents DIV 100"))
      // two-level cumulative (the agg_ks_test law): bounded per-dollar
      // band prefix + partitioned within-band window; above = total −
      // below − ties
      val wBand = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val bandPrefix = byVal.groupBy("bkt").agg(sum("nb").as("bb"))
        .withColumn("off_b", coalesce(sum("bb").over(wBand), lit(0L)))
        .select("bkt", "off_b")
      val wIn = Window.partitionBy("bkt").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      byVal
        .withColumn("in_b", coalesce(sum("nb").over(wIn), lit(0L)))
        .join(broadcast(bandPrefix), "bkt")
        .withColumn("b_below", col("off_b") + col("in_b"))
        .crossJoin(broadcast(t.where(col("event_type") === "purchase")
          .agg(count(lit(1)).as("nb_total"))))
        .withColumn("b_above", col("nb_total") - col("b_below") - col("nb"))
        .groupBy()
        .agg(sum("na").as("n_a"), sum("nb").as("n_b"),
          sum(col("na") * col("b_below")).as("gt"),
          sum(col("na") * col("b_above")).as("lt"))
        .select(col("n_a"), col("n_b"), col("gt"), col("lt"),
          expr("""CAST(IF(gt >= lt, (gt - lt) * 1000 DIV (n_a * n_b),
                 |  -((lt - gt) * 1000 DIV (n_a * n_b))) AS BIGINT)""".stripMargin)
            .as("delta_milli"))
        .withColumn("magnitude", expr(
          """CASE WHEN abs(delta_milli) < 147 THEN 'negligible'
            |     WHEN abs(delta_milli) < 330 THEN 'small'
            |     WHEN abs(delta_milli) < 474 THEN 'medium'
            |     ELSE 'large' END""".stripMargin))
    },
      // Same rollup-plus-cumulative construction; sign-safe magnitude DIV.
      """WITH t AS (SELECT CAST(FLOOR(value * 100) AS BIGINT) AS cents, event_type
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |v AS (SELECT cents,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
        |  FROM t GROUP BY cents),
        |c AS (SELECT cents, na, nb,
        |    COALESCE(SUM(nb) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b_below,
        |    COALESCE(SUM(nb) OVER (ORDER BY cents
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS b_above
        |  FROM v),
        |a AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
        |    CAST(SUM(na * b_below) AS BIGINT) AS gt,
        |    CAST(SUM(na * b_above) AS BIGINT) AS lt FROM c),
        |dm AS (SELECT n_a, n_b, gt, lt,
        |    CAST(CASE WHEN gt >= lt THEN (gt - lt) * 1000 // (n_a * n_b)
        |         ELSE -((lt - gt) * 1000 // (n_a * n_b)) END AS BIGINT) AS delta_milli
        |  FROM a)
        |SELECT n_a, n_b, gt, lt, delta_milli,
        |  CASE WHEN ABS(delta_milli) < 147 THEN 'negligible'
        |       WHEN ABS(delta_milli) < 330 THEN 'small'
        |       WHEN ABS(delta_milli) < 474 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM dm""".stripMargin),

    // Eval-set decontamination — the n-gram overlap screen every
    // training-corpus release runs against its benchmark suite (a train
    // doc sharing an 8-gram with an eval doc leaks the benchmark). The
    // benchmark is BUILT the way real leaks happen: eval slot = doc_id
    // ≡ 7 (mod 31); half the slots (≡ 7 mod 62, when the neighbor is
    // long enough) carry a 20-token EXCERPT of the train doc beside
    // them, the rest carry clean text. The screen itself never sees the
    // construction: 8-token shingles md5-hashed on both sides, overlap
    // by ONE hash-equijoin (distinct grams per doc — never doc-
    // pairwise), contaminated = any shared gram; headline in exact ppm
    // over the train count. The planted excerpts are exactly what it
    // must recover.
    Op("llm_decontam_ngram", (s, d) => {
      val base = Tables.documents(s, d)
      val evalDocs = base.where(col("doc_id") % 31 === 7)
        .join(base.select((col("doc_id") + 1).as("doc_id"),
          split(col("text"), " ").as("prev_t")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("""IF(doc_id % 62 = 7 AND prev_t IS NOT NULL AND size(prev_t) >= 24,
                 |   concat_ws(' ', slice(prev_t, 5, 20)), text)""".stripMargin)
            .as("text"))
      def gramsOf(docs: DataFrame, idCol: String) = docs
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .where(size(col("t")) > 7)
        .select(col("doc_id").as(idCol), explode(array_distinct(expr(
          """transform(sequence(0, size(t) - 8),
            |  i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
            |                          t[i+4], t[i+5], t[i+6], t[i+7])))""".stripMargin)))
          .as("g"))
      val trainDocs = base.where(col("doc_id") % 31 =!= 7).select("doc_id", "text")
      val hits = gramsOf(trainDocs, "train_id")
        .join(gramsOf(evalDocs, "eval_id"), "g")
        .groupBy("train_id")
        .agg(count(lit(1)).as("shared_grams"))
      val nTrain = broadcast(trainDocs.agg(count(lit(1)).as("n_train")))
      val nEval = broadcast(evalDocs.agg(count(lit(1)).as("n_eval")))
      hits.agg(count(lit(1)).as("n_contaminated"),
          coalesce(sum("shared_grams"), lit(0L)).as("shared_gram_pairs"))
        .crossJoin(nTrain).crossJoin(nEval)
        .select(col("n_train"), col("n_eval"), col("n_contaminated"),
          col("shared_gram_pairs"),
          expr("(n_contaminated * 1000000) DIV n_train").as("contam_ppm"))
    },
      // Same excerpt plant (eval slots ≡7 mod 62 carry tokens 5..24 of
      // the neighbor), same 8-token md5 shingles, same hash equijoin.
      """WITH evd AS (
        |  SELECT e.doc_id,
        |    CASE WHEN e.doc_id % 62 = 7 AND p.text IS NOT NULL
        |              AND len(string_split(p.text, ' ')) >= 24
        |         THEN array_to_string(string_split(p.text, ' ')[5:24], ' ')
        |         ELSE e.text END AS text
        |  FROM documents e LEFT JOIN documents p ON p.doc_id = e.doc_id - 1
        |  WHERE e.doc_id % 31 = 7),
        |trd AS (SELECT doc_id, text FROM documents WHERE doc_id % 31 <> 7),
        |sht AS (SELECT doc_id AS train_id, unnest(list_distinct(list_transform(
        |         generate_series(1, len(string_split(text, ' ')) - 7),
        |         i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' '))))) AS g
        |       FROM trd WHERE len(string_split(text, ' ')) > 7),
        |she AS (SELECT doc_id AS eval_id, unnest(list_distinct(list_transform(
        |         generate_series(1, len(string_split(text, ' ')) - 7),
        |         i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' '))))) AS g
        |       FROM evd WHERE len(string_split(text, ' ')) > 7),
        |hits AS (SELECT train_id, COUNT(*) AS shared_grams
        |  FROM sht JOIN she USING (g) GROUP BY train_id),
        |agg AS (SELECT COUNT(*) AS n_c, COALESCE(SUM(shared_grams), 0) AS sgp FROM hits),
        |nt AS (SELECT COUNT(*) AS n_train FROM trd),
        |ne AS (SELECT COUNT(*) AS n_eval FROM evd)
        |SELECT CAST(n_train AS BIGINT) AS n_train, CAST(n_eval AS BIGINT) AS n_eval,
        |  CAST(n_c AS BIGINT) AS n_contaminated,
        |  CAST(sgp AS BIGINT) AS shared_gram_pairs,
        |  CAST((n_c * 1000000) // n_train AS BIGINT) AS contam_ppm
        |FROM agg, nt, ne""".stripMargin),

    // Arc price elasticity of demand per brand — the pricing-analytics
    // classic, midpoint form, between the 1995–1998-05 and post-1998-06
    // halves of the ship axis: e = (q2−q1)(p1+p2) / ((q1+q2)(p2−p1))
    // with p = cents/qty CROSS-MULTIPLIED AWAY — the whole quotient
    // collapses to (Δq·(c1·q2 + c2·q1)) / (Σq·(c2·q1 − c1·q2)), exact
    // integers end to end (DECIMAL(38,0): cents·qty² passes int64),
    // sign-safe milli DIV (magnitude then negate). Inelastic-band
    // verdict |e| < 1000 milli. One fact rollup per (brand, half).
    Op("agg_arc_elasticity", (s, d) => {
      val t = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          when(col("l_shipdate") < lit("1998-06-01").cast("date"), 1)
            .otherwise(2).as("half"),
          col("l_quantity").cast("bigint").as("q"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("c"))
      val agg = t.groupBy("p_brand", "half")
        .agg(sum("q").as("q"), sum("c").as("c"))
      val h1 = agg.where(col("half") === 1)
        .select(col("p_brand"), col("q").as("q1"), col("c").as("c1"))
      val h2 = agg.where(col("half") === 2)
        .select(col("p_brand"), col("q").as("q2"), col("c").as("c2"))
      h1.join(h2, "p_brand")
        .select(col("p_brand"), col("q1"), col("q2"),
          expr("CAST(c1 AS DECIMAL(38,0)) * q2 + CAST(c2 AS DECIMAL(38,0)) * q1")
            .as("p_sum_num"),
          expr("CAST(c2 AS DECIMAL(38,0)) * q1 - CAST(c1 AS DECIMAL(38,0)) * q2")
            .as("p_diff_num"))
        .where(col("p_diff_num") =!= 0)
        .select(col("p_brand"), col("q1"), col("q2"),
          expr("""CAST(IF((q2 - q1) * p_sum_num >= 0,
                 |        abs((q2 - q1) * p_sum_num) * 1000 DIV abs((q1 + q2) * p_diff_num),
                 |       -(abs((q2 - q1) * p_sum_num) * 1000 DIV abs((q1 + q2) * p_diff_num)))
                 |  * IF(p_diff_num < 0, -1, 1) AS BIGINT)""".stripMargin)
            .as("elasticity_milli"))
        .withColumn("inelastic", abs(col("elasticity_milli")) < 1000L)
        .orderBy("p_brand")
    },
      // Same cross-multiplied midpoint form in HUGEINT.
      """WITH t AS (
        |  SELECT p_brand,
        |    CASE WHEN l_shipdate < DATE '1998-06-01' THEN 1 ELSE 2 END AS half,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (SELECT p_brand, half, CAST(SUM(q) AS BIGINT) AS q,
        |    CAST(SUM(c) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        |j AS (SELECT h1.p_brand, h1.q AS q1, h2.q AS q2,
        |    CAST(h1.c AS HUGEINT) * h2.q + CAST(h2.c AS HUGEINT) * h1.q AS p_sum_num,
        |    CAST(h2.c AS HUGEINT) * h1.q - CAST(h1.c AS HUGEINT) * h2.q AS p_diff_num
        |  FROM a h1 JOIN a h2 ON h1.p_brand = h2.p_brand
        |  WHERE h1.half = 1 AND h2.half = 2)
        |SELECT p_brand, q1, q2,
        |  CAST((CASE WHEN (q2 - q1) * p_sum_num >= 0
        |        THEN ABS((q2 - q1) * p_sum_num) * 1000 // ABS((q1 + q2) * p_diff_num)
        |        ELSE -(ABS((q2 - q1) * p_sum_num) * 1000 // ABS((q1 + q2) * p_diff_num)) END)
        |    * (CASE WHEN p_diff_num < 0 THEN -1 ELSE 1 END) AS BIGINT) AS elasticity_milli,
        |  ABS(CAST((CASE WHEN (q2 - q1) * p_sum_num >= 0
        |        THEN ABS((q2 - q1) * p_sum_num) * 1000 // ABS((q1 + q2) * p_diff_num)
        |        ELSE -(ABS((q2 - q1) * p_sum_num) * 1000 // ABS((q1 + q2) * p_diff_num)) END)
        |    * (CASE WHEN p_diff_num < 0 THEN -1 ELSE 1 END) AS BIGINT)) < 1000 AS inelastic
        |FROM j WHERE p_diff_num <> 0 ORDER BY p_brand""".stripMargin),

    // Vortex indicator — the trend-reversal oscillator beside win_atr
    // (same daily OHLC synthesis law: exact cents, per event type):
    // VM+ = |high_t − low_{t−1}|, VM− = |low_t − high_{t−1}|, true
    // range = max(high−low, |high−prev_close|, |low−prev_close|), all
    // summed over a trailing 14-day frame, VI± in exact milli DIVs.
    // Crossover signal VI+ > VI−. Two lag columns + three frame sums
    // over one (type, day) exchange; days are bounded, types parallel.
    Op("win_vortex", (s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type"), expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"),
          col("ts_us"), col("event_id"))
        .groupBy("event_type", "day")
        .agg(max("cents").as("high"), min("cents").as("low"),
          // composite scalar ordering key (µs·10⁶ + id, wide decimal —
          // DuckDB's max_by cannot order by a struct): event_id stays
          // far below 10⁶ at every graded sf
          max_by(col("cents"),
            expr("CAST(ts_us AS DECIMAL(38,0)) * 1000000 + event_id")).as("close"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val frame = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-13, Window.currentRow)
      val withLag = daily
        .withColumn("prev_low", lag("low", 1).over(w))
        .withColumn("prev_high", lag("high", 1).over(w))
        .withColumn("prev_close", lag("close", 1).over(w))
        .where(col("prev_low").isNotNull)
        .withColumn("vm_plus", abs(col("high") - col("prev_low")))
        .withColumn("vm_minus", abs(col("low") - col("prev_high")))
        .withColumn("tr", greatest(col("high") - col("low"),
          abs(col("high") - col("prev_close")),
          abs(col("low") - col("prev_close"))))
      withLag
        .withColumn("rn", row_number().over(w))
        .withColumn("svp", sum("vm_plus").over(frame))
        .withColumn("svm", sum("vm_minus").over(frame))
        .withColumn("str", sum("tr").over(frame))
        .where(col("rn") >= 14 && col("str") > 0)
        .select(col("event_type"), col("day"),
          expr("(svp * 1000) DIV str").as("vi_plus_milli"),
          expr("(svm * 1000) DIV str").as("vi_minus_milli"))
        .withColumn("uptrend", col("vi_plus_milli") > col("vi_minus_milli"))
        .where(col("day") % 5 === 0)
        .orderBy("event_type", "day")
    },
      // Same OHLC synthesis (close = value at the max composite
      // µs·10⁶+id key), same 14-frame sums and milli DIVs.
      """WITH e AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |daily AS (SELECT event_type, day, MAX(cents) AS high, MIN(cents) AS low,
        |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS close
        |  FROM e GROUP BY 1, 2),
        |lagd AS (SELECT event_type, day, high, low, close,
        |    LAG(low) OVER w AS prev_low, LAG(high) OVER w AS prev_high,
        |    LAG(close) OVER w AS prev_close
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |vm AS (SELECT event_type, day,
        |    ABS(high - prev_low) AS vm_plus, ABS(low - prev_high) AS vm_minus,
        |    GREATEST(high - low, ABS(high - prev_close), ABS(low - prev_close)) AS tr
        |  FROM lagd WHERE prev_low IS NOT NULL),
        |fr AS (SELECT event_type, day,
        |    ROW_NUMBER() OVER w AS rn,
        |    SUM(vm_plus) OVER f AS svp, SUM(vm_minus) OVER f AS svm,
        |    SUM(tr) OVER f AS str
        |  FROM vm WINDOW
        |    w AS (PARTITION BY event_type ORDER BY day),
        |    f AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  CAST((svp * 1000) // str AS BIGINT) AS vi_plus_milli,
        |  CAST((svm * 1000) // str AS BIGINT) AS vi_minus_milli,
        |  (svp * 1000) // str > (svm * 1000) // str AS uptrend
        |FROM fr WHERE rn >= 14 AND str > 0 AND day % 5 = 0
        |ORDER BY event_type, day""".stripMargin),

    // Mood's median test — "do the k groups share a median?" without any
    // normality assumption: the grand LOWER median of exact cents found
    // by the two-level cumulative (never a quantile sketch — the test
    // needs the exact split point), per-priority above/≤ counts, and the
    // χ² compare against the df=4 critical value with every quotient
    // DECLARED: term_g = (a_g·N − n_g·A)² DIV n_g (truncation identical
    // in both engines), reject iff Σterm > (9488·A·B) DIV 1000.
    Op("agg_mood_median", (s, d) => {
      val t = Tables.orders(s, d).select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"),
        col("o_orderpriority").as("grp"))
      val byVal = t.groupBy("cents").agg(count(lit(1)).as("n"))
        .withColumn("bkt", expr("cents DIV 10000000"))
      val wBand = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val bandPrefix = byVal.groupBy("bkt").agg(sum("n").as("bn"))
        .withColumn("off", coalesce(sum("bn").over(wBand), lit(0L)))
        .select("bkt", "off")
      val wIn = Window.partitionBy("bkt").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = byVal
        .withColumn("cum", sum("n").over(wIn))
        .join(broadcast(bandPrefix), "bkt")
        .crossJoin(broadcast(t.agg(count(lit(1)).as("nn"))))
        .where(col("off") + col("cum") >= expr("(nn + 1) DIV 2"))
        .agg(min("cents").as("median_cents"))
      val counts = t.crossJoin(broadcast(med))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_g"),
          sum(when(col("cents") > col("median_cents"), 1L).otherwise(0L)).as("a_g"))
      counts
        .crossJoin(broadcast(counts.agg(sum("n_g").as("nn"), sum("a_g").as("aa"))))
        .select(col("grp"), col("n_g"), col("a_g"), col("nn"), col("aa"),
          expr("""CAST((CAST(a_g AS DECIMAL(38,0)) * nn - CAST(n_g AS DECIMAL(38,0)) * aa)
                 | * (CAST(a_g AS DECIMAL(38,0)) * nn - CAST(n_g AS DECIMAL(38,0)) * aa)
                 | DIV n_g AS DECIMAL(38,0))""".stripMargin).as("term"))
        .groupBy("nn", "aa")
        .agg(count(lit(1)).as("k_groups"), sum("term").as("stat_num"))
        .select(col("k_groups"), col("nn").as("n_total"), col("aa").as("n_above"),
          // each term is ≤ (a·N − n·A)²/n ~ 1e12 and k ≤ 5 — the sum
          // fits a BIGINT with room (the intermediates needed 38,0)
          col("stat_num").cast("bigint").as("stat_num"),
          // χ² = Σterm / (A·B); reject at df=4, α=.05 iff Σterm·1000 >
          // 9488·A·B (9.488 as an exact integer literal)
          expr("CAST(stat_num AS DECIMAL(38,0)) * 1000 > CAST(9488 AS DECIMAL(38,0)) * aa * (nn - aa)")
            .as("reject_95"))
    },
      // Same exact-median split, same declared per-term truncation.
      """WITH t AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents,
        |    o_orderpriority AS grp FROM orders),
        |v AS (SELECT cents, COUNT(*) AS n FROM t GROUP BY cents),
        |c AS (SELECT cents, SUM(n) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum FROM v),
        |nn0 AS (SELECT COUNT(*) AS nn FROM t),
        |med AS (SELECT MIN(cents) AS median_cents FROM c, nn0 WHERE cum >= (nn + 1) // 2),
        |cnt AS (SELECT grp, COUNT(*) AS n_g,
        |    SUM(CASE WHEN cents > median_cents THEN 1 ELSE 0 END) AS a_g
        |  FROM t, med GROUP BY grp),
        |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS nn, CAST(SUM(a_g) AS BIGINT) AS aa FROM cnt),
        |terms AS (SELECT
        |    (CAST(a_g AS HUGEINT) * nn - CAST(n_g AS HUGEINT) * aa)
        |      * (CAST(a_g AS HUGEINT) * nn - CAST(n_g AS HUGEINT) * aa) // n_g AS term,
        |    nn, aa
        |  FROM cnt, tot)
        |SELECT CAST(COUNT(*) AS BIGINT) AS k_groups, nn AS n_total, aa AS n_above,
        |  CAST(SUM(term) AS BIGINT) AS stat_num,
        |  CAST(SUM(term) AS HUGEINT) * 1000 > CAST(9488 AS HUGEINT) * aa * (nn - aa) AS reject_95
        |FROM terms GROUP BY nn, aa""".stripMargin),

    // Mann–Kendall trend test + Sen slope — the nonparametric trend pair
    // every monitoring stack wants on a daily KPI: S = Σ sign pairs over
    // the BOUNDED day axis (a self-join on O(days)² pairs — days are a
    // calendar, not data), tie-corrected variance as exact integers,
    // |S|−1 squared against 1.96²·Var cross-multiplied, and Sen slope =
    // lower-median of per-pair micro-slopes (each pair's Δcents·10⁶ DIV
    // Δday — a DECLARED truncation, identical in both engines).
    Op("agg_mann_kendall", (s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
        .groupBy("event_type", "day").agg(sum("cents").as("v"))
        .localCheckpoint()
      val pairs = daily.as("x").join(daily.as("y"),
          col("x.event_type") === col("y.event_type") && col("x.day") < col("y.day"))
        .select(col("x.event_type").as("event_type"),
          (col("y.day") - col("x.day")).as("dd"),
          (col("y.v") - col("x.v")).as("dv"))
      val sVar = pairs.groupBy("event_type")
        .agg(sum(signum(col("dv")).cast("bigint")).as("s_stat"))
        .join(daily.groupBy("event_type").agg(count(lit(1)).as("n")), "event_type")
        .join(daily.groupBy("event_type", "v").agg(count(lit(1)).as("t"))
          .groupBy("event_type")
          .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_num")), "event_type")
        .withColumn("var_num", expr("n * (n - 1) * (2 * n + 5) - tie_num"))
      val wSen = Window.partitionBy("event_type")
        .orderBy("slope_micro", "dd", "dv")
      val sen = pairs
        .withColumn("slope_micro", expr(
          "CAST(IF(dv >= 0, (dv * 1000000) DIV dd, -((-dv * 1000000) DIV dd)) AS BIGINT)"))
        .withColumn("rn", row_number().over(wSen))
        .join(broadcast(pairs.groupBy("event_type").agg(count(lit(1)).as("np"))),
          "event_type")
        .where(col("rn") === expr("(np + 1) DIV 2"))
        .select(col("event_type"), col("slope_micro").as("sen_slope_micro"))
      sVar.join(sen, "event_type")
        .select(col("event_type"), col("n").as("n_days"), col("s_stat"),
          col("var_num"), col("sen_slope_micro"),
          expr("""CASE WHEN s_stat > 0 AND (s_stat - 1) * (s_stat - 1) * 18 * 10000
                 |       > 38416 * var_num THEN 'increasing'
                 |     WHEN s_stat < 0 AND (s_stat + 1) * (s_stat + 1) * 18 * 10000
                 |       > 38416 * var_num THEN 'decreasing'
                 |     ELSE 'none' END""".stripMargin).as("trend"))
        .orderBy("event_type")
    },
      // Same bounded-day pair sweep, tie-corrected variance, squared
      // z-compare, and lower-median Sen slope with the declared per-pair
      // micro truncation.
      """WITH e AS (SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |daily AS (SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS v
        |  FROM e GROUP BY 1, 2),
        |pairs AS (SELECT x.event_type, y.day - x.day AS dd, y.v - x.v AS dv
        |  FROM daily x JOIN daily y
        |    ON x.event_type = y.event_type AND x.day < y.day),
        |sv AS (SELECT event_type, CAST(SUM(SIGN(dv)) AS BIGINT) AS s_stat
        |  FROM pairs GROUP BY 1),
        |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1),
        |ties AS (SELECT event_type,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num
        |  FROM (SELECT event_type, v, COUNT(*) AS t FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |sl AS (SELECT event_type,
        |    CASE WHEN dv >= 0 THEN (dv * 1000000) // dd
        |         ELSE -((-dv * 1000000) // dd) END AS slope_micro, dd, dv
        |  FROM pairs),
        |sen AS (SELECT event_type, slope_micro AS sen_slope_micro FROM (
        |    SELECT event_type, slope_micro,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY slope_micro, dd, dv) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS np
        |    FROM sl) WHERE rn = (np + 1) // 2)
        |SELECT nd.event_type, n AS n_days, s_stat,
        |  n * (n - 1) * (2 * n + 5) - tie_num AS var_num, sen_slope_micro,
        |  CASE WHEN s_stat > 0 AND (s_stat - 1) * (s_stat - 1) * 18 * 10000
        |         > 38416 * (n * (n - 1) * (2 * n + 5) - tie_num) THEN 'increasing'
        |       WHEN s_stat < 0 AND (s_stat + 1) * (s_stat + 1) * 18 * 10000
        |         > 38416 * (n * (n - 1) * (2 * n + 5) - tie_num) THEN 'decreasing'
        |       ELSE 'none' END AS trend
        |FROM nd JOIN sv USING (event_type) JOIN ties USING (event_type)
        |  JOIN sen USING (event_type)
        |ORDER BY event_type""".stripMargin),

    // Somers' D — the ASYMMETRIC ordinal association (Kendall τ's
    // directional sibling; the standard effect size for "does priority
    // band predict spend?"): the 1-in-100 order sample (the
    // agg_kendall_tau sampling law — pairwise on a sample, never the
    // corpus), X = priority digit, Y = exact cents; D_y|x = (C−D)/(n0 −
    // ties_x) and D_x|y = (C−D)/(n0 − ties_y), both sign-safe exact
    // milli.
    Op("agg_somers_d", (s, d) => {
      val t = Tables.orders(s, d).where(col("o_orderkey") % 100 === 7)
        .select(col("o_orderkey").as("k"),
          substring(col("o_orderpriority"), 1, 1).cast("bigint").as("x"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("y"))
      val a = t.select(col("k").as("ka"), col("x").as("xa"), col("y").as("ya"))
      val b = t.select(col("k").as("kb"), col("x").as("xb"), col("y").as("yb"))
      a.join(b, col("ka") < col("kb"))
        .agg(count(lit(1)).as("n0"),
          sum(when((col("xa") - col("xb")) * (col("ya") - col("yb")) > 0, 1L)
            .otherwise(0L)).as("nc"),
          sum(when((col("xa") - col("xb")) * (col("ya") - col("yb")) < 0, 1L)
            .otherwise(0L)).as("nd"),
          sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
          sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"))
        .select(col("n0"), col("nc"), col("nd"), col("tx"), col("ty"),
          expr("""CAST(IF(nc >= nd, ((nc - nd) * 1000) DIV (n0 - tx),
                 |  -(((nd - nc) * 1000) DIV (n0 - tx))) AS BIGINT)""".stripMargin)
            .as("d_yx_milli"),
          expr("""CAST(IF(nc >= nd, ((nc - nd) * 1000) DIV (n0 - ty),
                 |  -(((nd - nc) * 1000) DIV (n0 - ty))) AS BIGINT)""".stripMargin)
            .as("d_xy_milli"))
    },
      // Same 1-in-100 sample and pairwise counts, both direction DIVs.
      """WITH t AS (SELECT o_orderkey AS k,
        |    CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS x,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS y
        |  FROM orders WHERE o_orderkey % 100 = 7),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |    CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        |    CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
        |  FROM t a JOIN t b ON a.k < b.k)
        |SELECT n0, nc, nd, tx, ty,
        |  CAST(CASE WHEN nc >= nd THEN ((nc - nd) * 1000) // (n0 - tx)
        |       ELSE -(((nd - nc) * 1000) // (n0 - tx)) END AS BIGINT) AS d_yx_milli,
        |  CAST(CASE WHEN nc >= nd THEN ((nc - nd) * 1000) // (n0 - ty)
        |       ELSE -(((nd - nc) * 1000) // (n0 - ty)) END AS BIGINT) AS d_xy_milli
        |FROM p""".stripMargin),

    // Krippendorff's alpha (nominal) — the chance-corrected agreement
    // coefficient that, unlike Fleiss' κ beside it, is THE standard when
    // units/raters are incomplete: 3 synthetic raters per sampled doc,
    // each following a planted base label 80% of the time (md5 draws);
    // Do = mismatched rater pairs / 3n, De from the pooled coincidence
    // frequencies with the small-sample N(N−1) denominator, α in exact
    // ppm via ONE cross-multiplied DIV.
    Op("agg_krippendorff_alpha", (s, d) => {
      val codes = Tables.documents(s, d).where(col("doc_id") % 11 === 0)
        .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("r"))
        .withColumn("code", expr(
          s"""IF(${md5Bits("concat('kn:', CAST(doc_id AS STRING), ':', CAST(r AS STRING))", 8)} % 10 < 8,
             |   ${md5Bits("concat('kb:', CAST(doc_id AS STRING), ':', 'b')", 8)} % 4,
             |   ${md5Bits("concat('kc:', CAST(doc_id AS STRING), ':', CAST(r AS STRING))", 8)} % 4)""".stripMargin))
        .localCheckpoint()
      val mism = codes.as("p").join(codes.as("q"),
          col("p.doc_id") === col("q.doc_id") && col("p.r") < col("q.r"))
        .agg(sum(when(col("p.code") =!= col("q.code"), 1L).otherwise(0L))
          .as("mismatch"), count(lit(1)).as("pairs"))
      val freq = codes.groupBy("code").agg(count(lit(1)).as("nk"))
        .agg(sum("nk").as("nn"), sum(expr("nk * nk")).as("sq"))
      mism.crossJoin(broadcast(freq))
        .select(col("mismatch"), col("pairs"), col("nn").as("n_values"),
          expr("nn * nn - sq").as("de_num"),
          expr("""CAST(1000000 - (mismatch * nn * (nn - 1) * 1000000)
                 | DIV (pairs * (nn * nn - sq)) AS BIGINT)""".stripMargin)
            .as("alpha_ppm"))
    },
      // Same planted 80%-agreement raters, same Do/De cross-multiplied α.
      s"""WITH codes AS (SELECT doc_id, CAST(i AS BIGINT) AS r,
        |    CASE WHEN ${duckMd5Bits("'kn:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 8)} % 10 < 8
        |      THEN ${duckMd5Bits("'kb:' || CAST(doc_id AS VARCHAR) || ':b'", 8)} % 4
        |      ELSE ${duckMd5Bits("'kc:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 8)} % 4 END AS code
        |  FROM documents, generate_series(0, 2) t(i) WHERE doc_id % 11 = 0),
        |m AS (SELECT CAST(SUM(CASE WHEN p.code <> q.code THEN 1 ELSE 0 END) AS BIGINT) AS mismatch,
        |    CAST(COUNT(*) AS BIGINT) AS pairs
        |  FROM codes p JOIN codes q ON p.doc_id = q.doc_id AND p.r < q.r),
        |f AS (SELECT CAST(SUM(nk) AS BIGINT) AS nn, CAST(SUM(nk * nk) AS BIGINT) AS sq
        |  FROM (SELECT code, COUNT(*) AS nk FROM codes GROUP BY code))
        |SELECT mismatch, pairs, nn AS n_values, nn * nn - sq AS de_num,
        |  CAST(1000000 - (mismatch * nn * (nn - 1) * 1000000)
        |    // (pairs * (nn * nn - sq)) AS BIGINT) AS alpha_ppm
        |FROM m, f""".stripMargin),

    // Nelson–Aalen cumulative hazard — Kaplan–Meier's hazard-scale twin
    // (KM multiplies survival; NA sums d/n, the estimator a reliability
    // team plots for wear-out): synthetic per-user lifetimes (death day
    // = md5 % 90, every 7th user right-censored at half its day), the
    // bounded 90-day axis walked with one cumulative window, each step
    // d·10⁶ DIV n_at_risk a DECLARED truncation summed exactly.
    Op("agg_nelson_aalen", (s, d) => {
      val subj = Tables.events(s, d).select("user_id").distinct()
        .withColumn("raw_day", expr(s"${md5Bits("na", "user_id", 8)} % 90 + 1"))
        .withColumn("censored", expr(s"${md5Bits("nc", "user_id", 8)} % 7 = 0"))
        .withColumn("day", expr("IF(censored, raw_day DIV 2 + 1, raw_day)"))
      val total = subj.agg(count(lit(1)).as("n_total"))
      val byDay = subj.groupBy("day")
        .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("leaving"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDay.crossJoin(broadcast(total))
        .withColumn("left_before", coalesce(sum("leaving").over(w), lit(0L)))
        .withColumn("n_risk", col("n_total") - col("left_before"))
        .where(col("d") > 0)
        .withColumn("step_micro", expr("(d * 1000000) DIV n_risk"))
        .withColumn("hazard_micro", sum("step_micro").over(wCum))
        .select(col("day"), col("n_risk"), col("d"),
          col("step_micro"), col("hazard_micro"))
        .orderBy("day")
    },
      // Same synthetic lifetimes, same declared per-step micro truncation.
      s"""WITH subj AS (SELECT user_id,
        |    ${duckMd5Bits("na", "user_id", 8)} % 90 + 1 AS raw_day,
        |    ${duckMd5Bits("nc", "user_id", 8)} % 7 = 0 AS censored
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |s2 AS (SELECT user_id, censored,
        |    CASE WHEN censored THEN raw_day // 2 + 1 ELSE raw_day END AS day FROM subj),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM s2),
        |bd AS (SELECT day,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS leaving
        |  FROM s2 GROUP BY day),
        |r AS (SELECT day, d, leaving,
        |    n_total - COALESCE(SUM(leaving) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM bd, tot),
        |st AS (SELECT day, n_risk, d, (d * 1000000) // n_risk AS step_micro
        |  FROM r WHERE d > 0)
        |SELECT day, CAST(n_risk AS BIGINT) AS n_risk, d,
        |  CAST(step_micro AS BIGINT) AS step_micro,
        |  CAST(SUM(step_micro) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS hazard_micro
        |FROM st ORDER BY day""".stripMargin),

    // Economic order quantity per brand — the inventory-planning classic
    // off the demand rollup: EOQ = √(2DS/H) with the quotient 2DS DIV H
    // cleared to an exact integer FIRST and ONE final sqrt (the
    // jarque-bera one-sqrt law; the integer stays < 2⁵³ so both engines
    // see the identical IEEE value), order cadence and cycle length as
    // declared integer DIVs.
    Op("agg_eoq", (s, d) => {
      val orderCostCents = 5000L
      val holdCentsPerUnitYear = 250L
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(col("l_quantity").cast("bigint")).as("d_units"))
        .withColumn("eoq_units", expr(
          s"CAST(FLOOR(sqrt(CAST((2 * d_units * $orderCostCents) DIV $holdCentsPerUnitYear AS DOUBLE))) AS BIGINT)"))
        .withColumn("orders_per_year", expr("(d_units + eoq_units - 1) DIV eoq_units"))
        .withColumn("cycle_days_milli", expr("(eoq_units * 365000) DIV d_units"))
        .orderBy("p_brand")
    },
      // Same cleared quotient, one IEEE sqrt, declared cadence DIVs.
      """WITH a AS (SELECT p_brand, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d_units
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand),
        |e AS (SELECT p_brand, d_units,
        |    CAST(FLOOR(SQRT(CAST((2 * d_units * 5000) // 250 AS DOUBLE))) AS BIGINT) AS eoq_units
        |  FROM a)
        |SELECT p_brand, d_units, eoq_units,
        |  (d_units + eoq_units - 1) // eoq_units AS orders_per_year,
        |  (eoq_units * 365000) // d_units AS cycle_days_milli
        |FROM e ORDER BY p_brand""".stripMargin),

    // Overlapping-interval coalescing (merge sessions into islands) —
    // the gaps-and-islands SIBLING that merges by OVERLAP, not by gap
    // threshold: each event opens a 30-minute validity interval, a new
    // island starts where an interval's start clears every prior end
    // (running MAX of end, exclusive frame), islands counted and their
    // exact µs coverage summed. Per-user windows — fully parallel on
    // the user axis at any scale.
    Op("agg_interval_merge", (s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"),
        col("ts_us").as("start_us"),
        (col("ts_us") + 1800000000L).as("end_us"))
      val w = Window.partitionBy("user_id").orderBy("start_us", "end_us")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy("user_id").orderBy("start_us", "end_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val islands = iv
        .withColumn("max_end_before", max("end_us").over(w))
        .withColumn("new_island",
          when(col("max_end_before").isNull
            || col("start_us") > col("max_end_before"), 1L).otherwise(0L))
        .withColumn("island", sum("new_island").over(wCum))
      islands.groupBy("user_id", "island")
        .agg(count(lit(1)).as("n_iv"), min("start_us").as("s"), max("end_us").as("e"))
        .agg(countDistinct("user_id").as("n_users"),
          sum("n_iv").as("n_intervals"),
          count(lit(1)).as("n_islands"),
          sum(expr("e - s")).as("covered_us"))
    },
      // Same running-max island construction and exact coverage algebra.
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 1800000000 AS end_us FROM events),
        |isl AS (SELECT user_id, start_us, end_us,
        |    CASE WHEN MAX(end_us) OVER (PARTITION BY user_id ORDER BY start_us, end_us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR start_us > MAX(end_us) OVER (PARTITION BY user_id ORDER BY start_us, end_us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |num AS (SELECT user_id, start_us, end_us,
        |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY start_us, end_us
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl),
        |g AS (SELECT user_id, island, COUNT(*) AS n_iv,
        |    MIN(start_us) AS s, MAX(end_us) AS e
        |  FROM num GROUP BY 1, 2)
        |SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(e - s) AS BIGINT) AS covered_us
        |FROM g""".stripMargin),

    // EXACT repeated-substring dedup (the Lee et al. substring-level
    // family beside the document-level minhash/simhash ops): 12-token
    // windows md5-hashed, a window is "memorized text" when its hash
    // appears in ≥2 DISTINCT docs, and each doc's flagged windows merge
    // into maximal spans with the interval-island construction (running
    // MAX of window end over token positions — the agg_interval_merge
    // law applied to token space). Graded per language: docs affected,
    // merged spans, repeated tokens, repeat ppm of the corpus token
    // mass. Window hashing is one scan + one hash-shuffle; the flagged
    // set is |repeats|-bounded, never pairwise.
    Op("llm_dedup_substring", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
      // single-row-group scan → one task; spread the docs before the
      // one-md5-per-window projection (~90 windows/doc), guide §2.5
      val wins = toks
        .repartition(math.max(1, toks.sparkSession.sparkContext.defaultParallelism))
        .where(size(col("t")) >= 12)
        .select(col("doc_id"), col("lang"),
          posexplode(expr(
            "transform(sequence(0, size(t) - 12), i -> substring(md5(concat_ws(' ', slice(t, i + 1, 12))), 1, 16))")))
        .select(col("doc_id"), col("lang"), col("pos"), col("col").as("h"))
        // materialized once: the window-hash relation feeds the repeat
        // census AND the flagged join — without the checkpoint the
        // one-md5-per-window projection runs twice
        .localCheckpoint()
      val repeated = wins.groupBy("h")
        .agg(countDistinct("doc_id").as("nd")).where(col("nd") >= 2)
        .select("h")
      val flagged = wins.join(repeated, "h")
        .select(col("doc_id"), col("lang"), col("pos").as("i"),
          (col("pos") + 11L).as("e"))
      val w = Window.partitionBy("doc_id").orderBy("i", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy("doc_id").orderBy("i", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val spans = flagged
        .withColumn("max_e", max("e").over(w))
        .withColumn("brk",
          when(col("max_e").isNull || col("i") > col("max_e") + 1, 1L).otherwise(0L))
        .withColumn("island", sum("brk").over(wCum))
        .groupBy("doc_id", "lang", "island")
        .agg(min("i").as("s0"), max("e").as("e0"))
      val tokMass = toks.groupBy("lang")
        .agg(sum(size(col("t")).cast("bigint")).as("total_tokens"))
      spans.groupBy("lang")
        .agg(countDistinct("doc_id").as("n_docs_affected"),
          count(lit(1)).as("n_spans"),
          sum(expr("e0 - s0 + 1")).as("repeated_tokens"))
        .join(tokMass, "lang")
        .withColumn("repeat_ppm",
          expr("(repeated_tokens * 1000000) DIV total_tokens"))
        .orderBy("lang")
    },
      // Same 12-token windows, ≥2-distinct-doc flag, island merge in
      // token space, per-language ppm.
      """WITH dd AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, lang, CAST(i - 1 AS BIGINT) AS i,
        |    substring(md5(array_to_string(t[i:i+11], ' ')), 1, 16) AS h
        |  FROM dd, LATERAL (SELECT unnest(generate_series(1, len(t) - 11)) AS i)
        |  WHERE len(t) >= 12),
        |rep AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |fl AS (SELECT doc_id, lang, i, i + 11 AS e FROM w JOIN rep USING (h)),
        |mk AS (SELECT doc_id, lang, i, e,
        |    MAX(e) OVER (PARTITION BY doc_id ORDER BY i, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_e
        |  FROM fl),
        |br AS (SELECT doc_id, lang, i, e,
        |    CASE WHEN max_e IS NULL OR i > max_e + 1 THEN 1 ELSE 0 END AS brk
        |  FROM mk),
        |isl AS (SELECT doc_id, lang, i, e,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY i, e ROWS UNBOUNDED PRECEDING) AS island
        |  FROM br),
        |sp AS (SELECT doc_id, lang, island, MIN(i) AS s0, MAX(e) AS e0
        |  FROM isl GROUP BY 1, 2, 3),
        |tm AS (SELECT lang, CAST(SUM(len(t)) AS BIGINT) AS total_tokens FROM dd GROUP BY lang)
        |SELECT sp.lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_affected,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(e0 - s0 + 1) AS BIGINT) AS repeated_tokens,
        |  total_tokens,
        |  CAST((SUM(e0 - s0 + 1) * 1000000) // total_tokens AS BIGINT) AS repeat_ppm
        |FROM sp JOIN tm ON sp.lang = tm.lang
        |GROUP BY sp.lang, total_tokens ORDER BY sp.lang""".stripMargin),

    // Domain-mix reweighting by multiplicative weights — the DoReMi-
    // shaped loop that tilts the training mix toward domains with
    // excess loss, in its exact-integer LINEARIZED form (w ← w·(1000 +
    // loss_milli) DIV 1000 per round — exp() on data is banned by the
    // exactness laws and unnecessary at this step size): 5 language
    // domains, 5 rounds of md5-synthesized excess loss, the per-step
    // truncation UNROLLED closed-form (portable verbatim to the
    // oracle), final share in exact ppm of the summed weights. Constant
    // domain count → the whole op is a 5-row rollup at any corpus
    // scale.
    Op("llm_domain_mix_mw", (s, d) => {
      def loss(t: Int) =
        s"(${md5Bits(s"concat('mw:', lang, ':', '$t')", 8)} % 400)"
      val domains = Tables.documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      val stepped = domains.withColumn("w", expr(
        (0 until 5).foldLeft("CAST(1000000 AS BIGINT)") {
          (acc, t) => s"(($acc * (1000 + ${loss(t)})) DIV 1000)"
        }))
      stepped
        .crossJoin(broadcast(stepped.agg(sum("w").as("w_total"))))
        .select(col("lang"), col("n_docs"), col("w"),
          expr("(w * 1000000) DIV w_total").as("share_ppm"))
        .orderBy("lang")
    },
      // Same unrolled per-step truncation, same ppm share.
      s"""WITH d0 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
        |st AS (SELECT lang, n_docs,
        |  ((((((((((1000000
        |    * (1000 + ${duckMd5Bits("'mw:' || lang || ':' || '0'", 8)} % 400)) // 1000)
        |    * (1000 + ${duckMd5Bits("'mw:' || lang || ':' || '1'", 8)} % 400)) // 1000)
        |    * (1000 + ${duckMd5Bits("'mw:' || lang || ':' || '2'", 8)} % 400)) // 1000)
        |    * (1000 + ${duckMd5Bits("'mw:' || lang || ':' || '3'", 8)} % 400)) // 1000)
        |    * (1000 + ${duckMd5Bits("'mw:' || lang || ':' || '4'", 8)} % 400)) // 1000)
        |    AS w
        |  FROM d0),
        |tt AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM st)
        |SELECT lang, n_docs, CAST(w AS BIGINT) AS w,
        |  CAST((w * 1000000) // w_total AS BIGINT) AS share_ppm
        |FROM st, tt ORDER BY lang""".stripMargin),

    // Largest-remainder apportionment — the exact-integer allocation
    // every budget/sampling planner needs (seats ≡ sampling slots ≡
    // shard counts): 100 slots across the 5 regions by revenue cents;
    // base = quota floor, the remainder ranking (remainder DESC, region
    // ASC) hands out the leftover slots, Σ = 100 exactly by
    // construction (the property round-off proportional allocation
    // always violates).
    Op("agg_apportionment", (s, d) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey"), col("n_regionkey").cast("bigint").as("region"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("region")
        .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)"))
          .as("cents"))
      val withBase = rev
        .crossJoin(broadcast(rev.agg(sum("cents").as("total"))))
        .withColumn("base", expr("(cents * 100) DIV total"))
        .withColumn("rem", expr("(cents * 100) % total"))
      val wRem = Window.orderBy(desc("rem"), col("region"))
      withBase
        .crossJoin(broadcast(withBase.agg(sum("base").as("base_sum"))))
        .withColumn("rk", row_number().over(wRem).cast("bigint"))
        .withColumn("seats",
          expr("base + IF(rk <= 100 - base_sum, 1, 0)"))
        .select(col("region"), col("cents"), col("base"), col("seats"))
        .orderBy("region")
    },
      // Same floor quotas and remainder ranking; Σseats = 100 exactly.
      """WITH rev AS (SELECT CAST(n_regionkey AS BIGINT) AS region,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev),
        |b AS (SELECT region, cents,
        |    (cents * 100) // total AS base, (cents * 100) % total AS rem
        |  FROM rev, t),
        |bs AS (SELECT CAST(SUM(base) AS BIGINT) AS base_sum FROM b),
        |r AS (SELECT region, cents, base, rem,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, region) AS rk FROM b)
        |SELECT region, cents, CAST(base AS BIGINT) AS base,
        |  CAST(base + (CASE WHEN rk <= 100 - base_sum THEN 1 ELSE 0 END) AS BIGINT) AS seats
        |FROM r, bs ORDER BY region""".stripMargin),

    // Rate-limited deterministic streaming source — the non-file,
    // non-memory SOURCE surface (rate-micro-batch: fixed rowsPerBatch,
    // pinned startTimestamp, fixed per-batch advance — the load
    // generator whose output is a pure function of the batch index):
    // batches 0 and 1 land via foreachBatch (later batches ignored by
    // the batch-id guard), giving values 0..99 at two known
    // timestamps; graded rollup = per-second value count + exact sum.
    Op("stream_rate_source", (s, d) => {
      val got = new java.util.concurrent.atomic.AtomicLong(0)
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val q = s.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "50")
        .option("startTimestamp", "0")
        .option("advanceMillisPerBatch", "1000")
        .load()
        .writeStream.foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (id < 2) {
            val batch = df.select(unix_millis(col("timestamp")), col("value"))
              .collect()
            batch.foreach(r => buf.add((r.getLong(0), r.getLong(1))))
            got.addAndGet(batch.length.toLong) // no second df.count() execution
          }
          ()
        }
        .start()
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (got.get() < 100 && System.nanoTime() < deadline) Thread.sleep(50)
        require(got.get() >= 100, s"rate source produced ${got.get()} rows")
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val rows = buf.asScala.toSeq.map { case (ms, v) => (ms, v) }
      s.createDataFrame(rows).toDF("ts_ms", "value")
        .groupBy((col("ts_ms") / 1000).cast("bigint").as("second"))
        .agg(count(lit(1)).as("n"), sum("value").as("value_sum"))
        .orderBy("second")
    },
      // Golden: batches 0 and 1 of the pinned rate source — 50 values per
      // batch, one second apart, value ranges 0..49 / 50..99.
      """SELECT CAST(second AS BIGINT) AS second, CAST(n AS BIGINT) AS n,
        |  CAST(value_sum AS BIGINT) AS value_sum
        |FROM (VALUES (0, 50, 1225), (1, 50, 3725)) AS t(second, n, value_sum)
        |ORDER BY second""".stripMargin),

    // Activation-checkpointing plan — the √L memory/recompute tradeoff
    // every training stack sizes before a run: for each model config
    // (layers, hidden — the standard ladder), per-layer activation
    // bytes A = 14·s·b·h·2 (bf16, the usual transformer multiplier as
    // a literal), k = floor(√L) segments ⇒ resident memory falls from
    // L·A to (ceil(L/k)+k)·A while backward re-runs the L−k
    // non-boundary forwards (overhead over the 3L fwd+bwd baseline).
    // All exact integers; constant config table at any scale.
    Op("llm_act_ckpt_plan", (s, d) => {
      val cfg = s.createDataFrame(Seq(
        ("125m", 12L, 768L), ("1b", 24L, 2048L), ("7b", 32L, 4096L),
        ("30b", 48L, 6144L), ("70b", 80L, 8192L)))
        .toDF("model", "layers", "hidden")
      cfg
        .withColumn("act_bytes_per_layer",
          expr("14 * 4096 * 8 * hidden * 2"))
        .withColumn("k_segments",
          expr("CAST(FLOOR(sqrt(CAST(layers AS DOUBLE))) AS BIGINT)"))
        .withColumn("mem_no_ckpt_mb",
          expr("(layers * act_bytes_per_layer) DIV 1048576"))
        .withColumn("mem_ckpt_mb", expr(
          "(((layers + k_segments - 1) DIV k_segments + k_segments) * act_bytes_per_layer) DIV 1048576"))
        .withColumn("mem_save_ppm",
          expr("((mem_no_ckpt_mb - mem_ckpt_mb) * 1000000) DIV mem_no_ckpt_mb"))
        .withColumn("recompute_overhead_ppm",
          expr("((layers - k_segments) * 1000000) DIV (3 * layers)"))
        .select("model", "layers", "hidden", "k_segments",
          "mem_no_ckpt_mb", "mem_ckpt_mb", "mem_save_ppm",
          "recompute_overhead_ppm")
        .orderBy("layers")
    },
      // Same config ladder and integer plan arithmetic.
      """WITH cfg AS (SELECT * FROM (VALUES
        |    ('125m', 12, 768), ('1b', 24, 2048), ('7b', 32, 4096),
        |    ('30b', 48, 6144), ('70b', 80, 8192)) AS t(model, layers, hidden)),
        |p AS (SELECT model, CAST(layers AS BIGINT) AS layers,
        |    CAST(hidden AS BIGINT) AS hidden,
        |    14 * 4096 * 8 * CAST(hidden AS BIGINT) * 2 AS a,
        |    CAST(FLOOR(SQRT(CAST(layers AS DOUBLE))) AS BIGINT) AS k
        |  FROM cfg),
        |m AS (SELECT model, layers, hidden, k AS k_segments,
        |    (layers * a) // 1048576 AS mem_no_ckpt_mb,
        |    (((layers + k - 1) // k + k) * a) // 1048576 AS mem_ckpt_mb
        |  FROM p)
        |SELECT model, layers, hidden, k_segments, mem_no_ckpt_mb, mem_ckpt_mb,
        |  ((mem_no_ckpt_mb - mem_ckpt_mb) * 1000000) // mem_no_ckpt_mb AS mem_save_ppm,
        |  ((layers - k_segments) * 1000000) // (3 * layers) AS recompute_overhead_ppm
        |FROM m ORDER BY layers""".stripMargin),

    // ULID encode/decode roundtrip — the sortable-id surface (48-bit ms
    // timestamp + 80-bit randomness, Crockford base32): digits computed
    // by pure 5-bit DIV/MOD arithmetic in three int64 pieces (10-char
    // time, 8+8-char randomness halves — 2¹²⁸ fits neither engine's
    // integers, the split is the law), decoded back by the inverse
    // arithmetic, roundtrip graded row-by-row; ORDER BY the ULID string
    // itself exercises the lexicographic-equals-chronological property
    // the format exists for.
    Op("fn_ulid_roundtrip", (s, d) => {
      val alpha = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
      def dig(src: String, k: Int) =
        s"substring('$alpha', CAST(($src DIV ${math.pow(32, k).toLong}) % 32 AS INT) + 1, 1)"
      val timeChars = (9 to 0 by -1).map(k => dig("ts_ms", k)).mkString(", ")
      val r1Chars = (7 to 0 by -1).map(k => dig("r1", k)).mkString(", ")
      val r2Chars = (7 to 0 by -1).map(k => dig("r2", k)).mkString(", ")
      def undig(colName: String, from: Int, n: Int) =
        (0 until n).map { i =>
          s"(CAST(instr('$alpha', substring($colName, ${from + i}, 1)) AS BIGINT) - 1) * ${math.pow(32, n - 1 - i).toLong}"
        }.mkString(" + ")
      Tables.events(s, d).where(col("event_id") % 17 === 0)
        .select(col("event_id"),
          expr("ts_us DIV 1000").as("ts_ms"),
          expr(s"${md5Bits("u1", "event_id", 10)} % 1099511627776")
            .as("r1"),
          expr(s"${md5Bits("u2", "event_id", 10)} % 1099511627776")
            .as("r2"))
        .withColumn("ulid", expr(s"concat($timeChars, $r1Chars, $r2Chars)"))
        .withColumn("ts_ms_decoded", expr(undig("ulid", 1, 10)))
        .withColumn("r1_decoded", expr(undig("ulid", 11, 8)))
        .withColumn("roundtrip_ok",
          expr("ts_ms_decoded = ts_ms AND r1_decoded = r1"))
        .select("event_id", "ulid", "ts_ms", "ts_ms_decoded", "roundtrip_ok")
        .orderBy("ulid", "event_id")
    },
      // Same three-piece base32 arithmetic, same Crockford alphabet.
      UlidOracle.sql),

    // Renko brick chart — the noise-filtering price transform (a brick
    // lays only when price crosses a full grid level, so chop inside a
    // brick vanishes): daily close levels on a 500-cent grid, bricks =
    // |Δlevel| per day split by direction, reversals counted where the
    // direction flips. Lag windows per event type over the bounded day
    // axis; exact integers end to end.
    Op("win_renko", (s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"),
          col("ts_us"), col("event_id"))
        .groupBy("event_type", "day")
        .agg(max_by(col("cents"),
          expr("CAST(ts_us AS DECIMAL(38,0)) * 1000000 + event_id")).as("close"))
        .withColumn("level", expr("close DIV 500"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("prev_level", lag("level", 1).over(w))
        .where(col("prev_level").isNotNull)
        .withColumn("dl", col("level") - col("prev_level"))
        .withColumn("dir", signum(col("dl")).cast("bigint"))
        .withColumn("prev_dir", lag("dir", 1).over(
          Window.partitionBy("event_type").orderBy("day")))
        .groupBy("event_type")
        .agg(sum(when(col("dl") > 0, col("dl")).otherwise(0L)).as("bricks_up"),
          sum(when(col("dl") < 0, -col("dl")).otherwise(0L)).as("bricks_down"),
          sum(when(col("dir") =!= 0 && col("prev_dir").isNotNull
            && col("prev_dir") =!= 0 && col("dir") =!= col("prev_dir"), 1L)
            .otherwise(0L)).as("n_reversals"))
        .orderBy("event_type")
    },
      // Same grid levels, direction split, zero-days-break-runs reversal
      // rule.
      """WITH e AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |daily AS (SELECT event_type, day,
        |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) // 500 AS level
        |  FROM e GROUP BY 1, 2),
        |lv AS (SELECT event_type, day, level,
        |    LAG(level) OVER w AS prev_level
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |dl AS (SELECT event_type, day, level - prev_level AS dl,
        |    CAST(SIGN(level - prev_level) AS BIGINT) AS dir
        |  FROM lv WHERE prev_level IS NOT NULL),
        |dd AS (SELECT event_type, dl, dir,
        |    LAG(dir) OVER (PARTITION BY event_type ORDER BY day) AS prev_dir
        |  FROM dl)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN dl > 0 THEN dl ELSE 0 END) AS BIGINT) AS bricks_up,
        |  CAST(SUM(CASE WHEN dl < 0 THEN -dl ELSE 0 END) AS BIGINT) AS bricks_down,
        |  CAST(SUM(CASE WHEN dir <> 0 AND prev_dir IS NOT NULL AND prev_dir <> 0
        |       AND dir <> prev_dir THEN 1 ELSE 0 END) AS BIGINT) AS n_reversals
        |FROM dd GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Hive ACID MAJOR COMPACTION — the maintenance half of
    // source_hive_acid_read's lifecycle: fold base + insert deltas +
    // delete deltas into ONE new base (base_0000003, flattened row ids
    // re-stamped under the compacting transaction) and prove the
    // compacted table serves EXACTLY the merged state the MOR read
    // produced — same oracle, different physical layout. The graded
    // read touches only the new base (delta dirs ignored by the
    // compaction watermark); at 100 TB this is the nightly job that
    // keeps MOR read amplification bounded.
    Op("sink_hive_acid_compact", (s, d) => {
      // its own copy of the MOR layout: the new base must never land in
      // the read op's directory
      val root = Scratch.staged("hive_acid_major", d)(HiveAcid.stage(s, d))
      val rootP = java.nio.file.Paths.get(root)
      withConfs(s)("spark.sql.orc.impl" -> "hive") {
        val dirs = java.nio.file.Files.list(rootP).iterator().asScala
          .map(_.getFileName.toString).toSeq.sorted
        val live = dirs.filter(n => n.startsWith("base_") || n.startsWith("delta_"))
          .filterNot(_ == "base_0000003")
        val dels = dirs.filter(_.startsWith("delete_delta_"))
        val rows = live.map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
        val deleted = dels.map(n => s.read.orc(s"$root/$n")).reduce(_ unionByName _)
          .select("originalTransaction", "bucket", "rowId")
        // Row identity must stay UNIQUE under the compacting txn: rows
        // from base_0000001 and delta_0000002 can share (bucket, rowId),
        // so re-stamping originalTransaction=3 while keeping the old
        // rowId would collide the ACID identity and corrupt any future
        // delete-delta against the new base. Re-number rowId per bucket
        // over the deterministic (originalTransaction, rowId) order.
        val wC = Window.partitionBy("bucket")
          .orderBy("originalTransaction", "rowId")
        rows.join(deleted, Seq("originalTransaction", "bucket", "rowId"), "left_anti")
          .select(lit(0).as("operation"),
            lit(3L).as("originalTransaction"),
            col("bucket"),
            (row_number().over(wC) - 1).cast("bigint").as("rowId"),
            lit(3L).as("currentTransaction"), col("row"))
          .write.mode("overwrite").orc(s"$root/base_0000003")
        // the graded read: new base only, no merge work left
        s.read.orc(s"$root/base_0000003")
          .select(col("row.o_orderstatus").as("o_orderstatus"),
            col("row.o_totalprice").as("o_totalprice"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .orderBy("o_orderstatus")
          .localCheckpoint()
      }
    },
      // Post-state identity with the MOR read: compaction must be
      // semantically invisible — the oracle IS source_hive_acid_read's.
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 0
        |       OR (o_orderkey % 2 = 1 AND o_orderkey % 7 = 0))
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Lexicon screening — the blocklist-join content filter every
    // curation pipeline runs (toxicity/PII-keyword/spam lexicons are
    // all this op with different term lists; the lexicon here is the
    // md5-derived pseudo-list `token % 97 == 13`, which keeps the
    // fixture clean while exercising the real shape): corpus tokens
    // exploded once, the bounded lexicon BROADCAST to the scan, hits
    // per mille of each doc's token mass, flag at >30‰. Per-language
    // rollup; the explode-join is the only data-scaled work.
    Op("llm_toxicity_lexicon", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      val flagged = toks.withColumn("hit", expr(
        s"IF(${md5Bits("concat('lex:', w)", 8)} % 97 = 13, 1, 0)"))
      flagged.groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_toks"), sum("hit").as("hits"))
        .withColumn("rate_mille", expr("(hits * 1000) DIV n_toks"))
        .withColumn("flag", col("rate_mille") > 30L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("hits").as("total_hits"),
          sum("n_toks").as("total_toks"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"))
        .withColumn("corpus_rate_mille",
          expr("(total_hits * 1000) DIV total_toks"))
        .orderBy("lang")
    },
      // Same md5 pseudo-lexicon, same per-doc flag band, same rollup.
      s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, lang,
        |    CASE WHEN ${duckMd5Bits("'lex:' || w", 8)} % 97 = 13
        |      THEN 1 ELSE 0 END AS hit
        |  FROM toks),
        |pd AS (SELECT doc_id, lang, COUNT(*) AS n_toks, SUM(hit) AS hits,
        |    (SUM(hit) * 1000) // COUNT(*) AS rate_mille
        |  FROM h GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(hits) AS BIGINT) AS total_hits,
        |  CAST(SUM(n_toks) AS BIGINT) AS total_toks,
        |  CAST(SUM(CASE WHEN rate_mille > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST((SUM(hits) * 1000) // SUM(n_toks) AS BIGINT) AS corpus_rate_mille
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin),

    // Differential-privacy budget accountant — the ledger a governed
    // analytics platform keeps per analyst: k queries each spending an
    // md5 ε (100..600 micro-ε), BASIC composition Σε against the
    // 3·10⁶ micro budget, and the ADVANCED composition bound
    // ε·√(2k·ln(1/δ)) + k·ε·(e^ε−1) ≈ for small ε the first term —
    // frozen here to its auditable integer form: adv_micro =
    // ε_max·isqrt(2k·L) with L = ln(1/δ) at δ=10⁻⁵ as the literal
    // 11513 milli-nat (transcendental-on-literal law) and isqrt = ONE
    // IEEE sqrt on an exact integer. Savings of advanced over basic in
    // ppm; over-budget flag per analyst.
    Op("agg_dp_budget", (s, d) => {
      val q = s.range(0, 5).select(col("id").as("analyst"))
        .select(col("analyst"), explode(expr("sequence(0, 19)")).as("qi"))
        .withColumn("eps_micro", expr(s"${md5Bits("concat('dp:', CAST(analyst AS STRING), ':', CAST(qi AS STRING))", 8)} % 501 + 100"))
      q.groupBy("analyst")
        .agg(count(lit(1)).as("k"),
          sum("eps_micro").as("basic_micro"),
          max("eps_micro").as("eps_max_micro"))
        // 2k·ln(1/δ): ln(10⁵) = 11.5129… frozen to 11513 milli-nats
        .withColumn("adv_micro", expr(
          "CAST(FLOOR(sqrt(CAST(2 * k * 11513 AS DOUBLE) / 1000.0) * eps_max_micro) AS BIGINT)"))
        .withColumn("savings_ppm", expr(
          "IF(adv_micro < basic_micro, ((basic_micro - adv_micro) * 1000000) DIV basic_micro, 0)"))
        .withColumn("over_budget", least(col("basic_micro"), col("adv_micro")) > 3000000L)
        .orderBy("analyst")
    },
      // Same md5 ε draws, same frozen ln(1/δ) literal, same one-sqrt
      // advanced bound.
      s"""WITH q AS (SELECT CAST(a.i AS BIGINT) AS analyst, CAST(qi.i AS BIGINT) AS qi
        |  FROM generate_series(0, 4) a(i), generate_series(0, 19) qi(i)),
        |e AS (SELECT analyst, qi,
        |    ${duckMd5Bits("'dp:' || CAST(analyst AS VARCHAR) || ':' || CAST(qi AS VARCHAR)", 8)} % 501 + 100 AS eps_micro
        |  FROM q),
        |g AS (SELECT analyst, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(eps_micro) AS BIGINT) AS basic_micro,
        |    CAST(MAX(eps_micro) AS BIGINT) AS eps_max_micro
        |  FROM e GROUP BY analyst),
        |v AS (SELECT analyst, k, basic_micro, eps_max_micro,
        |    CAST(FLOOR(SQRT(CAST(2 * k * 11513 AS DOUBLE) / 1000.0) * eps_max_micro) AS BIGINT)
        |      AS adv_micro
        |  FROM g)
        |SELECT analyst, k, basic_micro, eps_max_micro, adv_micro,
        |  CAST(CASE WHEN adv_micro < basic_micro
        |    THEN ((basic_micro - adv_micro) * 1000000) // basic_micro ELSE 0 END AS BIGINT)
        |    AS savings_ppm,
        |  LEAST(basic_micro, adv_micro) > 3000000 AS over_budget
        |FROM v ORDER BY analyst""".stripMargin),

    // Named function arguments — the SQL ergonomics surface (Spark
    // 3.5+): `mask(payload, upperChar => …, digitChar => …)` with the
    // arguments REORDERED relative to the signature must resolve
    // identically to the positional call; graded over a deterministic
    // payload so the oracle replays the masking rules directly.
    Op("api_sql_named_args", (s, d) => {
      Tables.orders(s, d).where(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"),
          concat(lit("Ord-"), col("o_orderkey"), lit("-"), col("o_orderstatus"))
            .as("payload"))
        .createOrReplaceTempView("graft_named_args_src")
      s.sql(
        """SELECT o_orderkey,
          |  mask(payload, digitChar => '#', upperChar => 'X', lowerChar => 'x') AS masked
          |FROM graft_named_args_src ORDER BY o_orderkey""".stripMargin)
    },
      // Masking-rule replay: simultaneous per-class substitution is safe
      // as a chain because no replacement creates a later class's member.
      """SELECT o_orderkey,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    'Ord-' || CAST(o_orderkey AS VARCHAR) || '-' || o_orderstatus,
        |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', '#', 'g') AS masked
        |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin)
  )
}

/** Staging for the Hive-ACID layouts (`source_hive_acid_*`,
  * `sink_hive_acid_*`): `orders` keys the source rows by `k`,
  * and `acidify` puts them in the ACID insert schema, where the synthetic
  * row identity is (originalTransaction, bucket, rowId) and the payload
  * rides in the `row` struct. */
private[ops] object HiveAcid {
  def orders(s: SparkSession, d: String): DataFrame = Tables.orders(s, d).select(
    col("o_orderkey").cast("bigint").as("k"),
    col("o_orderstatus"), col("o_totalprice"))

  def acidify(df: DataFrame, txn: Long): DataFrame = df.select(
    lit(0).as("operation"),
    lit(txn).as("originalTransaction"),
    (col("k") % 4).cast("int").as("bucket"),
    col("k").as("rowId"),
    lit(txn).as("currentTransaction"),
    struct(col("k").as("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice")).as("row"))

  /** `source_hive_acid_read`'s layout, written into `root`: the even keys
    * in base_0000001, the odd keys in an insert delta, and a delete delta
    * for both. */
  def stage(s: SparkSession, d: String)(root: String): Unit = {
    val o = orders(s, d)
    acidify(o.where(col("k") % 2 === 0), 1L)
      .write.mode("overwrite").orc(s"$root/base_0000001")
    acidify(o.where(col("k") % 2 === 1), 2L)
      .write.mode("overwrite").orc(s"$root/delta_0000002_0000002")
    // delete delta: a third transaction removes every 10th base row
    // and every odd multiple of 7 from the insert delta. A delete
    // delta carries only row IDENTITY — no payload (the ACID layout
    // nulls `row`; omitting the column entirely keeps the ORC
    // vectorized reader happy and the bytes smaller).
    o.where(col("k") % 10 === 0 || (col("k") % 2 === 1 && col("k") % 7 === 0))
      .select(lit(2).as("operation"),
        when(col("k") % 2 === 0, 1L).otherwise(2L).as("originalTransaction"),
        (col("k") % 4).cast("int").as("bucket"),
        col("k").as("rowId"),
        lit(3L).as("currentTransaction"))
      .write.mode("overwrite").orc(s"$root/delete_delta_0000003_0000003")
  }
}
