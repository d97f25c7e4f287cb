package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite

/** Tag for the once-per-round scale witness; EXCLUDED from the default
  * `sbt test` run (build.sbt filters it out). Invoke explicitly with
  * `testOnly graft.ScaleWitnessSpec -- -n graft.ScaleWitness`. */
object ScaleWitness extends Tag("graft.ScaleWitness")

/** Deterministic synthetic corpora for the scale witness: the same
  * (documents, embeddings) parquet layout as the driver's testdata, at
  * sizes the fixtures cannot reach, derived purely from md5(id) chains so
  * every run regenerates byte-identical data.
  *
  * Planted structure:
  *   - every doc with doc_id % 50 == 1 is a near-copy of doc_id−1 (same
  *     40 same-length tokens except the LAST one) → trigram Jaccard
  *     37/39 ≈ 0.95, phash hamming ≤ 4 — both above every dedup bar;
  *   - every vec with vec_id % 100 == 1 is vec_id−1 with dim 0 nudged by
  *     +0.01 → cosine ≈ 0.9999, far above the 0.45 LSH dup bar.
  */
object ScaleCorpus {
  /** Generate (or reuse) a corpus of `nDocs` documents and `nVecs`
    * embeddings under scratch; returns the sf-style directory. */
  def ensure(s: SparkSession, nDocs: Long, nVecs: Long): String =
    graft.ops.Scratch.staged("scale", s"${nDocs}_$nVecs")(write(s, nDocs, nVecs, _))

  private def write(s: SparkSession, nDocs: Long, nVecs: Long, dir: String): Unit = {
    // token = 'w' + 4 digits (constant length 5, vocab 5000): same-length
    // replacement keeps phash tile boundaries aligned between dup twins
    def tok(seed: String, j: String) =
      s"concat('w', lpad(CAST(CAST(conv(substring(md5(concat($seed, ':', $j)), 1, 6), 16, 10) AS BIGINT) % 5000 AS STRING), 4, '0'))"
    s.range(0, nDocs, 1, 32)
      .withColumn("dup", col("id") % 50 === 1 && col("id") > 0)
      .withColumn("seed",
        when(col("dup"), col("id") - 1).otherwise(col("id")).cast("string"))
      .withColumn("text", expr(
        s"""concat(
           |  concat_ws(' ', transform(sequence(0, 38), j -> ${tok("seed", "j")})),
           |  ' ',
           |  ${tok("IF(dup, CAST(id AS STRING), seed)", "39")})""".stripMargin))
      .select(
        col("id").as("doc_id"),
        col("text"),
        element_at(array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("pt")),
          (col("id") % 5 + 1).cast("int")).as("lang"),
        concat(lit("src"), (col("id") % 3).cast("string")).as("source"),
        length(col("text")).cast("bigint").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    s.range(0, nVecs, 1, 32)
      .withColumn("dup", col("id") % 100 === 1 && col("id") > 0)
      .withColumn("seed",
        when(col("dup"), col("id") - 1).otherwise(col("id")).cast("string"))
      .withColumn("embedding", expr(
        """transform(sequence(0, 63), k -> CAST(
          |  (CAST(conv(substring(md5(concat(seed, ':', k)), 1, 6), 16, 10) AS BIGINT) % 2001 - 1000) / 1000.0
          |  + IF(dup AND k = 0, 0.01, 0.0) AS FLOAT))""".stripMargin))
      .select(col("id").as("vec_id"), col("embedding"),
        (col("id") % 10).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // minimal orders table (the HL estimator's input): price = md5-derived
    // cents so the Walsh-pair median has real spread at every size;
    // o_custkey fans orders over 1000 customers (the trade-edge shape)
    s.range(0, nDocs, 1, 32)
      .select(col("id").as("o_orderkey"),
        (expr("CAST(conv(substring(md5(concat('op:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 900000")
          .cast("double") / 100.0 + 1000.0).as("o_totalprice"),
        expr("CAST(conv(substring(md5(concat('oc:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000")
          .as("o_custkey"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // TPC-H-ish satellites for the round-12 heavy-shape witnesses
    // (market-basket pair join, trade-edge build behind coreness /
    // node2vec, Markov event chains): ~6 lines per order over 25 brands,
    // 100 suppliers, 1000 customers, 25 nations — the JOIN volume scales
    // with the tier, the graph/brand alphabets stay production-bounded.
    s.range(0, nDocs * 2, 1, 32)
      .select((col("id") % (nDocs / 3)).as("l_orderkey"),
        expr("CAST(conv(substring(md5(concat('lp:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 500")
          .as("l_partkey"),
        expr("CAST(conv(substring(md5(concat('ls:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100")
          .as("l_suppkey"),
        (expr("CAST(conv(substring(md5(concat('lq:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 50")
          .cast("double") + 1.0).as("l_quantity"),
        expr("CAST(date_add(DATE'1994-01-01', CAST(CAST(conv(substring(md5(concat('ld:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 700 AS INT)) AS STRING)")
          .as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    s.range(0, 500, 1, 4)
      .select(col("id").as("p_partkey"),
        concat(lit("Brand#"), (col("id") % 25).cast("string")).as("p_brand"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    s.range(0, 1000, 1, 4)
      .select(col("id").as("c_custkey"), (col("id") % 25).cast("int").as("c_nationkey"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    s.range(0, 100, 1, 4)
      .select(col("id").as("s_suppkey"), (col("id") % 25).cast("int").as("s_nationkey"))
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    s.range(0, nDocs, 1, 32)
      .select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"),
        expr("CAST(conv(substring(md5(concat('eu:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % (CAST(" + (nDocs / 20).toString + " AS BIGINT) + 1)")
          .as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("cart"), lit("purchase"), lit("refund")),
          (expr("CAST(conv(substring(md5(concat('et:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 5") + 1).cast("int"))
          .as("event_type"),
        (expr("CAST(conv(substring(md5(concat('ev:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 10000")
          .cast("double") / 100.0).as("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}

/** The round-10 scale witness (VERDICT r9 top-next item): every
  * "sub-quadratic by construction" claim in SURVEY §2.11–2.15 is measured
  * here on corpora 20–2000× the graded fixtures — runtime slope between
  * the two largest sizes must stay near-linear, LSH band buckets must hold
  * their occupancy bounds, and the planted near-dups must actually be
  * recalled. The 10⁶-doc tier also crosses the 64 MB broadcast guard, so
  * the big run exercises the shuffle-join regime the 100 TB plan relies
  * on (smaller tiers exercise the pinned-broadcast regime).
  */
class ScaleWitnessSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    System.setProperty("derby.stream.error.file", s"${graft.ops.Scratch.dir}/derby.log")
    val s = SparkSession.builder()
      .master("local[16]")
      .appName("graft-scale-witness")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // (docs, vecs) tiers: 10⁴/10⁵/10⁶ docs with 10× fewer vectors each
  private val tiers = Seq((10000L, 1000L), (100000L, 10000L), (1000000L, 100000L))
  private lazy val dirs = tiers.map { case (d, v) => ScaleCorpus.ensure(spark, d, v) }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** One timed run per tier (after one warm-up at the smallest tier so
    * plan compile + codegen JIT don't load the slope). */
  private def timeTiers(op: String): Seq[Double] = {
    SparkEntry.queries(op)(spark, dirs.head).count()
    dirs.map(d => time { SparkEntry.queries(op)(spark, d).count() })
  }

  private def slope(ts: Seq[Double]): Double =
    math.log(ts(2) / ts(1)) / math.log(10.0)

  test("dedup/ANN tier is measured near-linear across 10^4..10^6 docs", ScaleWitness) {
    val results = Seq(
      "llm_dedup_minhash" -> 1.5,
      "mm_dedup_phash" -> 1.5,
      "llm_dedup_embed_lsh" -> 1.5,
      // IVF with √n centroids is Θ(n^1.5) in the ASSIGNMENT phase by its
      // standard sizing (each of n vectors scores √n centroids); the
      // witness bounds it at its analytic exponent, not at linear
      "llm_sim_ann" -> 1.8
    ).map { case (op, maxSlope) =>
      val ts = timeTiers(op)
      val sl = slope(ts)
      info(f"$op%-22s t=${ts.map(t => f"$t%.1f").mkString("/")}s slope=$sl%.2f (max $maxSlope)")
      assert(sl < maxSlope,
        f"$op runtime slope $sl%.2f exceeds $maxSlope (times ${ts.mkString(", ")})")
      op -> ts
    }
    // persist the measured table for BASELINE.md
    val lines = results.map { case (op, ts) =>
      f"| `$op` | ${ts(0)}%.1f | ${ts(1)}%.1f | ${ts(2)}%.1f | ${slope(ts)}%.2f |"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/scale_witness_table.md"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  test("round-11 heavy families measured near-linear across 10^4..10^6 docs", ScaleWitness) {
    val results = Seq(
      // IVF-PQ with √n-ADAPTIVE centroid sizing (round-11 fix): assignment
      // is Θ(n^1.5) by construction — bound at the analytic exponent
      "llm_ann_ivf_pq" -> 1.8,
      // chrF joins on (pair, gram): pairs are disjoint doc pairs, grams
      // per pair are corpus-length-bounded → linear
      "llm_chrf" -> 1.5,
      // HL estimator after the fixed-size hash-top-k fix: the only data-
      // dependent work left is the top-k scan → linear
      "agg_hodges_lehmann" -> 1.4
    ).map { case (op, maxSlope) =>
      val ts = timeTiers(op)
      val sl = slope(ts)
      info(f"$op%-22s t=${ts.map(t => f"$t%.1f").mkString("/")}s slope=$sl%.2f (max $maxSlope)")
      assert(sl < maxSlope,
        f"$op runtime slope $sl%.2f exceeds $maxSlope (times ${ts.mkString(", ")})")
      op -> ts
    }
    val lines = results.map { case (op, ts) =>
      f"| `$op` | ${ts(0)}%.1f | ${ts(1)}%.1f | ${ts(2)}%.1f | ${slope(ts)}%.2f |"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/scale_witness_r11.md"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  test("round-12 heavy shapes measured near-linear across 10^4..10^6 rows", ScaleWitness) {
    val results = Seq(
      // basket pair join is Σ C(b,2) over orders with b ≤ items/order —
      // a constant per order (the distinct-brands cap) → linear in rows
      "agg_market_basket" -> 1.4,
      // h-index coreness: the data-scaled work is the trade-edge BUILD
      // (one lineitem⨝orders⨝dims rollup); the fixpoint itself runs on
      // the bounded 25-node backbone → linear
      "graph_coreness" -> 1.4,
      // node2vec second-order walk: same bounded backbone, same
      // edge-build-dominated profile
      "graph_node2vec_walk" -> 1.4,
      // Markov power iteration: one event-chain exchange (linear) + 5
      // iterations on a ≤5-state matrix (constant)
      "agg_markov_stationary" -> 1.4
    ).map { case (op, maxSlope) =>
      val ts = timeTiers(op)
      val sl = slope(ts)
      info(f"$op%-22s t=${ts.map(t => f"$t%.1f").mkString("/")}s slope=$sl%.2f (max $maxSlope)")
      assert(sl < maxSlope,
        f"$op runtime slope $sl%.2f exceeds $maxSlope (times ${ts.mkString(", ")})")
      op -> ts
    }
    val lines = results.map { case (op, ts) =>
      f"| `$op` | ${ts(0)}%.1f | ${ts(1)}%.1f | ${ts(2)}%.1f | ${slope(ts)}%.2f |"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/scale_witness_r12.md"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  test("round-13 heavy shapes measured near-linear across 10^4..10^6 rows", ScaleWitness) {
    val results = Seq(
      // IVF maintenance lifecycle after the round-13 probe cap: the
      // recall-truth sweep is |union|×200 (fixed-k md5 probe sample), the
      // assignment joins are Θ(n·√n) by the IVF law → bound at the
      // analytic exponent like llm_ann_ivf_pq, not at linear
      "llm_ann_index_maintain" -> 1.8,
      // 12-token shingle dedup: windows = Σ(len−11) per doc (token-mass
      // linear), repeats found by hash groupBy, island merge is one
      // window per doc → linear, never pairwise
      "llm_dedup_substring" -> 1.4,
      // native as-of join with fact pre-agg: probe set = |supplier ×
      // live days| (bounded alphabet), data-scaled work is the one
      // lineitem rollup → linear
      "join_point_in_time" -> 1.4
    ).map { case (op, maxSlope) =>
      val ts = timeTiers(op)
      val sl = slope(ts)
      info(f"$op%-22s t=${ts.map(t => f"$t%.1f").mkString("/")}s slope=$sl%.2f (max $maxSlope)")
      assert(sl < maxSlope,
        f"$op runtime slope $sl%.2f exceeds $maxSlope (times ${ts.mkString(", ")})")
      op -> ts
    }
    val lines = results.map { case (op, ts) =>
      f"| `$op` | ${ts(0)}%.1f | ${ts(1)}%.1f | ${ts(2)}%.1f | ${slope(ts)}%.2f |"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/scale_witness_r13.md"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  test("round-14 heavy shapes measured near-linear across 10^4..10^6 rows", ScaleWitness) {
    val results = Seq(
      // B=50 bootstrap resample: dense index via range-bucket offsets
      // (no global sort), the draw join is a fixed 50x of the task table
      // against a broadcast index -> linear
      "llm_eval_bootstrap_ci" -> 1.4,
      // graph-ANN beam search: per-hop work is O(probes x beam x degree)
      // scored against broadcast candidates; the data-scaled term is the
      // 10*n exact-scan recall baseline -> linear
      "llm_ann_hnsw" -> 1.4
    ).map { case (op, maxSlope) =>
      val ts = timeTiers(op)
      val sl = slope(ts)
      info(f"$op%-22s t=${ts.map(t => f"$t%.1f").mkString("/")}s slope=$sl%.2f (max $maxSlope)")
      assert(sl < maxSlope,
        f"$op runtime slope $sl%.2f exceeds $maxSlope (times ${ts.mkString(", ")})")
      op -> ts
    }
    val lines = results.map { case (op, ts) =>
      f"| `$op` | ${ts(0)}%.1f | ${ts(1)}%.1f | ${ts(2)}%.1f | ${slope(ts)}%.2f |"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/scale_witness_r14.md"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  /** Persons-only corpus for the identity-stack witnesses: the op reads
    * just `customer`, and the shared ScaleCorpus customer table is fixed
    * at 1000 rows — these dirs scale it with the tier instead. */
  private def personsDir(n: Long): String =
    graft.ops.Scratch.staged("scale_persons", n.toString) { dir =>
      spark.range(1, n + 1, 1, 32)
        .select(col("id").as("c_custkey"), (col("id") % 25).cast("int").as("c_nationkey"))
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    }

  test("round-15 heavy shapes measured near-linear across 10^4..10^6 rows", ScaleWitness) {
    // identity-graph clustering: 6 synchronous min-label join rounds over
    // bounded-diameter components — each round is one edges⋈labels
    // shuffle, so the whole walk is a constant number of linear passes
    val pdirs = Seq(10000L, 100000L, 1000000L).map(personsDir)
    SparkEntry.queries("join_identity_clusters")(spark, pdirs.head).count()
    val tsClusters = pdirs.map(d =>
      time { SparkEntry.queries("join_identity_clusters")(spark, d).count() })
    val slC = slope(tsClusters)
    info(f"join_identity_clusters t=${tsClusters.map(t => f"$t%.1f").mkString("/")}s slope=$slC%.2f (max 1.4)")
    assert(slC < 1.4,
      f"join_identity_clusters runtime slope $slC%.2f exceeds 1.4 (times ${tsClusters.mkString(", ")})")

    // filtered ANN: same IVF Θ(n·√n) assignment law as llm_sim_ann /
    // llm_ann_ivf_pq — bound at the analytic exponent, not at linear
    val results = Seq("llm_ann_filtered" -> 1.8).map { case (op, maxSlope) =>
      val ts = timeTiers(op)
      val sl = slope(ts)
      info(f"$op%-22s t=${ts.map(t => f"$t%.1f").mkString("/")}s slope=$sl%.2f (max $maxSlope)")
      assert(sl < maxSlope,
        f"$op runtime slope $sl%.2f exceeds $maxSlope (times ${ts.mkString(", ")})")
      op -> ts
    }
    val lines = (("join_identity_clusters" -> tsClusters) +: results).map { case (op, ts) =>
      f"| `$op` | ${ts(0)}%.1f | ${ts(1)}%.1f | ${ts(2)}%.1f | ${slope(ts)}%.2f |"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/scale_witness_r15.md"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  test("round-16 heavy shapes measured near-linear across the tiers", ScaleWitness) {
    // incremental ER: two blocked link passes + one index merge — every
    // stage is O(batch × block) with md5-bounded blocks, so the walk is a
    // constant number of linear passes over the persons corpus
    val pdirs = Seq(10000L, 100000L, 1000000L).map(personsDir)
    SparkEntry.queries("join_er_incremental")(spark, pdirs.head).count()
    val tsEr = pdirs.map(d =>
      time { SparkEntry.queries("join_er_incremental")(spark, d).count() })
    val slEr = slope(tsEr)
    info(f"join_er_incremental t=${tsEr.map(t => f"$t%.1f").mkString("/")}s slope=$slEr%.2f (max 1.4)")
    assert(slEr < 1.4,
      f"join_er_incremental runtime slope $slEr%.2f exceeds 1.4 (times ${tsEr.mkString(", ")})")

    // layered NSW: id-stride layer membership keeps each hop O(beam ×
    // degree); the corpus-linear stage is the exact-scan recall baseline
    // the grading itself requires — bound at 1.8 like the ANN family
    val results = Seq("llm_ann_hnsw_layered" -> 1.8).map { case (op, maxSlope) =>
      val ts = timeTiers(op)
      val sl = slope(ts)
      info(f"$op%-22s t=${ts.map(t => f"$t%.1f").mkString("/")}s slope=$sl%.2f (max $maxSlope)")
      assert(sl < maxSlope,
        f"$op runtime slope $sl%.2f exceeds $maxSlope (times ${ts.mkString(", ")})")
      op -> ts
    }
    val lines = (("join_er_incremental" -> tsEr) +: results).map { case (op, ts) =>
      f"| `$op` | ${ts(0)}%.1f | ${ts(1)}%.1f | ${ts(2)}%.1f | ${slope(ts)}%.2f |"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/scale_witness_r16.md"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  test("LSH band buckets hold their occupancy bounds at the largest tier", ScaleWitness) {
    val big = dirs(2)
    // SRP-LSH over 10^5 vectors: 8 bands × 16 bits → 2^16 values per band,
    // E[bucket] = n/65536 ≈ 1.5; the witness bound is 4× that
    val banded = Tables.embeddings(spark, big)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"),
        posexplode(expr("srp_bands(emb, 128, 16)")).as(Seq("bidx", "bval")))
    val occ = banded.groupBy("bidx", "bval").agg(count(lit(1)).as("n"))
      .agg(sum("n").cast("double").as("rows"), count(lit(1)).cast("double").as("buckets"),
        max("n").cast("double").as("maxb")).collect()(0)
    val nVecs = 100000.0
    val meanOcc = occ.getDouble(0) / occ.getDouble(1)
    val bound = 4.0 * math.max(1.0, nVecs / 65536.0)
    info(f"srp-lsh mean bucket occupancy $meanOcc%.2f (bound $bound%.2f), max ${occ.getDouble(2)}%.0f")
    assert(meanOcc <= bound, f"LSH mean occupancy $meanOcc%.2f above $bound%.2f")

    // MinHash 4 bands × two 32-bit minhashes: keyspace is astronomically
    // larger than the corpus, so non-dup buckets must be singletons — the
    // mean over 4·10^6 band rows stays within 4× of 1
    val mhBands = {
      val sh = Tables.documents(spark, big)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .where(size(col("t")) > 2)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        ))).as("s"))
      val hashed = sh.select(col("doc_id"), expr("md5(s)").as("m"))
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
    val mo = mhBands.groupBy("band", "b0", "b1").agg(count(lit(1)).as("n"))
      .agg(sum("n").cast("double").as("rows"), count(lit(1)).cast("double").as("buckets"))
      .collect()(0)
    val mhMean = mo.getDouble(0) / mo.getDouble(1)
    info(f"minhash mean band-bucket occupancy $mhMean%.3f (bound 4.0)")
    assert(mhMean <= 4.0, f"minhash mean occupancy $mhMean%.3f above 4x singleton")

    // phash 4 bands × 16 bits over 10^6 docs: E[bucket] = n/65536 ≈ 15
    val phBands = Tables.documents(spark, big)
      .select(col("doc_id"), length(col("text")).cast("bigint").as("len"), col("text"))
      .where(col("len") >= 64)
      .withColumn("tl", expr("(len + 30) DIV 31"))
      .withColumn("ph", expr(
        """aggregate(sequence(0, 30), CAST(0 AS BIGINT), (acc, i) ->
          |  acc + shiftleft(
          |    CAST(conv(substring(md5(CAST(substring(text, i * tl + 1, tl) AS BINARY)), 1, 1), 16, 10) AS BIGINT) & 3,
          |    2 * i))""".stripMargin))
      .select(col("doc_id"), col("ph"), explode(expr("sequence(0, 3)")).as("k"))
      .withColumn("bv", expr("(ph >> (k * 16)) & 65535"))
    val po = phBands.groupBy("k", "bv").agg(count(lit(1)).as("n"))
      .agg(sum("n").cast("double").as("rows"), count(lit(1)).cast("double").as("buckets"))
      .collect()(0)
    val phMean = po.getDouble(0) / po.getDouble(1)
    val phBound = 4.0 * math.max(1.0, 1000000.0 / 65536.0)
    info(f"phash mean band-bucket occupancy $phMean%.2f (bound $phBound%.2f)")
    assert(phMean <= phBound, f"phash mean occupancy $phMean%.2f above $phBound%.2f")
  }

  test("planted near-dups are recalled at scale", ScaleWitness) {
    val small = dirs.head // 10^4 docs / 10^3 vecs
    val planted = (1L until 10000L by 50L).filter(_ > 1).map(d => (d - 1, d)).toSet +
      ((0L, 1L))
    val mh = SparkEntry.queries("llm_dedup_minhash")(spark, small)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhRecall = planted.count(mh.contains).toDouble / planted.size
    info(f"minhash planted recall $mhRecall%.3f over ${planted.size} pairs")
    assert(mhRecall >= 0.9, f"minhash recall $mhRecall%.3f below 0.9")

    val ph = SparkEntry.queries("mm_dedup_phash")(spark, small)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val phRecall = planted.count(ph.contains).toDouble / planted.size
    info(f"phash planted recall $phRecall%.3f")
    assert(phRecall >= 0.9, f"phash recall $phRecall%.3f below 0.9")

    val plantedV = (1L until 1000L by 100L).map(v => (v - 1, v)).toSet
    val lsh = SparkEntry.queries("llm_dedup_embed_lsh")(spark, small)
      .where(col("is_dup")).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRecall = plantedV.count(lsh.contains).toDouble / plantedV.size
    info(f"srp-lsh planted recall $lshRecall%.3f over ${plantedV.size} pairs")
    assert(lshRecall >= 0.9, f"lsh recall $lshRecall%.3f below 0.9")

    // ANN: probe 1 is a planted twin of vector 0 — its nearest neighbor
    // through the IVF index must be vector 0 at cosine ≈ 1
    val ann = SparkEntry.queries("llm_sim_ann")(spark, small).collect()
    val p1 = ann.filter(r => r.getLong(0) == 1L && r.getInt(3) == 1)
    assert(p1.nonEmpty, "probe 1 has no top-1 neighbor")
    assert(p1.head.getLong(1) == 0L && p1.head.getDouble(2) > 0.99,
      s"probe 1's planted twin not retrieved: ${p1.head}")
  }
}
