package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 LLM-scale operators: SRP-LSH embedding dedup, text scrubbing,
  * sequence packing.
  */
class LlmScaleSpec extends AnyFunSuite with SparkFixture {

  test("llm_dedup_embed_lsh is_dup verdicts are a verified subset of the exact pair set") {
    // Precision 1 by construction: every emitted candidate is exactly
    // scored, so every is_dup=true row must appear in the exact sweep with
    // the identical cosine. (No boundary-recall bound here: at the 8×16
    // default geometry, background pairs sitting AT the 0.45 threshold of
    // this near-random fixture almost never collide — by design; recall in
    // the true near-dup regime is asserted on planted dups below.)
    val d = SparkFixture.sf001
    val out = SparkEntry.queries("llm_dedup_embed_lsh")(spark, d).collect()
    assert(out.nonEmpty, "candidate set empty")
    val dup = out.filter(_.getBoolean(3))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = SparkEntry.queries("llm_dedup_embed")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dup.subsetOf(exact), s"LSH invented dup pairs: ${(dup -- exact).take(5)}")
    // every non-dup candidate really is below threshold
    assert(out.filter(!_.getBoolean(3)).forall(_.getDouble(2) < 0.45))
  }

  test("llm_dedup_embed_lsh recalls planted near-duplicates (the cos≈1 regime)") {
    // The scale contract: at 8 bands × 16 bits a TRUE near-dup pair
    // (cos ≥ 0.99, p_bit ≈ 0.995) collides in some band w.p. ≈ 1−2e-9,
    // while background pairs almost never do. Plant 20 perturbed clones of
    // fixture vectors in a staged corpus and require ≥ 16/20 recalled —
    // far below the expected ≈20/20, so a banding regression fails loudly
    // and ambient flake cannot.
    val stage = graft.ops.Scratch.opDir("lsh_planted", sf)
    val base = Tables.embeddings(spark, sf)
    val planted = base.orderBy("vec_id").limit(20)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x + CAST(0.002 * (i % 3 - 1) AS FLOAT) AS FLOAT))")
          .as("embedding"),
        col("label"))
    base.unionByName(planted).write.mode("overwrite").parquet(s"$stage/embeddings.parquet")
    val got = SparkEntry.queries("llm_dedup_embed_lsh")(spark, stage).collect()
      .filter(_.getBoolean(3)).map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedIds = base.orderBy("vec_id").limit(20).collect().map(_.getLong(0))
    val recalled = plantedIds.count(i => got.contains((i, i + 1000000L)))
    assert(recalled >= 16, s"planted recall $recalled/20")
  }

  test("llm_bpe_merge learns merges that compress the corpus monotonically") {
    val rows = SparkEntry.queries("llm_bpe_merge")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    // every learned merge has positive support
    assert(rows.forall(_.getLong(3) > 0))
    // each round's merge removes exactly one symbol per application, so
    // the corpus symbol count must STRICTLY decrease round over round —
    // and by exactly that round's merge frequency IF no merged pair
    // overlaps itself; greedy non-overlap makes it <= freq, > 0
    val ns = rows.map(_.getLong(4)).toSeq
    assert(ns.zip(ns.tail).forall { case (prev, next) => next < prev },
      s"symbol counts not strictly decreasing: $ns")
    val freqs = rows.map(_.getLong(3)).toSeq
    // round 1's drop is bounded by its pair frequency
    val corpus = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.expr(
        "sum(length(replace(text, ' ', '')))")).collect()(0).getLong(0)
    assert(corpus - ns.head <= freqs.head && corpus - ns.head > 0,
      s"round-1 drop ${corpus - ns.head} vs freq ${freqs.head}")
  }

  test("nearPairs df cap bounds hot-shingle pair explosion, keeps rare-shingle recall") {
    // The 100-TB dedup contract: a boilerplate shingle shared by df docs
    // would emit C(df,2) candidate pairs — the df cap drops such
    // shingles from candidate generation entirely. Plant 12 identical
    // "boilerplate" docs (every shingle df=12) plus one genuine near-dup
    // pair on rare (df=2) shingles; with cap=8 the 66 boilerplate pairs
    // must vanish while the rare-shingle pair is still recalled, and with
    // the default cap (64 > 12) all 66 reappear — the cap, not the
    // threshold, is what bounded them.
    val stage = graft.ops.Scratch.opDir("dfcap", sf)
    val sp = spark
    import sp.implicits._
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val near1 = "unique one two three four five six seven"
    val near2 = "unique one two three four five six eight"
    val docs = (1L to 12L).map(i => (i, boiler, "en", "synth", boiler.length.toLong)) ++
      Seq((100L, near1, "en", "synth", near1.length.toLong),
        (101L, near2, "en", "synth", near2.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$stage/documents.parquet")
    val capped = graft.ops.LlmOps.nearPairsCompute(spark, stage, 8).collect()
    assert(!capped.exists(_.getLong(0) <= 12L), "hot-shingle pairs leaked past the df cap")
    assert(capped.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L),
      "rare-shingle near-dup pair lost under the df cap")
    val full = SparkEntry.queries("llm_dedup_near")(spark, stage).collect()
    assert(full.count(_.getLong(0) <= 12L) == 66,
      "default cap (64) should leave the df=12 boilerplate pairs intact")
  }

  test("llm_dedup_simhash 2-of-8 combination keys: pigeonhole recall, smaller candidates") {
    // Driver-side replay of both candidate generators over the real
    // simhashes: the 2-of-8 block-combination scheme must (a) recall every
    // brute-force Hamming≤6 pair — the pigeonhole guarantee the graded op
    // rides on — and (b) produce strictly fewer candidates than the old
    // 1-of-7 9-bit banding (measured ≈2.8× fewer here; ~64× at uniform
    // bits, the regime of a 10⁹-doc corpus).
    val sims = graft.ops.LlmExt.simhashes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def cands(tables: Range, key: (Long, Int) => Any): Set[(Long, Long)] = {
      val out = scala.collection.mutable.Set.empty[(Long, Long)]
      for (t <- tables; g <- sims.groupBy { case (_, s) => key(s, t) }.values) {
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) out += ((ids(i), ids(j)))
      }
      out.toSet
    }
    val off = graft.ops.LlmExt.SimBlockOffsets
    val wid = graft.ops.LlmExt.SimBlockWidths
    val combos = graft.ops.LlmExt.SimCombos
    val oneOf7 = cands(0 until 7, (s, b) => (b, (s >> (9 * b)) & 511L))
    val twoOf8 = cands(combos.indices, { (s, c) =>
      val (i, j) = combos(c)
      (c, (s >> off(i)) & ((1L << wid(i)) - 1), (s >> off(j)) & ((1L << wid(j)) - 1))
    })
    val brute = (for {
      i <- sims.indices; j <- (i + 1) until sims.length
      if java.lang.Long.bitCount(sims(i)._2 ^ sims(j)._2) <= 6
    } yield {
      val (a, b) = (sims(i)._1, sims(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(brute.nonEmpty && brute.subsetOf(twoOf8),
      s"2-of-8 missed ${(brute -- twoOf8).take(5)}")
    assert(twoOf8.size < oneOf7.size,
      s"2-of-8 candidates ${twoOf8.size} !< 1-of-7 ${oneOf7.size}")
  }

  test("llm_dedup_embed_lsh plans a banded equi-join, never an all-pairs product") {
    val p = SparkEntry.queries("llm_dedup_embed_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("llm_text_scrub redacts denylist tokens and accounts for every match") {
    val out = SparkEntry.queries("llm_text_scrub")(spark, sf).collect()
    assert(out.nonEmpty)
    // the corpus vocabulary contains the denylist words, so SOME doc redacts
    assert(out.exists(_.getInt(1) > 0))
    // length bookkeeping: '<X>' is 3 chars, the denylist words are 3–5, so
    // after == before − (matched chars) + 3·n; with 0 matches text is
    // byte-identical
    out.foreach { r =>
      val (n, before, after) = (r.getInt(1), r.getInt(2), r.getInt(3))
      if (n == 0) assert(before == after, s"doc ${r.getLong(0)} changed with 0 matches")
      else assert(after >= before - 2 * n && after <= before, s"doc ${r.getLong(0)}")
    }
    // no denylist word survives scrubbing
    val survivors = Tables.documents(spark, sf)
      .select(regexp_replace(col("text"), "\\b(key|hash|value)\\b", "<X>").as("t"))
      .where(col("t").rlike("\\b(key|hash|value)\\b")).count()
    assert(survivors == 0)
  }

  test("llm_pack_sequences conserves tokens and respects bin capacity") {
    // schema: (pack_id = bucket*2^40 + bin, n_docs, n_tokens, first_doc,
    // fill); capacity Ctx = 1024 tokens per window, 32 hash buckets
    val out = SparkEntry.queries("llm_pack_sequences")(spark, sf).collect()
    val packedTotal = out.map(_.getLong(2)).sum
    val srcTotal = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(packedTotal == srcTotal, s"$packedTotal != $srcTotal")
    val nDocs = out.map(_.getLong(1)).sum
    assert(nDocs == Tables.documents(spark, sf).count(), "doc count not conserved")
    // bins are contiguous from 0 inside every bucket
    out.groupBy(r => r.getLong(0) / (1L << 40)).foreach { case (bucket, rows) =>
      val bins = rows.map(_.getLong(0) % (1L << 40)).sorted
      assert(bins.head == 0 && bins.toSeq == (0L until bins.length).toSeq,
        s"bucket $bucket bins not contiguous: ${bins.toSeq}")
    }
    // a bin's START offset is bin*1024, so cumulative tokens through every
    // non-final bin must have crossed that bin's upper boundary (its last
    // doc straddles or lands exactly on it)
    out.groupBy(r => r.getLong(0) / (1L << 40)).foreach { case (bucket, rows) =>
      val sorted = rows.sortBy(_.getLong(0))
      var cum = 0L
      sorted.dropRight(1).foreach { r =>
        cum += r.getLong(2)
        assert(cum >= ((r.getLong(0) % (1L << 40)) + 1) * 1024,
          s"bucket $bucket bin ${r.getLong(0) % (1L << 40)} ended before its boundary: $cum")
      }
    }
  }
}
