package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.2 plan-shape assertions: the physical plans carry the
  * scale-critical shapes — broadcast joins for dims, TakeOrderedAndProject
  * for top-k, two-phase HashAggregate, and parquet pushdown/pruning.
  */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("join_broadcast uses BroadcastHashJoin for both dims") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("join_multiway broadcasts nation/region (no shuffle for dims)") {
    assert(plan("join_multiway").contains("BroadcastHashJoin"))
  }

  test("sort_limit_topk plans TakeOrderedAndProject (no global sort)") {
    assert(plan("sort_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("agg_group plans two-phase HashAggregate") {
    val p = plan("agg_group")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("scan_pruned pushes the shipdate filter into the parquet scan") {
    val p = SparkEntry.queries("scan_pruned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
  }

  test("scan_pruned reads only the three needed columns") {
    val p = SparkEntry.queries("scan_pruned")(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("fn_string stays in one whole-stage codegen span before the sort") {
    // AQE's pre-execution plan string hides codegen stars; ask for the
    // codegen explain explicitly.
    val s = SparkEntry.queries("fn_string")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(s.contains("WholeStageCodegen"), s.take(1000))
  }

  test("tpch_q6 pushes every filter into the parquet scan") {
    val p = plan("tpch_q6")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount")
      && pushed.contains("l_quantity"), pushed)
    // projection pruned to the four referenced columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("tpch_q18 broadcasts the tiny HAVING-survivor set") {
    assert(plan("tpch_q18").contains("BroadcastHashJoin"))
  }

  test("subquery_exists decorrelates to semi + anti hash joins (no nested loop)") {
    val p = plan("subquery_exists")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), "EXISTS fell back to a nested loop")
  }

  test("win_attribution shares one user_id shuffle across both window passes") {
    val p = plan("win_attribution")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1, p.take(3000))
  }

  test("llm_sim_topk broadcasts the probe set") {
    assert(plan("llm_sim_topk").contains("BroadcastNestedLoopJoin") ||
      plan("llm_sim_topk").contains("BroadcastHashJoin"))
  }

  test("join_range_banded plans a hash equi-join on the bucket (no nested loop)") {
    val p = plan("join_range_banded")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(p.contains("HashJoin"), "banding should yield a hash equi-join on the bucket")
  }

  test("join_spatial_grid plans a hash equi-join on the cell (no nested loop)") {
    val p = plan("join_spatial_grid")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(p.contains("HashJoin"), "grid bucketing should yield a hash equi-join on (cx, cy)")
  }

  test("join_skew_salted shuffles on (key, salt) and matches the plain join") {
    val p = plan("join_skew_salted")
    assert(p.contains("__graft_salt"), p.take(2000))
    val salted = SparkEntry.queries("join_skew_salted")(spark, sf).collect()
    val plain = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .groupBy("o_orderpriority").count().orderBy("o_orderpriority").collect()
    assert(salted.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      plain.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("join_skew_aqe fires OptimizeSkewedJoin at runtime (skew=true in the adaptive plan)") {
    // the automatic twin of join_skew_salted: same skew, zero plan-time
    // intervention — AQE must detect the hot partition and split it
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = spark.conf.getAll.get(key)
    graft.ops.Relational.withSkewAqeConfs(spark) {
      val df = graft.ops.Relational.skewAqeFrame(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(4000))
    }
    // and no skew-regime conf leaked out of the scope: an unset key is unset again
    assert(spark.conf.getAll.get(key) == before)
  }

  test("sink_partitioned prunes to the o_year=1997 partition at scan time") {
    val p = plan("sink_partitioned")
    assert(p.contains("PartitionFilters") && p.contains("o_year"), p.take(3000))
  }

  test("join_asof_native plans AsOfJoinExec and equals the composed join_asof") {
    val p = plan("join_asof_native")
    assert(p.contains("AsOfJoin"), p.take(2000))
    val native = SparkEntry.queries("join_asof_native")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))).toSet
    val composed = SparkEntry.queries("join_asof")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))).toSet
    assert(native == composed)
  }

  test("llm_dedup_embed ships AllPairsCosineExec (no BNLJ corpus square) and equals the declarative formulation") {
    import org.apache.spark.sql.functions.{call_function, col, round => fround, sqrt => fsqrt}
    for (q <- Seq("llm_dedup_embed", "llm_dedup_embed_native")) {
      val p = plan(q)
      assert(p.contains("AllPairsCosine"), s"$q: ${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q plans the corpus square: ${p.take(2000)}")
    }
    val native = SparkEntry.queries("llm_dedup_embed")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the declarative pure-theta self-join (the old graded formulation,
    // demoted here: it plans a BroadcastNestedLoopJoin over the corpus
    // square) is the independent cross-check the native sweep must equal
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", fsqrt(call_function("dot_product", col("emb"), col("emb"))))
    val composed = e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        fround(call_function("dot_product", col("x.emb"), col("y.emb"))
          / (col("x.nrm") * col("y.nrm")), 4).as("cos"))
      .where(col("cos") >= 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(native == composed && native.nonEmpty)
  }

  test("llm_dedup_minhash pre-aggregates the minhash columns map-side") {
    // specifically partial min over the quarter-hash columns — a generic
    // HashAggregate count would pass vacuously on any aggregate plan
    val p = plan("llm_dedup_minhash")
    assert(p.contains("partial_min(h0") || p.contains("min(h0"), p.take(3000))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(3000))
  }

  test("sink_bucketed joins without an exchange on the bucket key") {
    // at test scale the tiny dim auto-broadcasts (also exchange-free);
    // force the shuffle-join regime — a 100 TB fact-fact join — to prove
    // the bucketed layout itself eliminates the key exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("sink_bucketed")
      assert(!p.contains("Exchange hashpartitioning(o_custkey"), p.take(3000))
      assert(!p.contains("Exchange hashpartitioning(c_custkey"), p.take(3000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(3000))
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"), p.take(3000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("join_dpp prunes fact partitions at runtime (dynamicpruningexpression)") {
    val p = plan("join_dpp")
    assert(p.toLowerCase.contains("dynamicpruningexpression"), p.take(3000))
  }

  test("join_bloom_filtered injects a runtime bloom filter on the fact scan") {
    val p = plan("join_bloom_filtered")
    assert(p.contains("might_contain"), p.take(3000))
    assert(p.contains("bloom_filter_agg") || p.contains("BloomFilter"), p.take(3000))
  }

  test("sink_compacted rewrites the 16-file landing zone as at most 2 files") {
    SparkEntry.queries("sink_compacted")(spark, sf).collect()
    def parquetFiles(sub: String): Int =
      new java.io.File(s"${graft.ops.Scratch.dir}/compact/$sub").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles("landing") == 16)
    assert(parquetFiles("compacted") <= 2)
  }

  test("subquery_not_in plans a null-aware anti join, not a nested loop") {
    val p = plan("subquery_not_in")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
  }

  test("subquery_scalar_corr decorrelates to an aggregate + equi-join") {
    val p = plan("subquery_scalar_corr")
    // RewriteCorrelatedScalarSubquery must leave no per-row nested loop
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("dedup band joins broadcast small, shuffle past the size guard — same rows") {
    // small regime (default guard): EVERY join is a pinned broadcast — a
    // single surviving SortMergeJoin would mean a hint was silently
    // withheld (the round-3 review found exactly that: join-derived frames
    // carry product-of-children stats, so the guard must key off the
    // corpus scan, not the frame)
    for (q <- Seq("llm_dedup_minhash", "llm_dedup_simhash")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(3000)}")
      assert(!p.contains("SortMergeJoin"), s"$q small-regime SMJ: ${p.take(3000)}")
    }
    def rows(q: String): Set[(Long, Long, Double)] =
      SparkEntry.queries(q)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.schema(2).dataType == org.apache.spark.sql.types.IntegerType)
            r.getInt(2).toDouble else r.getDouble(2))).toSet
    val small = Seq("llm_dedup_minhash", "llm_dedup_simhash").map(q => q -> rows(q)).toMap
    // large regime (guard forced to 0, auto-broadcast off — what the
    // planner sees at a 100× corpus): every dedup join degrades to a
    // shuffle join, and the rows don't change — the 100 TB plan is
    // EXECUTED here, not just planned
    spark.conf.set("graft.broadcast.guard.maxBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("llm_dedup_minhash", "llm_dedup_simhash")) {
        val p = plan(q)
        assert(!p.contains("BroadcastHashJoin"), s"$q: ${p.take(3000)}")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), s"$q: ${p.take(3000)}")
        val large = rows(q)
        assert(small(q) == large && large.nonEmpty, s"$q large-regime rows diverge")
      }
    } finally {
      spark.conf.unset("graft.broadcast.guard.maxBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("llm_dedup_embed_lsh candidate-join keys span ≥2^16 values per band (scale contract)") {
    // The quantity that controls E[bucket size] at 10⁹ vectors: with b-bit
    // bands a bucket holds ~n/2^b vectors, and the within-bucket self-join
    // is quadratic in that. 16-bit bands keep it near-linear; the round-7
    // 4-bit layout (16 values/band) went quadratic and was the suite's
    // slowest query. Guard the floor so a geometry regression is loud.
    val planes = graft.ops.LlmScale.LshPlanes
    val bands = graft.ops.LlmScale.LshBands
    val bits = planes / bands
    assert(bits >= 16, s"bits/band $bits < 16 — bucket count ${1L << bits} per band")
    assert((bands.toLong << bits) >= 65536L,
      s"total key cardinality ${bands.toLong << bits} < 2^16")
    assert(planes == bands * bits)
    // and the candidate generation stays a bucketed equi-join
    val p = plan("llm_dedup_embed_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("AllPairsCosineExec executes its child exactly once (no driver collect)") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val n = 64
    val reads = spark.sparkContext.longAccumulator("allpairs-child-reads")
    val src = spark.sparkContext.parallelize(0 until n, 4).map { i =>
      reads.add(1)
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toDouble))
    }
    val df = src.toDF("vec_id", "emb")
    val out = org.apache.spark.sql.graftbridge.AllPairsCosineApi
      .pairs(spark, df, -1.0).collect()
    // every unordered pair exactly once, each source row read exactly once
    assert(out.length == n * (n - 1) / 2, s"pairs=${out.length}")
    assert(reads.value == n, s"child rows read ${reads.value} times, want $n")
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("AllPairsCosineExec output is invariant to the block count") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val df = (0 until 40)
      .map(i => (i.toLong, Array.tabulate(6)(d => math.sin(i * 2.0 + d).abs)))
      .toDF("vec_id", "emb")
    def run(): Set[(Long, Long, Double)] =
      org.apache.spark.sql.graftbridge.AllPairsCosineApi.pairs(spark, df, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = run()
    spark.conf.set("graft.allpairs.blocks", "2")
    val b2 = try run() finally spark.conf.unset("graft.allpairs.blocks")
    spark.conf.set("graft.allpairs.blocks", "11")
    val b11 = try run() finally spark.conf.unset("graft.allpairs.blocks")
    assert(base == b2 && base == b11)
    assert(base.nonEmpty)
  }

  test("subquery_exists_or plans an ExistenceJoin (EXISTS under OR keeps all rows)") {
    val opt = SparkEntry.queries("subquery_exists_or")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("ExistenceJoin"), opt.take(3000))
  }

  test("win_count_distinct runs both window passes on ONE segment shuffle") {
    val p = plan("win_count_distinct")
    assert("Exchange hashpartitioning\\(c_mktsegment".r.findAllIn(p).length == 1,
      p.take(3000))
  }

  test("llm_vocab_coverage takes the top-100 BEFORE the cumsum window (no full-vocab sort)") {
    // The rank/cumsum window is unpartitioned by construction (a global
    // coverage curve), so the plan must bound its input to the top-100
    // via a distributed TakeOrderedAndProject — the window sorting the
    // whole vocabulary in one task is the regression this guards.
    val p = plan("llm_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    val windowAt = p.indexOf("Window")
    val takeAt = p.indexOf("TakeOrderedAndProject")
    assert(windowAt >= 0 && takeAt > windowAt,
      "TakeOrderedAndProject must feed the Window (appear beneath it in the plan)\n" + p.take(3000))
  }

  test("win_range_frame windows on a banded hash partition, not a single task") {
    // The $1000-band + ghost-row rewrite must keep the RANGE window OFF
    // the single-partition path: the window's exchange hashes on the band
    // key (parallel across bands); only the final presentation sort may
    // range-partition globally.
    val p = plan("win_range_frame")
    assert(p.contains("Exchange hashpartitioning(band"), p.take(3000))
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("tpch_q21 scans lineitem once (per-order rollup, no semi/anti re-scans)") {
    // The folded form replaces the semi + anti join pair (3 lineitem
    // scans + 3 fact exchanges) with one join + two rollups hashed on the
    // order key: lineitem is read once, fact-sized data crosses the wire
    // once (the second exchange carries the narrow per-(order,supplier)
    // rollup; when orders shuffles instead of broadcasting at full scale,
    // even that collapses into the join's orderkey partitioning), and the
    // supplier join broadcasts.
    val p = plan("tpch_q21")
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1, p.take(3000))
    // fact exchange + narrow rollup exchange; the third exchange in the
    // plan hashes on s_name over ≤|supplier| rows — not fact-sized
    assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).length <= 2,
      p.take(3000))
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("win_ewma reads all 16 lags over ONE user_id exchange") {
    // Spark plans the zero-offset frame (lag 0) separately from the
    // shifted ones, so up to two Window operators may stack — what
    // matters at scale is that they share a single shuffle.
    val p = plan("win_ewma")
    assert("Window ".r.findAllIn(p).length <= 2, p.take(3000))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      p.take(3000))
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("tpch_q11 materializes the rollup once and broadcasts the 1-row threshold") {
    // The checkpointed per-part rollup feeds BOTH the threshold aggregate
    // and the filter join from ONE fact pass (Scan ExistingRDD in the
    // final plan — no second l_partkey exchange, no second lineitem
    // scan); the (total, count) threshold is a 1-row broadcast build.
    val p = plan("tpch_q11")
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("Exchange hashpartitioning(l_partkey"), p.take(3000))
    assert(!p.contains("lineitem.parquet"), p.take(3000))
  }

  test("tpch_q20 keeps parts broadcast and never plans a cartesian product") {
    val p = plan("tpch_q20")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("tpch_q16 removes complainers with a broadcast anti join") {
    val p = plan("tpch_q16")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("llm_semdedup pairs come from a cid equi-join, never a nested loop") {
    val p = plan("llm_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("llm_trigram_backoff cuts both branches with TakeOrderedAndProject") {
    val p = plan("llm_trigram_backoff")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p.take(3000))
    // a plain global Sort would be the vocabulary-sized scale-killer
    assert(!p.contains("Sort [") || p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("agg_bitwise partial-aggregates map-side like SUM") {
    assert("HashAggregate".r.findAllIn(plan("agg_bitwise")).length >= 2)
  }

  test("mm_av_sync runs on the native AsOfJoin merge (one exchange per side)") {
    val p = plan("mm_av_sync")
    assert(p.contains("AsOfJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("graph_hits rounds broadcast the 1-row normalizer, never shuffle it") {
    val p = plan("graph_hits")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }
}
