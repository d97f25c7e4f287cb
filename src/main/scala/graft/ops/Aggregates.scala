package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GeoMean

/** SURVEY.md §2.4 aggregations.
  *
  * Spark plans all of these as two-phase hash aggregation (partial map-side
  * combine → final after shuffle on the group keys) — the shape that scales
  * linearly with input; nothing is collected to the driver.
  */
object Aggregates extends Family {
  /** Exact decimal aggregate emitted as DOUBLE: internal math stays decimal
    * (associative → partition-order independent), the final cast makes both
    * engines hand the driver an identical float64 (DuckDB's pandas export
    * turns DECIMAL into float64, Spark parquet keeps Decimal objects — raw
    * decimal outputs hash-mismatch on trailing zeros). */
  private def d2d(c: Column): Column = c.cast("double")

  val ops: Seq[Op] = Seq(
    // Bitwise reduction aggregates (bit_and / bit_or / bit_xor) — the
    // flag-mask rollup shape (permission masks, feature bitsets, bloom
    // words): all three are associative and commutative, so Spark plans
    // a partial-aggregate map-side combine exactly like SUM — one
    // shuffle of 3 longs per group regardless of input size. bit_count
    // (popcount) rides along as the per-row scalar folded into a SUM.
    Op("agg_bitwise", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("bit_and(l_orderkey % 256)").as("mask_and"),
          expr("bit_or(l_orderkey % 256)").as("mask_or"),
          expr("bit_xor(l_orderkey % 256)").as("mask_xor"),
          expr("CAST(sum(bit_count(l_orderkey)) AS BIGINT)").as("popcount_sum"))
        .orderBy("l_returnflag"),
      // DuckDB ships the same three reduction aggregates; popcount via
      // bit_count on the BIGINT key.
      """SELECT l_returnflag,
        |  CAST(bit_and(l_orderkey % 256) AS BIGINT) AS mask_and,
        |  CAST(bit_or(l_orderkey % 256) AS BIGINT) AS mask_or,
        |  CAST(bit_xor(l_orderkey % 256) AS BIGINT) AS mask_xor,
        |  CAST(SUM(bit_count(l_orderkey)) AS BIGINT) AS popcount_sum
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // TPC-H-Q1 pricing summary (the flagship).
    Op("agg_group", (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          d2d(sum(dec(col("l_quantity")))).as("sum_qty"),
          d2d(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
          d2d(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("sum_disc_price"),
          d2d(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast("decimal(18,6)"))).as("sum_charge"),
          // averages as double-division of an EXACT decimal sum by the count:
          // identical operands in both engines → identical IEEE result, no
          // rounding step needed (avg() over raw doubles is partition-order
          // dependent in its low bits)
          (d2d(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
          (d2d(sum(dec(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
          (d2d(sum(dec(col("l_discount")))) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Op("agg_distinct", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          // l_quantity is integer-valued (1..50) so the distinct-sum is exact
          sum_distinct(col("l_quantity")).as("sd_qty"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,
        |  SUM(DISTINCT l_quantity) AS sd_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Multiple distinct aggregates in one pass → Spark's Expand-based plan.
    Op("agg_multi_distinct", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          countDistinct(col("l_orderkey")).as("nd_ord"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,
        |  COUNT(DISTINCT l_suppkey) AS nd_supp, COUNT(DISTINCT l_orderkey) AS nd_ord
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Pivot (the reporting shape over this star schema): order counts per
    // priority, one column per order status. Explicit pivot values keep the
    // plan a single two-phase aggregate — no distinct-values pre-query —
    // which is also what you'd do at 100 TB (inferring pivot columns needs
    // an extra full scan). Missing combos emit 0 to match FILTER counts.
    Op("agg_pivot", (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy("o_orderpriority"),
      // FILTERed counts are DuckDB's spelling of the same pivot; Spark's
      // count-pivot emits NULL for empty combos, filled to 0 on the Spark
      // side to match COUNT's 0.
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Unpivot (melt) — the inverse reporting shape: the pivoted counts
    // back to (priority, status, cnt) rows. Spark's native unpivot is a
    // zero-shuffle projection (Expand), so the only shuffle is the pivot's
    // own aggregate.
    Op("agg_unpivot", (s, d) => {
      val pv = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L, Seq("F", "O", "P"))
      pv.unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")), "status", "cnt")
        .orderBy("o_orderpriority", "status")
    },
      // UNION ALL of the FILTERed counts is the relational spelling of the
      // unpivoted pivot.
      """WITH p AS (SELECT o_orderpriority,
        |    COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f,
        |    COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o,
        |    COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS pp
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, 'F' AS status, f AS cnt FROM p
        |UNION ALL SELECT o_orderpriority, 'O', o FROM p
        |UNION ALL SELECT o_orderpriority, 'P', pp FROM p
        |ORDER BY o_orderpriority, status""".stripMargin),

    // Exact percentiles with linear interpolation. l_quantity is
    // integer-valued and the probe points are binary fractions (.25/.5/.75
    // of an integer index are exact in IEEE), so Spark's `percentile` and
    // DuckDB's `quantile_cont` interpolate to the identical double — no
    // rounding step needed.
    Op("agg_percentile", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS median,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Calendar-bucketed event rollup (the canonical time-series shape):
    // hourly event counts + distinct users per type. Buckets on the µs
    // timestamp both engines share (TESTDATA ns truncation rule).
    Op("agg_time_bucket", (s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("hr", "event_type"),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr, event_type,
        |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin),

    // Boolean aggregates (the SQL:2016 every/any surface) + conditional
    // count — all plain two-phase aggregates.
    Op("agg_bool", (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
          expr("bool_or(o_orderstatus = 'P')").as("any_pending"),
          expr("count_if(o_orderstatus = 'F')").as("n_f"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_orderstatus = 'P') AS any_pending,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Op("agg_having", (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= 15)
        .orderBy("o_custkey"),
      """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey""".stripMargin),

    Op("agg_rollup", (s, d) => {
      // DataFrame rollup directly after a multi-join trips Spark's
      // ambiguous-self-join lint (DATASET_ID_TAG false positive), so the
      // rollup goes through the SQL entry point on the joined projection.
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name")
        .createOrReplaceTempView("cust_geo_v")
      s.sql(
        """SELECT COALESCE(r_name, '(all)') AS r_name, COALESCE(n_name, '(all)') AS n_name,
          |       COUNT(*) AS n_cust, CAST(grouping_id() AS INT) AS gid
          |FROM cust_geo_v GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY gid, r_name, n_name""".stripMargin)
    },
      """SELECT COALESCE(r_name, '(all)') AS r_name, COALESCE(n_name, '(all)') AS n_name,
        |  COUNT(*) AS n_cust, CAST(GROUPING(r_name, n_name) AS INT) AS gid
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, r_name, n_name""".stripMargin),

    Op("agg_cube", (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          d2d(sum(dec(col("o_totalprice")))).as("total"),
          grouping_id().cast("int").as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n_orders"), col("total"), col("gid"))
        .orderBy("gid", "status", "priority"),
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |  COALESCE(o_orderpriority, '(all)') AS priority,
        |  COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin),

    // SQL entry point (SURVEY.md §3.2): GROUPING SETS via spark.sql.
    Op("agg_grouping_sets", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT COALESCE(o_orderstatus, '(all)') AS status,
          |       COALESCE(o_orderpriority, '(all)') AS priority,
          |       COUNT(*) AS n_orders, CAST(grouping_id() AS INT) AS gid
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
          |ORDER BY gid, status, priority""".stripMargin)
    },
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |  COALESCE(o_orderpriority, '(all)') AS priority,
        |  COUNT(*) AS n_orders, CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid, status, priority""".stripMargin),

    // Moment-based stats from EXACT integer/decimal sums (l_quantity is
    // integer-valued, prices are 2-dp → cents are exact longs): Spark's
    // stddev/corr/covar merge partial (n, mean, M2) states in partition
    // order, so their low bits vary run-to-run; exact moments + an identical
    // double formula on both engines are bit-reproducible.
    Op("agg_stats", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("bigint").as("q"),
          round(col("l_extendedprice") * 100).cast("bigint").as("p"),
          col("l_extendedprice").as("ep"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("q")).cast("double").as("sq"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).cast("double").as("sq2"),
          sum(col("p").cast("decimal(38,0)")).cast("double").as("sp"),
          sum((col("p") * col("p")).cast("decimal(38,0)")).cast("double").as("sp2"),
          sum((col("q") * col("p")).cast("decimal(38,0)")).cast("double").as("sqp"),
          min(col("ep")).as("min_p"),
          max(col("ep")).as("max_p"),
          round(expr("percentile(ep, 0.5)"), 4).as("med_p"))
        .select(col("l_returnflag"),
          expr("sqrt((sq2 - sq*sq/n)/(n-1))").as("sd_qty"),
          expr("(sq2 - sq*sq/n)/(n-1)").as("var_qty"),
          expr("((sqp - sq*sp/n)/(n-1)) / (sqrt((sq2 - sq*sq/n)/(n-1)) * sqrt((sp2 - sp*sp/n)/(n-1)))")
            .as("corr_qp"),
          expr("((sqp - sq*sp/n)/(n-1)) / 100").as("cov_qp"),
          col("min_p"), col("max_p"), col("med_p"))
        .orderBy("l_returnflag"),
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(q) AS DOUBLE) AS sq,
        |    CAST(SUM(q*q) AS DOUBLE) AS sq2,
        |    CAST(SUM(p) AS DOUBLE) AS sp,
        |    CAST(SUM(p*p) AS DOUBLE) AS sp2,
        |    CAST(SUM(q*p) AS DOUBLE) AS sqp,
        |    MIN(ep) AS min_p, MAX(ep) AS max_p,
        |    ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY ep), 4) AS med_p
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
        |               l_extendedprice AS ep FROM lineitem)
        |  GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  sqrt((sq2 - sq*sq/n)/(n-1)) AS sd_qty,
        |  (sq2 - sq*sq/n)/(n-1) AS var_qty,
        |  ((sqp - sq*sp/n)/(n-1)) / (sqrt((sq2 - sq*sq/n)/(n-1)) * sqrt((sp2 - sp*sp/n)/(n-1))) AS corr_qp,
        |  ((sqp - sq*sp/n)/(n-1)) / 100 AS cov_qp,
        |  min_p, max_p, med_p
        |FROM m ORDER BY l_returnflag""".stripMargin),

    Op("agg_collect_sorted", (s, d) =>
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        // emitted as a '|'-joined string: array cells crash the driver's
        // pandas sort (unhashable ndarray)
        .agg(array_join(array_sort(collect_list(col("s_name"))), "|").as("suppliers"),
          count(lit(1)).as("n_supp"))
        .orderBy("n_name"),
      """SELECT n_name, string_agg(s_name, '|' ORDER BY s_name) AS suppliers, COUNT(*) AS n_supp
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // Approximate distinct via HyperLogLog++. The raw estimate can't be
    // replayed by another engine, so the graded row carries the exact
    // count plus an error-bound verdict (|approx − exact| ≤ 3·rsd·exact)
    // computed against the in-query estimate — rows/schema/hash all
    // oracle-checkable, and only the estimate VALUE stays engine-local
    // (ScalaTest additionally bounds it directly). Spark's HLL++ is
    // deterministic for fixed data, so hll_ok is stable run-to-run.
    Op("agg_hll_distinct", (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx_users") - col("n_exact"))
            <= lit(3 * 0.02) * col("n_exact")).as("hll_ok"))
        .orderBy("event_type"),
      // The estimate itself is engine-local; the graded columns are the
      // exact count and the error-bound verdict, which DuckDB CAN replay
      // (hll_ok must be TRUE for every group or the hash mismatches).
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Exact distinct counting via bitmap aggregates — the warehouse trick
    // for high-cardinality COUNT(DISTINCT) at scale: keys bucket into
    // 32k-bit bitmaps (bitmap_bucket_number/bit_position), partial bitmaps
    // OR together map-side, and the final count is a popcount sum. EXACT,
    // mergeable, shuffle-light — and fully oracle-gradeable, unlike a
    // sketch.
    Op("agg_bitmap_distinct", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_bm_v")
      s.sql(
        """WITH b AS (
          |  SELECT c_mktsegment, bitmap_bucket_number(c_custkey) AS bkt,
          |         bitmap_construct_agg(bitmap_bit_position(c_custkey)) AS bm
          |  FROM graft_cust_bm_v GROUP BY 1, 2)
          |SELECT c_mktsegment, CAST(SUM(bitmap_count(bm)) AS BIGINT) AS nd_customers
          |FROM b GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
      """SELECT c_mktsegment, COUNT(DISTINCT c_custkey) AS nd_customers
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // DataFrame stat sketches — `stat.freqItems` (heavy hitters, the
    // Karp-Papadimitriou-Shenker one-pass sketch) + `stat.sampleBy`
    // (stratified sample by per-stratum fractions), the profiling twins of
    // crosstab/approx_percentile. Graded with the exact-companion +
    // bound-verdict pattern: `freq_ok` replays the sketch's ONE guarantee
    // (every stratum whose true share >= the support threshold must be
    // reported frequent — false positives allowed, misses not), `samp_ok`
    // bounds the per-stratum sample count at 5 sigma of Binomial(n, f) —
    // wide enough that the fixed-seed deterministic sampler can never
    // flake, tight enough that a broken sampler (0%, 100%, wrong stratum)
    // fails every group. The sketch internals stay engine-local; DuckDB
    // replays the exact counts and TRUE verdicts.
    Op("agg_freq_items", (s, d) => {
      val cust = Tables.customer(s, d)
      val support = 0.1
      val frac = 0.2
      val total = cust.count()
      val frequent = cust.stat.freqItems(Seq("c_mktsegment"), support)
        .collect()(0).getSeq[String](0).toSet
      val strata = cust.select("c_mktsegment").distinct()
        .collect().map(_.getString(0))
      val sampled = cust.stat
        .sampleBy("c_mktsegment", strata.map(_ -> frac).toMap, 42L)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_sampled"))
      cust.groupBy("c_mktsegment").agg(count(lit(1)).as("n_exact"))
        .join(sampled, Seq("c_mktsegment"), "left")
        .select(col("c_mktsegment"), col("n_exact"),
          // sketch contract: true share >= support ⇒ reported frequent
          (!(col("n_exact") >= lit(support * total)) ||
            col("c_mktsegment").isin(frequent.toSeq: _*)).as("freq_ok"),
          (abs(coalesce(col("n_sampled"), lit(0L)) - lit(frac) * col("n_exact"))
            <= lit(5.0) * sqrt(lit(frac * (1 - frac)) * col("n_exact")))
            .as("samp_ok"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, COUNT(*) AS n_exact,
        |  TRUE AS freq_ok, TRUE AS samp_ok
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // COUNT-MIN SKETCH — the frequency-estimation sketch beside the HLL
    // (distinct) and KPS (freqItems) ones: d=4 hash rows × w=64 buckets,
    // each key counted once per row at an md5-derived bucket, point
    // estimate = min over the 4 rows' counters. The sketch is 256 cells
    // REGARDLESS of stream size and merges by cell-wise addition — at
    // 100 TB the counters build in one scan-linear pass (map-side partial
    // agg collapses each partition to ≤256 rows before the shuffle) and
    // heavy-hitter point queries never rescan the stream. Both the
    // estimates AND the one-sided guarantee (CMS never underestimates)
    // are DETERMINISTIC here because the hash is the cross-engine md5
    // recipe — so the oracle hash-grades the estimates themselves, not
    // just a tolerance verdict. Probes: the 20 most frequent customers.
    Op("agg_cms_freq", (s, d) => {
      val depth = 4; val width = 64
      val bucketOf = (kExpr: String, j: String) =>
        s"${md5Bits(s"concat($j, ':', $kExpr)", 8)} % $width"
      val cells = Tables.orders(s, d)
        .select(col("o_custkey").cast("string").as("k"))
        // single-row-group scan → one task; spread the keys before the
        // 4-md5-per-key bucket projection (guide §2.5; the sketch build is
        // the op's dominant per-row work and map-side partial aggregation
        // still collapses each partition to ≤256 cells before the shuffle)
        .repartition(math.max(1, s.sparkContext.defaultParallelism))
        .select(explode(sequence(lit(0), lit(depth - 1))).as("j"), col("k"))
        .withColumn("bucket", expr(bucketOf("k", "j")))
        .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
      val topKeys = Tables.orders(s, d)
        .groupBy("o_custkey").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("o_custkey")).limit(20)
      topKeys
        .select(col("o_custkey"), col("exact_n"),
          explode(sequence(lit(0), lit(depth - 1))).as("j"))
        .withColumn("bucket", expr(bucketOf("CAST(o_custkey AS STRING)", "j")))
        .join(broadcast(cells), Seq("j", "bucket"))
        .groupBy("o_custkey", "exact_n")
        .agg(min("cnt").as("cms_est"))
        .withColumn("never_under", col("cms_est") >= col("exact_n"))
        .orderBy("o_custkey")
    },
      // Full cross-engine replay — the md5 bucket hash is deterministic, so
      // DuckDB rebuilds the identical 256-cell sketch and the ESTIMATES
      // hash-match, not just a verdict.
      s"""WITH ks AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
        |cells AS (
        |  SELECT j, ${duckMd5Bits("j || ':' || k", 8)} % 64 AS bucket,
        |         COUNT(*) AS cnt
        |  FROM ks, unnest([0, 1, 2, 3]) AS t(j) GROUP BY 1, 2),
        |topk AS (SELECT o_custkey, COUNT(*) AS exact_n FROM orders
        |         GROUP BY 1 ORDER BY exact_n DESC, o_custkey LIMIT 20),
        |probe AS (
        |  SELECT o_custkey, exact_n, j,
        |    ${duckMd5Bits("j || ':' || CAST(o_custkey AS VARCHAR)", 8)}
        |      % 64 AS bucket
        |  FROM topk, unnest([0, 1, 2, 3]) AS t(j))
        |SELECT p.o_custkey, p.exact_n, MIN(c.cnt) AS cms_est,
        |  MIN(c.cnt) >= p.exact_n AS never_under
        |FROM probe p JOIN cells c USING (j, bucket)
        |GROUP BY 1, 2 ORDER BY p.o_custkey""".stripMargin),

    // Mergeable HLL sketches (hll_sketch_agg / hll_union_agg) — the
    // pre-aggregation pattern that makes distinct counts cheap at 100 TB:
    // one sketch per partition (here per order year) stored once, any
    // rollup answered by UNIONING sketches instead of rescanning rows.
    // Graded with the bound-verdict pattern: exact companions + in-
    // tolerance flags; the sketch bytes stay engine-local.
    Op("agg_hll_merge", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_ord_hll_v")
      s.sql(
        """WITH yearly AS (
          |  SELECT year(o_orderdate) AS o_year,
          |         hll_sketch_agg(o_custkey) AS sk,
          |         COUNT(DISTINCT o_custkey) AS nd_exact
          |  FROM graft_ord_hll_v GROUP BY 1),
          |merged AS (
          |  SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est_total FROM yearly),
          |exact AS (SELECT COUNT(DISTINCT o_custkey) AS nd_total FROM graft_ord_hll_v)
          |SELECT y.o_year, y.nd_exact,
          |       abs(hll_sketch_estimate(y.sk) - y.nd_exact) <= 0.05 * y.nd_exact
          |         AS year_ok,
          |       e.nd_total,
          |       abs(m.est_total - e.nd_total) <= 0.05 * e.nd_total AS merge_ok
          |FROM yearly y CROSS JOIN merged m CROSS JOIN exact e
          |ORDER BY o_year""".stripMargin)
    },
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  COUNT(DISTINCT o_custkey) AS nd_exact, TRUE AS year_ok,
        |  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS nd_total,
        |  TRUE AS merge_ok
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin),

    // SKETCH SET ALGEBRA — the inclusion-exclusion estimate that
    // completes the HLL family (per-group estimate, mergeable union):
    // |A∩B| ≈ est(A) + est(B) − est(A∪B) over the 1997/1998 customer
    // cohorts. Sketches are built per cohort in one scan each and the
    // union is a sketch-space merge (no rescan) — at 100 TB the cohort
    // sketches are KB-sized mergeable state, and any pairwise overlap
    // matrix across N cohorts comes from N scans, not N². Graded with the
    // bound-verdict pattern: exact cardinalities hash-grade, the
    // intersection estimate must land within 10% of the UNION size (the
    // inclusion-exclusion error scale — errors of the three estimates
    // compound relative to |A∪B|, not |A∩B|).
    Op("agg_hll_intersect", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_ord_hllx_v")
      s.sql(
        """WITH a AS (SELECT DISTINCT o_custkey FROM graft_ord_hllx_v
          |           WHERE year(o_orderdate) = 1997),
          |b AS (SELECT DISTINCT o_custkey FROM graft_ord_hllx_v
          |      WHERE year(o_orderdate) = 1998),
          |ska AS (SELECT hll_sketch_agg(o_custkey) AS sk,
          |               COUNT(*) AS na FROM a),
          |skb AS (SELECT hll_sketch_agg(o_custkey) AS sk,
          |               COUNT(*) AS nb FROM b),
          |m AS (SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est_u
          |      FROM (SELECT sk FROM ska UNION ALL SELECT sk FROM skb)),
          |x AS (SELECT COUNT(*) AS inter_exact
          |      FROM a JOIN b ON a.o_custkey = b.o_custkey)
          |SELECT ska.na AS na_exact, skb.nb AS nb_exact,
          |  x.inter_exact,
          |  ska.na + skb.nb - x.inter_exact AS union_exact,
          |  abs(m.est_u - (ska.na + skb.nb - x.inter_exact))
          |    <= 0.05 * (ska.na + skb.nb - x.inter_exact) AS union_ok,
          |  abs(hll_sketch_estimate(ska.sk) + hll_sketch_estimate(skb.sk)
          |      - m.est_u - x.inter_exact)
          |    <= 0.10 * (ska.na + skb.nb - x.inter_exact) AS inter_ok
          |FROM ska CROSS JOIN skb CROSS JOIN m CROSS JOIN x""".stripMargin)
    },
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders
        |           WHERE year(o_orderdate) = 1997),
        |b AS (SELECT DISTINCT o_custkey FROM orders
        |      WHERE year(o_orderdate) = 1998),
        |x AS (SELECT COUNT(*) AS inter_exact
        |      FROM a JOIN b ON a.o_custkey = b.o_custkey)
        |SELECT (SELECT COUNT(*) FROM a) AS na_exact,
        |  (SELECT COUNT(*) FROM b) AS nb_exact,
        |  x.inter_exact,
        |  (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b) - x.inter_exact
        |    AS union_exact,
        |  TRUE AS union_ok, TRUE AS inter_ok
        |FROM x""".stripMargin),

    // Approximate percentile (t-digest-class sketch beside the exact
    // interpolated agg_percentile): graded with the same bound-verdict
    // pattern as the HLL op — exact median + a flag that the sketch landed
    // within tolerance (±2% relative, or ±1 absolute: the sketch returns a
    // DATA value while the exact median may interpolate x.5 between
    // integer quantities). l_quantity is integer-valued, so the exact
    // interpolation is binary-exact cross-engine (agg_percentile law).
    Op("agg_approx_percentile", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_quantity, 0.5D, 10000)").as("ap"),
          expr("percentile(l_quantity, 0.5D)").as("exact_p50"))
        .select(col("l_returnflag"), col("exact_p50"),
          (abs(col("ap") - col("exact_p50"))
            <= greatest(col("exact_p50") * 0.02, lit(1.0))).as("approx_ok"))
        .orderBy("l_returnflag"),
      // Same bound-verdict pattern: the sketch value stays engine-local, the
      // exact median and the in-tolerance flag are what the hash grades.
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS exact_p50, TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // SQL-2016 LISTAGG (Spark 4.0+): ordered string aggregation — the
    // canonical "names per group" report. Deterministic because the
    // WITHIN GROUP order is total (names are unique).
    Op("agg_listagg", (s, d) => {
      Tables.customer(s, d).where(col("c_custkey") % 50 === 0)
        .createOrReplaceTempView("graft_listagg_src")
      s.sql(
        """SELECT c_mktsegment,
          |  listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names,
          |  COUNT(*) AS n_cust
          |FROM graft_listagg_src
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
      """SELECT c_mktsegment, string_agg(c_name, ',' ORDER BY c_name) AS names,
        |  COUNT(*) AS n_cust
        |FROM customer WHERE c_custkey % 50 = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Linear-regression aggregates. Graded values come from EXACT integer
    // moments (decimal sums cast to double, then identical IEEE arithmetic
    // in both engines — the agg_stats law); the built-in regr_slope /
    // regr_intercept / regr_r2 / regr_count surface is exercised alongside
    // and graded via a tolerance verdict (their streaming double merges are
    // partition-order-dependent in the low bits, so the raw values can
    // never hash-match cross-engine).
    Op("agg_regression", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("bigint").as("q"),
          round(col("l_extendedprice") * 100).cast("bigint").as("p"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("q").cast("decimal(38,0)")).cast("double").as("sq"),
          sum(col("p").cast("decimal(38,0)")).cast("double").as("sp"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).cast("double").as("sq2"),
          sum((col("p") * col("p")).cast("decimal(38,0)")).cast("double").as("sp2"),
          sum((col("q") * col("p")).cast("decimal(38,0)")).cast("double").as("sqp"),
          expr("regr_slope(p, q)").as("bs"),
          expr("regr_intercept(p, q)").as("bi"),
          expr("regr_r2(p, q)").as("br"),
          expr("regr_count(p, q)").cast("double").as("bn"))
        .select(col("l_returnflag"),
          expr("(sqp - sq*sp/n)/(sq2 - sq*sq/n)").as("slope"),
          expr("sp/n - (sqp - sq*sp/n)/(sq2 - sq*sq/n) * sq/n").as("icept"),
          expr("((sqp - sq*sp/n)*(sqp - sq*sp/n))/((sq2 - sq*sq/n)*(sp2 - sp*sp/n))").as("r2"),
          col("n"),
          (abs(col("bs") - expr("(sqp - sq*sp/n)/(sq2 - sq*sq/n)"))
            <= abs(expr("(sqp - sq*sp/n)/(sq2 - sq*sq/n)")) * 1e-6
            && abs(col("bi") - expr("sp/n - (sqp - sq*sp/n)/(sq2 - sq*sq/n) * sq/n"))
              <= abs(expr("sp/n - (sqp - sq*sp/n)/(sq2 - sq*sq/n) * sq/n")) * 1e-6
            && abs(col("br") - expr("((sqp - sq*sp/n)*(sqp - sq*sp/n))/((sq2 - sq*sq/n)*(sp2 - sp*sp/n))"))
              <= lit(1e-6)
            && col("bn") === col("n")).as("builtin_ok"))
        .orderBy("l_returnflag"),
      // Identical exact-moment arithmetic, spelled with the same expression
      // text so both engines execute the same IEEE operation sequence; the
      // built-in-vs-exact verdict is replayed as TRUE.
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(q) AS DOUBLE) AS sq,
        |    CAST(SUM(p) AS DOUBLE) AS sp,
        |    CAST(SUM(q*q) AS DOUBLE) AS sq2,
        |    CAST(SUM(p*p) AS DOUBLE) AS sp2,
        |    CAST(SUM(q*p) AS DOUBLE) AS sqp
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p FROM lineitem)
        |  GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  (sqp - sq*sp/n)/(sq2 - sq*sq/n) AS slope,
        |  sp/n - (sqp - sq*sp/n)/(sq2 - sq*sq/n) * sq/n AS icept,
        |  ((sqp - sq*sp/n)*(sqp - sq*sp/n))/((sq2 - sq*sq/n)*(sp2 - sp*sp/n)) AS r2,
        |  n, TRUE AS builtin_ok
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // Robust statistics: median + MAD + IQR — the outlier-filter stage of a
    // data-quality pipeline. All quantiles are exact interpolations at
    // binary-fraction probes over integer-valued doubles (bit-equal to
    // DuckDB's quantile_cont, the agg_percentile law); the MAD's absolute
    // deviations land on the 0.5 grid so their median is exact too. The
    // per-group median joins back via broadcast — two passes, no collect.
    Op("agg_median_mad", (s, d) => {
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity").as("q"))
      val med = base.groupBy("l_returnflag")
        .agg(expr("percentile(q, 0.5D)").as("med"))
      base.join(broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max(col("med")).as("med"),
          expr("percentile(abs(q - med), 0.5D)").as("mad"),
          (expr("percentile(q, 0.75D)") - expr("percentile(q, 0.25D)")).as("iqr"))
        .orderBy("l_returnflag")
    },
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, MAX(med) AS med,
        |  quantile_cont(abs(l_quantity - med), 0.5) AS mad,
        |  quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25) AS iqr
        |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY 1""".stripMargin),

    // Fixed-width histogram binning on exact cents (integer DIV — a double
    // floor() would round differently at bucket edges): the profiling
    // pass a data-quality pipeline runs per column.
    Op("agg_histogram", (s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket", expr(
          "CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV 6000000"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy("bucket"),
      """SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 6000000 AS bucket,
        |  COUNT(*) AS n_orders, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),

    // arg-max/arg-min aggregates (max_by/min_by, Spark 3.0+ / DuckDB
    // arg_max): which order carries the group's extreme price. The ordering
    // key is (cents · 2³³ + orderkey) — UNIQUE, because max_by on a tied
    // raw price is engine-arbitrary; cents < 2²⁹ and orderkey < 2³³ keep
    // the packed key exact in a BIGINT at bench scales (a 100 TB deployment
    // widens to a DECIMAL or a struct ordering key).
    Op("agg_argminmax", (s, d) =>
      Tables.orders(s, d)
        .withColumn("ok", expr(
          "CAST(ROUND(o_totalprice * 100) AS BIGINT) * 8589934592 + o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(expr("max_by(o_orderkey, ok)").as("max_price_order"),
          expr("min_by(o_orderkey, ok)").as("min_price_order"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
        .orderBy("o_orderstatus"),
      """WITH o AS (SELECT *,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) * 8589934592 + o_orderkey AS ok
        |  FROM orders)
        |SELECT o_orderstatus,
        |  arg_max(o_orderkey, ok) AS max_price_order,
        |  arg_min(o_orderkey, ok) AS min_price_order,
        |  MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
        |FROM o GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Custom typed UDAF (Aggregator): geometric mean.
    Op("agg_udaf_geomean", (s, d) => {
      val gm = udaf(GeoMean)
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(round(gm(col("o_totalprice")), 2).as("geomean"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, ROUND(EXP(AVG(LN(o_totalprice))), 2) AS geomean
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // grouping()/grouping_id() over ROLLUP — the bit-vector that tells a
    // report row which dimensions were aggregated away (both engines use
    // the same MSB-first bit order; the oracle replays GROUPING(a,b)).
    Op("agg_grouping_id", (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          grouping_id().cast("bigint").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("n"), col("g_flag"), col("g_status"), col("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus"),
      """SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
        |  COALESCE(l_linestatus, '(all)') AS l_linestatus,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),

    // Power-of-two (log₂) bucketed histogram — the HDR-histogram shape a
    // metrics pipeline uses for latency/amount distributions (exponential
    // buckets keep the tail resolved at constant memory). The bucket
    // index floor(log₂(cents)) is derived WITHOUT transcendentals on
    // data: length(bin(x))−1 on the BIGINT — bit-length is exact in both
    // engines where IEEE log2 could straddle a ULP at 2^k boundaries.
    // One groupBy shuffle on ≤40 buckets; map-side partials do the work.
    Op("agg_log_histogram", (s, d) =>
      Tables.orders(s, d)
        .select(round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .where(col("cents") >= 1)
        .withColumn("bucket", (length(bin(col("cents"))) - 1).cast("bigint"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .orderBy("bucket"),
      // Same bit-length bucket (DuckDB bin() is the same minimal binary
      // string for positive BIGINTs).
      """WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT cents,
        |    CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket
        |  FROM c WHERE cents >= 1)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  MIN(cents) AS min_cents, MAX(cents) AS max_cents
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)
  )
}
