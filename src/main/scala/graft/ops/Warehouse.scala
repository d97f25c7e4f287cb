package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Warehouse-layer operators (SURVEY.md §2.13, round 3): the Hive-warehouse
  * capabilities a Spark-SQL analytics service exposes beyond plain parquet
  * scans — catalog DDL (CREATE TABLE / INSERT OVERWRITE / `spark.table`
  * read-back), bucketed layout whose equi-join plans NO exchange on the
  * bucket key (the standard shuffle-elimination layout tool: at 100 TB the
  * fact-fact join is pre-shuffled once at write time and never again), and
  * dynamic partition pruning (the dim-side filter prunes fact partitions at
  * RUNTIME via a dynamicpruning subquery — the flagship Spark warehouse
  * optimization for star-schema scans).
  */
object Warehouse extends Family {

  /** One bloom-configured child session per parent session (not per
    * invocation — best-of-2 bench and repeated Verify runs would otherwise
    * accumulate session state on the shared SparkContext forever). */
  private val bloomSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  private def bloomSession(s: SparkSession): SparkSession =
    bloomSessions.synchronized {
      Option(bloomSessions.get(s)).getOrElse {
        val s2 = s.newSession()
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        bloomSessions.put(s, s2)
        s2
      }
    }

  val ops: Seq[Op] = Seq(
    // Enforced write with QUARANTINE — the constraint-checked ingest
    // every warehouse needs in front of untrusted feeds: instead of
    // failing the whole batch on the first bad row (ANSI) or silently
    // nulling it (try_*), rows are routed by the FIRST violated CHECK
    // (NOT NULL key / non-negative price / sane year) into a valid or a
    // quarantine partition, each carrying its violation reason. ONE scan
    // and ONE partitioned write — at 100 TB there is no second pass, no
    // driver-side split, and the two dispositions are partition dirs a
    // consumer reads (and prunes) independently. Corruption is planted
    // deterministically on disjoint mod-97 residues so the oracle can
    // replay the router exactly; src_key keeps quarantined rows
    // identifiable after their natural key was nulled.
    Op("warehouse_quarantine", (s, d) => {
      val dir = Scratch.opDir("quarantine", d)
      val batch = Tables.orders(s, d).select(
        when(col("o_orderkey") % 97 === 31, lit(null).cast("long"))
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        col("o_orderkey").as("src_key"),
        when(col("o_orderkey") % 97 === 93, year(col("o_orderdate")) + 1000)
          .otherwise(year(col("o_orderdate"))).as("o_year"),
        when(col("o_orderkey") % 97 === 62, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      val routed = batch
        .withColumn("violation",
          when(col("o_orderkey").isNull, "null_key")
            .when(col("o_totalprice") < 0, "negative_price")
            .when(!col("o_year").between(1990, 2100), "year_out_of_range")
            .otherwise("ok"))
        .withColumn("disposition",
          when(col("violation") === "ok", "valid").otherwise("quarantine"))
      routed.write.mode("overwrite").partitionBy("disposition").parquet(dir)
      s.read.parquet(dir)
        .groupBy("disposition", "violation")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          min("src_key").as("min_src_key"))
        .orderBy("disposition", "violation")
    },
      // The constraint router replayed: same mod-97 corruption, same
      // first-violation precedence (null_key > negative_price > year).
      """WITH b AS (SELECT
        |    CASE WHEN o_orderkey % 97 = 31 THEN NULL ELSE o_orderkey END AS k,
        |    o_orderkey AS src_key,
        |    CASE WHEN o_orderkey % 97 = 93 THEN year(o_orderdate) + 1000
        |         ELSE year(o_orderdate) END AS y,
        |    CASE WHEN o_orderkey % 97 = 62 THEN -o_totalprice
        |         ELSE o_totalprice END AS p
        |  FROM orders),
        |c AS (SELECT *,
        |    CASE WHEN k IS NULL THEN 'null_key'
        |         WHEN p < 0 THEN 'negative_price'
        |         WHEN y NOT BETWEEN 1990 AND 2100 THEN 'year_out_of_range'
        |         ELSE 'ok' END AS violation
        |  FROM b)
        |SELECT CASE WHEN violation = 'ok' THEN 'valid' ELSE 'quarantine' END
        |    AS disposition,
        |  violation, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(MIN(src_key) AS BIGINT) AS min_src_key
        |FROM c GROUP BY 1, 2 ORDER BY disposition, violation""".stripMargin),

    // Catalog DDL lifecycle as a graded query: CREATE TABLE USING parquet
    // (external location in the scratch dir so re-creation is idempotent
    // across JVMs), INSERT OVERWRITE from the source scan, read back via
    // the catalog. Oracle = plain scan of the inserted rows.
    Op("warehouse_table_ops", (s, d) => {
      s.sql(
        s"""CREATE TABLE IF NOT EXISTS graft_wh_nation
           |  (n_nationkey INT, n_name STRING, n_regionkey INT)
           |  USING parquet LOCATION '${Scratch.dir}/wh_nation'""".stripMargin)
      Tables.nation(s, d).createOrReplaceTempView("graft_wh_nation_src")
      s.sql(
        """INSERT OVERWRITE TABLE graft_wh_nation
          |SELECT n_nationkey, n_name, n_regionkey FROM graft_wh_nation_src""".stripMargin)
      s.table("graft_wh_nation").orderBy("n_nationkey")
    },
      // The DDL round-trip must reproduce the source rows exactly.
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    // Bucketed warehouse layout: orders and customer both bucketed 8 ways
    // on the join key at write time, so the join scans co-located buckets
    // and plans no exchange under the SortMergeJoin (asserted in
    // PlanShapeSpec) — only the final small aggregation shuffles. Oracle =
    // the same join/aggregate from the unbucketed sources.
    Op("sink_bucketed", (s, d) => {
      Tables.orders(s, d).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"${Scratch.dir}/bkt_orders")
        .saveAsTable("graft_bkt_orders")
      Tables.customer(s, d).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"${Scratch.dir}/bkt_customer")
        .saveAsTable("graft_bkt_customer")
      s.table("graft_bkt_orders")
        .join(s.table("graft_bkt_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("c_mktsegment")
    },
      // The bucketed join must equal the plain join of the sources.
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // View layer: a temp view defined by DDL over the source scan, queried
    // through the catalog — views are pure plan macros (zero storage, the
    // definition inlines into the consumer's plan, so pushdown/pruning act
    // through them). Oracle = the same query over the source.
    Op("warehouse_view_ops", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_src_v")
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW graft_big_orders_v AS
          |SELECT o_custkey, o_totalprice FROM graft_orders_src_v
          |WHERE o_totalprice > 200000""".stripMargin)
      s.sql(
        """SELECT o_custkey, COUNT(*) AS n_big,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM graft_big_orders_v GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    },
      """SELECT o_custkey, COUNT(*) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 200000
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // PERSISTENT (metastore-backed) views — the cross-session sharing
    // contract `warehouse_view_ops`' temp views lack: both a plain
    // filtered view and a PII-masking governance view are CREATE VIEWed
    // into the Derby-backed catalog over a metastore table, then queried
    // from a NEW session, so the definitions must round-trip through the
    // metastore (exactly the `warehouse_metastore_ops` proof, lifted to
    // the view/governance layer). Views stay pure plan macros — zero
    // storage, pushdown acts through them — but the macro is now shared
    // infrastructure: every session gets the same masking policy. Oracle
    // = the same filter/mask/join over the source parquet.
    Op("warehouse_view_metastore", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite")
        .option("path", s"${Scratch.dir}/meta/cust_gov")
        .saveAsTable("graft_db.cust_gov")
      s.sql(
        """CREATE OR REPLACE VIEW graft_db.rich_cust_v AS
          |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_db.cust_gov
          |WHERE c_acctbal > 5000""".stripMargin)
      s.sql(
        """CREATE OR REPLACE VIEW graft_db.cust_masked_pv AS
          |SELECT c_custkey, CONCAT('Customer#***', RIGHT(c_name, 3)) AS name_masked
          |FROM graft_db.cust_gov""".stripMargin)
      val s2 = s.newSession()
      s2.table("graft_db.rich_cust_v")
        .join(s2.table("graft_db.cust_masked_pv"), "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rich"),
          sum(dec(col("c_acctbal"))).cast("double").as("total_bal"),
          countDistinct(col("name_masked")).as("n_masked_names"))
        .orderBy("c_mktsegment")
    },
      """WITH rich AS (SELECT c_custkey, c_mktsegment, c_acctbal
        |              FROM customer WHERE c_acctbal > 5000),
        |mask AS (SELECT c_custkey,
        |           'Customer#***' || RIGHT(c_name, 3) AS name_masked
        |         FROM customer)
        |SELECT c_mktsegment, COUNT(*) AS n_rich,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal,
        |  COUNT(DISTINCT name_masked) AS n_masked_names
        |FROM rich JOIN mask USING (c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Runtime bloom-filter join (the runtime-filter companion to DPP for
    // UNpartitioned data): a selective dim-side filter is turned into a
    // bloom filter that prunes the fact scan's rows before the shuffle —
    // at 100 TB this cuts the shuffled fact volume by the dim selectivity
    // without any partitioning prerequisite. Runs in a child session so
    // the injection thresholds (sized for clusters) and the disabled
    // auto-broadcast (to force the shuffle join the filter applies to)
    // don't leak into other operators' plans. Oracle = the plain join.
    Op("join_bloom_filtered", (s, d) => {
      val s2 = bloomSession(s)
      // the dim filter keeps 10% of parts at every scale factor (a price
      // threshold isn't scale-stable: retailprice spans 900–919.9 at
      // sf0.001 but 900–999.9 at sf0.1)
      Tables.lineitem(s2, d)
        .join(Tables.part(s2, d).where(col("p_partkey") % 10 === 0),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey")
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_partkey % 10 = 0
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin),

    // Small-file compaction — the standing maintenance job of a streaming-
    // ingest warehouse: a 16-file landing zone is rewritten as 2 files
    // (coalesce = no shuffle, just fewer write tasks); at 100 TB this is
    // what keeps scan task counts and parquet footer overhead bounded.
    // Row equality with the source is the oracle; the file-count drop is
    // asserted in ScalaTest.
    // Parquet-native BLOOM FILTERS (the file-format twin of the
    // lakehouse's sidecar bloom index): the writer embeds a per-row-group
    // bloom on o_custkey — an UNCLUSTERED key min/max stats can't prune —
    // and the reader's row-group filter consults it for point predicates
    // (parquet.filter.bloom.enabled, on by default). SourceSinkSpec
    // asserts the bloom bytes are really in the footer. At 100 TB this is
    // row-group-level skipping INSIDE files, composing with file-level
    // stats pruning above it.
    Op("sink_parquet_bloom", (s, d) => {
      val dir = Scratch.opDir("pqbloom", d)
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(4, col("o_orderkey"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        // parquet-mr SKIPS the bloom when a column ends fully
        // dictionary-encoded (the dictionary already is a perfect
        // membership filter) — turn the dictionary off for exactly this
        // column so the bloom is actually materialized at every sf
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(dir)
      s.read.parquet(dir).where(col("o_custkey").isin(7L, 19L, 101L))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_custkey")
    },
      // The bloom round-trip must read back the exact point-lookup rows.
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_custkey IN (7, 19, 101)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    Op("sink_compacted", (s, d) => {
      val base = s"${Scratch.dir}/compact"
      Tables.orders(s, d).repartition(16).write.mode("overwrite").parquet(s"$base/landing")
      s.read.parquet(s"$base/landing").coalesce(2)
        .write.mode("overwrite").parquet(s"$base/compacted")
      s.read.parquet(s"$base/compacted")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Dynamic partition pruning: orders partitioned by year — registered as
    // a CATALOG partitioned table (how the Hive service would actually
    // serve it; partitions resolved via the metastore file index, and
    // SHOW PARTITIONS / MSCK apply to it — WarehouseSpec) — and a year-dim
    // with a filter on a NON-join column (`label`), joined on the partition
    // column. The 1997 partition is selected at runtime by the
    // dynamicpruning subquery Spark injects from the broadcast dim —
    // asserted in PlanShapeSpec — so the fact scan reads one directory, not
    // the table. Oracle replays the dim derivation + join in SQL.
    Op("join_dpp", (s, d) => {
      val base = s"${Scratch.dir}/dpp"
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year")
        .option("path", s"$base/orders_p").saveAsTable("graft_dpp_orders")
      Tables.orders(s, d)
        .select(year(col("o_orderdate")).as("yr")).distinct()
        .withColumn("label", concat(lit("Y"), col("yr")))
        .write.mode("overwrite").parquet(s"$base/year_dim")
      val fact = s.table("graft_dpp_orders")
      val dim = s.read.parquet(s"$base/year_dim").where(col("label") === "Y1997")
      fact.join(dim, col("o_year") === col("yr"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_orderpriority")
    },
      """WITH dim AS (SELECT DISTINCT year(o_orderdate) AS yr FROM orders),
        |d2 AS (SELECT yr, 'Y' || CAST(yr AS VARCHAR) AS label FROM dim)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders o JOIN d2 ON year(o.o_orderdate) = d2.yr
        |WHERE d2.label = 'Y1997'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Persistent-metastore partition lifecycle — the day-2 Hive operation
    // set: a DATABASE plus an external year-partitioned table registered in
    // the (Derby-backed) Hive metastore, one partition's METADATA dropped
    // and rediscovered from the directory layout via MSCK REPAIR, and the
    // graded read issued from a NEW session — the table must resolve
    // through the metastore, not session temp state. (ALTER TABLE
    // ADD/DROP PARTITION and SHOW PARTITIONS are asserted in
    // WarehouseSpec; at 100 TB this catalog is what turns "a pile of
    // directories" into tables that survive the service restarting.)
    Op("warehouse_metastore_ops", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year")
        .option("path", s"${Scratch.dir}/meta/orders_p")
        .saveAsTable("graft_db.orders_part")
      // external table ⇒ DROP PARTITION removes metadata only; MSCK
      // rediscovers the directory and re-registers it
      s.sql("ALTER TABLE graft_db.orders_part DROP IF EXISTS PARTITION (o_year=1996)")
      s.sql("MSCK REPAIR TABLE graft_db.orders_part")
      val s2 = s.newSession()
      s2.sql("SHOW PARTITIONS graft_db.orders_part").count()
      s2.table("graft_db.orders_part")
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_year")
    },
      // The metastore round-trip must reproduce the per-year rollup of the
      // source exactly (DROP PARTITION + MSCK is metadata-only on an
      // external table — losing rows here means the lifecycle lost data).
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin),

    // ANALYZE TABLE / CBO stats surface: table + column statistics computed
    // into the catalog, which is what lets the cost-based planner size
    // joins and filters from DATA instead of file sizes (the round-3
    // broadcast guard existed precisely because derived-frame estimates
    // without stats are garbage — this op is the real fix). WarehouseSpec
    // asserts the planner consumed them: exact rowCount visible under CBO
    // and a stats-driven selectivity estimate on a filtered scan. Oracle =
    // the same rollup from the source parquet.
    Op("warehouse_stats_cbo", (s, d) => {
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .option("path", s"${Scratch.dir}/stats/orders")
        .saveAsTable("graft_stats_orders")
      s.sql("ANALYZE TABLE graft_stats_orders COMPUTE STATISTICS")
      s.sql("ANALYZE TABLE graft_stats_orders COMPUTE STATISTICS " +
        "FOR COLUMNS o_orderkey, o_custkey, o_orderstatus, o_totalprice")
      s.table("graft_stats_orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_custs,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // CREATE TABLE AS SELECT — the one-statement derived-table surface
    // every SQL warehouse user reaches for first. Managed parquet table in
    // the (scratch) warehouse dir so DROP deletes data and re-runs are
    // idempotent; the filter keys on c_custkey % (scale-stable — a balance
    // threshold selects a different fraction per SF).
    Op("warehouse_ctas", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_ctas_src")
      s.sql("DROP TABLE IF EXISTS graft_ctas_cust")
      s.sql(
        """CREATE TABLE graft_ctas_cust USING parquet AS
          |SELECT c_custkey, c_name, c_acctbal, c_mktsegment
          |FROM graft_ctas_src WHERE c_custkey % 10 = 0""".stripMargin)
      s.table("graft_ctas_cust")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("balance"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS balance
        |FROM customer WHERE c_custkey % 10 = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // CACHE TABLE — the interactive-service working-set surface: an eagerly
    // cached derived view (columnar in-memory), consumed through
    // InMemoryTableScan (plan-asserted in WarehouseSpec). At 100 TB the
    // cached relation is the small hot aggregate/dimension layer, never the
    // fact table; the cache is partition-distributed, not driver-side.
    // (renamed from a shadowed duplicate of warehouse_cache_ops in round
    // 7 — the CACHE TABLE + cached-dim JOIN shape, distinct from the
    // CACHE TABLE AS SELECT lifecycle op below)
    Op("warehouse_cache_join", (s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("graft_cache_nation")
      Tables.customer(s, d).createOrReplaceTempView("graft_cache_customer")
      s.sql("CACHE TABLE graft_cache_nation")
      s.sql(
        """SELECT n.n_name, COUNT(*) AS n_cust,
          |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS balance
          |FROM graft_cache_customer c
          |JOIN graft_cache_nation n ON c.c_nationkey = n.n_nationkey
          |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    },
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS balance
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // SCD type-2 dimension build — the standard warehouse history table:
    // per user, collapse the event stream to type-change rows, each valid
    // [valid_from, valid_to) with an open current row. Two window passes
    // over the SAME (user_id) partitioning — one shuffle, the second
    // window reuses it. Total order inside a user is (ts_us, event_id)
    // so duplicate timestamps cannot make the intervals nondeterministic.
    Op("warehouse_scd2", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .where(col("user_id") % 20 === 0)
        .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .where(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ts_us").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        // valid_to completes the total order: interleaved duplicate
        // timestamps (view@T, click@T, view@T) can yield two rows with
        // identical (user, valid_from, type) differing only in valid_to
        .orderBy("user_id", "valid_from", "event_type", "valid_to")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |           FROM events WHERE user_id % 20 = 0),
        |c AS (SELECT *, lag(event_type)
        |        OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
        |f AS (SELECT user_id, event_type, ts_us, event_id FROM c
        |      WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ts_us AS valid_from,
        |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to,
        |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL AS is_current
        |FROM f ORDER BY user_id, valid_from, event_type, valid_to""".stripMargin),

    // PARTITION-SCOPED MERGE upsert on a plain-parquet warehouse (vanilla
    // Spark has no row-level MERGE for v1 tables, so this IS the
    // production pattern): the base is partitioned on o_year; the change
    // batch (price restatements for 1997 keys ≡0 mod 7, cloned inserts
    // into 1996) names its target partitions; the merge full-outer-joins
    // ONLY those partitions' rows against the batch and rewrites ONLY
    // them via dynamic partition overwrite — every other partition's
    // files keep their byte identity (asserted in WarehouseSpec), so a
    // merge costs O(changed partitions), never O(table). The hot
    // partition list comes from the batch itself: a driver-side collect
    // of partition KEYS — metadata, not data. Round 7's formulation
    // rewrote the whole table per merge; at 100 TB that is the
    // difference between a nightly job and an impossibility.
    Op("sink_merge_upsert", (s, d) => {
      val dir = mergeUpsertLoad(s, d)
      mergeUpsertRestate(s, d, dir)
      s.read.parquet(dir)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_inserted"))
        .orderBy("o_year")
    },
      // Post-state replay: key%7 rows carry bal+100, key%11 rows appear twice
      // (original + cloned insert with the shifted key).
      // Post-state replay from the source alone: updates bump 1997 keys
      // ≡0 mod 7 by 100, inserts clone 1996 keys ≡0 mod 11 shifted +10M.
      """WITH src AS (SELECT o_orderkey, o_totalprice, year(o_orderdate) AS o_year FROM orders),
        |post AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_year = 1997 AND o_orderkey % 7 = 0
        |         THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
        |    o_year
        |  FROM src
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, o_year
        |  FROM src WHERE o_year = 1996 AND o_orderkey % 11 = 0)
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM post GROUP BY o_year ORDER BY o_year""".stripMargin),

    Op("warehouse_cache_ops", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_cache_src")
      s.sql("UNCACHE TABLE IF EXISTS graft_cache_hot")
      s.catalog.dropTempView("graft_cache_hot")
      s.sql(
        """CACHE TABLE graft_cache_hot AS
          |SELECT o_orderstatus, o_orderpriority, o_totalprice
          |FROM graft_cache_src WHERE o_orderkey % 4 = 0""".stripMargin)
      s.table("graft_cache_hot")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 4 = 0
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // Dynamic partition overwrite — the standard warehouse ingest pattern:
    // a full year-partitioned load, then ONE year restated by a second
    // write with partitionOverwriteMode=dynamic (a writer option, so the
    // session conf never leaks): only partitions present in the incoming
    // frame are replaced, every other year's files are untouched
    // (file-identity asserted in WarehouseSpec). The oracle proves the
    // post-state: 1997 holds only the restated subset, all other years the
    // full load. The restated subset keys on o_orderkey % 2 (scale-stable
    // — a price threshold selects a different fraction per SF).
    Op("sink_partition_overwrite_dynamic", (s, d) => {
      val base = s"${Scratch.dir}/dynover/orders_p"
      val src = Tables.orders(s, d).withColumn("o_year", year(col("o_orderdate")))
      src.write.mode("overwrite").partitionBy("o_year").parquet(base)
      src.where(col("o_year") === 1997 && col("o_orderkey") % 2 === 0)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_year").parquet(base)
      s.read.parquet(base)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_year")
    },
      // Post-state proof: 1997 carries only the restated even-key subset,
      // every other year the untouched full load.
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE year(o_orderdate) <> 1997 OR o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY o_year""".stripMargin),

    // Data-quality audit — the nightly warehouse health check a Hive
    // service actually serves: null keys, domain violations, duplicate
    // keys, FK orphans, derived-column drift. One single-pass aggregate
    // per table (two checks share the lineitem scan) + a left-anti probe
    // for orphans; emitted as (check, n) rows so the report is one frame.
    // Expectation SUITE with verdicts (the Deequ-style quality GATE
    // beside warehouse_quality_audit's raw violation counts): each
    // constraint reports its measured metric as an exact micro-fraction
    // (ok·10⁶ DIV rows — integer, hash-gradeable) plus a boolean verdict;
    // a CI/ingest pipeline keys its promote/quarantine decision off the
    // verdicts. One pass computes the four single-table metrics
    // (multi-aggregate, map-side partials); referential integrity is a
    // broadcast semi join count. At 100 TB the suite is two scans total,
    // each scan-linear with scalar state per metric.
    Op("warehouse_expectations", (s, d) => {
      val o = Tables.orders(s, d)
      val m = o.agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderstatus")).as("nn_status"),
        countDistinct(col("o_orderkey")).as("nd_key"),
        sum(when(col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
          .as("ok_status"),
        sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("ok_price"))
      val fk = o.join(broadcast(Tables.customer(s, d).select("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_semi")
        .agg(count(lit(1)).as("ok_fk"))
      m.crossJoin(fk).selectExpr(
        """stack(5,
          |  'completeness_status', (nn_status * 1000000) DIV n_rows, nn_status = n_rows,
          |  'uniqueness_orderkey', (nd_key * 1000000) DIV n_rows, nd_key = n_rows,
          |  'accepted_status_values', (ok_status * 1000000) DIV n_rows, ok_status = n_rows,
          |  'range_totalprice_positive', (ok_price * 1000000) DIV n_rows, ok_price = n_rows,
          |  'referential_custkey', (ok_fk * 1000000) DIV n_rows, ok_fk = n_rows
          |) AS (check_name, metric_micro, passed)""".stripMargin)
        .orderBy("check_name")
    },
      """WITH m AS (SELECT COUNT(*) AS n_rows,
        |    COUNT(o_orderstatus) AS nn_status,
        |    COUNT(DISTINCT o_orderkey) AS nd_key,
        |    CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS ok_status,
        |    CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ok_price
        |  FROM orders),
        |f AS (SELECT COUNT(*) AS ok_fk FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM customer))
        |SELECT * FROM (
        |  SELECT 'completeness_status' AS check_name,
        |    CAST((nn_status * 1000000) // n_rows AS BIGINT) AS metric_micro,
        |    nn_status = n_rows AS passed FROM m
        |  UNION ALL SELECT 'uniqueness_orderkey',
        |    CAST((nd_key * 1000000) // n_rows AS BIGINT), nd_key = n_rows FROM m
        |  UNION ALL SELECT 'accepted_status_values',
        |    CAST((ok_status * 1000000) // n_rows AS BIGINT), ok_status = n_rows FROM m
        |  UNION ALL SELECT 'range_totalprice_positive',
        |    CAST((ok_price * 1000000) // n_rows AS BIGINT), ok_price = n_rows FROM m
        |  UNION ALL SELECT 'referential_custkey',
        |    CAST((f.ok_fk * 1000000) // m.n_rows AS BIGINT), f.ok_fk = m.n_rows
        |  FROM m, f)
        |ORDER BY check_name""".stripMargin),

    Op("warehouse_quality_audit", (s, d) => {
      val cust = Tables.customer(s, d).agg(
        sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("neg"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("dups"))
      val li = Tables.lineitem(s, d).agg(
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("nullkey"),
        sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L)).as("qtyrange"))
      val orph = Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val docs = Tables.documents(s, d).agg(
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L)).as("drift"))
      cust.select(lit("customer_neg_acctbal").as("check"), col("neg").as("n"))
        .unionAll(cust.select(lit("customer_dup_keys"), col("dups")))
        .unionAll(li.select(lit("lineitem_null_orderkey"), col("nullkey")))
        .unionAll(li.select(lit("lineitem_qty_out_of_range"), col("qtyrange")))
        .unionAll(orph.select(lit("orders_fk_orphans"), col("n")))
        .unionAll(docs.select(lit("documents_nchars_drift"), col("drift")))
        .orderBy("check")
    },
      """SELECT 'customer_dup_keys' AS "check",
        |  (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer) AS n
        |UNION ALL SELECT 'customer_neg_acctbal',
        |  (SELECT COUNT(*) FROM customer WHERE c_acctbal < 0)
        |UNION ALL SELECT 'documents_nchars_drift',
        |  (SELECT COUNT(*) FROM documents WHERE n_chars <> length(text))
        |UNION ALL SELECT 'lineitem_null_orderkey',
        |  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
        |UNION ALL SELECT 'lineitem_qty_out_of_range',
        |  (SELECT COUNT(*) FROM lineitem WHERE l_quantity NOT BETWEEN 1 AND 50)
        |UNION ALL SELECT 'orders_fk_orphans',
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |ORDER BY "check"""".stripMargin),

    // Materialized-view QUERY REWRITE — the serving half that
    // warehouse_incremental_mv's maintenance half feeds: the MV (exact
    // mergeable partials per (year, status)) is registered and CACHED;
    // a user query at a COARSER grain (per year) is answered by
    // re-aggregating the MV's partials — the base table is never
    // scanned (plan-asserted in WarehouseSpec: InMemoryTableScan, no
    // orders file scan). Spark has no automatic MV matching for v1
    // tables, so the rewrite is performed by the service layer — this
    // op IS that layer's contract: any rollup whose grouping is a
    // coarsening of the MV's grain and whose aggregates are mergeable
    // (count→sum, sum→sum) is answerable from |MV| rows instead of the
    // 100 TB base.
    Op("warehouse_mv_rewrite", (s, d) => {
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("pn"), sum(dec(col("o_totalprice"))).as("psum"))
        .createOrReplaceTempView("graft_mv_orders")
      s.sql("CACHE TABLE graft_mv_orders")
      s.table("graft_mv_orders")
        .groupBy("o_year")
        .agg(sum(col("pn")).cast("bigint").as("n_orders"),
          sum(col("psum")).cast("double").as("total"))
        .orderBy("o_year")
    },
      // The MV-answered rollup must equal the base-table aggregate exactly
      // (the rewrite's correctness contract).
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin),

    // Incremental materialized-view maintenance: the MV state is a set of
    // MERGEABLE partials (count + exact-decimal sum per key). A new batch
    // produces its own partials and the refresh is a re-aggregate of
    // (old state ∪ batch partials) — O(|MV| + |batch|), never a base-table
    // rescan. The two "loads" split every group (orderkey parity) so each
    // output row genuinely merges two partials; the oracle is the full
    // recompute the incremental path must equal.
    Op("warehouse_incremental_mv", (s, d) => {
      def partials(df: DataFrame): DataFrame = df
        .groupBy(year(col("o_orderdate")).as("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("pn"), sum(dec(col("o_totalprice"))).as("psum"))
      val load1 = partials(Tables.orders(s, d).where(col("o_orderkey") % 2 === 0))
      val load2 = partials(Tables.orders(s, d).where(col("o_orderkey") % 2 === 1))
      load1.unionAll(load2)
        .groupBy("o_year", "o_orderstatus")
        .agg(sum(col("pn")).cast("bigint").as("n_orders"),
          sum(col("psum")).cast("double").as("total"))
        .orderBy("o_year", "o_orderstatus")
    },
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_orderstatus""".stripMargin),

    // Table diff / reconciliation — the generation-over-generation audit
    // every migration and CDC backfill ends with: generation 2 is derived
    // from orders by a deterministic edit script (keys ≡0 mod 97 deleted,
    // ≡0 mod 89 repriced +1.00, ≡0 mod 101 cloned to a shifted key as
    // inserts), then ONE full-outer join on the key classifies every row
    // added / removed / changed, emitting old and new price side by side.
    // Unchanged rows (the 100 TB bulk) are filtered before the sort, so
    // the output is proportional to the CHANGE SET, not the table; at
    // scale the join co-partitions on the key and storage-level
    // generation diffs (warehouse_snapshot_changes) skip untouched files
    // entirely — this op is the row-level semantic on top.
    Op("warehouse_table_diff", (s, d) => {
      val v1 = Tables.orders(s, d)
        .select(col("o_orderkey").cast("bigint").as("k"),
          dec(col("o_totalprice")).as("price"))
      val v2 = v1.where(col("k") % 97 =!= 0)
        .select(col("k"),
          when(col("k") % 89 === 0, col("price") + dec(lit(1)))
            .otherwise(col("price")).as("price"))
        .unionAll(v1.where(col("k") % 101 === 0)
          .select((col("k") + 100000000L).as("k"), col("price")))
      v1.select(col("k"), col("price").as("old_price"))
        .join(v2.select(col("k"), col("price").as("new_price")), Seq("k"), "full_outer")
        .withColumn("change",
          when(col("old_price").isNull, lit("added"))
            .when(col("new_price").isNull, lit("removed"))
            .when(col("old_price") =!= col("new_price"), lit("changed"))
            .otherwise(lit("unchanged")))
        .where(col("change") =!= "unchanged")
        .select(col("k").as("o_orderkey"), col("change"),
          col("old_price").cast("double").as("old_price"),
          col("new_price").cast("double").as("new_price"))
        .orderBy("o_orderkey")
    },
      // Same edit script, same full-outer classification.
      """WITH v1 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_totalprice AS DECIMAL(18,4)) AS price FROM orders),
        |v2 AS (
        |  SELECT k, CASE WHEN k % 89 = 0 THEN price + 1 ELSE price END AS price
        |  FROM v1 WHERE k % 97 <> 0
        |  UNION ALL
        |  SELECT k + 100000000, price FROM v1 WHERE k % 101 = 0),
        |d AS (SELECT COALESCE(v1.k, v2.k) AS o_orderkey,
        |    v1.price AS old_price, v2.price AS new_price,
        |    CASE WHEN v1.k IS NULL THEN 'added'
        |         WHEN v2.k IS NULL THEN 'removed'
        |         WHEN v1.price <> v2.price THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
        |SELECT o_orderkey, change, CAST(old_price AS DOUBLE) AS old_price,
        |  CAST(new_price AS DOUBLE) AS new_price
        |FROM d WHERE change <> 'unchanged'
        |ORDER BY o_orderkey""".stripMargin),

    // Crypto-shredding (the GDPR erasure pattern for immutable storage:
    // encrypt every subject's PII under a PER-SUBJECT key, then "erase"
    // by deleting only the key — the ciphertext in parquet/backups
    // becomes permanently unreadable without a rewrite): names encrypt
    // under key(custkey) = md5-derived; the key table then LOSES every
    // custkey ≡ 3 (mod 10) (the erasure request batch), and the read
    // path try-decrypts with the surviving key or a dead key. Graded:
    // per-segment counts of recovered vs shredded + the fail-closed
    // verdicts (recovered plaintext matches, shredded rows yield NULL —
    // never garbage). AES-GCM per row; all scan-side, one rollup.
    Op("warehouse_crypto_shred", (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"), col("c_name"))
        .withColumn("true_key", expr("substring(md5(concat('k:', CAST(c_custkey AS STRING))), 1, 16)"))
        .withColumn("ct", expr("aes_encrypt(c_name, true_key)"))
        .withColumn("erased", col("c_custkey") % 10 === 3)
        // the key table after the erasure batch: dead key for erased subjects
        .withColumn("live_key", expr("CASE WHEN erased THEN 'deadbeefdeadbeef' ELSE true_key END"))
        .withColumn("pt", expr("CAST(try_aes_decrypt(ct, live_key) AS STRING)"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("erased"), 1L).otherwise(0L)).as("n_shredded"),
          sum(when(col("pt").isNotNull, 1L).otherwise(0L)).as("n_recovered"),
          min(when(!col("erased"), col("pt") === col("c_name"))).as("recovered_intact"),
          min(when(col("erased"), col("pt").isNull)).as("shredded_unreadable"))
        .orderBy("segment"),
      // Erasure accounting replayed from the modulus law; crypto verdicts
      // pinned TRUE (recovered plaintext intact, shredded unreadable).
      """SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_shredded,
        |  CAST(SUM(CASE WHEN c_custkey % 10 = 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_recovered,
        |  TRUE AS recovered_intact, TRUE AS shredded_unreadable
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin),

    // Order-independent table fingerprint — the replication/migration
    // validator: checksum = XOR of per-row content hashes (md5 of the
    // canonical column serialization, low 63 bits) + the row count —
    // commutative, so partitioning, file order and shuffle plans cannot
    // change it, and it compares across engines and copies in O(1). Three
    // copies grade the contract: a reshuffled copy MATCHES, a one-row
    // tamper DIFFERS — both as verdict columns against the original.
    // One scan + one scalar agg per copy; at 100 TB this is the cheapest
    // full-content audit that exists (one pass, no sort, no join).
    Op("warehouse_table_checksum", (s, d) => {
      def fp(df: DataFrame) = df
        .select(expr(
          md5Bits("concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING), o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS STRING))", 15, 2))
          .as("h"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(bit_xor(h) AS BIGINT)").as("xsum"))
      val base = Tables.orders(s, d)
      val orig = fp(base)
      val reshuffled = fp(base.repartition(7, col("o_custkey")))
      val tampered = fp(base.withColumn("o_totalprice",
        when(col("o_orderkey") === 7, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice"))))
      orig.select(col("n").as("n_rows"), col("xsum"))
        .crossJoin(reshuffled.select(col("n").as("n2"), col("xsum").as("x2")))
        .crossJoin(tampered.select(col("n").as("n3"), col("xsum").as("x3")))
        .select(col("n_rows"), col("xsum"),
          (col("n2") === col("n_rows") && col("x2") === col("xsum")).as("replica_matches"),
          (col("n3") === col("n_rows") && col("x3") =!= col("xsum")).as("tamper_detected"))
    },
      // Same canonical serialization and XOR law; verdicts pinned TRUE.
      s"""WITH h AS (SELECT ${duckMd5Bits("concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR))", 15, 2)} AS h
        |  FROM orders)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xsum,
        |  TRUE AS replica_matches, TRUE AS tamper_detected
        |FROM h""".stripMargin),

    // Hot/warm/cold tiering plan — the storage-lifecycle report an ILM
    // (information lifecycle management) job consumes: per order-year
    // partition, age against the dataset's OWN max year (never
    // wall-clock — the plan must be re-runnable), tier by age bands,
    // byte budget from a fixed row-width estimate, and the action a
    // mover would take (keep / compact+tier / archive). Partition-grain
    // rollup — at 100 TB this reads the manifest row counts, not data.
    Op("warehouse_hot_cold_tiering", (s, d) => {
      val byYear = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)")).as("cents"))
      byYear.crossJoin(broadcast(byYear.agg(max("o_year").as("max_year"))))
        .withColumn("age_years", col("max_year") - col("o_year"))
        .withColumn("tier", expr(
          "CASE WHEN age_years <= 1 THEN 'hot' WHEN age_years <= 3 THEN 'warm' ELSE 'cold' END"))
        .withColumn("est_bytes", col("n_rows") * 120L)
        .withColumn("action", expr(
          """CASE WHEN age_years <= 1 THEN 'keep'
            |     WHEN age_years <= 3 THEN 'compact+tier'
            |     ELSE 'archive' END""".stripMargin))
        .select("o_year", "age_years", "tier", "n_rows", "cents", "est_bytes", "action")
        .orderBy("o_year")
    },
      // Same self-relative age bands and byte estimate.
      """WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(MAX(o_year) AS BIGINT) AS max_year FROM y)
        |SELECT o_year, max_year - o_year AS age_years,
        |  CASE WHEN max_year - o_year <= 1 THEN 'hot'
        |       WHEN max_year - o_year <= 3 THEN 'warm' ELSE 'cold' END AS tier,
        |  n_rows, cents, CAST(n_rows * 120 AS BIGINT) AS est_bytes,
        |  CASE WHEN max_year - o_year <= 1 THEN 'keep'
        |       WHEN max_year - o_year <= 3 THEN 'compact+tier'
        |       ELSE 'archive' END AS action
        |FROM y, m ORDER BY o_year""".stripMargin),

    // Schema diff between two table generations — the migration
    // pre-flight every pipeline upgrade runs: generation 2 drops a
    // column, adds one, and widens a type; the diff reads ONLY parquet
    // footers (schema metadata — O(files), zero data IO at any scale)
    // and classifies every column added / removed / type_changed /
    // unchanged. Schema-as-data: the footer fields become a relation so
    // the report is queryable like everything else.
    Op("warehouse_schema_diff", (s, d) => {
      val v1Dir = Scratch.opDir("schdiff_v1", d)
      val v2Dir = Scratch.opDir("schdiff_v2", d)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("float").as("o_totalprice"),
          col("o_custkey"))
        .limit(10).write.mode("overwrite").parquet(v1Dir)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"), // widened
          col("o_orderpriority"))                                // added (o_custkey dropped)
        .limit(10).write.mode("overwrite").parquet(v2Dir)
      val f1 = s.read.parquet(v1Dir).schema.fields
        .map(f => (f.name, f.dataType.simpleString)).toMap
      val f2 = s.read.parquet(v2Dir).schema.fields
        .map(f => (f.name, f.dataType.simpleString)).toMap
      val rows = (f1.keySet ++ f2.keySet).toSeq.sorted.map { c =>
        val status = (f1.get(c), f2.get(c)) match {
          case (Some(a), Some(b)) if a == b => "unchanged"
          case (Some(_), Some(_))           => "type_changed"
          case (Some(_), None)              => "removed"
          case _                            => "added"
        }
        (c, f1.getOrElse(c, "(absent)"), f2.getOrElse(c, "(absent)"), status)
      }
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      classic.createDataset(rows).toDF("column_name", "v1_type", "v2_type", "status")
        .orderBy("column_name")
    },
      // Golden classification of the three scripted schema edits.
      """SELECT * FROM (VALUES
        |  ('o_custkey', 'bigint', '(absent)', 'removed'),
        |  ('o_orderkey', 'bigint', 'bigint', 'unchanged'),
        |  ('o_orderpriority', '(absent)', 'string', 'added'),
        |  ('o_orderstatus', 'string', 'string', 'unchanged'),
        |  ('o_totalprice', 'float', 'double', 'type_changed'))
        |  AS t(column_name, v1_type, v2_type, status)
        |ORDER BY column_name""".stripMargin),

    // Late-arriving dimension (the classic ETL race: facts land before
    // their dimension row): customers ≡ 0 (mod 7) miss the first dim
    // load, so their facts mint INFERRED placeholder members (the
    // early-arriving-fact pattern — facts are never dropped or stalled);
    // the late dim batch then upgrades placeholders in place. Graded:
    // per-provenance rollup + the fail-safe verdicts (no fact orphaned,
    // no placeholder left once the late batch lands). Anti-join +
    // left join — all keyed; placeholder minting is fact-rollup-sized.
    Op("warehouse_late_dim", (s, d) => {
      val facts = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      val dimOnTime = Tables.customer(s, d).where(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"), col("c_name"))
      val dimLate = Tables.customer(s, d).where(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("l_key"), col("c_name").as("l_name"))
      val phase1 = facts
        .join(dimOnTime, col("o_custkey") === col("c_custkey"), "left")
        .withColumn("member_name",
          coalesce(col("c_name"), lit("(inferred)")))
        .withColumn("inferred", col("c_name").isNull)
      val resolved = phase1
        .join(dimLate, col("o_custkey") === col("l_key"), "left")
        .withColumn("final_name",
          when(col("inferred") && col("l_name").isNotNull, col("l_name"))
            .otherwise(col("member_name")))
        .withColumn("provenance",
          when(!col("inferred"), lit("on_time"))
            .when(col("l_name").isNotNull, lit("late"))
            .otherwise(lit("unresolved")))
      resolved.groupBy("provenance")
        .agg(count(lit(1)).as("n_customers"), sum("n_orders").as("n_orders"),
          min(col("final_name") =!= "(inferred)").as("no_placeholder_left"))
        .orderBy("provenance")
    },
      // The provenance split replayed from the modulus law; verdict TRUE.
      """WITH f AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT CASE WHEN o_custkey % 7 = 0 THEN 'late' ELSE 'on_time' END AS provenance,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(n_orders) AS BIGINT) AS n_orders,
        |  TRUE AS no_placeholder_left
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // Referential-integrity audit — the constraint check a lakehouse
    // must RUN because it cannot ENFORCE (no transactional FKs over
    // parquet): primary-key uniqueness on orders, foreign-key coverage
    // of lineitem→orders, both on the clean data AND against an
    // injected violation batch (one duplicated key, one orphan fact) —
    // the audit must catch exactly what was planted, graded as counts +
    // verdicts. Two keyed anti-joins + two distinct rollups.
    Op("warehouse_referential_audit", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").cast("bigint").as("k"))
      val l = Tables.lineitem(s, d).select(col("l_orderkey").cast("bigint").as("fk"))
      // injected violation batch: re-append the smallest key (PK dup)
      // and an orphan fact referencing a key that cannot exist
      val oBad = o.unionAll(o.orderBy("k").limit(1))
      val lBad = l.unionAll(l.limit(1).select((col("fk") * 0 - 1).as("fk")))
      def pkDups(df: DataFrame) = df.groupBy("k").agg(count(lit(1)).as("c"))
        .where(col("c") > 1).count()
      def fkOrphans(facts: DataFrame, dim: DataFrame) =
        facts.join(dim, facts("fk") === dim("k"), "left_anti").count()
      val cleanDup = pkDups(o)
      val cleanOrphan = fkOrphans(l, o)
      val badDup = pkDups(oBad)
      val badOrphan = fkOrphans(lBad, o)
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      classic.createDataset(Seq(
          ("clean", cleanDup, cleanOrphan, cleanDup == 0 && cleanOrphan == 0),
          ("injected", badDup, badOrphan, badDup == 1 && badOrphan == 1)))
        .toDF("batch", "pk_duplicates", "fk_orphans", "verdict")
        .orderBy("batch")
    },
      // Clean data is violation-free by TPC-H construction; the injected
      // batch contains exactly the planted pair. All four counts pinned.
      """SELECT * FROM (VALUES
        |  ('clean', CAST(0 AS BIGINT), CAST(0 AS BIGINT), TRUE),
        |  ('injected', CAST(1 AS BIGINT), CAST(1 AS BIGINT), TRUE))
        |  AS t(batch, pk_duplicates, fk_orphans, verdict)
        |ORDER BY batch""".stripMargin),

    // Compaction (OPTIMIZE) planning — the maintenance query a lakehouse
    // runs over its file manifest to decide which small files coalesce
    // into which target-size outputs: per partition, files under the
    // small-file threshold are packed into target bins by a deterministic
    // prefix sum (the llm_pack_sequences law applied to manifests), and
    // the plan reports per-bin file count, bytes, and fill factor —
    // big-enough files are left alone (rewrite amplification costs more
    // than the read amplification saves). Manifest derived
    // deterministically from the fact table (file = (status, custkey%200)
    // group, KB = Σcents DIV 100); the plan itself is O(files) — the
    // 100 TB shape plans millions of manifest rows, never data bytes.
    Op("warehouse_compaction_plan", (s, d) => {
      val TargetKb = 16384L
      val SmallKb = 5000L
      val files = Tables.orders(s, d)
        .groupBy(col("o_orderstatus").as("part"),
          (col("o_custkey") % 200).as("file_id"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("sum_cents"))
        .withColumn("kb", expr("sum_cents DIV 100000"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("part").orderBy("kb", "file_id")
      files.where(col("kb") < SmallKb)
        .withColumn("cum", sum("kb").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .withColumn("bin", expr(s"(cum - kb) DIV $TargetKb"))
        .groupBy("part", "bin")
        .agg(count(lit(1)).as("n_files"), sum("kb").as("bin_kb"))
        .withColumn("fill_ppm", expr(s"(bin_kb * 1000000) DIV $TargetKb"))
        .orderBy("part", "bin")
    },
      // Same manifest derivation, same (kb, file_id)-ordered prefix-sum
      // binning; everything non-negative BIGINT.
      """WITH f AS (SELECT o_orderstatus AS part, o_custkey % 200 AS file_id,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100000 AS kb
        |  FROM orders GROUP BY 1, 2),
        |sm AS (SELECT * FROM f WHERE kb < 5000),
        |c AS (SELECT *, CAST(SUM(kb) OVER (PARTITION BY part ORDER BY kb, file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM sm),
        |b AS (SELECT part, (cum - kb) // 16384 AS bin, kb FROM c)
        |SELECT part, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(kb) AS BIGINT) AS bin_kb,
        |  (CAST(SUM(kb) AS BIGINT) * 1000000) // 16384 AS fill_ppm
        |FROM b GROUP BY part, bin ORDER BY part, bin""".stripMargin),

    // Partition-skew audit — the report a warehouse runs BEFORE a big
    // join/write to decide whether AQE skew handling or salting is
    // needed: per-partition row counts (status × priority — 'P' status
    // is genuinely rare in the data, so real skew exists to catch),
    // rolled into max/avg/min with an exact-ppm skew ratio and a flag at
    // 2×. O(partitions) output; the count rollup is one map-side-partial
    // shuffle at any scale.
    Op("warehouse_partition_skew_audit", (s, d) => {
      val parts = Tables.orders(s, d)
        .groupBy(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_rows"))
      parts.agg(count(lit(1)).as("n_parts"), sum("n_rows").as("total_rows"),
          min("n_rows").as("min_rows"), max("n_rows").as("max_rows"))
        .withColumn("avg_rows", expr("total_rows DIV n_parts"))
        .withColumn("skew_ppm", expr("(max_rows * 1000000) DIV avg_rows"))
        .withColumn("skewed", col("skew_ppm") > 2000000L)
    },
      // Same partition rollup, same exact-ppm skew algebra.
      """WITH p AS (SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
        |    CAST(SUM(n_rows) AS BIGINT) AS total_rows,
        |    MIN(n_rows) AS min_rows, MAX(n_rows) AS max_rows
        |  FROM p),
        |a AS (SELECT *, total_rows // n_parts AS avg_rows FROM m)
        |SELECT n_parts, total_rows, min_rows, max_rows, avg_rows,
        |  (max_rows * 1000000) // avg_rows AS skew_ppm,
        |  (max_rows * 1000000) // avg_rows > 2000000 AS skewed
        |FROM a""".stripMargin),

    // Row-level-security matrix — the per-PRINCIPAL view stack a Hive
    // service gates with (VERDICT r9 "missing" #4, realized as view
    // contracts — Derby has no GRANT, the VIEWS are the policy): three
    // roles get three real temp views over the same orders scan —
    // admin (everything), regional (only BUILDING customers' orders),
    // analyst (non-P statuses, cents MASKED to the thousand) — and the
    // graded matrix rolls each view up so any leak (row or precision)
    // breaks that role's row. The oracle replays the policy arithmetic.
    Op("warehouse_rls_matrix", (s, d) => {
      val o = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("c_mktsegment"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      o.createOrReplaceTempView("graft_rls_base")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_rls_admin AS
              |SELECT o_orderkey, cents FROM graft_rls_base""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_rls_regional AS
              |SELECT o_orderkey, cents FROM graft_rls_base
              |WHERE c_mktsegment = 'BUILDING'""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_rls_analyst AS
              |SELECT o_orderkey, (cents DIV 100000) * 100000 AS cents
              |FROM graft_rls_base WHERE o_orderstatus <> 'P'""".stripMargin)
      Seq("admin", "regional", "analyst").map { role =>
        s.table(s"graft_rls_$role")
          .agg(count(lit(1)).as("n_visible"), sum("cents").as("sum_cents"))
          .withColumn("role", lit(role))
      }.reduce(_ unionByName _)
        .select("role", "n_visible", "sum_cents")
        .orderBy("role")
    },
      // The three policies replayed arithmetically.
      """WITH b AS (SELECT o_orderkey, o_orderstatus, c_mktsegment,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |a AS (SELECT 'admin' AS role, CAST(COUNT(*) AS BIGINT) AS n_visible,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents FROM b),
        |r AS (SELECT 'regional', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(cents) AS BIGINT) FROM b WHERE c_mktsegment = 'BUILDING'),
        |n AS (SELECT 'analyst', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM((cents // 100000) * 100000) AS BIGINT) FROM b
        |  WHERE o_orderstatus <> 'P')
        |SELECT * FROM a UNION ALL SELECT * FROM r UNION ALL SELECT * FROM n
        |ORDER BY role""".stripMargin),

    // Principal-gated access — the GRANT layer the RLS matrix above was
    // missing (VERDICT r10 "missing" #4): Derby has no native GRANT, so
    // the authority IS a catalog table — (principal, object) rows — and
    // enforcement is a JOIN against it, never a hardcoded branch. A
    // planted request matrix (4 principals × the 3 RLS policy objects)
    // is decided by left-joining the grant catalog; allowed requests
    // serve the object's policy rollup, denials serve ZERO rows' worth —
    // and the graded matrix breaks if a grant row leaks, drops, or a
    // denial serves data. All joins are O(principals × objects) metadata
    // broadcasts; the three policy rollups share one base scan.
    Op("warehouse_grants", (s, d) => {
      import s.implicits._
      val b = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderstatus"), col("c_mktsegment"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      val rollups = Seq(
        b.agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .withColumn("object", lit("rls_admin")),
        b.where(col("c_mktsegment") === "BUILDING")
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .withColumn("object", lit("rls_regional")),
        b.where(col("o_orderstatus") =!= "P")
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("(cents DIV 100000) * 100000")).as("sum_cents"))
          .withColumn("object", lit("rls_analyst"))
      ).reduce(_ unionByName _)
      val grants = Seq(
        ("admin", "rls_admin"), ("admin", "rls_regional"),
        ("admin", "rls_analyst"), ("regional_user", "rls_regional"),
        ("analyst_user", "rls_analyst"))
        .toDF("principal", "object").withColumn("allowed", lit(true))
      val requests = Seq("admin", "regional_user", "analyst_user", "intern")
        .toDF("principal")
        .crossJoin(Seq("rls_admin", "rls_analyst", "rls_regional").toDF("object"))
      requests
        .join(broadcast(grants), Seq("principal", "object"), "left")
        .na.fill(false, Seq("allowed"))
        .join(broadcast(rollups), Seq("object"))
        .select(col("principal"), col("object"), col("allowed"),
          when(col("allowed"), col("n_rows")).otherwise(lit(0L)).as("n_visible"),
          when(col("allowed"), col("sum_cents")).otherwise(lit(0L)).as("sum_cents"))
        .orderBy("principal", "object")
    },
      // Same grant catalog as VALUES, same join-driven decision, same
      // policy rollups.
      """WITH b AS (SELECT o_orderstatus, c_mktsegment,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |ro AS (
        |  SELECT 'rls_admin' AS object, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |      CAST(SUM(cents) AS BIGINT) AS sum_cents FROM b
        |  UNION ALL SELECT 'rls_regional', CAST(COUNT(*) AS BIGINT),
        |      CAST(SUM(cents) AS BIGINT) FROM b WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL SELECT 'rls_analyst', CAST(COUNT(*) AS BIGINT),
        |      CAST(SUM((cents // 100000) * 100000) AS BIGINT) FROM b
        |    WHERE o_orderstatus <> 'P'),
        |g(principal, object) AS (VALUES
        |  ('admin', 'rls_admin'), ('admin', 'rls_regional'),
        |  ('admin', 'rls_analyst'), ('regional_user', 'rls_regional'),
        |  ('analyst_user', 'rls_analyst')),
        |p(principal) AS (VALUES ('admin'), ('regional_user'),
        |  ('analyst_user'), ('intern')),
        |o(object) AS (VALUES ('rls_admin'), ('rls_analyst'), ('rls_regional')),
        |req AS (SELECT p.principal, o.object FROM p CROSS JOIN o),
        |d AS (SELECT r.principal, r.object,
        |    g.principal IS NOT NULL AS allowed
        |  FROM req r LEFT JOIN g ON r.principal = g.principal AND r.object = g.object)
        |SELECT d.principal, d.object, d.allowed,
        |  CAST(CASE WHEN d.allowed THEN ro.n_rows ELSE 0 END AS BIGINT) AS n_visible,
        |  CAST(CASE WHEN d.allowed THEN ro.sum_cents ELSE 0 END AS BIGINT) AS sum_cents
        |FROM d JOIN ro USING (object)
        |ORDER BY principal, object""".stripMargin),

    // Hash-chain audit log — TAMPER-EVIDENT change history (the
    // append-only ledger a governance story ends with: each record's
    // hash seals everything before it): a deterministic change feed
    // (every 50th order) folded into h′ = md5(h ‖ record) from a genesis
    // seed — an ordered SCALAR-accumulator fold, so both engines agree —
    // and tamper evidence PROVEN in-band by replaying the same chain
    // with one record altered: the heads must diverge. O(feed) with one
    // sorted collect per chain; a production ledger folds per block and
    // chains block heads, same algebra.
    Op("warehouse_hash_chain_audit", (s, d) => {
      val recs = Tables.orders(s, d).where(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("k"),
          concat_ws(":", col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("bigint")).as("rec"))
      val n = recs.count()
      val mid = n / 2
      recs.orderBy("k")
        .agg(expr("sort_array(collect_list(named_struct('k', k, 'r', rec)))").as("rs"))
        .select(
          lit(n).as("n_records"),
          expr("""aggregate(rs, 'genesis', (h, e) -> md5(concat(h, '|', e.r)))""")
            .as("head_hash"),
          expr(s"""aggregate(
                  transform(rs, (e, i) -> CASE WHEN i = $mid
                    THEN named_struct('k', e.k, 'r', concat(e.r, 'X')) ELSE e END),
                  'genesis', (h, e) -> md5(concat(h, '|', e.r)))""").as("tampered_head"))
        .withColumn("tamper_detected", col("head_hash") =!= col("tampered_head"))
        .select("n_records", "head_hash", "tamper_detected")
    },
      // Same feed, same fold (list_reduce over a VARCHAR list is a SCALAR
      // accumulator — allowed by the round-10 fold law; only struct
      // accumulators mis-bind), same single-record tamper replay.
      """WITH r AS (SELECT o_orderkey AS k,
        |    CAST(o_orderkey AS VARCHAR) || ':' || o_orderstatus || ':'
        |      || CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS rec
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
        |    list(rec ORDER BY k) AS rs FROM r),
        |h AS (SELECT n_records,
        |    list_reduce(list_prepend('genesis', rs),
        |      (h, e) -> md5(h || '|' || e)) AS head_hash,
        |    list_reduce(list_prepend('genesis',
        |      list_transform(generate_series(1, len(rs)),
        |        i -> CASE WHEN i = len(rs) // 2 + 1 THEN rs[i] || 'X' ELSE rs[i] END)),
        |      (h, e) -> md5(h || '|' || e)) AS tampered_head
        |  FROM l)
        |SELECT n_records, head_hash, head_hash <> tampered_head AS tamper_detected
        |FROM h""".stripMargin),

    // Z-order layout plan — the SKIPPING-POWER ledger behind every
    // OPTIMIZE ZORDER BY (fn_zorder_curve grades the curve; this grades
    // what the curve BUYS): the same rows filed two ways — 16 z-range
    // files (morton DIV 4096 — range partitioning, never a global ntile
    // sort) vs 16 orderkey-range files — then one planted x-dimension
    // probe is planned against each layout's per-file min/max. Z-files
    // keep both dims tight so most files prune; linear files hold random
    // x so ALL survive — the row ledger quantifies exactly what a
    // 100 TB reader would skip. One scan, two metadata rollups.
    Op("warehouse_zorder_layout", (s, d) => {
      val morton = (0 to 7).map { i =>
        s"(shiftleft((x8 >> $i) & 1, ${2 * i}) + shiftleft((y8 >> $i) & 1, ${2 * i + 1}))"
      }.mkString(" + ")
      val base = Tables.orders(s, d)
        .select(expr("o_custkey % 256").as("x8"),
          expr("o_orderkey % 256").as("y8"))
        .withColumn("zfile", expr(s"CAST(($morton) DIV 4096 AS BIGINT)"))
        .withColumn("lfile", expr("CAST(y8 DIV 16 AS BIGINT)"))
        .withColumn("hit", expr("x8 BETWEEN 32 AND 47"))
        .localCheckpoint()
      def layout(fileCol: String, name: String) = base
        .groupBy(col(fileCol).as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min("x8").as("x_min"), max("x8").as("x_max"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("matching"))
        .withColumn("scanned", expr("x_max >= 32 AND x_min <= 47"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"),
          sum(when(col("scanned"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
          sum("matching").as("matching_rows"))
        .withColumn("layout", lit(name))
      layout("zfile", "zorder").unionByName(layout("lfile", "linear"))
        .select("layout", "n_files", "files_scanned", "rows_scanned", "matching_rows")
        .orderBy("layout")
    },
      // Same two filings, same per-file min/max planning, same probe.
      {
      val morton = (0 to 7).map { i =>
        s"((((x8 >> $i) & 1) << ${2 * i}) + (((y8 >> $i) & 1) << ${2 * i + 1}))"
      }.mkString(" + ")
      s"""WITH b AS (SELECT o_custkey % 256 AS x8, o_orderkey % 256 AS y8
         |  FROM orders),
         |m AS (SELECT x8, y8, CAST(($morton) // 4096 AS BIGINT) AS zfile,
         |    CAST(y8 // 16 AS BIGINT) AS lfile,
         |    x8 BETWEEN 32 AND 47 AS hit FROM b),
         |z AS (SELECT zfile, COUNT(*) AS n_rows, MIN(x8) AS xmn, MAX(x8) AS xmx,
         |    CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS matching
         |  FROM m GROUP BY 1),
         |l AS (SELECT lfile, COUNT(*) AS n_rows, MIN(x8) AS xmn, MAX(x8) AS xmx,
         |    CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS matching
         |  FROM m GROUP BY 1),
         |zz AS (SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         |    CAST(SUM(CASE WHEN xmx >= 32 AND xmn <= 47 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         |    CAST(SUM(CASE WHEN xmx >= 32 AND xmn <= 47 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
         |    CAST(SUM(matching) AS BIGINT) AS matching_rows FROM z),
         |ll AS (SELECT 'linear' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         |    CAST(SUM(CASE WHEN xmx >= 32 AND xmn <= 47 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         |    CAST(SUM(CASE WHEN xmx >= 32 AND xmn <= 47 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
         |    CAST(SUM(matching) AS BIGINT) AS matching_rows FROM l)
         |SELECT * FROM ll UNION ALL SELECT * FROM zz ORDER BY layout""".stripMargin
    }),

    // ANALYZE-style column statistics — the stats a cost-based planner
    // feeds on (ndv → join sizing, nulls → filter selectivity, extremes →
    // range pruning): one unpivoted ledger over four orders columns,
    // exact NDV (a production run swaps in HLL per agg_hll_distinct —
    // same shape), min/max as strings so the schema is uniform, mean
    // value length in exact milli. One scan per column family.
    Op("warehouse_stats_collect", (s, d) => {
      val o = Tables.orders(s, d)
      def statsOf(c: String) = o.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("ndv"),
        min(col(c).cast("string")).as("min_s"),
        max(col(c).cast("string")).as("max_s"),
        expr(s"sum(length(CAST($c AS STRING))) * 1000").as("len_sc"))
        .withColumn("avg_len_milli", expr("len_sc DIV n_rows"))
        .withColumn("col_name", lit(c)).drop("len_sc")
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(statsOf).reduce(_ unionByName _)
        .select("col_name", "n_rows", "n_nulls", "ndv", "min_s", "max_s", "avg_len_milli")
        .orderBy("col_name")
    },
      // Same four columns, same exact NDV and string extremes.
      """WITH k AS (SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv,
        |    MIN(CAST(o_orderkey AS VARCHAR)) AS min_s, MAX(CAST(o_orderkey AS VARCHAR)) AS max_s,
        |    CAST(SUM(length(CAST(o_orderkey AS VARCHAR))) * 1000 // COUNT(*) AS BIGINT) AS avg_len_milli
        |  FROM orders),
        |c AS (SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv,
        |    MIN(CAST(o_custkey AS VARCHAR)) AS min_s, MAX(CAST(o_custkey AS VARCHAR)) AS max_s,
        |    CAST(SUM(length(CAST(o_custkey AS VARCHAR))) * 1000 // COUNT(*) AS BIGINT) AS avg_len_milli
        |  FROM orders),
        |st AS (SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
        |    MIN(o_orderstatus), MAX(o_orderstatus),
        |    CAST(SUM(length(o_orderstatus)) * 1000 // COUNT(*) AS BIGINT)
        |  FROM orders),
        |pr AS (SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        |    MIN(o_orderpriority), MAX(o_orderpriority),
        |    CAST(SUM(length(o_orderpriority)) * 1000 // COUNT(*) AS BIGINT)
        |  FROM orders)
        |SELECT * FROM c UNION ALL SELECT * FROM k
        |UNION ALL SELECT * FROM pr UNION ALL SELECT * FROM st
        |ORDER BY col_name""".stripMargin),

    // Deterministic TABLESAMPLE — hash sampling with the estimator
    // attached (BERNOULLI sampling is irreproducible across runs; a
    // md5-keyed 1-in-8 sample is exactly repeatable on any cluster AND
    // grades its own estimation error): scaled-up total vs true total,
    // error in SIGN-SAFE ppm. The whole point at 100 TB: stats from the
    // sample, error bound known, one scan.
    Op("warehouse_tablesample", (s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .withColumn("in_sample", expr(
          s"${md5Bits("ts", "o_orderkey", 8)} % 8 = 0"))
      o.agg(count(lit(1)).as("n_total"),
          sum("cents").as("true_cents"),
          sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"),
          sum(when(col("in_sample"), col("cents")).otherwise(0L)).as("sample_cents"))
        .withColumn("est_cents", expr("sample_cents * 8"))
        .withColumn("err_ppm", expr(
          """CASE WHEN est_cents >= true_cents
             THEN (est_cents - true_cents) * 1000000 DIV true_cents
             ELSE -((true_cents - est_cents) * 1000000 DIV true_cents) END"""))
        .select("n_total", "n_sample", "true_cents", "sample_cents", "est_cents", "err_ppm")
    },
      // Same md5 membership, same scale-up, same sign-safe error.
      s"""WITH o AS (SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |    ${duckMd5Bits("ts", "o_orderkey", 8)} % 8 = 0 AS in_sample
        |  FROM orders),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |    CAST(SUM(cents) AS BIGINT) AS true_cents,
        |    CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
        |    CAST(SUM(CASE WHEN in_sample THEN cents ELSE 0 END) AS BIGINT) AS sample_cents
        |  FROM o),
        |e AS (SELECT *, sample_cents * 8 AS est_cents FROM a)
        |SELECT n_total, n_sample, true_cents, sample_cents, est_cents,
        |  CASE WHEN est_cents >= true_cents
        |    THEN (est_cents - true_cents) * 1000000 // true_cents
        |    ELSE -((true_cents - est_cents) * 1000000 // true_cents) END AS err_ppm
        |FROM e""".stripMargin),

    // Distributed surrogate-id block allocator — how a parallel loader
    // mints collision-free dense ids WITHOUT a sequence bottleneck: each
    // partition takes a contiguous block [base, base+n) sized by its row
    // count, bases from one cumulative sum over the tiny partition
    // manifest (never over data). The tiling verdict is graded in-band:
    // every block's end must equal the next block's base and the last
    // must equal the total — a gap or overlap flips a row.
    Op("warehouse_id_allocator", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("status", "priority")
      val blocks = Tables.orders(s, d)
        .groupBy(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("base",
          sum("n").over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
        .withColumn("base", coalesce(col("base"), lit(0L)))
      val total = Tables.orders(s, d).count()
      blocks
        .withColumn("next_base",
          coalesce(lead("base", 1).over(w), lit(total)))
        .withColumn("tiles", col("base") + col("n") === col("next_base"))
        .select("status", "priority", "n", "base", "next_base", "tiles")
        .orderBy("status", "priority")
    },
      // Same manifest cumulative bases, same tiling verdict.
      """WITH g AS (SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |b AS (SELECT *, CAST(COALESCE(SUM(n) OVER (ORDER BY status, priority
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
        |  FROM g),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders)
        |SELECT status, priority, n, base,
        |  CAST(COALESCE(LEAD(base) OVER (ORDER BY status, priority),
        |    (SELECT total FROM t)) AS BIGINT) AS next_base,
        |  base + n = COALESCE(LEAD(base) OVER (ORDER BY status, priority),
        |    (SELECT total FROM t)) AS tiles
        |FROM b ORDER BY status, priority""".stripMargin)
  )

  /** Phase 1 of sink_merge_upsert: the partitioned full load. Split out so
    * WarehouseSpec can capture per-partition file identity between load
    * and restatement. */
  private[graft] def mergeUpsertLoad(s: SparkSession, d: String): String = {
    val dir = Scratch.opDir("merge_part", d)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("o_year"))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    dir
  }

  /** Phase 2: the partition-scoped restatement — full-outer merge of the
    * change batch against ONLY its target partitions, written back under
    * dynamic partition overwrite. */
  private[graft] def mergeUpsertRestate(s: SparkSession, d: String, dir: String): Unit = {
    val src = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("o_year"))
    val upd = src.where(col("o_year") === 1997 && col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("u_key"), col("o_year").as("u_year"),
        (col("o_totalprice") + lit(100.0)).as("u_price"), col("o_custkey").as("u_cust"))
      .unionAll(src.where(col("o_year") === 1996 && col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 10000000L).as("u_key"), col("o_year").as("u_year"),
          col("o_totalprice").as("u_price"), col("o_custkey").as("u_cust")))
    // the batch's partition keys — a driver-side collect of METADATA
    // (distinct partition values), the same O(partitions) scale as any
    // metastore listing; never row data
    val hotYears = upd.select("u_year").distinct().collect().map(_.getInt(0)).toSeq
    val merged = s.read.parquet(dir)
      .where(col("o_year").isin(hotYears: _*))
      .join(upd, col("o_orderkey") === col("u_key") && col("o_year") === col("u_year"),
        "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("u_key")).as("o_orderkey"),
        coalesce(col("u_cust"), col("o_custkey")).as("o_custkey"),
        coalesce(col("u_price"), col("o_totalprice")).as("o_totalprice"),
        coalesce(col("o_year"), col("u_year")).as("o_year"))
    // SAFETY DEPENDENCY: this reads `dir` and overwrites the same `dir` in
    // one job, which is safe ONLY under DYNAMIC partition overwrite (the
    // per-write option below, authoritative over any session conf): hot
    // partitions are deleted at commit time, after the scan — whose file
    // listing was materialized eagerly at DataFrame creation — has run.
    // Under static overwrite Spark deletes the WHOLE target before the
    // scan and the job silently emits empty partitions. If this write is
    // ever restructured, stage to a sibling dir and swap instead. The
    // byte-identity check in sink_merge_upsert's post-state guards the
    // cold partitions against exactly this regression.
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_year").parquet(dir)
  }
}
