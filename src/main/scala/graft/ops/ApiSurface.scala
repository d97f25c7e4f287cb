package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables

/** Case class for the typed-Dataset surface (must live outside the op so
  * the Encoder derives from a stable top-level type). */
case class LineSlim(l_returnflag: String, l_quantity: Double, l_extendedprice: Double)

/** API-surface operators (round 7): the Dataset/DataFrame entry points a
  * library user reaches beyond plain column expressions — typed Datasets
  * with case-class Encoders, NA-handling, stat helpers (crosstab), outer
  * explode, and the range-partitioned sorted parquet layout.
  *
  * Scale posture: every op here compiles down to the same shuffle-
  * conscious plans as the expression API (typed groupByKey hashes the
  * key like groupBy; crosstab is one two-key count + a tiny pivot;
  * range-sorted writes are the zone-map/data-skipping layout for 100 TB
  * scans).
  */
object ApiSurface extends Family {
  val ops: Seq[Op] = Seq(
    // Typed Dataset aggregation: case-class Encoder, typed filter/map,
    // groupByKey + typed aggregators. The lambdas are opaque to Catalyst
    // (scan loses column pruning beyond the .as projection — which is
    // why the projection comes FIRST), but the aggregation itself still
    // plans partial/final HashAggregate on the key.
    Op("ds_typed_agg", (s, d) => {
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      // Encoders come from the session-free Encoders factory, NOT from
      // classic.implicits: resolving them implicitly captures the
      // SparkSession in the Aggregator closure, and the session stops
      // being serializable once anything initializes its lazy
      // ObservationManager (e.g. api_observe) — a latent
      // Task-not-serializable triggered only by op ordering.
      def sumBy(f: LineSlim => Long) =
        new org.apache.spark.sql.expressions.Aggregator[LineSlim, Long, Long] {
          def zero = 0L
          def reduce(b: Long, a: LineSlim) = b + f(a)
          def merge(b1: Long, b2: Long) = b1 + b2
          def finish(b: Long) = b
          def bufferEncoder = org.apache.spark.sql.Encoders.scalaLong
          def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
        }.toColumn
      val ds = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .as[LineSlim]
      ds.filter(_.l_quantity >= 10.0)
        .groupByKey(_.l_returnflag)
        .agg(
          sumBy(_.l_quantity.toLong),
          sumBy(r => math.round(r.l_extendedprice * 100)),
          sumBy(_ => 1L))
        .toDF("l_returnflag", "sum_qty", "cents", "n")
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  COUNT(*) AS n
        |FROM lineitem WHERE l_quantity >= 10.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // NA handling (DataFrameNaFunctions): nulls introduced on a
    // deterministic predicate, then fill / drop accounting in one pass
    // over the filled frame — the ingest-cleanup surface.
    Op("fn_na_handling", (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          when(col("event_type") =!= "view",
            floor(col("value") * 100).cast("bigint")).as("cents_n"))
      val filled = e.na.fill(-1L, Seq("cents_n"))
      filled.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("cents_n") === -1L, 1L).otherwise(0L)).as("n_filled"),
          sum(when(col("cents_n") =!= -1L, col("cents_n")).otherwise(0L)).as("cents_sum"))
        .orderBy("event_type")
    },
      """WITH e AS (SELECT event_id, event_type,
        |    CASE WHEN event_type <> 'view'
        |      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE -1 END AS cents_f
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN cents_f = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |  CAST(SUM(CASE WHEN cents_f <> -1 THEN cents_f ELSE 0 END) AS BIGINT) AS cents_sum
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),

    // stat.crosstab — the contingency-table helper: one two-key count
    // shuffles, the pivot is a tiny projection. Column names come from
    // the data (priority values), which is exactly what the driver's
    // name-sorted compare exercises.
    Op("agg_crosstab", (s, d) =>
      Tables.orders(s, d)
        .stat.crosstab("o_orderstatus", "o_orderpriority")
        .orderBy("o_orderstatus_o_orderpriority"),
      """SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
        |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
        |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
        |  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
        |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // explode_outer — the empty-collection row-preserving explode: docs
    // whose z-token list is empty still emit one null-token row (an
    // inner explode would drop them). Per-doc accounting proves the
    // outer semantics.
    Op("udtf_explode_outer", (s, d) =>
      Tables.documents(s, d)
        .withColumn("ztoks", expr("filter(split(text, ' '), t -> t LIKE 'z%')"))
        .select(col("doc_id"), explode_outer(col("ztoks")).as("ztok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_rows"),
          count(col("ztok")).as("n_ztoks"))
        .orderBy("doc_id"),
      """WITH z AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t LIKE 'z%') AS ztoks
        |  FROM documents),
        |x AS (SELECT doc_id,
        |        unnest(CASE WHEN len(ztoks) = 0 THEN [NULL] ELSE ztoks END) AS ztok
        |      FROM z)
        |SELECT doc_id, COUNT(*) AS n_rows, COUNT(ztok) AS n_ztoks
        |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Range-partitioned sorted parquet (the zone-map layout): rows range-
    // partitioned on the sort key and sorted inside each file, so file-
    // and row-group-level min/max stats prune a key-range scan to a
    // single file at any scale. Graded read = a range aggregate over the
    // written layout.
    Op("sink_range_sorted", (s, d) => {
      val dir = Scratch.opDir("range_sorted", d)
      Tables.orders(s, d)
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .where(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"),
          min("o_orderkey").as("min_k"), max("o_orderkey").as("max_k"))
    },
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k
        |FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000""".stripMargin),

    // Observation metrics (df.observe): per-job data-quality counters
    // collected on the DRIVER as the job runs — zero extra passes, zero
    // extra shuffles (an AccumulatorV2 piggybacks on the existing scan).
    // The graded frame is the observed metrics themselves; the oracle
    // recomputes them as plain aggregates.
    Op("api_observe", (s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val observed = Tables.orders(s, d).observe(obs,
        count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      observed.foreach(_ => ()) // one action materializes the counters
      val m = obs.get
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      Seq((m("n_orders").asInstanceOf[Long], m("total_price").asInstanceOf[Double],
        m("min_key").asInstanceOf[Long], m("max_key").asInstanceOf[Long]))
        .toDF("n_orders", "total_price", "min_key", "max_key")
    },
      """SELECT COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders""".stripMargin),

    // Dataset.transpose — the report-shaping pivot of a SMALL aggregate
    // (rows become columns; strictly a driver-sized operation, which is
    // why it follows a groupBy that reduced the fact to 3 rows). Column
    // names come from the index column's data, exercising the driver's
    // name-sorted compare the same way crosstab does.
    Op("api_transpose", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("bigint")).as("qty"),
          count(lit(1)).as("cnt"))
        .transpose(col("l_returnflag"))
        .orderBy("key"),
      """SELECT 'cnt' AS key,
        |  (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'A') AS "A",
        |  (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'N') AS "N",
        |  (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R') AS "R"
        |UNION ALL
        |SELECT 'qty',
        |  (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |   FROM lineitem WHERE l_returnflag = 'A'),
        |  (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |   FROM lineitem WHERE l_returnflag = 'N'),
        |  (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |   FROM lineitem WHERE l_returnflag = 'R')
        |ORDER BY key""".stripMargin),

    // JSONL roundtrip — the interchange format every training-data
    // pipeline exports to. Explicit read schema (inference would widen
    // int64 on empty partitions); graded read is a per-language rollup
    // of the landed files.
    Op("sink_jsonl", (s, d) => {
      val dir = Scratch.opDir("jsonl_docs", d)
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").json(dir)
      s.read.schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .json(dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    },
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Parameterized SQL (Spark 3.5+/4 surface): named parameter markers
    // (:name) bound server-side — the injection-safe service-layer query
    // path — plus the IDENTIFIER() clause resolving a table name from a
    // parameter (the thing string interpolation cannot do safely).
    // DISTRIBUTE BY / SORT BY — the physical-layout SQL surface (CLUSTER
    // BY = both): the inner query repartitions on the bucket key and
    // sorts WITHIN partitions (no global sort — the cheap kind), the
    // plan must carry hashpartitioning(bucket) + a non-global Sort (spec
    // asserts both), and the outer rollup grades content conservation —
    // at 100 TB this layout op is what feeds every bucketed write and
    // co-located join. Oracle replays the rollup without the layout.
    Op("api_sql_cluster_by", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_csb_orders")
      s.sql(
        """SELECT bucket, COUNT(*) AS n_orders,
          |  CAST(SUM(cents) AS BIGINT) AS cents,
          |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
          |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
          |FROM (
          |  SELECT o_orderkey, o_custkey % 16 AS bucket,
          |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
          |  FROM graft_csb_orders
          |  DISTRIBUTE BY bucket SORT BY bucket, o_orderkey
          |)
          |GROUP BY bucket ORDER BY bucket""".stripMargin)
    },
      // Layout-free replay: DISTRIBUTE/SORT BY must not change content.
      """SELECT o_custkey % 16 AS bucket, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    Op("api_sql_params", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_param_orders")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM IDENTIFIER(:tbl) WHERE o_totalprice > :minp
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
        Map("tbl" -> "graft_param_orders", "minp" -> 150000))
    },
      // The parameter-bound query must equal its literal-inlined equivalent.
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 150000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // GROUP BY ALL / ORDER BY ALL (SQL-2023-adjacent sugar, in Spark
    // since 3.4): every non-aggregate select item becomes a grouping
    // key, and the ordering covers the full select list — the
    // exploratory-SQL dialect DuckDB popularized. The resolved plan is
    // identical to the explicit form (the oracle IS the explicit form),
    // so pushdown/partial-agg behavior is unchanged.
    Op("api_sql_group_all", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_gba_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM graft_gba_orders
          |GROUP BY ALL ORDER BY ALL""".stripMargin)
    },
      // GROUP BY ALL replayed in the explicit classic form. ORDER BY ALL
      // sorts by the full select list left-to-right; (status, priority)
      // is already a unique grouping key, so the trailing aggregate sort
      // keys can never reorder anything — the explicit two-key sort is
      // total for the same reason.
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // SQL PIPE syntax (new in Spark 4): the |> operator-chain dialect —
    // FROM … |> WHERE … |> AGGREGATE … GROUP BY … |> WHERE (post-agg
    // filter without repeating the aggregate, HAVING's successor) |>
    // ORDER BY. Same plan as the classic form (the oracle IS the classic
    // form) — the surface matters for pipeline-authoring parity.
    // Recursive CTE (new in Spark 4 — UnionLoop): ancestor walk up the
    // deterministic binary-tree hierarchy parent(n) = (n−1) DIV 2 over
    // the nation keys, emitting (node, ancestor, depth) until the root —
    // the org-chart/BOM traversal shape SQL-first users previously had to
    // leave SQL for. Guarded recursion (ancestor > 0) terminates in
    // ⌈log₂ 25⌉ rounds; all-integer, non-negative, so DIV == floor. The
    // per-depth rollup grades every recursion level at once.
    Op("api_sql_recursive", (s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("graft_rec_nation")
      s.sql(
        """WITH RECURSIVE anc(node, ancestor, depth) AS (
          |  SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
          |    CAST(0 AS BIGINT) FROM graft_rec_nation
          |  UNION ALL
          |  SELECT a.node, (a.ancestor - 1) DIV 2, a.depth + 1
          |  FROM anc a WHERE a.ancestor > 0
          |)
          |SELECT CAST(depth AS BIGINT) AS depth,
          |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
          |  CAST(SUM(node) AS BIGINT) AS sum_node,
          |  CAST(SUM(ancestor) AS BIGINT) AS sum_anc
          |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)
    },
      // The identical guarded recursion; // is DIV on non-negatives.
      """WITH RECURSIVE anc(node, ancestor, depth) AS (
        |  SELECT n_nationkey, n_nationkey, 0 FROM nation
        |  UNION ALL
        |  SELECT a.node, (a.ancestor - 1) // 2, a.depth + 1
        |  FROM anc a WHERE a.ancestor > 0
        |)
        |SELECT CAST(depth AS BIGINT) AS depth,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(SUM(node) AS BIGINT) AS sum_node,
        |  CAST(SUM(ancestor) AS BIGINT) AS sum_anc
        |FROM anc GROUP BY depth ORDER BY depth""".stripMargin),

    Op("api_sql_pipe", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_pipe_orders")
      s.sql(
        """FROM graft_pipe_orders
          ||> WHERE o_orderstatus <> 'P'
          ||> AGGREGATE COUNT(*) AS n_orders,
          |     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |   GROUP BY o_orderpriority
          ||> WHERE n_orders > 1
          ||> ORDER BY o_orderpriority""".stripMargin)
    },
      // The pipe chain replayed in classic form.
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderpriority HAVING COUNT(*) > 1
        |ORDER BY o_orderpriority""".stripMargin),

    // SQL-body scalar UDFs (new in Spark 4): CREATE FUNCTION ... RETURN
    // <expr> — a declarative function the optimizer INLINES into the plan
    // (stays inside codegen, unlike a JVM closure), and the first UDF
    // shape a SQL-first warehouse user reaches for.
    Op("udf_sql", (s, d) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_taxed(p DOUBLE, t DOUBLE)
              |RETURNS DOUBLE RETURN p * (1.0 + t)""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_size_band(sz INT)
              |RETURNS STRING RETURN CASE WHEN sz <= 10 THEN 'small'
              |  WHEN sz <= 30 THEN 'medium' ELSE 'large' END""".stripMargin)
      Tables.part(s, d).createOrReplaceTempView("graft_sqludf_part")
      s.sql(
        """SELECT p_partkey, ROUND(graft_taxed(p_retailprice, 0.08), 4) AS taxed,
          |  graft_size_band(CAST(p_size AS INT)) AS band
          |FROM graft_sqludf_part ORDER BY p_partkey""".stripMargin)
    },
      // The SQL UDF bodies replayed inline (what the optimizer itself does).
      """SELECT p_partkey, ROUND(p_retailprice * (1.0 + 0.08), 4) AS taxed,
        |  CASE WHEN p_size <= 10 THEN 'small'
        |       WHEN p_size <= 30 THEN 'medium' ELSE 'large' END AS band
        |FROM part ORDER BY p_partkey""".stripMargin),

    // Typed COGROUP (KeyValueGroupedDataset.cogroup — the Dataset API's
    // full-outer per-key merge, the surface a JVM-first user reaches for
    // when both sides need imperative per-key logic): customers and
    // suppliers cogrouped by nation; each side's iterator folds into
    // exact cents sums INSIDE the function (never a collect), emitting
    // one row per nation with both balances and the gap. Plans one
    // co-partition exchange per side — the same shuffle a join would
    // cost — and the oracle is the relational full-outer rollup the
    // typed path must equal.
    Op("ds_typed_cogroup", (s, d) => {
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      val cust = Tables.customer(s, d)
        .select(col("c_nationkey").cast("long").as("nk"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
        .as[(Long, Long)]
      val supp = Tables.supplier(s, d)
        .select(col("s_nationkey").cast("long").as("nk"),
          expr("CAST(CAST(s_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
        .as[(Long, Long)]
      cust.groupByKey(_._1).cogroup(supp.groupByKey(_._1)) { (nk, cs, ss) =>
        var cn = 0L; var cSum = 0L
        cs.foreach { c => cn += 1; cSum += c._2 }
        var sn = 0L; var sSum = 0L
        ss.foreach { x => sn += 1; sSum += x._2 }
        Iterator((nk, cn, cSum, sn, sSum, cSum - sSum))
      }.toDF("nationkey", "n_cust", "cust_cents", "n_supp", "supp_cents", "gap_cents")
        .orderBy("nationkey")
    },
      // The relational full-outer rollup the typed cogroup must equal.
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |    CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS cust_cents
        |  FROM customer GROUP BY 1),
        |s AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        |    CAST(COUNT(*) AS BIGINT) AS n_supp,
        |    CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS supp_cents
        |  FROM supplier GROUP BY 1)
        |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |  CAST(COALESCE(n_cust, 0) AS BIGINT) AS n_cust,
        |  CAST(COALESCE(cust_cents, 0) AS BIGINT) AS cust_cents,
        |  CAST(COALESCE(n_supp, 0) AS BIGINT) AS n_supp,
        |  CAST(COALESCE(supp_cents, 0) AS BIGINT) AS supp_cents,
        |  CAST(COALESCE(cust_cents, 0) - COALESCE(supp_cents, 0) AS BIGINT) AS gap_cents
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin),

    // EXECUTE IMMEDIATE (the SQL-scripting dynamic-dispatch surface new
    // in Spark 4, beside api_sql_params' client-side binding): the query
    // TEXT lives in a session variable, positional parameters bind via
    // USING — the stored-procedure idiom a migrating warehouse user
    // expects to keep. The dispatched plan is ordinary Catalyst — same
    // pushdown, same rollup shape as writing the query directly.
    // CHECKPOINT lineage truncation — the iterative-algorithm survival
    // tool (every round-10 graph loop leans on it): a multi-stage plan
    // localCheckpoint'd mid-pipeline must (a) truncate its logical plan
    // to a single leaf — the attested node-count drop — and (b) change
    // NOTHING about the answer. At 100 TB this is what keeps a 50-round
    // iteration from re-planning 50 stacked stages.
    Op("api_checkpoint_truncation", (s, d) => {
      val staged = Tables.orders(s, d)
        .select(col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .where(col("cents") > 0)
        .withColumn("bucket", expr("cents DIV 1000000"))
      def nodes(df: DataFrame): Long =
        df.queryExecution.optimizedPlan.collect { case p => p }.size.toLong
      val before = nodes(staged)
      val cp = staged.localCheckpoint()
      val after = nodes(cp)
      cp.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        .withColumn("plan_truncated", lit(after < before))
        .withColumn("leaf_only", lit(after == 1L))
        .orderBy("o_orderstatus")
    },
      // The dispatched text inlined — dynamic dispatch must be invisible.
      // Truncation must be answer-invisible: plain rollup + TRUE flags.
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  TRUE AS plan_truncated, TRUE AS leaf_only
        |FROM orders WHERE ROUND(o_totalprice * 100) > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL SCRIPTING — the Spark 4.x procedural surface (BEGIN/DECLARE/
    // WHILE/SET, SQL:2023 PSM shape): the rollup is computed by a LOOP
    // that slices orders into three residue classes and accumulates
    // through script VARIABLES; the driver-visible result is the final
    // SELECT, which must equal the plain one-statement rollup — the
    // procedural machinery must be semantically invisible.
    Op("api_sql_scripting", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_script_orders")
      // a script runs when `sql` is called and returns its last result as
      // a local relation, so the conf is consumed inside the scope
      withConfs(s)("spark.sql.scripting.enabled" -> "true")(s.sql(
        """BEGIN
          |  DECLARE total_cents BIGINT DEFAULT 0;
          |  DECLARE n_seen BIGINT DEFAULT 0;
          |  DECLARE i INT DEFAULT 0;
          |  WHILE i < 3 DO
          |    SET total_cents = total_cents + (
          |      SELECT COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)), 0)
          |      FROM graft_script_orders WHERE o_orderkey % 3 = i);
          |    SET n_seen = n_seen + (
          |      SELECT COUNT(*) FROM graft_script_orders WHERE o_orderkey % 3 = i);
          |    SET i = i + 1;
          |  END WHILE;
          |  SELECT n_seen, total_cents, CAST(i AS BIGINT) AS n_loops;
          |END""".stripMargin))
    },
      // The loop must be invisible: whole-table rollup + the loop count.
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_seen,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(3 AS BIGINT) AS n_loops
        |FROM orders""".stripMargin),

    Op("api_sql_execute_immediate", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_ei_orders")
      s.sql("DECLARE OR REPLACE VARIABLE graft_ei_stmt STRING")
      s.sql(
        """SET VAR graft_ei_stmt =
          |  'SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
          |     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |   FROM graft_ei_orders WHERE o_totalprice > ? GROUP BY 1 ORDER BY 1'""".stripMargin)
      s.sql("EXECUTE IMMEDIATE graft_ei_stmt USING 100000")
    },
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 100000 GROUP BY 1 ORDER BY 1""".stripMargin),

    // Typed joinWith — the Dataset join that KEEPS both sides as typed
    // values (a join returns flattened columns; joinWith returns
    // Dataset[(L, R)], the surface for downstream typed logic): orders
    // joinWith customer on the key equality, the pair mapped to a typed
    // projection, then rolled up per market segment in exact cents. The
    // join itself plans the same SortMergeJoin/broadcast a DataFrame join
    // would — joinWith changes the OUTPUT SHAPE, not the physical plan.
    Op("ds_typed_joinwith", (s, d) => {
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      val ords = Tables.orders(s, d)
        .select(col("o_custkey").cast("long").as("ck"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
        .as[(Long, Long)]
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_mktsegment").as("seg"))
        .as[(Long, String)]
      ords.joinWith(cust, ords("ck") === cust("ck"), "inner")
        .map { case (o, c) => (c._2, o._2) }
        .toDF("seg", "cents")
        .groupBy("seg")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("seg_cents"))
        .orderBy("seg")
    },
      // The relational join+rollup the typed pair path must equal.
      """SELECT c.c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS seg_cents
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY seg""".stripMargin),

    // Typed flatMapGroups — per-key imperative logic over an UNORDERED
    // group iterator (the contract a typed user must respect; anything
    // order-dependent is a latent bug): a single fold tracks the top-2
    // (cents, event_id) pairs under lexicographic comparison, so the
    // result is deterministic REGARDLESS of iterator order. One row per
    // event_type; plans one key exchange like any groupBy.
    Op("ds_typed_flatmap_groups", (s, d) => {
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      import classic.implicits._
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id").cast("long"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
        .as[(String, Long, Long)]
      ev.groupByKey(_._1).flatMapGroups { (tpe, it) =>
        var t1: (Long, Long) = (-1L, -1L)
        var t2: (Long, Long) = (-1L, -1L)
        it.foreach { case (_, id, c) =>
          val cand = (c, id)
          if (cand._1 > t1._1 || (cand._1 == t1._1 && cand._2 > t1._2)) {
            t2 = t1; t1 = cand
          } else if (cand._1 > t2._1 || (cand._1 == t2._1 && cand._2 > t2._2)) {
            t2 = cand
          }
        }
        Iterator((tpe, t1._1, t1._2, t2._1, t2._2))
      }.toDF("event_type", "top1_cents", "top1_id", "top2_cents", "top2_id")
        .orderBy("event_type")
    },
      // The window top-2 the unordered-iterator fold must equal.
      """WITH e AS (SELECT event_type, CAST(event_id AS BIGINT) AS event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, event_id, cents,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cents DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT event_type,
        |  CAST(MAX(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS top1_cents,
        |  CAST(MAX(CASE WHEN rn = 1 THEN event_id END) AS BIGINT) AS top1_id,
        |  CAST(MAX(CASE WHEN rn = 2 THEN cents END) AS BIGINT) AS top2_cents,
        |  CAST(MAX(CASE WHEN rn = 2 THEN event_id END) AS BIGINT) AS top2_id
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin)
  )
}
