package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.5 window functions.
  *
  * Determinism: every window ORDER BY ends in a unique key (so row_number &
  * frames are reproducible), and rank/dense_rank are exercised on a
  * low-cardinality bucket key so real ties exist while output order stays
  * total. Money sums inside frames use exact arithmetic (DECIMAL or integer
  * cents) so running values hash-match DuckDB bit-for-bit.
  */
object WindowOps extends Family {
  /** Exact integer cents from a 2-dp double price: round(x*100) is the same
    * IEEE double then the same half-up rounding in Spark and DuckDB. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  val ops: Seq[Op] = Seq(
    Op("win_rank", (s, d) => {
      val bucket = (floor(col("o_totalprice") / 50000) * 50000).cast("long").as("price_bucket")
      val w1 = Window.partitionBy("o_orderstatus").orderBy(desc("price_bucket"))
      val w2 = Window.partitionBy("o_orderstatus").orderBy(desc("price_bucket"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), bucket)
        .withColumn("rnk", rank().over(w1))
        .withColumn("drnk", dense_rank().over(w1))
        .withColumn("rn", row_number().over(w2))
        .orderBy("o_orderstatus", "rn")
    },
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(FLOOR(o_totalprice / 50000) * 50000 AS BIGINT) AS price_bucket,
        |  CAST(RANK() OVER (PARTITION BY o_orderstatus ORDER BY CAST(FLOOR(o_totalprice / 50000) * 50000 AS BIGINT) DESC) AS INT) AS rnk,
        |  CAST(DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY CAST(FLOOR(o_totalprice / 50000) * 50000 AS BIGINT) DESC) AS INT) AS drnk,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY CAST(FLOOR(o_totalprice / 50000) * 50000 AS BIGINT) DESC, o_orderkey) AS INT) AS rn
        |FROM orders ORDER BY o_orderstatus, rn""".stripMargin),

    Op("win_topk_per_group", (s, d) => {
      val w = Window.partitionBy("c_mktsegment").orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    },
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin),

    Op("win_running", (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          dec(col("o_totalprice")).as("price"))
        .withColumn("run_total", sum(col("price")).over(w))
        // exact decimal running sum, emitted as double (decimal outputs
        // hash-mismatch the driver's float64 oracle frame)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("price").cast("double").as("price"),
          col("run_total").cast("double").as("run_total"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Centered ±2-day moving average over daily revenue; avg computed from
    // exact integer cents so both engines divide identical operands.
    Op("win_sliding_frame", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("day_cents"))
      val w = Window.orderBy("day").rowsBetween(-2, 2)
      daily
        .withColumn("frame_cents", sum(col("day_cents")).over(w))
        .withColumn("frame_days", count(lit(1)).over(w))
        .withColumn("moving_avg",
          round(col("frame_cents") * lit(1.0) / col("frame_days") / 100, 2))
        .select("day", "day_cents", "moving_avg")
        .orderBy("day")
    },
      """WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS day_cents
        |  FROM orders GROUP BY 1
        |)
        |SELECT day, CAST(day_cents AS BIGINT) AS day_cents,
        |  ROUND(SUM(day_cents) OVER w * 1.0 / COUNT(*) OVER w / 100, 2) AS moving_avg
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        |ORDER BY day""".stripMargin),

    // Value-based RANGE frame: orders within $1000 below the current price.
    // A global ORDER BY window would put the whole table in ONE task (the
    // textbook window scale-killer), so the price domain is banded at the
    // frame width: every frame [p-1000, p] spans at most the row's own
    // $1000 band and the one below, so each row is emitted once into its
    // own band and once as a frame-contributing "ghost" into the band
    // above, and the identical RANGE frame runs PARTITIONED by band —
    // every row of the global frame is present in the row's partition
    // exactly once (own band as real, band below as ghost; band-2 rows
    // are > $1000 away by construction). One hash shuffle of 2n narrow
    // rows, per-band sorts, all bands in parallel; ghosts are dropped
    // after the window pass.
    Op("win_range_frame", (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), cents(col("o_totalprice")).as("c"))
      val band = floor(col("o_totalprice") / 1000)
      val real = base.withColumn("band", band).withColumn("is_real", lit(true))
      val ghost = base.withColumn("band", band + 1).withColumn("is_real", lit(false))
      val w = Window.partitionBy("band").orderBy(col("o_totalprice")).rangeBetween(-1000, 0)
      real.unionAll(ghost)
        .withColumn("n_in_range", count(lit(1)).over(w))
        .withColumn("cents_in_range", sum(col("c")).over(w))
        .where(col("is_real"))
        .select("o_orderkey", "o_totalprice", "n_in_range", "cents_in_range")
        .orderBy("o_totalprice", "o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice,
        |  COUNT(*) OVER w AS n_in_range,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_in_range
        |FROM orders
        |WINDOW w AS (ORDER BY o_totalprice RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_totalprice, o_orderkey""".stripMargin),

    Op("win_lead_lag", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("next_value", lead("value", 1).over(w))
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .select("event_id", "user_id", "ts_s", "value", "prev_value", "next_value", "gap_us")
        .orderBy("user_id", "event_id")
    },
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value,
        |  LAG(value, 1) OVER w AS prev_value,
        |  LEAD(value, 1) OVER w AS next_value,
        |  epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, event_id""".stripMargin),

    // IGNORE NULLS window (the gap-fill / last-observation-carried-forward
    // shape): negative balances are nulled out, then each row carries the
    // most recent non-null balance forward within its segment — a pure
    // window pass, no self-join.
    Op("win_ignore_nulls", (s, d) => {
      val w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.customer(s, d)
        .withColumn("bal_n", expr("CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END"))
        .select(col("c_custkey"), col("c_mktsegment"), col("bal_n"),
          last(col("bal_n"), ignoreNulls = true).over(w).as("bal_ff"),
          first(col("bal_n"), ignoreNulls = true).over(w).as("bal_first_nn"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_n,
        |  LAST_VALUE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END IGNORE NULLS)
        |    OVER w AS bal_ff,
        |  FIRST_VALUE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END IGNORE NULLS)
        |    OVER w AS bal_first_nn
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_custkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY c_custkey""".stripMargin),

    Op("win_analytic", (s, d) => {
      val wo = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
      val wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("tile", ntile(4).over(wo))
        .withColumn("pr", round(percent_rank().over(wo), 6))
        .withColumn("cd", round(cume_dist().over(wo), 6))
        .withColumn("first_ck", first(col("c_custkey")).over(wo))
        .withColumn("last_ck", last(col("c_custkey")).over(wf))
        .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
    },
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(NTILE(4) OVER wo AS INT) AS tile,
        |  ROUND(PERCENT_RANK() OVER wo, 6) AS pr,
        |  ROUND(CUME_DIST() OVER wo, 6) AS cd,
        |  FIRST_VALUE(c_custkey) OVER wo AS first_ck,
        |  LAST_VALUE(c_custkey) OVER wf AS last_ck
        |FROM customer
        |WINDOW wo AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
        |  wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin),

    // Ratio-to-report (share-of-total per partition): each order's share
    // of its status group's exact-cents total — one whole-partition sum
    // window, then one double division both engines evaluate on identical
    // BIGINT inputs. No second shuffle: share ranks piggyback the same
    // partitioning.
    Op("win_ratio_to_report", (s, d) => {
      val w = Window.partitionBy("o_orderstatus")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .withColumn("grp_cents", sum("cents").over(w))
        .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
          col("grp_cents"),
          (col("cents").cast("double") / col("grp_cents").cast("double"))
            .as("share"))
        .orderBy("o_orderkey")
    },
      """WITH t AS (SELECT o_orderkey, o_orderstatus,
        |             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders)
        |SELECT o_orderkey, o_orderstatus, cents,
        |  CAST(SUM(cents) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS grp_cents,
        |  CAST(cents AS DOUBLE) / CAST(CAST(SUM(cents) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS DOUBLE) AS share
        |FROM t ORDER BY o_orderkey""".stripMargin),

    // Running median (any-aggregate-as-window surface): exact median of
    // value-cents over the growing per-user frame, (ts_us, event_id)
    // total order. Binary-fraction quantiles over integers are bit-exact
    // cross-engine (§7.3). Frames are per-user (≲100 rows) so the
    // per-row recompute is bounded; at corpus scale the user key
    // partitions the work evenly.
    Op("win_running_median", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("run_med", expr("percentile(cents, 0.5)")
          .over(w))
        .orderBy("user_id", "ts_us", "event_id")
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |             CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |           FROM events)
        |SELECT user_id, ts_us, event_id, cents,
        |  quantile_cont(cents, 0.5) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_med
        |FROM e ORDER BY user_id, ts_us, event_id""".stripMargin),

    // lead/lag IGNORE NULLS (the sensor-reading carry shape): the nearest
    // non-null observation before/after each row, skipping nulls rather
    // than counting them as offsets. view-rows carry no value here, so
    // the windows hop over them; (ts_us, event_id) total order.
    Op("win_lead_lag_nulls", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          when(col("event_type") =!= "view",
            floor(col("value") * 100).cast("bigint")).as("val_n"))
        .withColumn("prev_nn", lag(col("val_n"), 1, null, ignoreNulls = true).over(w))
        .withColumn("next_nn", lead(col("val_n"), 1, null, ignoreNulls = true).over(w))
        .orderBy("user_id", "ts_us", "event_id")
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN event_type <> 'view'
        |      THEN CAST(FLOOR(value * 100) AS BIGINT) END AS val_n
        |  FROM events)
        |SELECT user_id, ts_us, event_id, val_n,
        |  lag(val_n IGNORE NULLS) OVER w AS prev_nn,
        |  lead(val_n IGNORE NULLS) OVER w AS next_nn
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // COUNT(DISTINCT) OVER — an operator Spark's window engine lacks
    // outright (it rejects DISTINCT aggregates in windows), composed from
    // what it has: dense_rank over the partition ordered by the counted
    // key, then the partition max of that rank. Two window passes over
    // ONE sort order (same partitioning → one shuffle, one sort). DuckDB
    // runs the native COUNT(DISTINCT ...) OVER as the oracle.
    Op("win_count_distinct", (s, d) => {
      val wseg = Window.partitionBy("c_mktsegment")
      Tables.customer(s, d)
        .withColumn("dr", dense_rank().over(wseg.orderBy("c_nationkey")))
        // COUNT(DISTINCT) ignores NULLs; dense_rank ranks them (first).
        // Subtract the null rank when the partition has one so the
        // composition matches the native semantics on any fixture.
        .withColumn("has_null",
          max(col("c_nationkey").isNull.cast("int")).over(wseg))
        .withColumn("nd_nations",
          (max(col("dr")).over(wseg) - col("has_null")).cast("bigint"))
        .select(col("c_custkey"), col("c_mktsegment"), col("nd_nations"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_mktsegment,
        |  COUNT(DISTINCT c_nationkey)
        |    OVER (PARTITION BY c_mktsegment) AS nd_nations
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Event-sequence pattern detection (the MATCH_RECOGNIZE shape Spark
    // lacks, composed from lead chains): users whose stream contains the
    // CONSECUTIVE view→click→purchase funnel, per-user match counts over
    // the (ts_us, event_id) total order. One window shuffle; agg_funnel
    // covers the unordered variant.
    Op("win_event_pattern", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("n1", lead("event_type", 1).over(w))
        .withColumn("n2", lead("event_type", 2).over(w))
        .where(col("event_type") === "view"
          && col("n1") === "click" && col("n2") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_matches"), min("ts_us").as("first_match_us"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |           FROM events),
        |l AS (SELECT *, LEAD(event_type, 1) OVER w AS n1,
        |        LEAD(event_type, 2) OVER w AS n2
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, COUNT(*) AS n_matches, MIN(ts_us) AS first_match_us
        |FROM l WHERE event_type = 'view' AND n1 = 'click' AND n2 = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // nth_value over explicit frames — the remaining analytic-function
    // surface beside first/last (win_ignore_nulls) and lead/lag: the
    // 3rd-highest order value per status from the FULL frame, and the
    // 2nd-seen value from the RUNNING frame (null until two rows have
    // arrived — the frame-sensitivity nth_value exists to expose).
    // Total order (cents DESC, key) makes every nth pick engine-exact.
    Op("win_nth_value", (s, d) => {
      val base = Window.partitionBy("o_orderstatus")
        .orderBy(desc("cents"), col("o_orderkey"))
      val full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .withColumn("third_highest", nth_value(col("cents"), 3).over(full))
        .withColumn("second_seen", nth_value(col("cents"), 2).over(run))
        .orderBy("o_orderkey")
    },
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_orderstatus, cents,
        |  nth_value(cents, 3) OVER (PARTITION BY o_orderstatus
        |    ORDER BY cents DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_highest,
        |  nth_value(cents, 2) OVER (PARTITION BY o_orderstatus
        |    ORDER BY cents DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_seen
        |FROM o ORDER BY o_orderkey""".stripMargin),

    // Rolling z-score anomaly flag per user (the monitoring twin of
    // win_ewma): an event is an outlier when its value deviates from its
    // trailing-8-frame mean by more than 2 population sigmas. The test is
    // ALL-INTEGER — z² > 4 cross-multiplies to (x·n − Σx)² > 4·(n·Σx² − Σx²̂)
    // over exact BIGINT cents — so the flag is bit-identical cross-engine
    // with zero FP anywhere (stricter than the round-6 law: no rounding at
    // all). One window shuffle on user_id; both frame sums read the same
    // sorted frame. Frames shorter than 4 never flag (variance too noisy).
    Op("win_zscore_outlier", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-7, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sm", sum("cents").over(w))
        .withColumn("sq", sum(col("cents") * col("cents")).over(w))
        .withColumn("dev", col("cents") * col("n") - col("sm"))
        .withColumn("outlier",
          col("n") >= 4 &&
            col("dev") * col("dev") > lit(4L) * (col("n") * col("sq") - col("sm") * col("sm")))
        .select("user_id", "ts_us", "event_id", "cents", "n", "outlier")
        .orderBy("user_id", "ts_us", "event_id")
    },
      // Same cross-multiplied integer test — no FP on either engine.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT user_id, ts_us, event_id, cents,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |    CAST(SUM(cents) OVER w AS BIGINT) AS sm,
        |    CAST(SUM(cents * cents) OVER w AS BIGINT) AS sq
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts_us, event_id, cents, n,
        |  n >= 4 AND (cents * n - sm) * (cents * n - sm) > 4 * (n * sq - sm * sm)
        |    AS outlier
        |FROM f ORDER BY user_id, ts_us, event_id""".stripMargin),

    // Fractional ranking functions completing the §2.5 rank family:
    // percent_rank = (rank−1)/(n−1) and cume_dist = peers_through_row/n
    // are the SAME two small-integer IEEE divisions in both engines, and
    // ntile(4) distributes the remainder to the leading tiles per the
    // standard — all three over one (status)-partitioned exchange with a
    // (price, orderkey) total order. 1-in-20 sample bounds emitted rows;
    // per-partition window work parallelizes across statuses at any scale.
    Op("win_rank_fractions", (s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("tile", ntile(4).over(w).cast("bigint"))
        .where(col("o_orderkey") % 20 === 3)
        .select("o_orderkey", "o_orderstatus", "pr", "cd", "tile")
        .orderBy("o_orderstatus", "o_orderkey")
    },
      // Same (price, orderkey) total order; the sample filter applies AFTER
      // the windows so both engines rank the full partition.
      """WITH f AS (SELECT o_orderkey, o_orderstatus,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd,
        |    CAST(ntile(4) OVER w AS BIGINT) AS tile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey))
        |SELECT o_orderkey, o_orderstatus, pr, cd, tile
        |FROM f WHERE o_orderkey % 20 = 3
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin),

    // 2-D Pareto frontier (skyline) — "best price for its recency":
    // an order is on the frontier iff no other order beats it on BOTH
    // price and order date. The classic sort-sweep: scan in (price
    // DESC, key) order keeping rows whose day strictly exceeds every
    // earlier row's running max day — no O(n²) dominance join. The
    // cummax is the two-level banded form (the agg_ks_test law, DESC):
    // every row in a higher $100k cents band is strictly earlier in the
    // sweep, so best_day_before = greatest(max day over higher bands,
    // within-band running max) — the only serial window is the bounded
    // band rollup; greatest() keeps the both-empty ⇒ NULL contract.
    Op("win_skyline_2d", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"),
          expr("CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)")
            .as("day"))
        .withColumn("bkt", expr("cents DIV 10000000"))
      val wBand = Window.orderBy(desc("bkt")).rowsBetween(Window.unboundedPreceding, -1)
      val bandPrefix = t.groupBy("bkt").agg(max("day").as("bmax"))
        .withColumn("off_max", max("bmax").over(wBand))
        .select("bkt", "off_max")
      val wIn = Window.partitionBy("bkt").orderBy(desc("cents"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t.withColumn("in_max", max("day").over(wIn))
        .join(broadcast(bandPrefix), "bkt")
        .withColumn("best_day_before", greatest(col("off_max"), col("in_max")))
        .where(col("best_day_before").isNull ||
          col("day") > col("best_day_before"))
        .select("o_orderkey", "cents", "day")
        .orderBy("o_orderkey")
    },
      // Same sort-sweep, same strict-dominance rule.
      """WITH t AS (SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS day
        |  FROM orders),
        |s AS (SELECT *, MAX(day) OVER (ORDER BY cents DESC, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_day_before
        |  FROM t)
        |SELECT o_orderkey, cents, day FROM s
        |WHERE best_day_before IS NULL OR day > best_day_before
        |ORDER BY o_orderkey""".stripMargin),

    // Maximum concurrency (the "minimum meeting rooms" sweep) — the
    // capacity question interval-coverage's union length can't answer
    // (how many 30-minute event intervals OVERLAP at the worst moment):
    // each interval contributes a +1 at its start and a −1 at its end,
    // one ordered cumulative sum per event_type finds the peak; ends
    // sort BEFORE starts at the same instant (delta ascending — the
    // half-open [s, e) convention both engines must share). Output
    // O(types); the sweep shuffles once on event_type.
    Op("win_max_concurrency", (s, d) => {
      val half = 1800L * 1000 * 1000
      val e = Tables.events(s, d)
        .select(col("event_type"), col("ts_us"), col("event_id"))
      val deltas = e.select(col("event_type"), col("ts_us").as("t"),
          lit(1L).as("delta"), col("event_id"))
        .unionAll(e.select(col("event_type"), (col("ts_us") + half).as("t"),
          lit(-1L).as("delta"), col("event_id")))
      val w = Window.partitionBy("event_type").orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("conc", sum("delta").over(w))
        .groupBy("event_type")
        .agg((count(lit(1)) / 2).cast("bigint").as("n_intervals"),
          max("conc").as("max_concurrent"))
        .orderBy("event_type")
    },
      // Same ±1 sweep, same (t, delta, id) order, ends before starts.
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id FROM events),
        |d AS (SELECT event_type, ts_us AS t, CAST(1 AS BIGINT) AS delta, event_id FROM e
        |  UNION ALL
        |  SELECT event_type, ts_us + 1800000000 AS t, CAST(-1 AS BIGINT), event_id FROM e),
        |c AS (SELECT event_type,
        |    CAST(SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        |  FROM d)
        |SELECT event_type, CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals,
        |  MAX(conc) AS max_concurrent
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),

    // RSI (relative strength index) — the bounded momentum oscillator
    // that complements win_drawdown's path metric: over the trailing
    // 14-frame window, RSI = gains/(gains+losses) in exact milli (the
    // canonical 0–100 scale ×10), with delta split into gain/loss
    // magnitudes so every operand stays non-negative; flat windows pin
    // to the neutral 500. One user_id exchange shared by the lag and
    // both frame sums.
    Op("win_rsi", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val frame = w.rowsBetween(-13, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("delta", col("cents") - lag("cents", 1).over(w))
        .withColumn("gain", when(col("delta") > 0, col("delta")).otherwise(0L))
        .withColumn("loss", when(col("delta") < 0, -col("delta")).otherwise(0L))
        .withColumn("gains", sum("gain").over(frame))
        .withColumn("losses", sum("loss").over(frame))
        .withColumn("rsi_milli",
          expr("""CASE WHEN gains + losses = 0 OR gains IS NULL THEN 500
                 ELSE (gains * 1000) DIV (gains + losses) END"""))
        .where(col("event_id") % 20 === 6)
        .select("user_id", "ts_us", "event_id", "rsi_milli")
        .orderBy("user_id", "ts_us", "event_id")
    },
      // Same delta split, same 14-frame sums, same neutral pin.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |dl AS (SELECT *, cents - lag(cents) OVER w AS delta FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (SELECT *, CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
        |    CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss FROM dl),
        |f AS (SELECT user_id, ts_us, event_id,
        |    CAST(SUM(gain) OVER w2 AS BIGINT) AS gains,
        |    CAST(SUM(loss) OVER w2 AS BIGINT) AS losses
        |  FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts_us, event_id,
        |  CAST(CASE WHEN gains + losses = 0 OR gains IS NULL THEN 500
        |    ELSE (gains * 1000) // (gains + losses) END AS BIGINT) AS rsi_milli
        |FROM f WHERE event_id % 20 = 6
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // Time-weighted average (TWAP) — the metric that replaces the plain
    // mean whenever observations are IRREGULARLY spaced (a value held
    // for an hour must weigh 60× one held a minute): per user, each
    // event's cents is weighted by its holding interval Δt = next ts −
    // ts (lead; the open last interval is dropped), and the per-user
    // TWAP is Σ(v·Δt) DIV ΣΔt — products cents×µs overflow-guarded
    // through DECIMAL(38,0)/HUGEINT, division non-negative. One user_id
    // exchange shared by the lead and the rollup.
    Op("win_twap", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("dt_us", lead("ts_us", 1).over(w) - col("ts_us"))
        .where(col("dt_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum((col("cents") * col("dt_us")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("vw"),
          sum(col("dt_us").cast("decimal(38,0)")).cast("bigint").as("total_us"))
        .withColumn("twap_cents", expr("CAST(vw DIV total_us AS BIGINT)"))
        .where(col("user_id") % 10 === 2)
        .select(col("user_id"), col("n_intervals"),
          col("vw").cast("bigint").as("vw_sum"), col("total_us"), col("twap_cents"))
        .orderBy("user_id")
    },
      // Same lead intervals, HUGEINT products, // on non-negatives.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |i AS (SELECT user_id, cents,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us
        |      AS dt_us
        |  FROM e),
        |g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |    SUM(cents::HUGEINT * dt_us) AS vw,
        |    CAST(SUM(dt_us::HUGEINT) AS BIGINT) AS total_us
        |  FROM i WHERE dt_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_intervals, CAST(vw AS BIGINT) AS vw_sum, total_us,
        |  CAST(vw // total_us AS BIGINT) AS twap_cents
        |FROM g WHERE user_id % 10 = 2 ORDER BY user_id""".stripMargin),

    // MACD — the fast-minus-slow EMA momentum indicator beside win_rsi's
    // oscillator: both EMAs as TRUNCATED integer-weight folds over lags
    // 0..7 (the win_ewma law — geometric 128..1/255 for fast, linear
    // 8..1/36 for slow, each DIV'd by the weight mass actually PRESENT so
    // warm-up rows stay exact), signal = 3-row trailing mean of macd,
    // histogram = macd − signal with a sign-safe spread. One per-user
    // window shuffle shared by every layer.
    Op("win_macd", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val fastW = Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)
      val slowW = Seq(8L, 7L, 6L, 5L, 4L, 3L, 2L, 1L)
      def ema(ws: Seq[Long], name: String)(df: org.apache.spark.sql.DataFrame) = {
        val withLags = ws.indices.foldLeft(df)((acc, i) =>
          acc.withColumn(s"x$i", lag("cents", i).over(w)))
        val num = ws.zipWithIndex.map { case (wt, i) => s"COALESCE($wt * x$i, 0)" }.mkString(" + ")
        val den = ws.zipWithIndex.map { case (wt, i) => s"CASE WHEN x$i IS NULL THEN 0 ELSE $wt END" }.mkString(" + ")
        withLags.withColumn(name, expr(s"($num) * 1000 DIV ($den)"))
          .drop(ws.indices.map(i => s"x$i"): _*)
      }
      val base = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
      val m = ema(slowW, "slow_milli")(ema(fastW, "fast_milli")(base))
        .withColumn("macd_milli", col("fast_milli") - col("slow_milli"))
      m.withColumn("m1", lag("macd_milli", 1).over(w))
        .withColumn("m2", lag("macd_milli", 2).over(w))
        .withColumn("signal_milli", expr(
          """CASE WHEN (macd_milli + COALESCE(m1, 0) + COALESCE(m2, 0)) >= 0
             THEN (macd_milli + COALESCE(m1, 0) + COALESCE(m2, 0))
               DIV (1 + CASE WHEN m1 IS NULL THEN 0 ELSE 1 END + CASE WHEN m2 IS NULL THEN 0 ELSE 1 END)
             ELSE -((0 - (macd_milli + COALESCE(m1, 0) + COALESCE(m2, 0)))
               DIV (1 + CASE WHEN m1 IS NULL THEN 0 ELSE 1 END + CASE WHEN m2 IS NULL THEN 0 ELSE 1 END)) END"""))
        .withColumn("hist_milli", col("macd_milli") - col("signal_milli"))
        .where(col("event_id") % 20 === 9)
        .select("user_id", "ts_us", "event_id", "fast_milli", "slow_milli",
          "macd_milli", "signal_milli", "hist_milli")
        .orderBy("user_id", "ts_us", "event_id")
    },
      // Same truncated-weight folds (weights and masses regenerated from
      // the same Seqs), same sign-safe signal mean.
      {
      val fastW = Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)
      val slowW = Seq(8L, 7L, 6L, 5L, 4L, 3L, 2L, 1L)
      val lags = fastW.indices.map(i => s"lag(cents, $i) OVER w AS x$i").mkString(", ")
      def num(ws: Seq[Long]) =
        ws.zipWithIndex.map { case (wt, i) => s"COALESCE($wt * x$i, 0)" }.mkString(" + ")
      def den(ws: Seq[Long]) =
        ws.zipWithIndex.map { case (wt, i) => s"CASE WHEN x$i IS NULL THEN 0 ELSE $wt END" }.mkString(" + ")
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
         |l AS (SELECT user_id, ts_us, event_id, $lags
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |m AS (SELECT user_id, ts_us, event_id,
         |    (${num(fastW)}) * 1000 // (${den(fastW)}) AS fast_milli,
         |    (${num(slowW)}) * 1000 // (${den(slowW)}) AS slow_milli
         |  FROM l),
         |mm AS (SELECT *, fast_milli - slow_milli AS macd_milli FROM m),
         |m3 AS (SELECT *, lag(macd_milli, 1) OVER w2 AS p1,
         |    lag(macd_milli, 2) OVER w2 AS p2
         |  FROM mm WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |sg AS (SELECT *, macd_milli + COALESCE(p1, 0) + COALESCE(p2, 0) AS sm,
         |    1 + (CASE WHEN p1 IS NULL THEN 0 ELSE 1 END)
         |      + (CASE WHEN p2 IS NULL THEN 0 ELSE 1 END) AS cnt FROM m3),
         |sig AS (SELECT *, CASE WHEN sm >= 0 THEN sm // cnt
         |    ELSE -((0 - sm) // cnt) END AS signal_milli FROM sg)
         |SELECT user_id, ts_us, event_id, fast_milli, slow_milli, macd_milli,
         |  signal_milli, macd_milli - signal_milli AS hist_milli
         |FROM sig WHERE event_id % 20 = 9
         |ORDER BY user_id, ts_us, event_id""".stripMargin
    }),

    // Aroon — "periods since the extreme" trend gauge (win_rsi reads
    // magnitudes; Aroon reads RECENCY): over a 14-row frame, argmax and
    // argmin recovered from ONE composite key cents·2⁴⁰ + rn (the
    // ShardIdSpan law — max ties break to the LATEST row, min ties to the
    // EARLIEST, both engines by the same integer order), aroon = (13 −
    // rows-since-extreme)·1000 DIV 13. One per-user window shuffle.
    Op("win_aroon", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val frame = w.rowsBetween(-13, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("amax", max(expr("cents * 1099511627776 + rn")).over(frame))
        .withColumn("amin", min(expr("cents * 1099511627776 + rn")).over(frame))
        .withColumn("since_max", col("rn") - expr("amax % 1099511627776"))
        .withColumn("since_min", col("rn") - expr("amin % 1099511627776"))
        .withColumn("aroon_up_milli", expr("(13 - since_max) * 1000 DIV 13"))
        .withColumn("aroon_dn_milli", expr("(13 - since_min) * 1000 DIV 13"))
        .where(col("event_id") % 20 === 11)
        .select("user_id", "ts_us", "event_id", "since_max", "since_min",
          "aroon_up_milli", "aroon_dn_milli")
        .orderBy("user_id", "ts_us", "event_id")
    },
      // Same composite argmax/argmin key, same recency clearing.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS BIGINT) AS rn FROM e),
        |f AS (SELECT *,
        |    MAX(cents * 1099511627776 + rn) OVER w2 AS amax,
        |    MIN(cents * 1099511627776 + rn) OVER w2 AS amin
        |  FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts_us, event_id,
        |  rn - (amax % 1099511627776) AS since_max,
        |  rn - (amin % 1099511627776) AS since_min,
        |  (13 - (rn - (amax % 1099511627776))) * 1000 // 13 AS aroon_up_milli,
        |  (13 - (rn - (amin % 1099511627776))) * 1000 // 13 AS aroon_dn_milli
        |FROM f WHERE event_id % 20 = 11
        |ORDER BY user_id, ts_us, event_id""".stripMargin)
  )
}
