package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Behavioral / time-series analytics operators (round 5): batch
  * sessionization, funnel conversion, calendar gap-fill resampling, and
  * higher-moment statistics — the event-analytics surface a warehouse
  * service serves next to the relational core.
  *
  * Scale posture: sessionization and gap-fill shuffle once on their
  * natural keys (user_id / day — both hash-even at any corpus size);
  * the funnel is three conditional min-aggregates over the same
  * user-partitioned shuffle; skew/kurtosis is a plain two-phase aggregate
  * whose per-group state is five numbers. Nothing here holds more than a
  * group's scalar state per task.
  */
object Analytics extends Family {
  /** Session gap: 12h in µs — the events fixture's median inter-event gap
    * is ~7.7h, so this splits every user into several multi-event
    * sessions instead of degenerating to one-per-event or one-per-user. */
  private val GapUs = 43200000000L

  /** `win_ewma`'s truncated half-decay weights for lags 0..7. */
  private val EwmaW = Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)

  val ops: Seq[Op] = Seq(
    // Batch sessionization (the classic gap-based session assignment,
    // batch twin of stream_session): a new session starts where the gap
    // to the previous event exceeds GapUs; the running sum of the
    // new-session flag numbers sessions per user. (ts_us, event_id) is a
    // total order, so duplicate timestamps assign deterministically.
    // One shuffle on user_id serves both window passes and the final
    // aggregate.
    Op("win_sessionize", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"))
        .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .withColumn("new_s",
          when(col("gap").isNull || col("gap") > GapUs, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"), max("ts_us").as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy("user_id", "session_idx")
    },
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
         |g AS (SELECT user_id, ts_us, event_id,
         |        ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
         |      FROM e),
         |f AS (SELECT user_id, ts_us,
         |        CAST(SUM(CASE WHEN gap IS NULL OR gap > $GapUs THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         |      FROM g)
         |SELECT user_id, session_idx, COUNT(*) AS n_events,
         |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |  MAX(ts_us) - MIN(ts_us) AS duration_us
         |FROM f GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin),

    // Funnel conversion (view → click → purchase, strictly ordered in
    // time per user): stage timestamps are conditional MINs, each stage
    // anchored after the previous stage's instant. Three aggregates and
    // two left joins, all shuffling on user_id; the output is one row of
    // corpus-level funnel counts with rational conversion fractions.
    Op("agg_funnel", (s, d) => {
      val e = Tables.events(s, d).select("user_id", "event_type", "ts_us")
      val t1 = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val t2 = e.where(col("event_type") === "click")
        .join(t1, "user_id").where(col("ts_us") > col("t1"))
        .groupBy("user_id").agg(min("ts_us").as("t2"))
      val t3 = e.where(col("event_type") === "purchase")
        .join(t2, "user_id").where(col("ts_us") > col("t2"))
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
        .agg(count(col("t1")).as("u_view"), count(col("t2")).as("u_click"),
          count(col("t3")).as("u_purchase"))
        .select(col("u_view"), col("u_click"), col("u_purchase"),
          round(col("u_click") / col("u_view").cast("double"), 6).as("conv_click"),
          round(col("u_purchase") / col("u_click").cast("double"), 6).as("conv_purchase"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |t1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN t1 ON e.user_id = t1.user_id
        |       WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN t2 ON e.user_id = t2.user_id
        |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id)
        |SELECT COUNT(t1.t1) AS u_view, COUNT(t2.t2) AS u_click, COUNT(t3.t3) AS u_purchase,
        |  ROUND(COUNT(t2.t2) / CAST(COUNT(t1.t1) AS DOUBLE), 6) AS conv_click,
        |  ROUND(COUNT(t3.t3) / CAST(COUNT(t2.t2) AS DOUBLE), 6) AS conv_purchase
        |FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        |        LEFT JOIN t3 ON t1.user_id = t3.user_id""".stripMargin),

    // Calendar resample with gap fill (the time-series densification every
    // monitoring/reporting layer needs): per-day event counts left-joined
    // onto the full min..max day range so empty days appear as zeros.
    // Money sums stay exact via floor-to-cents; the calendar axis is tiny
    // (one row per day) while the daily aggregate shuffles on the day key.
    Op("agg_resample_gapfill", (s, d) => {
      val e = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val days = e.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val daily = e.groupBy("day").agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("bigint")).as("value_cents"))
      days.join(daily, Seq("day"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("value_cents"), lit(0L)).as("value_cents"))
        .orderBy("day")
    },
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, value FROM events),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
        |cal AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |daily AS (SELECT day, COUNT(*) AS n_events,
        |            CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |          FROM e GROUP BY day)
        |SELECT strftime(cal.day, '%Y-%m-%d') AS day,
        |  COALESCE(daily.n_events, 0) AS n_events,
        |  COALESCE(daily.value_cents, 0) AS value_cents
        |FROM cal LEFT JOIN daily ON cal.day = daily.day
        |ORDER BY day""".stripMargin),

    // Skewness / excess kurtosis per group, graded via exact integer power
    // sums (agg_regression pattern): cents are exact BIGINTs, power sums
    // accumulate in DECIMAL(38,0) (associative, partition-order free), and
    // the central-moment arithmetic below is the character-identical IEEE
    // expression tree DuckDB evaluates — so the doubles hash-match. The
    // streaming builtins (partition-order-dependent merge) are verified
    // against the exact values with a 1e-6 relative bound instead of being
    // emitted raw.
    Op("agg_skew_kurt", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("bigint").as("p"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("p").cast("decimal(38,0)")).cast("double").as("s1"),
          sum((col("p") * col("p")).cast("decimal(38,0)")).cast("double").as("s2"),
          sum((col("p").cast("decimal(38,0)") * col("p") * col("p")))
            .cast("double").as("s3"),
          sum((col("p").cast("decimal(38,0)") * col("p") * col("p") * col("p")))
            .cast("double").as("s4"),
          skewness(col("p").cast("double")).as("bsk"),
          kurtosis(col("p").cast("double")).as("bku"))
        .withColumn("mu", expr("s1/n"))
        .withColumn("m2", expr("s2/n - mu*mu"))
        .withColumn("m3", expr("s3/n - 3*mu*(s2/n) + 2*mu*mu*mu"))
        .withColumn("m4",
          expr("s4/n - 4*mu*(s3/n) + 6*(mu*mu)*(s2/n) - 3*(mu*mu)*(mu*mu)"))
        .withColumn("skew", expr("m3/(sqrt(m2)*sqrt(m2)*sqrt(m2))"))
        .withColumn("kurt", expr("m4/(m2*m2) - 3"))
        .select(col("l_returnflag"), col("n"), col("mu"), col("m2"),
          col("skew"), col("kurt"),
          (abs(col("bsk") - col("skew")) <= greatest(abs(col("skew")) * 1e-6, lit(1e-9))
            && abs(col("bku") - col("kurt")) <= greatest(abs(col("kurt")) * 1e-6, lit(1e-9)))
            .as("builtin_ok"))
        .orderBy("l_returnflag"),
      // The moment arithmetic is character-identical to the Spark
      // expressions above — both engines run the same IEEE operation tree
      // on the same exact-sum inputs, so the doubles are bit-equal.
      """WITH base AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(p::HUGEINT) AS DOUBLE) AS s1,
        |    CAST(SUM(p::HUGEINT * p) AS DOUBLE) AS s2,
        |    CAST(SUM(p::HUGEINT * p * p) AS DOUBLE) AS s3,
        |    CAST(SUM(p::HUGEINT * p * p * p) AS DOUBLE) AS s4
        |  FROM (SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p
        |        FROM lineitem)
        |  GROUP BY l_returnflag),
        |m AS (SELECT *, s1/n AS mu FROM base),
        |c AS (SELECT *,
        |        s2/n - mu*mu AS m2,
        |        s3/n - 3*mu*(s2/n) + 2*mu*mu*mu AS m3,
        |        s4/n - 4*mu*(s3/n) + 6*(mu*mu)*(s2/n) - 3*(mu*mu)*(mu*mu) AS m4
        |      FROM m)
        |SELECT l_returnflag, n, mu, m2,
        |  m3/(sqrt(m2)*sqrt(m2)*sqrt(m2)) AS skew,
        |  m4/(m2*m2) - 3 AS kurt,
        |  TRUE AS builtin_ok
        |FROM c ORDER BY l_returnflag""".stripMargin),

    // Cohort retention matrix (the product-analytics staple): users are
    // cohorted by the ISO week of their first event; each later active
    // week lands in an integer week-offset bucket (day-diff DIV 7 —
    // engine-independent integer arithmetic, no second truncation).
    // Two shuffles: min-day per user (user_id), then the matrix rollup
    // on (cohort_week, week_offset) — both hash-even at any scale.
    Op("agg_cohort_retention", (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = e.groupBy("user_id").agg(min("day").as("d0"))
      e.join(first, "user_id")
        .select(col("user_id"),
          date_format(date_trunc("week", col("d0")), "yyyy-MM-dd").as("cohort_week"),
          expr("CAST(datediff(day, d0) AS BIGINT) DIV 7").as("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS d0 FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id,
        |        strftime(date_trunc('week', f.d0), '%Y-%m-%d') AS cohort_week,
        |        CAST((e.day - f.d0) AS BIGINT) // 7 AS week_offset
        |      FROM e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_users
        |FROM a GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // Gaps-and-islands (consecutive-day activity streaks): the classic
    // day_num − row_number island key over distinct active days. One
    // shuffle on user_id serves the window and both rollups; per-user
    // state is a handful of scalars, so the shape is unchanged at 10⁹
    // users.
    Op("win_gaps_islands", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("day_num")
      Tables.events(s, d)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("bigint").as("day_num"))
        .distinct()
        .withColumn("island", col("day_num") - row_number().over(w))
        .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(sum("len").as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max("len").as("max_streak"))
        .orderBy("user_id")
    },
      """WITH dd AS (SELECT DISTINCT user_id,
        |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num
        |      FROM events),
        |i AS (SELECT user_id, day_num,
        |        day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num) AS island
        |      FROM dd),
        |st AS (SELECT user_id, island, COUNT(*) AS len FROM i GROUP BY user_id, island)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin),

    // First/last-touch attribution: each purchase credits the user's
    // first and most recent non-purchase touchpoint strictly before it
    // ((ts_us, event_id) total order; IGNORE NULLS windows over the
    // preceding frame). One shuffle on user_id; the rollup keys are
    // tiny enumerations.
    Op("win_attribution", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
        .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(
          coalesce(col("first_touch"), lit("(none)")).as("first_touch"),
          coalesce(col("last_touch"), lit("(none)")).as("last_touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(floor(col("value") * 100).cast("bigint")).as("value_cents"))
        .orderBy("first_touch", "last_touch")
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM events),
        |t AS (SELECT user_id, ts_us, event_id, event_type, value,
        |        first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
        |        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        |      FROM e)
        |SELECT COALESCE(first_touch, '(none)') AS first_touch,
        |  COALESCE(last_touch, '(none)') AS last_touch,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin),

    // Deterministic mode (most-frequent value per group) — the builtin
    // `mode()` breaks ties engine-arbitrarily, so the graded op makes the
    // tie explicit: count desc, then value asc, via one row_number over
    // the counts relation. Two aggregations, both partial-aggregated
    // map-side; no distinct-value list is ever held per group.
    Op("agg_mode", (s, d) => {
      val counts = Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("n").desc, col("o_orderpriority"))
      counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("n").as("n_mode"))
        .orderBy("o_orderstatus")
    },
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |           FROM orders GROUP BY o_orderstatus, o_orderpriority),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |        ORDER BY n DESC, o_orderpriority) AS rn FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_mode
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin),

    // Pairwise Pearson correlation matrix (feature-analysis stage) over
    // (quantity, price-cents, discount-cents), graded via exact
    // DECIMAL(38,0) cross-moments + the shared IEEE correlation tree
    // (agg_skew_kurt pattern); the streaming corr() builtin is verified
    // in-op against the exact value with a tolerance verdict column.
    Op("agg_corr_matrix", (s, d) => {
      def cr(sxy: String, sx: String, sy: String, sxx: String, syy: String) =
        expr(s"(n*$sxy - $sx*$sy) / (sqrt(n*$sxx - $sx*$sx) * sqrt(n*$syy - $sy*$sy))")
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("bigint").as("q"),
          round(col("l_extendedprice") * 100).cast("bigint").as("p"),
          round(col("l_discount") * 100).cast("bigint").as("dd"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("q").cast("decimal(38,0)")).cast("double").as("sq"),
          sum(col("p").cast("decimal(38,0)")).cast("double").as("sp"),
          sum(col("dd").cast("decimal(38,0)")).cast("double").as("sd"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).cast("double").as("sqq"),
          sum((col("p").cast("decimal(38,0)") * col("p"))).cast("double").as("spp"),
          sum((col("dd") * col("dd")).cast("decimal(38,0)")).cast("double").as("sdd"),
          sum((col("q") * col("p")).cast("decimal(38,0)")).cast("double").as("sqp"),
          sum((col("q") * col("dd")).cast("decimal(38,0)")).cast("double").as("sqd"),
          sum((col("p").cast("decimal(38,0)") * col("dd"))).cast("double").as("spd"),
          corr(col("q").cast("double"), col("p").cast("double")).as("bqp"))
        .withColumn("corr_qp", cr("sqp", "sq", "sp", "sqq", "spp"))
        .withColumn("corr_qd", cr("sqd", "sq", "sd", "sqq", "sdd"))
        .withColumn("corr_pd", cr("spd", "sp", "sd", "spp", "sdd"))
        .select(col("l_returnflag"), col("n"),
          col("corr_qp"), col("corr_qd"), col("corr_pd"),
          (abs(col("bqp") - col("corr_qp")) <= lit(1e-6)).as("builtin_ok"))
        .orderBy("l_returnflag")
    },
      // Same exact-moment inputs and character-identical IEEE correlation
      // tree as the Spark op — doubles are bit-equal (agg_skew_kurt law).
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS dd
        |  FROM lineitem),
        |m AS (SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(q::HUGEINT) AS DOUBLE) AS sq,
        |    CAST(SUM(p::HUGEINT) AS DOUBLE) AS sp,
        |    CAST(SUM(dd::HUGEINT) AS DOUBLE) AS sd,
        |    CAST(SUM(q::HUGEINT * q) AS DOUBLE) AS sqq,
        |    CAST(SUM(p::HUGEINT * p) AS DOUBLE) AS spp,
        |    CAST(SUM(dd::HUGEINT * dd) AS DOUBLE) AS sdd,
        |    CAST(SUM(q::HUGEINT * p) AS DOUBLE) AS sqp,
        |    CAST(SUM(q::HUGEINT * dd) AS DOUBLE) AS sqd,
        |    CAST(SUM(p::HUGEINT * dd) AS DOUBLE) AS spd
        |  FROM b GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (n*sqp - sq*sp) / (sqrt(n*sqq - sq*sq) * sqrt(n*spp - sp*sp)) AS corr_qp,
        |  (n*sqd - sq*sd) / (sqrt(n*sqq - sq*sq) * sqrt(n*sdd - sd*sd)) AS corr_qd,
        |  (n*spd - sp*sd) / (sqrt(n*spp - sp*sp) * sqrt(n*sdd - sd*sd)) AS corr_pd,
        |  TRUE AS builtin_ok
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // Quantity-weighted price statistics (the weighted-aggregate surface
    // every pricing/index pipeline needs): weighted mean and variance
    // from exact integer moments — Σw, Σw·x, Σw·x² accumulate in
    // DECIMAL(38,0) (associative, partition-order free), the mean/var
    // arithmetic is the shared IEEE tree. One partial-aggregated pass.
    Op("agg_weighted_stats", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("bigint").as("w"),
          round(col("l_extendedprice") * 100).cast("bigint").as("x"))
        .groupBy("l_returnflag")
        .agg(
          sum(col("w").cast("decimal(38,0)")).cast("double").as("sw"),
          sum((col("w") * col("x")).cast("decimal(38,0)")).cast("double").as("swx"),
          sum((col("w").cast("decimal(38,0)") * col("x") * col("x")))
            .cast("double").as("swx2"))
        .withColumn("wmean", expr("swx/sw"))
        .withColumn("wvar", expr("swx2/sw - (swx/sw)*(swx/sw)"))
        .select(col("l_returnflag"), col("sw"), col("wmean"), col("wvar"))
        .orderBy("l_returnflag"),
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS w,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x
        |  FROM lineitem),
        |m AS (SELECT l_returnflag,
        |    CAST(SUM(w::HUGEINT) AS DOUBLE) AS sw,
        |    CAST(SUM(w::HUGEINT * x) AS DOUBLE) AS swx,
        |    CAST(SUM(w::HUGEINT * x * x) AS DOUBLE) AS swx2
        |  FROM b GROUP BY l_returnflag)
        |SELECT l_returnflag, sw, swx/sw AS wmean,
        |  swx2/sw - (swx/sw)*(swx/sw) AS wvar
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // Exponentially weighted moving average per user over the event-value
    // stream (the time-series smoother next to gap-fill and sessionize).
    // Weights half-decay per step, truncated at 8 lags (128, 64, …, 1 for
    // lags 0..7 — EwmaW below): integer weights make the smoother a ratio
    // of two BIGINT sums, `Σ wᵢ·xᵢ DIV Σ wᵢ(present)` — exact and
    // partition-order free in both engines, unlike a recursive
    // `α·x + (1−α)·prev` float recurrence (not windowable in Spark and
    // FP-order dependent anyway); truncation error vs the infinite tail
    // is < 1/256 of the oldest retained weight, below the cent quantum.
    // One window shuffle on user_id, eight lag reads of the SAME sorted
    // frame (Spark collapses same-window functions into one WindowExec).
    // Scale: identical to win_lead_lag — per-user frames, no global sort,
    // per-row state is 8 longs.
    Op("win_ewma", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val x = floor(col("value") * 100).cast("bigint")
      val terms = EwmaW.zipWithIndex.map { case (wt, i) =>
        coalesce(lag(x, i).over(w) * wt, lit(0L)) }
      val denom = EwmaW.zipWithIndex.map { case (wt, i) =>
        when(lag(x, i).over(w).isNotNull, wt).otherwise(0L) }
      Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
        .withColumn("num", terms.reduce(_ + _))
        .withColumn("den", denom.reduce(_ + _))
        .withColumn("ewma_cents", expr("num DIV den"))
        .select("user_id", "ts_us", "event_id", "ewma_cents")
        .orderBy("user_id", "ts_us", "event_id")
    },
      // Generated from the same EwmaW constants as the Spark plan so the
      // weight vector can never drift between the two engines.
      {
      val lags = EwmaW.indices.map(i => s"lag(x, $i) OVER w AS x$i").mkString(", ")
      val num = EwmaW.zipWithIndex
        .map { case (wt, i) => s"COALESCE($wt * x$i, 0)" }.mkString(" + ")
      val den = EwmaW.zipWithIndex
        .map { case (wt, i) => s"CASE WHEN x$i IS NULL THEN 0 ELSE $wt END" }
        .mkString(" + ")
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    CAST(floor(value * 100) AS BIGINT) AS x FROM events),
         |l AS (SELECT user_id, ts_us, event_id, $lags
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
         |SELECT user_id, ts_us, event_id,
         |  ($num) // ($den) AS ewma_cents
         |FROM l ORDER BY user_id, ts_us, event_id""".stripMargin
    }),

    // Shannon entropy / diversity profile of each user-bucket's event-type
    // mix (the distribution-drift metric a data pipeline monitors next to
    // the quality audit). All inputs to the FP tail are EXACT integer
    // aggregates (counts, Σcnt², Σ round(cnt·ln cnt ·1e6) as BIGINT), so
    // the derived H = ln(N) − Σcntlncnt/1e6/N and Gini = 1 − Σcnt²/N² are
    // fixed IEEE expression trees over identical operands in both engines
    // (the 6-dp round masks the one libm-divergent primitive, ln — the
    // fn_math precedent). Two map-side rollups, no extra shuffle.
    Op("agg_entropy", (s, d) =>
      Tables.events(s, d)
        .groupBy((col("user_id") % 10).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("bucket")
        .agg(sum("cnt").as("n"),
          count(lit(1)).as("n_types"),
          sum(col("cnt") * col("cnt")).as("s2"),
          sum(round(col("cnt") * log(col("cnt")) * 1e6).cast("bigint")).as("slog"))
        .select(col("bucket"), col("n"), col("n_types"),
          round(expr("ln(n) - (slog / 1e6) / n"), 6).as("entropy"),
          round(expr("(ln(n) - (slog / 1e6) / n) / ln(n_types)"), 6).as("entropy_norm"),
          round(expr("1.0 - s2 / (n * n)"), 6).as("gini"))
        .orderBy("bucket"),
      // Same two-level rollup: exact integer aggregates feed the shared
      // IEEE expression tree; ln is the only libm call, masked by round-6.
      """WITH c AS (SELECT user_id % 10 AS bucket, event_type, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n,
        |    COUNT(*) AS n_types,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS s2,
        |    CAST(SUM(CAST(ROUND(cnt * ln(cnt) * 1e6) AS BIGINT)) AS BIGINT) AS slog
        |  FROM c GROUP BY 1)
        |SELECT bucket, n, n_types,
        |  ROUND(ln(n) - (slog / 1e6) / n, 6) AS entropy,
        |  ROUND((ln(n) - (slog / 1e6) / n) / ln(n_types), 6) AS entropy_norm,
        |  ROUND(1.0 - s2 / (CAST(n AS DOUBLE) * n), 6) AS gini
        |FROM r ORDER BY bucket""".stripMargin),

    // Welch's two-sample t-test between two customer segments' order
    // values (the A/B-readout every experimentation pipeline computes).
    // Cents are exact BIGINTs; n/Σx/Σx² accumulate as DECIMAL(38,0), so
    // mean, Welch variance, t-statistic and Welch–Satterthwaite df are
    // all derived from exact operands via one shared expression tree —
    // bit-identical cross-engine, no rounding needed except for display.
    // One broadcast dim join + a single conditional-sum aggregate.
    Op("agg_ab_ttest", (s, d) => {
      val segs = Seq("BUILDING", "MACHINERY")
      val isA = col("c_mktsegment") === segs.head
      val cents = round(col("o_totalprice") * 100).cast("bigint")
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .where(col("c_mktsegment").isin(segs: _*))
        .select(isA.as("a"), cents.as("x"))
        .agg(
          sum(when(col("a"), 1L).otherwise(0L)).cast("double").as("n1"),
          sum(when(!col("a"), 1L).otherwise(0L)).cast("double").as("n2"),
          sum(when(col("a"), col("x")).otherwise(0L).cast("decimal(38,0)"))
            .cast("double").as("s1"),
          sum(when(!col("a"), col("x")).otherwise(0L).cast("decimal(38,0)"))
            .cast("double").as("s2"),
          sum(when(col("a"), col("x") * col("x")).otherwise(0L).cast("decimal(38,0)"))
            .cast("double").as("q1"),
          sum(when(!col("a"), col("x") * col("x")).otherwise(0L).cast("decimal(38,0)"))
            .cast("double").as("q2"))
        .withColumn("v1", expr("(q1 - s1*s1/n1) / (n1 - 1)"))
        .withColumn("v2", expr("(q2 - s2*s2/n2) / (n2 - 1)"))
        .withColumn("se2", expr("v1/n1 + v2/n2"))
        .select(
          col("n1").cast("bigint").as("n1"),
          col("n2").cast("bigint").as("n2"),
          expr("s1/n1/100").as("mean1"),
          expr("s2/n2/100").as("mean2"),
          expr("(s1/n1 - s2/n2) / sqrt(se2)").as("t_stat"),
          expr("se2*se2 / ((v1/n1)*(v1/n1)/(n1-1) + (v2/n2)*(v2/n2)/(n2-1))").as("welch_df"),
          expr("abs((s1/n1 - s2/n2) / sqrt(se2)) > 1.96").as("significant"))
    },
      // Exact conditional DECIMAL sums → the identical Welch expression
      // tree. significant is derived from the same t value.
      """WITH j AS (SELECT c_mktsegment = 'BUILDING' AS a,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
        |    CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS DOUBLE) AS n2,
        |    CAST(SUM(CASE WHEN a THEN x::HUGEINT ELSE 0 END) AS DOUBLE) AS s1,
        |    CAST(SUM(CASE WHEN a THEN 0 ELSE x::HUGEINT END) AS DOUBLE) AS s2,
        |    CAST(SUM(CASE WHEN a THEN x::HUGEINT * x ELSE 0 END) AS DOUBLE) AS q1,
        |    CAST(SUM(CASE WHEN a THEN 0 ELSE x::HUGEINT * x END) AS DOUBLE) AS q2
        |  FROM j),
        |v AS (SELECT *,
        |    (q1 - s1*s1/n1) / (n1 - 1) AS v1,
        |    (q2 - s2*s2/n2) / (n2 - 1) AS v2
        |  FROM m),
        |w AS (SELECT *, v1/n1 + v2/n2 AS se2 FROM v)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  s1/n1/100 AS mean1, s2/n2/100 AS mean2,
        |  (s1/n1 - s2/n2) / sqrt(se2) AS t_stat,
        |  se2*se2 / ((v1/n1)*(v1/n1)/(n1-1) + (v2/n2)*(v2/n2)/(n2-1)) AS welch_df,
        |  abs((s1/n1 - s2/n2) / sqrt(se2)) > 1.96 AS significant
        |FROM w""".stripMargin),

    // Lag-k autocorrelation (ACF, lags 1..3) of the daily event-count
    // series — the seasonality probe a monitoring layer runs over every
    // metric series. The time axis is datediff from the series start
    // (index survives calendar gaps, unlike ROW_NUMBER), lag pairs are a
    // keyed self-join on t = t+k, and the Pearson algebra is cleared of
    // divisions by multiplying through by n²: every sum is an exact
    // DECIMAL(38,0) (associative, partition-order free) and the single
    // double division at the end is the same IEEE expression tree DuckDB
    // evaluates — bit-identical across engines, the agg_skew_kurt law.
    // Scale: the daily rollup is the only fact shuffle; the series frame
    // is one row per day (tiny at any corpus size), so the lag join and
    // the stats broadcast are metadata-scale.
    Op("win_acf", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val idx = daily.crossJoin(broadcast(daily.agg(min("day").as("d0"))))
        .select(datediff(col("day"), col("d0")).cast("bigint").as("t"), col("x"))
        .localCheckpoint()
      val stats = idx.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("s1"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("s2"))
      val lagged = idx
        .crossJoin(s.range(1, 4).select(col("id").as("k")))
        .join(idx.select(col("t").as("t2"), col("x").as("y")),
          col("t2") === col("t") + col("k"))
        .groupBy("k")
        .agg(
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("ck"),
          sum(col("x").cast("decimal(38,0)")).as("ak"),
          sum(col("y").cast("decimal(38,0)")).as("bk"),
          count(lit(1)).as("nk"))
      lagged.crossJoin(broadcast(stats))
        .select(col("k"), col("nk"),
          expr("""CAST(CAST(n AS DECIMAL(38,0))*n*ck - n*s1*ak - n*s1*bk + nk*s1*s1 AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0))*n*s2 - n*s1*s1 AS DOUBLE)""").as("acf"))
        .orderBy("k")
    },
      // Same n²-cleared Pearson algebra, same single double division.
      """WITH daily AS MATERIALIZED (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |d0 AS (SELECT MIN(day) AS d0 FROM daily),
        |idx AS MATERIALIZED (
        |  SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS t, x
        |  FROM daily, d0),
        |s AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(x*x) AS DECIMAL(38,0)) AS s2 FROM idx),
        |lags AS MATERIALIZED (
        |  SELECT CAST(v.k AS BIGINT) AS k,
        |    CAST(SUM(i.x * j.x) AS DECIMAL(38,0)) AS ck,
        |    CAST(SUM(i.x) AS DECIMAL(38,0)) AS ak,
        |    CAST(SUM(j.x) AS DECIMAL(38,0)) AS bk,
        |    CAST(COUNT(*) AS BIGINT) AS nk
        |  FROM (VALUES (1),(2),(3)) v(k)
        |  JOIN idx i ON TRUE JOIN idx j ON j.t = i.t + v.k
        |  GROUP BY 1)
        |SELECT k, nk,
        |  CAST(CAST(n AS DECIMAL(38,0))*n*ck - n*s1*ak - n*s1*bk + nk*s1*s1 AS DOUBLE)
        |  / CAST(CAST(n AS DECIMAL(38,0))*n*s2 - n*s1*s1 AS DOUBLE) AS acf
        |FROM lags, s ORDER BY k""".stripMargin),

    // Theil–Sen robust trend per event type: the median of all pairwise
    // slopes of the daily count series — the outlier-proof alternative to
    // OLS (agg_regression) every metric-drift monitor wants. Each slope
    // is ONE double division (dy·1.0/dt) — the identical IEEE tree in
    // both engines — and the median of an odd pair count picks an element
    // (an even count averages two doubles, also engine-identical). The
    // pair join is quadratic in DAYS, not rows (bounded by the series
    // length after the one fact-rollup shuffle); at 100 TB the daily
    // frame is still one row per (type, day).
    Op("agg_theil_sen", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val idx = daily.crossJoin(broadcast(daily.agg(min("day").as("d0"))))
        .select(col("event_type"),
          datediff(col("day"), col("d0")).cast("bigint").as("t"), col("x"))
        .localCheckpoint()
      idx.as("i").join(idx.as("j"),
          col("i.event_type") === col("j.event_type") && col("i.t") < col("j.t"))
        .select(col("i.event_type").as("event_type"),
          ((col("j.x") - col("i.x")) * lit(1.0) / (col("j.t") - col("i.t"))).as("slope"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"), expr("median(slope)").as("slope_per_day"))
        .orderBy("event_type")
    },
      // Same single-division slopes, same element-or-mean median.
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT MIN(day) AS d0 FROM daily),
        |idx AS MATERIALIZED (
        |  SELECT event_type, CAST(date_diff('day', d0, day) AS BIGINT) AS t, x
        |  FROM daily, d0),
        |p AS (SELECT i.event_type, (j.x - i.x) * 1.0 / (j.t - i.t) AS slope
        |  FROM idx i JOIN idx j ON i.event_type = j.event_type AND i.t < j.t)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  median(slope) AS slope_per_day
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),

    // CUSUM changepoint detection per event type — where did the daily
    // series' mean shift? The classic statistic max_r |Σ_{t≤r}(x_t − x̄)|
    // is cleared of the fractional mean by multiplying through by n:
    // stat_r = n·cum_r − r·S1 (exact BIGINT, sign preserved — no DIV on
    // negatives, which floors differently across engines). The argmax is
    // a ROW_NUMBER pick under the (|stat| DESC, r ASC) total order. Two
    // windows over one event_type exchange + a broadcast of the per-type
    // totals; series length per type is days, not rows.
    Op("win_changepoint", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s1"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val c = daily
        .withColumn("r", row_number().over(w).cast("bigint"))
        .withColumn("cum", sum("x").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(tot), "event_type")
        .withColumn("stat", col("n") * col("cum") - col("r") * col("s1"))
      c.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(abs(col("stat")).desc, col("r"))))
        .where(col("rn") === 1)
        .select(col("event_type"), col("n").as("n_days"), col("r").as("cp_rank"),
          date_format(col("day"), "yyyy-MM-dd").as("cp_day"), col("stat").as("cusum_stat"))
        .orderBy("event_type")
    },
      // Same n-cleared CUSUM statistic, same (|stat| DESC, r ASC) pick.
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s1 FROM daily GROUP BY 1),
        |c AS (SELECT d.event_type, d.day, tot.n, tot.s1,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS BIGINT) AS r,
        |    CAST(SUM(x) OVER (PARTITION BY d.event_type ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM daily d JOIN tot USING (event_type)),
        |s AS (SELECT *, n * cum - r * s1 AS stat,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY abs(n * cum - r * s1) DESC, r) AS rn
        |  FROM c)
        |SELECT event_type, n AS n_days, r AS cp_rank,
        |  strftime(day, '%Y-%m-%d') AS cp_day, CAST(stat AS BIGINT) AS cusum_stat
        |FROM s WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // Maximum drawdown per event type — the peak-to-trough collapse
    // metric (the risk twin of win_changepoint's mean shift): running
    // peak = MAX over the unbounded-preceding frame of the daily count
    // series, drawdown_r = peak_r − x_r (exact BIGINT), and the max-
    // drawdown day is the ROW_NUMBER=1 pick under (drawdown DESC, day
    // ASC). One per-type window + one argmax window over the same
    // exchange; series length is days, not rows.
    Op("win_drawdown", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("peak", max("x").over(w))
        .withColumn("dd", col("peak") - col("x"))
        .withColumn("n_days",
          count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(desc("dd"), col("day"))))
        .where(col("rn") === 1)
        .select(col("event_type"), col("n_days"),
          col("peak").as("peak_count"), col("dd").as("max_drawdown"),
          date_format(col("day"), "yyyy-MM-dd").as("dd_day"))
        .orderBy("event_type")
    },
      // Same running peak, same (drawdown DESC, day ASC) argmax pick.
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, day, x,
        |    CAST(MAX(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
        |  FROM daily),
        |s AS (SELECT *, peak - x AS dd,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY peak - x DESC, day) AS rn
        |  FROM p)
        |SELECT event_type, n_days, peak AS peak_count, CAST(dd AS BIGINT) AS max_drawdown,
        |  strftime(day, '%Y-%m-%d') AS dd_day
        |FROM s WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // Benford first-digit audit over order totals — the classic fraud /
    // data-quality screen: first significant digit via integer cents →
    // string head (no log10 on data, whose last-ulp could differ across
    // libms), observed share in exact ppm, expected ppm as the PUBLISHED
    // Benford constants (floor(log10(1+1/d)·1e6) — literals in BOTH
    // engines, so no transcendental enters the hash), deviation exact.
    // One 9-group rollup + a broadcast total; scan-side digit extraction.
    Op("agg_benford", (s, d) => {
      val expected = "CAST(CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091 " +
        "WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181 " +
        "WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152 ELSE 45757 END AS BIGINT)"
      val digits = Tables.orders(s, d)
        .select(expr(
          "CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      digits.crossJoin(broadcast(digits.agg(sum("n_obs").as("n_total"))))
        .withColumn("obs_ppm", expr("(n_obs * 1000000) DIV n_total"))
        .withColumn("expected_ppm", expr(expected))
        .select(col("digit"), col("n_obs"), col("obs_ppm"), col("expected_ppm"),
          (col("obs_ppm") - col("expected_ppm")).as("dev_ppm"))
        .orderBy("digit")
    },
      // Same string-head digit law, same published-constant expectations.
      """WITH d AS (SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM g)
        |SELECT digit, n_obs,
        |  (n_obs * 1000000) // n_total AS obs_ppm,
        |  CAST(CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
        |    WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
        |    WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
        |    ELSE 45757 END AS BIGINT) AS expected_ppm,
        |  (n_obs * 1000000) // n_total - CASE digit WHEN 1 THEN 301029
        |    WHEN 2 THEN 176091 WHEN 3 THEN 124938 WHEN 4 THEN 96910
        |    WHEN 5 THEN 79181 WHEN 6 THEN 66946 WHEN 7 THEN 57991
        |    WHEN 8 THEN 51152 ELSE 45757 END AS dev_ppm
        |FROM g, t ORDER BY digit""".stripMargin),

    // Day-of-week seasonality index per event type (the STL seasonal
    // component, integer-exact): dow from the epoch-day congruence
    // (days+4) mod 7 — NEVER an engine dayofweek builtin, whose origin
    // differs across engines — and index_milli = mean(dow) over
    // mean(all) cross-multiplied into one exact integer DIV:
    // (n_dow · total_days · 1000) DIV (n_total · dow_days). One rollup
    // per grain + a broadcast of per-type totals.
    Op("agg_seasonality", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", expr("(datediff(day, DATE'1970-01-01') + 4) % 7"))
      val byDow = daily.groupBy("event_type", "dow")
        .agg(sum("x").as("n_dow"), count(lit(1)).as("dow_days"))
      val tot = daily.groupBy("event_type")
        .agg(sum("x").as("n_total"), count(lit(1)).as("total_days"))
      byDow.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("dow").cast("bigint").as("dow"),
          col("n_dow"), col("dow_days"),
          expr("(n_dow * total_days * 1000) DIV (n_total * dow_days)")
            .as("index_milli"))
        .orderBy("event_type", "dow")
    },
      // Same epoch-day congruence, same cross-multiplied index.
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |dw AS (SELECT event_type, day, x,
        |    (CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) + 4) % 7 AS dow
        |  FROM daily),
        |bydow AS (SELECT event_type, dow, CAST(SUM(x) AS BIGINT) AS n_dow,
        |    CAST(COUNT(*) AS BIGINT) AS dow_days FROM dw GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS n_total,
        |    CAST(COUNT(*) AS BIGINT) AS total_days FROM dw GROUP BY 1)
        |SELECT event_type, dow, n_dow, dow_days,
        |  (n_dow * total_days * 1000) // (n_total * dow_days) AS index_milli
        |FROM bydow JOIN tot USING (event_type)
        |ORDER BY event_type, dow""".stripMargin),

    // Gini coefficient of order value per customer region — the
    // inequality metric every spend/usage report carries: on integer
    // cents ranked inside each region (rank order within ties is
    // irrelevant — equal x makes Σi·x tie-invariant), G = (2Σi·x −
    // (n+1)Σx) / (n·Σx), emitted as the EXACT (g_num, g_den) BIGINT pair
    // + one shared-IEEE division. One fact-dim join (nation/region
    // broadcast via customer), one per-region window, one rollup.
    Op("agg_gini", (s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey"), col("n_regionkey").cast("bigint").as("region"))),
          col("c_nationkey") === col("n_nationkey"))
      o.withColumn("i", row_number().over(
          Window.partitionBy("region").orderBy("cents", "o_orderkey")).cast("bigint"))
        .groupBy("region")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"),
          sum(expr("i * cents")).as("sum_ix"))
        .withColumn("g_num", expr("2 * sum_ix - (n_orders + 1) * sum_cents"))
        .withColumn("g_den", expr("n_orders * sum_cents"))
        .select(col("region"), col("n_orders"), col("sum_cents"),
          col("g_num"), col("g_den"),
          (col("g_num").cast("double") / col("g_den").cast("double")).as("gini"))
        .orderBy("region")
    },
      // Same cents ranks (tie-invariant), same exact pair + one division.
      """WITH o AS (SELECT o_orderkey, n_regionkey AS region,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey),
        |r AS (SELECT CAST(region AS BIGINT) AS region, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY region ORDER BY cents, o_orderkey) AS BIGINT) AS i
        |  FROM o),
        |g AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |    CAST(SUM(i * cents) AS BIGINT) AS sum_ix
        |  FROM r GROUP BY 1)
        |SELECT region, n_orders, sum_cents,
        |  CAST(2 * sum_ix - (n_orders + 1) * sum_cents AS BIGINT) AS g_num,
        |  CAST(n_orders * sum_cents AS BIGINT) AS g_den,
        |  CAST(2 * sum_ix - (n_orders + 1) * sum_cents AS DOUBLE)
        |    / CAST(n_orders * sum_cents AS DOUBLE) AS gini
        |FROM g ORDER BY region""".stripMargin),

    // 7-day rolling correlation between the view and purchase daily
    // series — the co-movement monitor beside win_ewma/win_acf: both
    // series' counts are exact integers, the rolling frame accumulates
    // exact sums (every product < 2⁵³, so the double casts are lossless),
    // and r = (n·Sxy − Sx·Sy)/(√(n·Sxx−Sx²)·√(n·Syy−Sy²)) uses only
    // division and IEEE-correctly-rounded sqrt — engine-identical. The
    // global window runs over the per-DAY aggregate (calendar-bounded,
    // the win_sliding_frame law), never over raw events.
    Op("win_rolling_corr", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val x = daily.where(col("event_type") === "view").select(col("day"), col("c").as("x"))
      val y = daily.where(col("event_type") === "purchase").select(col("day"), col("c").as("y"))
      val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
      x.join(y, Seq("day"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum("x").over(w)).withColumn("sy", sum("y").over(w))
        .withColumn("sxy", sum(expr("x * y")).over(w))
        .withColumn("sxx", sum(expr("x * x")).over(w))
        .withColumn("syy", sum(expr("y * y")).over(w))
        .where(col("n") === 7)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("sx"), col("sy"), col("sxy"),
          // zero-variance windows yield NULL, not a NaN whose propagation
          // rules could differ between engines
          expr("""CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                 THEN CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 ELSE NULL END""").as("r"))
        .orderBy("day")
    },
      // Same exact rolling sums, same guarded sqrt/division tree.
      """WITH daily AS MATERIALIZED (
        |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |xy AS (SELECT x.day, x.c AS x, y.c AS y
        |  FROM (SELECT day, c FROM daily WHERE event_type = 'view') x
        |  JOIN (SELECT day, c FROM daily WHERE event_type = 'purchase') y USING (day)),
        |w AS (SELECT day,
        |    CAST(COUNT(*) OVER f AS BIGINT) AS n,
        |    CAST(SUM(x) OVER f AS BIGINT) AS sx, CAST(SUM(y) OVER f AS BIGINT) AS sy,
        |    CAST(SUM(x * y) OVER f AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) OVER f AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) OVER f AS BIGINT) AS syy
        |  FROM xy
        |  WINDOW f AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day, n, sx, sy, sxy,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    ELSE NULL END AS r
        |FROM w WHERE n = 7 ORDER BY day""".stripMargin),

    // Two-sample Kolmogorov–Smirnov drift statistic — the train/serve
    // skew detector: D = max |F₁ − F₂| over order-value cents of the
    // 'F' vs 'O' populations, computed EXACTLY as max |cum₁·n₂ − cum₂·n₁|
    // over (n₁·n₂). The CDF prefix sums are BANDED two-phase (the
    // win_range_frame law): per-value rollup → per-band running sums +
    // carry-in offsets from the tiny band-total frame — no global
    // single-task sort ever exists; at 100 TB bands shard the value
    // domain and only the band-count-sized offset frame is serial.
    Op("agg_ks_drift", (s, d) => {
      val v = Tables.orders(s, d)
        .where(col("o_orderstatus").isin("F", "O"))
        .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"),
          col("o_orderstatus").as("grp"))
        .groupBy("cents")
        .agg(sum(when(col("grp") === "F", 1L).otherwise(0L)).as("c1"),
          sum(when(col("grp") === "O", 1L).otherwise(0L)).as("c2"))
        .withColumn("band", expr("cents DIV 2000000"))
      val bandTot = v.groupBy("band").agg(sum("c1").as("b1"), sum("c2").as("b2"))
        .withColumn("off1", coalesce(sum("b1").over(
          Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("off2", coalesce(sum("b2").over(
          Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("band", "off1", "off2")
      val wb = Window.partitionBy("band").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // materialized once: cdf feeds BOTH the n1/n2 totals broadcast and
      // the argmax scan — without the cut the banded-window pass runs
      // twice. The argmax itself is a map-side max_by on the
      // (diff DESC, cents ASC) total order — the old row_number over an
      // UNPARTITIONED Window.orderBy moved the whole distinct-cents CDF
      // to a single task just to keep one row (guide §2; VERDICT r16
      // item 3's serial-window class).
      val cdfM = v.join(broadcast(bandTot), "band")
        .withColumn("cum1", col("off1") + sum("c1").over(wb))
        .withColumn("cum2", col("off2") + sum("c2").over(wb))
        .localCheckpoint()
      cdfM.crossJoin(broadcast(cdfM.agg(max("cum1").as("n1"), max("cum2").as("n2"))))
        .withColumn("diff", abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
        .agg(max("n1").as("n1"), max("n2").as("n2"),
          max_by(struct(col("cents"), col("diff")),
            struct(col("diff"), -col("cents"))).as("b"))
        .select(col("n1"), col("n2"), col("b.cents").as("at_cents"),
          col("b.diff").as("d_num"), (col("n1") * col("n2")).as("d_den"),
          (col("b.diff").cast("double") / (col("n1") * col("n2")).cast("double")).as("d"))
    },
      // Same per-value rollup, banded prefix sums, and exact cross-
      // multiplied max pick.
      """WITH v AS MATERIALIZED (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1),
        |b AS (SELECT cents, c1, c2, cents // 2000000 AS band FROM v),
        |bt AS (SELECT band, CAST(SUM(c1) AS BIGINT) AS b1,
        |    CAST(SUM(c2) AS BIGINT) AS b2 FROM b GROUP BY 1),
        |off AS (SELECT band,
        |    CAST(COALESCE(SUM(b1) OVER (ORDER BY band
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off1,
        |    CAST(COALESCE(SUM(b2) OVER (ORDER BY band
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off2
        |  FROM bt),
        |cdf AS (SELECT b.cents,
        |    off1 + CAST(SUM(c1) OVER (PARTITION BY b.band ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
        |    off2 + CAST(SUM(c2) OVER (PARTITION BY b.band ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
        |  FROM b JOIN off USING (band)),
        |t AS (SELECT CAST(MAX(cum1) AS BIGINT) AS n1,
        |    CAST(MAX(cum2) AS BIGINT) AS n2 FROM cdf),
        |s AS (SELECT cents, cum1, cum2, n1, n2,
        |    CAST(abs(cum1 * n2 - cum2 * n1) AS BIGINT) AS diff,
        |    ROW_NUMBER() OVER (ORDER BY abs(cum1 * n2 - cum2 * n1) DESC, cents) AS rn
        |  FROM cdf, t)
        |SELECT n1, n2, cents AS at_cents, diff AS d_num,
        |  CAST(n1 * n2 AS BIGINT) AS d_den,
        |  CAST(diff AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d
        |FROM s WHERE rn = 1""".stripMargin),

    // Chi-square of independence between market segment and order
    // priority — is the mix independent? Per contingency cell the engine
    // keeps the deviation obs·N − row·col as an EXACT BIGINT (the square
    // would overflow int64 past ~sf0.1, so it is formed in doubles on a
    // value < 2⁵³ — lossless, engine-identical) and divides once by the
    // exact N·row·col. Never a cross-denominator double SUM whose
    // addition order could differ. One fact-dim join (customer broadcast
    // at fixture scale, co-partitioned at 100 TB), one cell rollup, two
    // tiny marginal broadcasts.
    Op("agg_chisq", (s, d) => {
      val cells = Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("obs"))
      val rowT = cells.groupBy("segment").agg(sum("obs").as("row_tot"))
      val colT = cells.groupBy("priority").agg(sum("obs").as("col_tot"))
      val n = cells.agg(sum("obs").as("n"))
      cells.join(broadcast(rowT), "segment").join(broadcast(colT), "priority")
        .crossJoin(broadcast(n))
        .withColumn("dev", expr("obs * n - row_tot * col_tot"))
        .select(col("segment"), col("priority"), col("obs"),
          col("row_tot"), col("col_tot"), col("dev"),
          expr("""CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE)
                 / CAST(n * row_tot * col_tot AS DOUBLE)""").as("chi_cell"))
        .orderBy("segment", "priority")
    },
      // Same exact deviation, same lossless double square, one division.
      """WITH cells AS (SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        |    CAST(COUNT(*) AS BIGINT) AS obs
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT segment, CAST(SUM(obs) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
        |c AS (SELECT priority, CAST(SUM(obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells)
        |SELECT segment, priority, obs, row_tot, col_tot,
        |  CAST(obs * n - row_tot * col_tot AS BIGINT) AS dev,
        |  CAST(obs * n - row_tot * col_tot AS DOUBLE)
        |    * CAST(obs * n - row_tot * col_tot AS DOUBLE)
        |    / CAST(n * row_tot * col_tot AS DOUBLE) AS chi_cell
        |FROM cells JOIN r USING (segment) JOIN c USING (priority), t
        |ORDER BY segment, priority""".stripMargin),

    // Total-variation distance between the priority mixes of the F and O
    // order populations — the CATEGORICAL drift metric beside
    // agg_ks_drift's ordinal D: TV = ½ Σ_c |p_c − q_c| computed entirely
    // on cross-multiplied integers, Σ|c₁·n₂ − c₂·n₁| over 2·n₁·n₂ —
    // exact to the last ppm, no float until the single final division.
    // One category rollup + a broadcast of the two population totals.
    Op("agg_tv_distance", (s, d) => {
      val c = Tables.orders(s, d)
        .where(col("o_orderstatus").isin("F", "O"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c1"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("c2"))
      c.crossJoin(broadcast(c.agg(sum("c1").as("n1"), sum("c2").as("n2"))))
        .agg(count(lit(1)).as("n_categories"),
          max("n1").as("n1"), max("n2").as("n2"),
          sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("tv_num"))
        .withColumn("tv_den", expr("2 * n1 * n2"))
        .select(col("n_categories"), col("n1"), col("n2"),
          col("tv_num"), col("tv_den"),
          (col("tv_num").cast("double") / col("tv_den").cast("double")).as("tv"))
    },
      // Same cross-multiplied integer TV, one final division.
      """WITH c AS (SELECT o_orderpriority AS priority,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM c)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
        |  CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
        |  CAST(SUM(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS tv_num,
        |  CAST(2 * MAX(n1) * MAX(n2) AS BIGINT) AS tv_den,
        |  CAST(SUM(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
        |    / CAST(2 * MAX(n1) * MAX(n2) AS DOUBLE) AS tv
        |FROM c, t""".stripMargin),

    // Winsorized mean of customer balance per market segment — the
    // robust location estimate (clamp to the p5/p95 ELEMENTS, then
    // average): bounds are rank-picked values (lo = value at rank
    // ceil(0.05n), hi = at ceil(0.95n) under the (cents, custkey) total
    // order — discrete percentiles, so NO interpolation arithmetic
    // exists to diverge), clamping and the sum stay exact BIGINT cents,
    // and the mean is one final division. Negative balances are fine:
    // nothing divides until the end. One per-segment window + a 5-row
    // bound broadcast.
    Op("agg_winsorized_mean", (s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
      val ranked = c
        .withColumn("rn", row_number().over(
          Window.partitionBy("segment").orderBy("cents", "c_custkey")).cast("bigint"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("segment")))
      val bounds = ranked
        .withColumn("lo_rank", expr("greatest((n * 5 + 99) DIV 100, CAST(1 AS BIGINT))"))
        .withColumn("hi_rank", expr("(n * 95 + 99) DIV 100"))
        .where(col("rn") === col("lo_rank") || col("rn") === col("hi_rank"))
        .groupBy("segment").agg(min("cents").as("lo"), max("cents").as("hi"))
      ranked.join(broadcast(bounds), "segment")
        .withColumn("w", expr("greatest(lo, least(hi, cents))"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"), max("lo").as("lo_cents"),
          max("hi").as("hi_cents"), sum("w").as("w_sum"),
          sum(when(col("cents") < col("lo") || col("cents") > col("hi"), 1L)
            .otherwise(0L)).as("n_clamped"))
        .withColumn("wmean_cents",
          (col("w_sum").cast("double") / col("n_customers").cast("double")))
        .orderBy("segment")
    },
      // Same discrete rank-picked bounds, same exact clamp-and-sum.
      """WITH c AS (SELECT c_custkey, c_mktsegment AS segment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY segment
        |      ORDER BY cents, c_custkey) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT) AS n
        |  FROM c),
        |b AS (SELECT segment, CAST(MIN(cents) AS BIGINT) AS lo,
        |    CAST(MAX(cents) AS BIGINT) AS hi
        |  FROM r
        |  WHERE rn = GREATEST((n * 5 + 99) // 100, 1) OR rn = (n * 95 + 99) // 100
        |  GROUP BY 1)
        |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(MAX(lo) AS BIGINT) AS lo_cents, CAST(MAX(hi) AS BIGINT) AS hi_cents,
        |  CAST(SUM(GREATEST(lo, LEAST(hi, cents))) AS BIGINT) AS w_sum,
        |  CAST(SUM(CASE WHEN cents < lo OR cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
        |  CAST(SUM(GREATEST(lo, LEAST(hi, cents))) AS DOUBLE) / COUNT(*) AS wmean_cents
        |FROM r JOIN b USING (segment)
        |GROUP BY segment ORDER BY segment""".stripMargin),

    // Poisson bootstrap of the mean order value — THE scalable bootstrap
    // (resampling-with-replacement needs the whole dataset per replica;
    // the Poisson trick gives each row an independent Poisson(1) weight
    // per replica, so all B replicas stream in ONE scan with map-side
    // combine). Weights are deterministic: u = md5(orderkey:b) uniform,
    // w = inverse-CDF lookup against the published Poisson(1) cumulative
    // thresholds (literals in both engines — no transcendental on data).
    // Per replica the mean is an exact (Σw·cents, Σw) pair + one
    // division; the replica spread IS the confidence interval (spec).
    Op("agg_poisson_bootstrap", (s, d) => {
      val thresholds = // floor(1e6 · P(Pois(1) ≤ k)), k = 0..6
        "CASE WHEN v < 367879 THEN 0 WHEN v < 735758 THEN 1 WHEN v < 919698 THEN 2 " +
        "WHEN v < 981011 THEN 3 WHEN v < 996340 THEN 4 WHEN v < 999405 THEN 5 " +
        "WHEN v < 999916 THEN 6 ELSE 7 END"
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"),
          explode(expr("sequence(0, 19)")).as("b"))
        .withColumn("v", expr(
          s"${md5Bits("concat(CAST(o_orderkey AS STRING), ':', CAST(b AS STRING))", 8)} % 1000000"))
        .withColumn("w", expr(s"CAST($thresholds AS BIGINT)"))
        .groupBy(col("b").cast("bigint").as("replica"))
        .agg(sum("w").as("n_eff"), sum(expr("w * cents")).as("w_sum"))
        .withColumn("mean_cents",
          col("w_sum").cast("double") / col("n_eff").cast("double"))
        .orderBy("replica")
    },
      // Same hash-uniform draw, same published Poisson(1) thresholds.
      s"""WITH o AS (SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT o_orderkey, cents, b,
        |    ${duckMd5Bits("CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)", 8)} % 1000000 AS v
        |  FROM o, (SELECT unnest(range(0, 20)) AS b)),
        |w AS (SELECT CAST(b AS BIGINT) AS replica, cents,
        |    CAST(CASE WHEN v < 367879 THEN 0 WHEN v < 735758 THEN 1
        |      WHEN v < 919698 THEN 2 WHEN v < 981011 THEN 3
        |      WHEN v < 996340 THEN 4 WHEN v < 999405 THEN 5
        |      WHEN v < 999916 THEN 6 ELSE 7 END AS BIGINT) AS w
        |  FROM r)
        |SELECT replica, CAST(SUM(w) AS BIGINT) AS n_eff,
        |  CAST(SUM(w * cents) AS BIGINT) AS w_sum,
        |  CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_cents
        |FROM w GROUP BY replica ORDER BY replica""".stripMargin),

    // Market-basket association rules over co-ordered part BRANDS —
    // support / confidence / lift, the retail affinity analysis: basket
    // = distinct brands per order (the distinct caps the pair fan-out at
    // C(brands,2) per order — never line-item-quadratic), pairs from ONE
    // self-join on the order key, confidence and lift in exact
    // cross-multiplied milli/ppm (lift_ppm = support·N·10⁶ DIV
    // (supp_a·supp_b)). Dimension broadcast, fact co-partitioned on the
    // order key at scale.
    Op("agg_market_basket", (s, d) => {
      val basket = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
        .distinct()
        .localCheckpoint()
      // N as a broadcast scalar-attach, NOT a driver-side count(): the
      // whole rule set stays one DAG / one job instead of a separate
      // count job blocking the pairs join.
      val nOrders = broadcast(
        basket.agg(countDistinct(col("okey")).as("n_orders")))
      val supp = basket.groupBy("brand").agg(count(lit(1)).as("s"))
      val pairs = basket.as("x").join(basket.as("y"),
          col("x.okey") === col("y.okey") && col("x.brand") < col("y.brand"))
        .groupBy(col("x.brand").as("brand_a"), col("y.brand").as("brand_b"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 10)
      pairs
        .join(broadcast(supp.select(col("brand").as("brand_a"), col("s").as("supp_a"))), "brand_a")
        .join(broadcast(supp.select(col("brand").as("brand_b"), col("s").as("supp_b"))), "brand_b")
        .crossJoin(nOrders)
        .select(col("brand_a"), col("brand_b"), col("support"),
          col("supp_a"), col("supp_b"),
          expr("(support * 1000) DIV supp_a").as("confidence_milli"),
          // numerator in DECIMAL(38,0): support·N·10⁶ overflows int64
          // once support and N both reach ~10⁷ (sf≳10); all terms are
          // positive so DIV == floor on both engines
          expr("CAST((CAST(support AS DECIMAL(38,0)) * n_orders * 1000000) DIV " +
            "(CAST(supp_a AS DECIMAL(38,0)) * supp_b) AS BIGINT)").as("lift_ppm"))
        .orderBy("brand_a", "brand_b")
    },
      // Same distinct baskets, same exact milli/ppm rule metrics.
      """WITH basket AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |n AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM basket),
        |supp AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS s FROM basket GROUP BY 1),
        |pairs AS (SELECT x.brand AS brand_a, y.brand AS brand_b,
        |    CAST(COUNT(*) AS BIGINT) AS support
        |  FROM basket x JOIN basket y ON x.okey = y.okey AND x.brand < y.brand
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 10)
        |SELECT brand_a, brand_b, support, sa.s AS supp_a, sb.s AS supp_b,
        |  (support * 1000) // sa.s AS confidence_milli,
        |  CAST((CAST(support AS HUGEINT) * n_orders * 1000000)
        |    // (CAST(sa.s AS HUGEINT) * sb.s) AS BIGINT) AS lift_ppm
        |FROM pairs
        |JOIN supp sa ON sa.brand = pairs.brand_a
        |JOIN supp sb ON sb.brand = pairs.brand_b, n
        |ORDER BY brand_a, brand_b""".stripMargin),

    // Pareto concentration of revenue per customer region — "do the top
    // 10% of customers carry the book?": per-customer revenue in exact
    // cents, ranked DESC inside each region, the top decile's share in
    // exact ppm via one cross-multiplied DIV. The rank window partitions
    // by region (parallel); customer-level revenue is one fact rollup.
    Op("agg_pareto_concentration", (s, d) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey"), col("n_regionkey").cast("bigint").as("region"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("region"), col("c_custkey"))
        .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)")).as("cents"))
      rev
        .withColumn("rn", row_number().over(
          Window.partitionBy("region").orderBy(desc("cents"), col("c_custkey"))).cast("bigint"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("region")))
        .withColumn("top", col("rn") <= expr("greatest(n DIV 10, CAST(1 AS BIGINT))"))
        .groupBy("region")
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("top"), 1L).otherwise(0L)).as("n_top"),
          sum("cents").as("total_cents"),
          sum(when(col("top"), col("cents")).otherwise(0L)).as("top_cents"))
        .withColumn("share_ppm", expr("(top_cents * 1000000) DIV total_cents"))
        .orderBy("region")
    },
      // Same (cents DESC, custkey) ranks, same decile cut and exact share.
      """WITH rev AS (SELECT CAST(n_regionkey AS BIGINT) AS region, c_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY region
        |      ORDER BY cents DESC, c_custkey) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY region) AS BIGINT) AS n
        |  FROM rev),
        |t AS (SELECT *, rn <= GREATEST(n // 10, 1) AS top FROM r)
        |SELECT region, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN top THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  CAST(SUM(CASE WHEN top THEN cents ELSE 0 END) AS BIGINT) AS top_cents,
        |  (CAST(SUM(CASE WHEN top THEN cents ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(SUM(cents) AS BIGINT) AS share_ppm
        |FROM t GROUP BY region ORDER BY region""".stripMargin),

    // First-order Markov transition matrix of user behavior — the
    // event-type chain a sequence model (or a simple next-action
    // predictor) trains on: per user the event stream in exact-µs order
    // (ts_us, event_id tiebreak — never raw ts), lag gives (from → to),
    // the matrix rolls up with row-normalized probabilities in exact
    // milli. One user exchange + one 25-cell rollup.
    Op("win_markov_chain", (s, d) => {
      val t = Tables.events(s, d)
        .withColumn("prev", lag("event_type", 1).over(
          Window.partitionBy("user_id").orderBy("ts_us", "event_id")))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val rowT = t.groupBy("from_type").agg(sum("n").as("from_total"))
      t.join(broadcast(rowT), "from_type")
        .select(col("from_type"), col("to_type"), col("n"), col("from_total"),
          expr("(n * 1000) DIV from_total").as("prob_milli"))
        .orderBy("from_type", "to_type")
    },
      // Same µs ordering, same row-normalized exact milli.
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |  FROM e),
        |t AS (SELECT prev AS from_type, event_type AS to_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM l WHERE prev IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS from_total FROM t GROUP BY 1)
        |SELECT from_type, to_type, n, from_total,
        |  (n * 1000) // from_total AS prob_milli
        |FROM t JOIN rt USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin),

    // Kaplan–Meier life table for user churn — the survival analysis a
    // retention team runs: lifetime = weeks between a user's first and
    // last event; a user still active in the observation window's final
    // week is CENSORED at their lifetime, everyone else is a churn
    // event. Classic risk-set recursion n_t = n_{t−1} − d_{t−1} −
    // c_{t−1} via one prefix-sum window over the tiny per-week frame;
    // hazard in exact milli. (The survival product Π(1−d/n) is left to
    // the reader — a float product's order is not an engine contract;
    // the risk table IS.)
    Op("agg_survival_table", (s, d) => {
      val users = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(expr("ts_us DIV 86400000000")).as("first_day"),
          max(expr("ts_us DIV 86400000000")).as("last_day"))
      val horizon = users.agg(max("last_day").as("max_day"))
      val lt = users.crossJoin(broadcast(horizon))
        .withColumn("t_week", expr("(last_day - first_day) DIV 7"))
        .withColumn("censored", col("last_day") >= col("max_day") - 7)
        .groupBy("t_week")
        .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d_events"),
          sum(when(col("censored"), 1L).otherwise(0L)).as("c_censored"))
      val nTotal = lt.agg(sum(expr("d_events + c_censored")).as("n_users"))
      lt.crossJoin(broadcast(nTotal))
        .withColumn("n_at_risk", col("n_users") - coalesce(
          sum(expr("d_events + c_censored")).over(
            Window.orderBy("t_week").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("t_week"), col("n_at_risk"), col("d_events"), col("c_censored"),
          expr("(d_events * 1000) DIV n_at_risk").as("hazard_milli"))
        .orderBy("t_week")
    },
      // Same week buckets, same censoring rule, same risk-set recursion.
      """WITH u AS (SELECT user_id,
        |    CAST(MIN(epoch_us(ts) // 86400000000) AS BIGINT) AS first_day,
        |    CAST(MAX(epoch_us(ts) // 86400000000) AS BIGINT) AS last_day
        |  FROM events GROUP BY 1),
        |h AS (SELECT CAST(MAX(last_day) AS BIGINT) AS max_day FROM u),
        |lt AS (SELECT (last_day - first_day) // 7 AS t_week,
        |    CAST(SUM(CASE WHEN last_day >= max_day - 7 THEN 0 ELSE 1 END) AS BIGINT) AS d_events,
        |    CAST(SUM(CASE WHEN last_day >= max_day - 7 THEN 1 ELSE 0 END) AS BIGINT) AS c_censored
        |  FROM u, h GROUP BY 1),
        |n AS (SELECT CAST(SUM(d_events + c_censored) AS BIGINT) AS n_users FROM lt),
        |r AS (SELECT t_week, d_events, c_censored,
        |    n_users - CAST(COALESCE(SUM(d_events + c_censored) OVER (ORDER BY t_week
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
        |  FROM lt, n)
        |SELECT t_week, n_at_risk, d_events, c_censored,
        |  (d_events * 1000) // n_at_risk AS hazard_milli
        |FROM r ORDER BY t_week""".stripMargin),

    // Velocity alerting — the fraud/abuse rate check: an event fires an
    // alert when its user produced ≥ 5 events inside the TRAILING DAY,
    // counted by a per-user RANGE frame over exact µs (ties at the same
    // microsecond all join the frame — both engines' RANGE law). The
    // window partitions by user (parallel, state bounded by a user's
    // in-window burst); output is proportional to the ALERTS.
    Op("win_velocity_alert", (s, d) =>
      Tables.events(s, d)
        .withColumn("n_1d", count(lit(1)).over(
          Window.partitionBy("user_id").orderBy("ts_us")
            .rangeBetween(-86400000000L, 0)))
        .where(col("n_1d") >= 5)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_us DIV 1000000").as("ts_sec"), col("n_1d"))
        .orderBy("user_id", "ts_sec", "event_id"),
      // Same exact-µs RANGE frame and threshold.
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        |w AS (SELECT user_id, event_id, event_type, ts_us,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1d
        |  FROM e)
        |SELECT user_id, event_id, event_type, ts_us // 1000000 AS ts_sec, n_1d
        |FROM w WHERE n_1d >= 5
        |ORDER BY user_id, ts_sec, event_id""".stripMargin),

    // RFM customer segmentation — the CRM workhorse: recency (last order
    // day), frequency (orders), monetary (exact cents) per customer,
    // each scored 1–5 by NTILE inside the customer's REGION under a
    // (metric, custkey) TOTAL order (the tiebreak makes ntile's
    // equal-split assignment engine-exact; the region partition keeps
    // the rank windows parallel — a GLOBAL ntile would be the one-task
    // sort that dies at 10⁹ customers), then the (region, r, f, m)
    // cells roll up. One fact rollup + three windows over one region
    // exchange + a small cell rollup.
    Op("agg_rfm", (s, d) => {
      val c = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)")).as("r_day"),
          count(lit(1)).as("f_cnt"),
          sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)")).as("m_cents"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey"), col("n_regionkey").cast("bigint").as("region"))),
          col("c_nationkey") === col("n_nationkey"))
      def score(m: String) = ntile(5).over(
        Window.partitionBy("region").orderBy(col(m), col("o_custkey"))).cast("bigint")
      c.withColumn("r_score", score("r_day"))
        .withColumn("f_score", score("f_cnt"))
        .withColumn("m_score", score("m_cents"))
        .groupBy("region", "r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"), sum("m_cents").as("cell_cents"))
        .orderBy("region", "r_score", "f_score", "m_score")
    },
      // Same per-region ntile scores under the same total order.
      """WITH c AS (SELECT o_custkey,
        |    CAST(MAX(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS r_day,
        |    CAST(COUNT(*) AS BIGINT) AS f_cnt,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS m_cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT c.*, CAST(n_regionkey AS BIGINT) AS region
        |  FROM c JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey),
        |sc AS (SELECT region,
        |    CAST(NTILE(5) OVER (PARTITION BY region ORDER BY r_day, o_custkey) AS BIGINT) AS r_score,
        |    CAST(NTILE(5) OVER (PARTITION BY region ORDER BY f_cnt, o_custkey) AS BIGINT) AS f_score,
        |    CAST(NTILE(5) OVER (PARTITION BY region ORDER BY m_cents, o_custkey) AS BIGINT) AS m_score,
        |    m_cents
        |  FROM j)
        |SELECT region, r_score, f_score, m_score,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(m_cents) AS BIGINT) AS cell_cents
        |FROM sc GROUP BY 1, 2, 3, 4
        |ORDER BY region, r_score, f_score, m_score""".stripMargin),

    // Interval-union coverage — how much wall-clock was each user
    // ACTIVE, counting each hour-long activity window once however many
    // events overlap it? The classic sweep: per user, events in µs
    // order, a window [ts, ts+1h] starts a NEW segment iff it begins
    // after the running max end of everything before it (one exclusive
    // prefix-max window); segment ids are the running sum of those
    // flags; coverage = Σ per-segment (max end − min start). Exact µs,
    // two windows + two rollups, all partitioned by user.
    Op("win_interval_coverage", (s, d) => {
      val iv = Tables.events(s, d)
        .select(col("user_id"), col("ts_us").as("st"),
          (col("ts_us") + 3600000000L).as("en"))
      val w = Window.partitionBy("user_id").orderBy("st", "en")
      val seg = iv
        .withColumn("max_end_prev", max("en").over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_seg",
          when(col("max_end_prev").isNull || col("st") > col("max_end_prev"), 1L)
            .otherwise(0L))
        .withColumn("seg_id", sum("new_seg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      seg.groupBy("user_id", "seg_id")
        .agg(count(lit(1)).as("n_ev"), min("st").as("s0"), max("en").as("e1"))
        .groupBy("user_id")
        .agg(sum("n_ev").as("n_events"), count(lit(1)).as("n_segments"),
          sum(expr("e1 - s0")).as("coverage_us"))
        .withColumn("dedup_ratio_ppm",
          expr("(coverage_us * 1000000) DIV (n_events * 3600000000)"))
        .orderBy("user_id")
    },
      // Same sweep: exclusive prefix max, flag, running segment id.
      """WITH iv AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS st,
        |    CAST(epoch_us(ts) + 3600000000 AS BIGINT) AS en FROM events),
        |m AS (SELECT user_id, st, en,
        |    CAST(MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS max_end_prev
        |  FROM iv),
        |f AS (SELECT *, CASE WHEN max_end_prev IS NULL OR st > max_end_prev
        |    THEN 1 ELSE 0 END AS new_seg FROM m),
        |g AS (SELECT user_id, st, en,
        |    CAST(SUM(new_seg) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg_id
        |  FROM f),
        |sg AS (SELECT user_id, seg_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
        |    CAST(MIN(st) AS BIGINT) AS s0, CAST(MAX(en) AS BIGINT) AS e1
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(n_ev) AS BIGINT) AS n_events,
        |  CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  CAST(SUM(e1 - s0) AS BIGINT) AS coverage_us,
        |  (CAST(SUM(e1 - s0) AS BIGINT) * 1000000)
        |    // (CAST(SUM(n_ev) AS BIGINT) * 3600000000) AS dedup_ratio_ppm
        |FROM sg GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Local-peak detection on the daily series per event type — the
    // spike finder feeding alerting/annotation: a day is a peak when it
    // strictly beats BOTH neighbors (lag/lead — series edges can't
    // peak) AND clears the series mean by 10%, compared cross-multiplied
    // (10·x·n > 11·S1 — no fractional mean ever materializes). One per-type
    // window + a broadcast of per-type totals; output is the peaks.
    Op("win_peak_detect", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s1"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("prev", lag("x", 1).over(w))
        .withColumn("next", lead("x", 1).over(w))
        .join(broadcast(tot), "event_type")
        .where(col("prev").isNotNull && col("next").isNotNull
          && col("x") > col("prev") && col("x") > col("next")
          && col("x") * col("n") * 10 > col("s1") * 11)
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x"), col("prev"), col("next"))
        .orderBy("event_type", "day")
    },
      // Same lag/lead neighborhood and cross-multiplied prominence.
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s1 FROM daily GROUP BY 1),
        |l AS (SELECT d.event_type, d.day, d.x, tot.n, tot.s1,
        |    LAG(x) OVER (PARTITION BY d.event_type ORDER BY day) AS prev,
        |    LEAD(x) OVER (PARTITION BY d.event_type ORDER BY day) AS next
        |  FROM daily d JOIN tot USING (event_type))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  x, CAST(prev AS BIGINT) AS prev, CAST(next AS BIGINT) AS next
        |FROM l
        |WHERE prev IS NOT NULL AND next IS NOT NULL
        |  AND x > prev AND x > next AND x * n * 10 > s1 * 11
        |ORDER BY event_type, day""".stripMargin),

    // Seasonal-naive forecast backtest — the MASE discipline (is a
    // 7-day-seasonal forecast better than persistence?): forecast_t =
    // x_{t−7}, baseline_t = x_{t−1}, scored over the days where BOTH
    // exist, MASE = Σ|seasonal error| / Σ|naive error| in exact ppm —
    // absolute errors of integers, one final DIV. Two lags over one
    // per-type window; < 1000000 ppm means the seasonal model wins.
    Op("agg_forecast_backtest", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("f7", lag("x", 7).over(w))
        .withColumn("f1", lag("x", 1).over(w))
        .where(col("f7").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("x") - col("f7"))).as("sae_seasonal"),
          sum(abs(col("x") - col("f1"))).as("sae_naive"))
        .withColumn("mase_ppm", expr("(sae_seasonal * 1000000) DIV sae_naive"))
        .orderBy("event_type")
    },
      // Same lag-7/lag-1 frame, same exact absolute-error sums.
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, x,
        |    LAG(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS f7,
        |    LAG(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS f1
        |  FROM daily)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(SUM(abs(x - f7)) AS BIGINT) AS sae_seasonal,
        |  CAST(SUM(abs(x - f1)) AS BIGINT) AS sae_naive,
        |  (CAST(SUM(abs(x - f7)) AS BIGINT) * 1000000)
        |    // CAST(SUM(abs(x - f1)) AS BIGINT) AS mase_ppm
        |FROM l WHERE f7 IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // CUPED covariate adjustment (the experimentation-platform variance
    // killer: regress the experiment metric on its PRE-period value,
    // θ = cov(x,y)/var(x), and the adjusted metric's variance drops by
    // ρ²): per customer x = pre-1996 spend, y = post spend, in exact
    // cents; every moment accumulates in DECIMAL(38,0) (n·Σxy overflows
    // int64 — the decimal lattice keeps it exact), and θ/ρ² are formed
    // from those exact values by IEEE ops only. One fact rollup + one
    // scalar aggregate.
    Op("agg_cuped_theta", (s, d) => {
      val per = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(
          sum(when(col("o_orderdate") < "1996-01-01",
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)"))
            .otherwise(0L)).as("x"),
          sum(when(col("o_orderdate") >= "1996-01-01",
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)"))
            .otherwise(0L)).as("y"))
      per.agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x").cast("decimal(38,0)") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("y").cast("decimal(38,0)") * col("y")).cast("decimal(38,0)")).as("syy"))
        .withColumn("cov_num", expr("CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)"))
        .withColumn("var_x", expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)"))
        .withColumn("var_y", expr("CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)"))
        .select(col("n"),
          expr("CAST(sx AS DOUBLE)").as("sum_x"),
          expr("CAST(sy AS DOUBLE)").as("sum_y"),
          expr("cov_num / var_x").as("theta"),
          expr("cov_num * cov_num / (var_x * var_y)").as("rho2"))
    },
      // Same decimal-exact moments, same IEEE-only θ/ρ² formation.
      """WITH per AS (SELECT o_custkey,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
        |  FROM per),
        |p AS (SELECT n,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) AS cov_num,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE) AS var_x,
        |    CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) AS var_y,
        |    CAST(sx AS DOUBLE) AS sum_x, CAST(sy AS DOUBLE) AS sum_y
        |  FROM m)
        |SELECT n, sum_x, sum_y, cov_num / var_x AS theta,
        |  cov_num * cov_num / (var_x * var_y) AS rho2
        |FROM p""".stripMargin),

    // Herfindahl–Hirschman concentration index per region — the
    // antitrust/market-structure metric beside gini/pareto: firms =
    // nations, HHI = Σ share², computed as (Σ cents²)·10⁶ DIV (Σ cents)²
    // entirely in DECIMAL(38,0) (nation-level cents² overflows int64 at
    // sf0.1) with ONE exact integer DIV into ppm — 10⁶/n ppm is perfect
    // competition, 10⁶ is monopoly. Two keyed rollups.
    Op("agg_herfindahl", (s, d) => {
      val byNation = Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey"), col("n_regionkey").cast("bigint").as("region"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("region"), col("c_nationkey"))
        .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)")).as("cents"))
      byNation.groupBy("region")
        .agg(count(lit(1)).as("n_firms"),
          sum(col("cents").cast("decimal(38,0)")).as("tot"),
          sum((col("cents").cast("decimal(38,0)") * col("cents")).cast("decimal(38,0)")).as("sq"))
        .select(col("region"), col("n_firms"),
          expr("CAST(tot AS DOUBLE)").as("total_cents"),
          expr("CAST(CAST(sq * 1000000 AS DECIMAL(38,0)) DIV CAST(tot * tot AS DECIMAL(38,0)) AS BIGINT)")
            .as("hhi_ppm"),
          expr("CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))").as("hhi"))
        .orderBy("region")
    },
      // Same decimal-exact Σcents² over (Σcents)², same ppm DIV.
      """WITH n AS (SELECT CAST(n_regionkey AS BIGINT) AS region, c_nationkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |g AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS n_firms,
        |    CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tot,
        |    CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS sq
        |  FROM n GROUP BY 1)
        |SELECT region, n_firms, CAST(tot AS DOUBLE) AS total_cents,
        |  CAST(CAST(sq * 1000000 AS HUGEINT) // CAST(tot * tot AS HUGEINT) AS BIGINT) AS hhi_ppm,
        |  CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS hhi
        |FROM g ORDER BY region""".stripMargin),

    // Sample-ratio-mismatch guard — the FIRST check any A/B readout must
    // pass (a biased assignment invalidates every downstream metric
    // before it is read): deterministic 50/50 split on the md5-uniform
    // draw, one-cell chi-square (n₀−n₁)²/(n₀+n₁) formed in lossless
    // doubles from exact counts, verdict on the pure-integer law
    // (n₀−n₁)² > 4·(n₀+n₁) ⟺ |z| > 2 — no ulp can flip the alarm.
    // One scan, one scalar aggregate.
    Op("agg_ab_srm", (s, d) =>
      Tables.orders(s, d)
        .select(expr(
          s"${md5Bits("srm", "o_orderkey", 8)} % 2")
          .as("arm"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
        .select(col("n0"), col("n1"),
          (col("n0") - col("n1")).as("dev"),
          expr("""CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE)
                 / CAST(n0 + n1 AS DOUBLE)""").as("srm_stat"),
          expr("(n0 - n1) * (n0 - n1) > 4 * (n0 + n1)").as("srm_alarm")),
      // Same md5 split, same lossless-double statistic, same integer alarm.
      s"""WITH a AS (SELECT
        |    ${duckMd5Bits("srm", "o_orderkey", 8)} % 2 AS arm
        |  FROM orders),
        |c AS (SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM a)
        |SELECT n0, n1, CAST(n0 - n1 AS BIGINT) AS dev,
        |  CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE)
        |    / CAST(n0 + n1 AS DOUBLE) AS srm_stat,
        |  (n0 - n1) * (n0 - n1) > 4 * (n0 + n1) AS srm_alarm
        |FROM c""".stripMargin),

    // Decile lift table — the model-evaluation classic: treat order
    // value as the "model score", urgency (priority 1/2) as the label,
    // decile by NTILE(10) inside each region (the stratified variant —
    // a GLOBAL decile is the one-task sort that dies at scale), then
    // the lift table aggregates the strata per decile with cumulative
    // capture in exact ppm (the 10-row cumulative frame is trivially
    // serial). Decile 1 = highest scores.
    Op("agg_lift_curve", (s, d) => {
      val scored = Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey"), col("n_regionkey").cast("bigint").as("region"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("region"), col("o_orderkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("score"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("label"))
        .withColumn("decile", ntile(10).over(
          Window.partitionBy("region").orderBy(desc("score"), col("o_orderkey"))).cast("bigint"))
      val byDecile = scored.groupBy("decile")
        .agg(count(lit(1)).as("n"), sum("label").as("n_pos"))
      byDecile
        .crossJoin(broadcast(byDecile.agg(sum("n_pos").as("total_pos"))))
        .withColumn("cum_pos", sum("n_pos").over(
          Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile"), col("n"), col("n_pos"),
          expr("(n_pos * 1000000) DIV n").as("rate_ppm"),
          expr("(cum_pos * 1000000) DIV total_pos").as("cum_capture_ppm"))
        .orderBy("decile")
    },
      // Same region-stratified deciles, same cumulative capture.
      """WITH s AS (SELECT CAST(n_regionkey AS BIGINT) AS region, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS score,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS label
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey),
        |dd AS (SELECT *, CAST(NTILE(10) OVER (PARTITION BY region
        |    ORDER BY score DESC, o_orderkey) AS BIGINT) AS decile FROM s),
        |g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(label) AS BIGINT) AS n_pos FROM dd GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS total_pos FROM g),
        |c AS (SELECT g.*, total_pos,
        |    CAST(SUM(n_pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
        |  FROM g, t)
        |SELECT decile, n, n_pos,
        |  (n_pos * 1000000) // n AS rate_ppm,
        |  (cum_pos * 1000000) // total_pos AS cum_capture_ppm
        |FROM c ORDER BY decile""".stripMargin),

    // Net-dollar-retention cohort matrix — the SaaS-finance twin of
    // agg_cohort_retention's headcounts: cohort = a customer's FIRST
    // order year, each later year's revenue over the cohort's own
    // first-year revenue in exact ppm (NDR > 10⁶ = expansion). One
    // first-year rollup joined back to the per-(customer, year) cents
    // frame, then the matrix rollup + a broadcast of cohort baselines.
    Op("agg_ndr_matrix", (s, d) => {
      val perCY = Tables.orders(s, d)
        .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("bigint").as("yr"))
        .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)")).as("cents"))
        .localCheckpoint()
      val cohort = perCY.groupBy("o_custkey").agg(min("yr").as("cohort"))
      val cells = perCY.join(cohort, "o_custkey")
        .groupBy("cohort", "yr")
        .agg(count(lit(1)).as("n_active"), sum("cents").as("revenue_cents"))
      val base = cells.where(col("yr") === col("cohort"))
        .select(col("cohort"), col("revenue_cents").as("base_cents"))
      cells.join(broadcast(base), "cohort")
        .select(col("cohort"), col("yr"), (col("yr") - col("cohort")).as("age"),
          col("n_active"), col("revenue_cents"),
          expr("(revenue_cents * 1000000) DIV base_cents").as("ndr_ppm"))
        .orderBy("cohort", "yr")
    },
      // Same first-year cohorts, same exact-ppm retention ratio.
      """WITH cy AS (SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |co AS (SELECT o_custkey, CAST(MIN(yr) AS BIGINT) AS cohort FROM cy GROUP BY 1),
        |cells AS (SELECT cohort, yr, CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |  FROM cy JOIN co USING (o_custkey) GROUP BY 1, 2),
        |b AS (SELECT cohort, revenue_cents AS base_cents FROM cells WHERE yr = cohort)
        |SELECT cohort, yr, yr - cohort AS age, n_active, revenue_cents,
        |  (revenue_cents * 1000000) // base_cents AS ndr_ppm
        |FROM cells JOIN b USING (cohort)
        |ORDER BY cohort, yr""".stripMargin),

    // Week-over-week growth per event type — the first chart on every
    // operational dashboard: ISO-agnostic weeks from the epoch-day
    // congruence (days DIV 7 — never an engine week() builtin, whose
    // year-boundary rules differ), growth in exact ppm via the
    // cross-multiplied (this − prev)·10⁶ DIV prev. One weekly rollup +
    // one lag per type.
    Op("win_wow_growth", (s, d) => {
      val weekly = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_us DIV 86400000000) DIV 7").as("week"))
        .agg(count(lit(1)).as("x"))
      weekly
        .withColumn("prev", lag("x", 1).over(
          Window.partitionBy("event_type").orderBy("week")))
        .where(col("prev").isNotNull)
        .select(col("event_type"), col("week"), col("x"), col("prev"),
          // negative numerators floor vs truncate differently across
          // engines — divide positive magnitudes, negate after
          expr("""CASE WHEN x >= prev THEN ((x - prev) * 1000000) DIV prev
                 ELSE -(((prev - x) * 1000000) DIV prev) END""").as("growth_ppm"))
        .orderBy("event_type", "week")
    },
      // Same epoch-week buckets, same sign-safe growth division.
      """WITH w AS (SELECT event_type,
        |    (CAST(epoch_us(ts) AS BIGINT) // 86400000000) // 7 AS week,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, week, x,
        |    LAG(x) OVER (PARTITION BY event_type ORDER BY week) AS prev
        |  FROM w)
        |SELECT event_type, week, x, CAST(prev AS BIGINT) AS prev,
        |  CAST(CASE WHEN x >= prev THEN ((x - prev) * 1000000) // prev
        |    ELSE -(((prev - x) * 1000000) // prev) END AS BIGINT) AS growth_ppm
        |FROM l WHERE prev IS NOT NULL
        |ORDER BY event_type, week""".stripMargin),

    // Delta-method CI for a RATIO metric (revenue per order, clustered by
    // customer) — the estimator every experimentation platform needs
    // because ratio metrics violate the iid assumption the plain t-test
    // (agg_ab_ttest) makes: the unit of randomization is the customer, so
    // Var(ΣX/ΣY) is the first-order expansion (vx − 2R·cov + R²·vy)/(n·ȳ²)
    // over per-customer (x=cents, y=orders) pairs. All six sums exact
    // DECIMAL(38,0)/HUGEINT then ONE cast to double; the CI algebra is the
    // identical IEEE expression tree in both engines (sqrt on data is
    // IEEE-exact). One shuffle to customer grain, one to segment grain.
    Op("agg_delta_method_ci", (s, d) => {
      val per = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment").as("seg"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("x"),
          count(lit(1)).as("y"))
      per.groupBy("seg")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
          sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).cast("double").as("syy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).cast("double").as("sxy"))
        .withColumn("r", expr("sx / sy"))
        .withColumn("vx", expr("(sxx - sx*sx/n) / (n - 1)"))
        .withColumn("vy", expr("(syy - sy*sy/n) / (n - 1)"))
        .withColumn("cxy", expr("(sxy - sx*sy/n) / (n - 1)"))
        .withColumn("se",
          expr("sqrt((vx - 2*r*cxy + r*r*vy) / ((sy/n)*(sy/n)) / n)"))
        .select(col("seg"), col("n").cast("bigint").as("n_customers"),
          expr("r / 100").as("rev_per_order"),
          expr("(r - 1.96*se) / 100").as("ci_lo"),
          expr("(r + 1.96*se) / 100").as("ci_hi"))
        .orderBy("seg")
    },
      // Same per-customer grain, same six exact sums, same IEEE tree for
      // the delta-method variance and CI.
      """WITH per AS (SELECT c_custkey, c_mktsegment AS seg,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |m AS (SELECT seg,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x::HUGEINT) AS DOUBLE) AS sx,
        |    CAST(SUM(y::HUGEINT) AS DOUBLE) AS sy,
        |    CAST(SUM(x::HUGEINT * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y::HUGEINT * y) AS DOUBLE) AS syy,
        |    CAST(SUM(x::HUGEINT * y) AS DOUBLE) AS sxy
        |  FROM per GROUP BY seg),
        |c AS (SELECT seg, n, sx, sy, sx / sy AS r,
        |    (sxx - sx*sx/n) / (n - 1) AS vx,
        |    (syy - sy*sy/n) / (n - 1) AS vy,
        |    (sxy - sx*sy/n) / (n - 1) AS cxy
        |  FROM m),
        |f AS (SELECT seg, n, r,
        |    sqrt((vx - 2*r*cxy + r*r*vy) / ((sy/n)*(sy/n)) / n) AS se
        |  FROM c)
        |SELECT seg, CAST(n AS BIGINT) AS n_customers,
        |  r / 100 AS rev_per_order,
        |  (r - 1.96*se) / 100 AS ci_lo,
        |  (r + 1.96*se) / 100 AS ci_hi
        |FROM f ORDER BY seg""".stripMargin),

    // A/B sample-size calculator (the power analysis run BEFORE an
    // experiment launches): per-arm n = 2·(z_α/2+z_β)²·σ²/δ² for 80%
    // power at α=0.05 against a 2%-of-mean MDE, from each segment's
    // observed per-customer revenue variance. z quantiles are LITERALS
    // (1.96, 0.8416 — the transcendental law allows constants), variance
    // comes from exact DECIMAL(38,0)/HUGEINT sums, and the one division
    // chain is the same IEEE tree in both engines; CEIL is exact.
    Op("agg_power_analysis", (s, d) => {
      val per = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment").as("seg"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("x"))
      per.groupBy("seg")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double").as("sxx"))
        .withColumn("mean", expr("sx / n"))
        .withColumn("variance", expr("(sxx - sx*sx/n) / (n - 1)"))
        .withColumn("mde", expr("mean * 0.02"))
        .select(col("seg"), col("n").cast("bigint").as("n_observed"),
          expr("mean / 100").as("mean_rev"),
          expr("sqrt(variance) / 100").as("sd_rev"),
          expr("CAST(CEIL(2 * (1.96 + 0.8416) * (1.96 + 0.8416) * variance / (mde * mde)) AS BIGINT)")
            .as("n_required_per_arm"))
        .orderBy("seg")
    },
      // Same exact sums, same literal z quantiles, same IEEE chain.
      """WITH per AS (SELECT c_custkey, c_mktsegment AS seg,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |m AS (SELECT seg,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x::HUGEINT) AS DOUBLE) AS sx,
        |    CAST(SUM(x::HUGEINT * x) AS DOUBLE) AS sxx
        |  FROM per GROUP BY seg),
        |c AS (SELECT seg, n, sx / n AS mean,
        |    (sxx - sx*sx/n) / (n - 1) AS variance
        |  FROM m),
        |f AS (SELECT seg, n, mean, variance, mean * 0.02 AS mde FROM c)
        |SELECT seg, CAST(n AS BIGINT) AS n_observed,
        |  mean / 100 AS mean_rev,
        |  sqrt(variance) / 100 AS sd_rev,
        |  CAST(CEIL(2 * (1.96 + 0.8416) * (1.96 + 0.8416) * variance / (mde * mde)) AS BIGINT)
        |    AS n_required_per_arm
        |FROM f ORDER BY seg""".stripMargin),

    // Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    // test the t-test family needs when revenue is heavy-tailed: ranks
    // replace values, so outliers can't dominate. Midranks stay INTEGER
    // by doubling: 2·midrank = 2·rank + ties − 1 (rank() gives
    // 1+count(<v), a same-value partition count gives ties), so
    // 2U₁ = Σ_A 2·midrank − n₁(n₁+1) is an exact BIGINT in both engines;
    // the normal approximation z = (2U₁ − n₁n₂)/√(n₁n₂(n₁+n₂+1)/3)
    // (both sides doubled) is ONE double expression from exact integers.
    // 2·midrank at value v is 2·cum_less(v) + cnt(v) + 1 (rank = 1 +
    // cum_less, ties = cnt) — a pure function of v, so the global rank
    // window collapses to a distinct-value rollup plus the two-level
    // banded cumulative (the agg_ks_test law): bounded $100k band prefix
    // (the only serial window) + per-band partitioned cumsum. No task
    // ever sorts more than one band at any scale.
    Op("agg_mann_whitney", (s, d) => {
      val segs = Seq("BUILDING", "MACHINERY")
      val t = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .where(col("c_mktsegment").isin(segs: _*))
        .select((col("c_mktsegment") === segs.head).as("a"),
          round(col("o_totalprice") * 100).cast("bigint").as("v"))
      val byVal = t.groupBy("v").agg(count(lit(1)).as("cnt"),
          sum(when(col("a"), 1L).otherwise(0L)).as("cnt_a"))
        .withColumn("bkt", expr("v DIV 10000000"))
      val wBand = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val bandPrefix = byVal.groupBy("bkt").agg(sum("cnt").as("bc"))
        .withColumn("off", coalesce(sum("bc").over(wBand), lit(0L)))
        .select("bkt", "off")
      val wIn = Window.partitionBy("bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      byVal
        .withColumn("in_less", coalesce(sum("cnt").over(wIn), lit(0L)))
        .join(broadcast(bandPrefix), "bkt")
        .agg(
          sum("cnt_a").as("n1"),
          sum(expr("cnt - cnt_a")).as("n2"),
          sum(expr("CAST(cnt_a AS DECIMAL(38,0)) * (2 * (off + in_less) + cnt + 1)"))
            .cast("bigint").as("r1_x2"))
        .withColumn("u1_x2", expr("r1_x2 - n1 * (n1 + 1)"))
        .select(col("n1"), col("n2"), col("u1_x2"),
          expr("""(CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n1 + n2 + 1 AS DOUBLE) / 3)""")
            .as("z"),
          expr("""abs((CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n1 + n2 + 1 AS DOUBLE) / 3)) > 1.96""")
            .as("significant"))
    },
      // Same doubled-midrank integers, same one-shot z expression.
      """WITH j AS (SELECT c_mktsegment = 'BUILDING' AS a,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |r AS (SELECT a, v,
        |    CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rnk,
        |    CAST(COUNT(*) OVER (PARTITION BY v) AS BIGINT) AS ties
        |  FROM j),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN a THEN (rnk * 2 + ties - 1)::HUGEINT ELSE 0 END) AS BIGINT) AS r1_x2
        |  FROM r),
        |u AS (SELECT n1, n2, r1_x2 - n1 * (n1 + 1) AS u1_x2 FROM m)
        |SELECT n1, n2, u1_x2,
        |  (CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n1 + n2 + 1 AS DOUBLE) / 3) AS z,
        |  abs((CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n1 + n2 + 1 AS DOUBLE) / 3)) > 1.96
        |    AS significant
        |FROM u""".stripMargin),

    // ROC AUC as the rank statistic it IS (AUC = U/(n₁n₂), the
    // probability a random positive outscores a random negative, ties at
    // half) — scored EXACTLY in integers via the same doubled midranks as
    // agg_mann_whitney: auc_ppm = 2U₁·10⁶ DIV (2·2·n₁n₂)… i.e.
    // u1_x2·10⁶ DIV (2n₁n₂), products in DECIMAL(38,0)/HUGEINT so the
    // ppm is bit-identical at any corpus size; Gini = 2·AUC−1 stays pure
    // subtraction (no negative division hazard). Classifier-eval shape:
    // label = high-value order (top status F), score = order cents.
    // Ranked by the same distinct-value rollup + two-level banded
    // cumulative as agg_mann_whitney (the agg_ks_test law) — no global
    // rank window survives at any scale.
    Op("agg_auc_roc", (s, d) => {
      val t = Tables.orders(s, d)
        .select((col("o_orderstatus") === "F").as("pos"),
          round(col("o_totalprice") * 100).cast("bigint").as("v"))
      val byVal = t.groupBy("v").agg(count(lit(1)).as("cnt"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("cnt_p"))
        .withColumn("bkt", expr("v DIV 10000000"))
      val wBand = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val bandPrefix = byVal.groupBy("bkt").agg(sum("cnt").as("bc"))
        .withColumn("off", coalesce(sum("bc").over(wBand), lit(0L)))
        .select("bkt", "off")
      val wIn = Window.partitionBy("bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      byVal
        .withColumn("in_less", coalesce(sum("cnt").over(wIn), lit(0L)))
        .join(broadcast(bandPrefix), "bkt")
        .agg(
          sum("cnt_p").as("n_pos"),
          sum(expr("cnt - cnt_p")).as("n_neg"),
          sum(expr("CAST(cnt_p AS DECIMAL(38,0)) * (2 * (off + in_less) + cnt + 1)"))
            .cast("bigint").as("r_x2"))
        .withColumn("u_x2", expr("r_x2 - n_pos * (n_pos + 1)"))
        .select(col("n_pos"), col("n_neg"), col("u_x2"),
          expr("""CAST(CAST(u_x2 AS DECIMAL(38,0)) * 1000000
                 DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)""")
            .as("auc_ppm"))
        .withColumn("gini_signed_ppm", col("auc_ppm") * 2 - 1000000L)
    },
      // Same doubled midranks; HUGEINT products, // floors non-negatives.
      """WITH j AS (SELECT o_orderstatus = 'F' AS pos,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |r AS (SELECT pos, v,
        |    CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rnk,
        |    CAST(COUNT(*) OVER (PARTITION BY v) AS BIGINT) AS ties
        |  FROM j),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
        |    CAST(SUM(CASE WHEN pos THEN (rnk * 2 + ties - 1)::HUGEINT ELSE 0 END) AS BIGINT) AS r_x2
        |  FROM r),
        |u AS (SELECT n_pos, n_neg, r_x2 - n_pos * (n_pos + 1) AS u_x2 FROM m),
        |a AS (SELECT n_pos, n_neg, u_x2,
        |    CAST((u_x2::HUGEINT * 1000000) // (2::HUGEINT * n_pos * n_neg) AS BIGINT) AS auc_ppm
        |  FROM u)
        |SELECT n_pos, n_neg, u_x2, auc_ppm,
        |  auc_ppm * 2 - 1000000 AS gini_signed_ppm
        |FROM a""".stripMargin),

    // Gini-impurity split scoring — the decision-tree criterion (how
    // well does segment membership predict order priority?), distinct
    // from agg_gini's wealth concentration: per branch the impurity
    // 1 − Σp² is the exact rational (n² − Σc²)/n², and the split score
    // is the n-weighted average — all cross-multiplied to exact ppm in
    // DECIMAL(38,0)/HUGEINT; the parent impurity rides along so the
    // GAIN (parent − weighted children, the quantity a learner ranks
    // splits by) is graded too. One (branch, label) rollup.
    Op("agg_split_gini", (s, d) => {
      val cells = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("branch"),
          col("o_orderpriority").as("label"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val branch = cells.groupBy("branch")
        .agg(sum("c").as("n"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).cast("bigint").as("sq"))
        .withColumn("impurity_ppm", expr(
          "CAST((CAST(n AS DECIMAL(38,0)) * n - sq) * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
      val parent = cells.groupBy("label").agg(sum("c").as("pc"))
        .agg(sum("pc").as("pn"),
          sum((col("pc") * col("pc")).cast("decimal(38,0)")).cast("bigint").as("psq"))
        .withColumn("parent_ppm", expr(
          "CAST((CAST(pn AS DECIMAL(38,0)) * pn - psq) * 1000000 DIV (CAST(pn AS DECIMAL(38,0)) * pn) AS BIGINT)"))
      branch.crossJoin(broadcast(parent.select("pn", "parent_ppm")))
        .withColumn("weighted_ppm", expr(
          "CAST(CAST(n AS DECIMAL(38,0)) * impurity_ppm DIV pn AS BIGINT)"))
        .select("branch", "n", "impurity_ppm", "weighted_ppm", "parent_ppm")
        .orderBy("branch")
    },
      // Same cell rollup, same cross-multiplied impurities.
      """WITH cells AS (SELECT c_mktsegment AS branch, o_orderpriority AS label,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |b AS (SELECT branch, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(c::HUGEINT * c) AS BIGINT) AS sq
        |  FROM cells GROUP BY branch),
        |bi AS (SELECT branch, n,
        |    CAST((n::HUGEINT * n - sq) * 1000000 // (n::HUGEINT * n) AS BIGINT)
        |      AS impurity_ppm
        |  FROM b),
        |pl AS (SELECT label, CAST(SUM(c) AS BIGINT) AS pc FROM cells GROUP BY label),
        |p AS (SELECT CAST(SUM(pc) AS BIGINT) AS pn,
        |    CAST(SUM(pc::HUGEINT * pc) AS BIGINT) AS psq
        |  FROM pl),
        |pp AS (SELECT pn,
        |    CAST((pn::HUGEINT * pn - psq) * 1000000 // (pn::HUGEINT * pn) AS BIGINT)
        |      AS parent_ppm
        |  FROM p)
        |SELECT bi.branch, bi.n, bi.impurity_ppm,
        |  CAST(bi.n::HUGEINT * bi.impurity_ppm // pp.pn AS BIGINT) AS weighted_ppm,
        |  pp.parent_ppm
        |FROM bi, pp ORDER BY bi.branch""".stripMargin),

    // Spearman rank correlation — the monotone-association metric that
    // ignores the marginal distributions Pearson is hostage to: both
    // variables (order price; the customer's order count) become ranks
    // with a deterministic key tie-break (documented engine contract —
    // no midrank floats), and ρ = (n(n²−1) − 6Σd²)/(n(n²−1)) is scored
    // as an exact SIGN-SAFE ppm with DECIMAL(38,0)/HUGEINT products
    // (6Σd²·10⁶ clears int64 at full n). Both rank assignments are the
    // two-level banded row_number (the agg_ks_test law): a unique
    // (value, key) tie-break makes row_number = band offset + within-band
    // row_number, with x banded by $100k cents and y by its own small
    // per-customer-order-count domain — no global sort at any scale. The
    // sampled+joined base is checkpointed once (three consumers: two band
    // prefixes + the ranked pass).
    Op("agg_spearman", (s, d) => {
      val counts = Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("cust_orders"))
      val t = Tables.orders(s, d).where(col("o_orderkey") % 10 === 4)
        .join(counts, "o_custkey")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("x"),
          col("cust_orders").as("y"))
        .localCheckpoint()
      val wB = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val offX = t.groupBy(expr("x DIV 10000000").as("bkt"))
        .agg(count(lit(1)).as("bc"))
        .withColumn("offx", coalesce(sum("bc").over(wB), lit(0L)))
        .select(col("bkt").as("bx"), col("offx"))
      val offY = t.groupBy(col("y").as("bkt")).agg(count(lit(1)).as("bc"))
        .withColumn("offy", coalesce(sum("bc").over(wB), lit(0L)))
        .select(col("bkt").as("by"), col("offy"))
      t.withColumn("bx", expr("x DIV 10000000"))
        .join(broadcast(offX), "bx")
        .withColumn("rx", col("offx") + row_number().over(
          Window.partitionBy("bx").orderBy("x", "o_orderkey")).cast("bigint"))
        .join(broadcast(offY), col("y") === col("by"))
        .withColumn("ry", col("offy") + row_number().over(
          Window.partitionBy("by").orderBy("o_orderkey")).cast("bigint"))
        .withColumn("d2", (col("rx") - col("ry")) * (col("rx") - col("ry")))
        .agg(count(lit(1)).as("n"),
          sum(col("d2").cast("decimal(38,0)")).cast("bigint").as("sum_d2"))
        .withColumn("rho_ppm", expr(
          """CASE WHEN CAST(n AS DECIMAL(38,0)) * (n*n - 1) - 6 * CAST(sum_d2 AS DECIMAL(38,0)) >= 0
             THEN CAST((CAST(n AS DECIMAL(38,0)) * (n*n - 1) - 6 * CAST(sum_d2 AS DECIMAL(38,0))) * 1000000
               DIV (CAST(n AS DECIMAL(38,0)) * (n*n - 1)) AS BIGINT)
             ELSE -CAST((6 * CAST(sum_d2 AS DECIMAL(38,0)) - CAST(n AS DECIMAL(38,0)) * (n*n - 1)) * 1000000
               DIV (CAST(n AS DECIMAL(38,0)) * (n*n - 1)) AS BIGINT) END"""))
    },
      // Same key tie-break ranks, same HUGEINT sign-safe rational.
      """WITH cc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cust_orders
        |  FROM orders GROUP BY 1),
        |t AS (SELECT o.o_orderkey,
        |    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS x,
        |    cc.cust_orders AS y
        |  FROM orders o JOIN cc ON cc.o_custkey = o.o_custkey
        |  WHERE o.o_orderkey % 10 = 4),
        |r AS (SELECT *,
        |    CAST(ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS BIGINT) AS rx,
        |    CAST(ROW_NUMBER() OVER (ORDER BY y, o_orderkey) AS BIGINT) AS ry
        |  FROM t),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(((rx - ry) * (rx - ry))::HUGEINT) AS BIGINT) AS sum_d2
        |  FROM r)
        |SELECT n, sum_d2,
        |  CASE WHEN n::HUGEINT * (n*n - 1) - 6 * sum_d2::HUGEINT >= 0
        |    THEN CAST((n::HUGEINT * (n*n - 1) - 6 * sum_d2::HUGEINT) * 1000000
        |      // (n::HUGEINT * (n*n - 1)) AS BIGINT)
        |    ELSE -CAST((6 * sum_d2::HUGEINT - n::HUGEINT * (n*n - 1)) * 1000000
        |      // (n::HUGEINT * (n*n - 1)) AS BIGINT) END AS rho_ppm
        |FROM m""".stripMargin),

    // Friedman test — the k-treatment PAIRED rank test (the
    // nonparametric repeated-measures ANOVA; McNemar handles 2 binary,
    // this handles k ordinal): per block (doc), the 3 treatment scores
    // rank 1..3 by pairwise-comparison COUNTING (deterministic
    // index tie-break — the engine contract — no midrank floats), rank
    // sums Rj, and χ²_F = 12ΣRj²/(nk(k+1)) − 3n(k+1) kept as an exact
    // integer rational (num, den); df=2 significance cross-multiplies
    // to 100·num > 599·den. Treatment 2 carries a planted +25 shift.
    Op("agg_friedman", (s, d) => {
      def sc(j: Int) =
        s"(${md5Bits(s"t$j", "doc_id", 8)} % 1000 + ${j * 25})"
      def rank(j: Int) = {
        val others = (0 to 2).filter(_ != j).map { i =>
          s"(CASE WHEN ${sc(i)} < ${sc(j)} OR (${sc(i)} = ${sc(j)} AND $i < $j) THEN 1 ELSE 0 END)"
        }.mkString(" + ")
        s"1 + $others"
      }
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("r0", expr(rank(0)).cast("long"))
        .withColumn("r1", expr(rank(1)).cast("long"))
        .withColumn("r2", expr(rank(2)).cast("long"))
      t.agg(count(lit(1)).as("n"),
          sum("r0").as("rs0"), sum("r1").as("rs1"), sum("r2").as("rs2"))
        .withColumn("chi2_num", expr(
          "12 * (rs0*rs0 + rs1*rs1 + rs2*rs2) - 3 * n * 4 * (n * 3 * 4)"))
        .withColumn("chi2_den", expr("n * 3 * 4"))
        .withColumn("significant", expr("100 * chi2_num > 599 * chi2_den"))
        .select("n", "rs0", "rs1", "rs2", "chi2_num", "chi2_den", "significant")
    },
      // Same comparison-counted ranks, same integer rational chi-square.
      {
      def sc(j: Int) =
        s"(${duckMd5Bits(s"t$j", "doc_id", 8)} % 1000 + ${j * 25})"
      def rank(j: Int) = {
        val others = (0 to 2).filter(_ != j).map { i =>
          s"(CASE WHEN ${sc(i)} < ${sc(j)} OR (${sc(i)} = ${sc(j)} AND $i < $j) THEN 1 ELSE 0 END)"
        }.mkString(" + ")
        s"1 + $others"
      }
      s"""WITH t AS (SELECT doc_id,
         |    CAST(${rank(0)} AS BIGINT) AS r0,
         |    CAST(${rank(1)} AS BIGINT) AS r1,
         |    CAST(${rank(2)} AS BIGINT) AS r2
         |  FROM documents),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(r0) AS BIGINT) AS rs0, CAST(SUM(r1) AS BIGINT) AS rs1,
         |    CAST(SUM(r2) AS BIGINT) AS rs2
         |  FROM t)
         |SELECT n, rs0, rs1, rs2,
         |  12 * (rs0*rs0 + rs1*rs1 + rs2*rs2) - 3 * n * 4 * (n * 3 * 4) AS chi2_num,
         |  n * 3 * 4 AS chi2_den,
         |  100 * (12 * (rs0*rs0 + rs1*rs1 + rs2*rs2) - 3 * n * 4 * (n * 3 * 4))
         |    > 599 * (n * 3 * 4) AS significant
         |FROM m""".stripMargin
    }),

    // OHLC candles — the time-bucketed open/high/low/close rollup every
    // market/metrics dashboard draws: open and close are POSITIONAL
    // (first/last value in the bucket by time), expressed as
    // min_by/max_by (Spark) ↔ arg_min/arg_max (DuckDB) over a single
    // composite BIGINT order key: second-WITHIN-HOUR (< 2¹²; the picks
    // only ever compare inside one (type, hour) group, where the hour
    // prefix is constant) · 2⁴⁰ + full event_id — collision-free for ids
    // up to 2⁴⁰ (the ShardIdSpan law; the old second·10⁶ + id%10⁶ key
    // collided once ids reached 10⁶), and the whole key stays < 2⁵³.
    Op("agg_ohlc_candles", (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(ts_us DIV 3600000000 AS BIGINT)").as("hour"),
          floor(col("value") * 100).cast("bigint").as("cents"),
          expr("((ts_us DIV 1000000) % 3600) * 1099511627776 + event_id").as("ok"))
        .groupBy("event_type", "hour")
        .agg(count(lit(1)).as("volume"),
          expr("min_by(cents, ok)").as("open"),
          max("cents").as("high"), min("cents").as("low"),
          expr("max_by(cents, ok)").as("close"))
        .where(col("hour") % 12 === 5)
        .orderBy("event_type", "hour"),
      // Same composite order key, arg_min/arg_max twin the positional picks.
      """WITH e AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    ((epoch_us(ts) // 1000000) % 3600) * 1099511627776 + event_id AS ok
        |  FROM events)
        |SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS volume,
        |  arg_min(cents, ok) AS open, MAX(cents) AS high, MIN(cents) AS low,
        |  arg_max(cents, ok) AS close
        |FROM e GROUP BY 1, 2 HAVING hour % 12 = 5
        |ORDER BY event_type, hour""".stripMargin),

    // Cohen's κ — inter-annotator agreement CORRECTED FOR CHANCE (raw
    // percent-agree flatters raters who both spam the majority class):
    // κ = (n·agree − Σ_c m1_c·m2_c) / (n² − Σ_c m1_c·m2_c), an EXACT
    // integer rational scored sign-safely in ppm. Rater 2 copies rater 1
    // three times in four and answers independently otherwise, so the
    // planted κ is real and the chance correction has work to do.
    Op("agg_cohens_kappa", (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"))
        .withColumn("r1", expr(s"${md5Bits("k1", "doc_id", 8)} % 3"))
        .withColumn("r2",
          expr(s"IF(${md5Bits("k2", "doc_id", 8)} % 4 = 0, ${md5Bits("k3", "doc_id", 8)} % 3, ${md5Bits("k1", "doc_id", 8)} % 3)"))
      val m = t.agg(count(lit(1)).as("n"),
        sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("agree"),
        sum(when(col("r1") === 0, 1L).otherwise(0L)).as("m1_0"),
        sum(when(col("r1") === 1, 1L).otherwise(0L)).as("m1_1"),
        sum(when(col("r1") === 2, 1L).otherwise(0L)).as("m1_2"),
        sum(when(col("r2") === 0, 1L).otherwise(0L)).as("m2_0"),
        sum(when(col("r2") === 1, 1L).otherwise(0L)).as("m2_1"),
        sum(when(col("r2") === 2, 1L).otherwise(0L)).as("m2_2"))
      m.withColumn("s_chance",
          expr("m1_0 * m2_0 + m1_1 * m2_1 + m1_2 * m2_2"))
        .withColumn("kappa_num", expr("n * agree - s_chance"))
        .withColumn("kappa_den", expr("n * n - s_chance"))
        .withColumn("kappa_ppm", expr(
          """CASE WHEN kappa_num >= 0 THEN (kappa_num * 1000000) DIV kappa_den
             ELSE -(((0 - kappa_num) * 1000000) DIV kappa_den) END"""))
        .select("n", "agree", "s_chance", "kappa_ppm")
    },
      // Same rater construction, same exact integer rational.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("k1", "doc_id", 8)} % 3 AS r1,
        |    CASE WHEN ${duckMd5Bits("k2", "doc_id", 8)} % 4 = 0
        |      THEN ${duckMd5Bits("k3", "doc_id", 8)} % 3
        |      ELSE ${duckMd5Bits("k1", "doc_id", 8)} % 3 END AS r2
        |  FROM documents),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS agree,
        |    CAST(SUM(CASE WHEN r1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m1_0,
        |    CAST(SUM(CASE WHEN r1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1_1,
        |    CAST(SUM(CASE WHEN r1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m1_2,
        |    CAST(SUM(CASE WHEN r2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m2_0,
        |    CAST(SUM(CASE WHEN r2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m2_1,
        |    CAST(SUM(CASE WHEN r2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m2_2
        |  FROM t),
        |k AS (SELECT n, agree,
        |    m1_0 * m2_0 + m1_1 * m2_1 + m1_2 * m2_2 AS s_chance FROM m)
        |SELECT n, agree, s_chance,
        |  CASE WHEN n * agree - s_chance >= 0
        |    THEN ((n * agree - s_chance) * 1000000) // (n * n - s_chance)
        |    ELSE -(((0 - (n * agree - s_chance)) * 1000000) // (n * n - s_chance)) END
        |    AS kappa_ppm
        |FROM k""".stripMargin),

    // Wald–Wolfowitz runs test — the randomness check a pipeline runs
    // on a sequence BEFORE trusting iid-based statistics on it (sorted
    // or batched data fails it instantly): binarize each order against
    // the integer mean, count runs via one lag over the key order, and
    // score z = (R − μ_R)/σ_R with μ, σ² the exact closed forms over
    // (n₁, n₂) — every input to the one double expression is an exact
    // integer, the tree identical in both engines.
    Op("agg_runs_test", (s, d) => {
      val t = Tables.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      val mrow = t.agg(sum(col("cents").cast("decimal(38,0)")).cast("bigint"),
        count(lit(1))).head
      val mean = mrow.getLong(0) / mrow.getLong(1)
      // Banded run counting (the agg_ks_test two-level law applied to a
      // SEQUENCE): run starts counted under a per-band partitioned lag,
      // then the band-boundary starts cancel where the previous PRESENT
      // band ends on the same side — the only serial window is one lag
      // over the ~n/2²⁰-row band rollup, never the sequence itself.
      val wb = Window.partitionBy("bkt").orderBy("o_orderkey")
      val banded = t.withColumn("above", col("cents") > mean)
        .withColumn("bkt", expr("o_orderkey DIV 1048576"))
        .withColumn("prev", lag("above", 1).over(wb))
      val perBand = banded.groupBy("bkt")
        .agg(count(lit(1)).as("bn"),
          sum(when(col("above"), 1L).otherwise(0L)).as("bn1"),
          sum(when(col("prev").isNull || col("prev") =!= col("above"), 1L)
            .otherwise(0L)).as("bruns"),
          min_by(col("above"), col("o_orderkey")).as("first_a"),
          max_by(col("above"), col("o_orderkey")).as("last_a"))
      perBand
        .withColumn("prev_last", lag("last_a", 1).over(Window.orderBy("bkt")))
        .agg(sum("bn").as("n"),
          sum("bn1").as("n1"),
          sum(expr("bn - bn1")).as("n2"),
          (sum("bruns") - sum(when(col("prev_last") === col("first_a"), 1L)
            .otherwise(0L))).as("runs"))
        // the cancellation R − μ_R happens in EXACT integers (num =
        // ((R−1)·n − 2n₁n₂); a float μ would amplify a ulp by the ~10³
        // cancellation factor), then ONE double division by n·σ =
        // √(2n₁n₂(2n₁n₂−n)/(n−1))
        .withColumn("num", expr("(runs - 1) * n - 2 * n1 * n2"))
        .withColumn("z", expr(
          """CAST(num AS DOUBLE)
             / sqrt(CAST(2 * n1 * n2 AS DOUBLE) * CAST(2 * n1 * n2 - n AS DOUBLE) / CAST(n - 1 AS DOUBLE))"""))
        .withColumn("looks_random", expr("abs(z) < 1.96"))
    },
      // Same integer mean threshold, same lag transition count, same tree.
      """WITH t AS (SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mn AS (SELECT CAST(SUM(cents::HUGEINT) AS BIGINT)
        |    // CAST(COUNT(*) AS BIGINT) AS mean FROM t),
        |b AS (SELECT o_orderkey, cents > (SELECT mean FROM mn) AS above FROM t),
        |l AS (SELECT above, lag(above) OVER (ORDER BY o_orderkey) AS prev FROM b),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> above THEN 1 ELSE 0 END) AS BIGINT)
        |      AS runs
        |  FROM l),
        |z AS (SELECT *, (runs - 1) * n - 2 * n1 * n2 AS num,
        |    CAST((runs - 1) * n - 2 * n1 * n2 AS DOUBLE)
        |      / sqrt(CAST(2 * n1 * n2 AS DOUBLE) * CAST(2 * n1 * n2 - n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |      AS z
        |  FROM m)
        |SELECT n, n1, n2, runs, num, z, abs(z) < 1.96 AS looks_random FROM z""".stripMargin),

    // McNemar's test — the PAIRED comparison of two classifiers on the
    // SAME tasks (the unpaired two-proportion z wastes the pairing):
    // only the discordant cells matter, χ² = (b−c)²/(b+c), and the
    // α=0.05 significance test cross-multiplies to the ALL-INTEGER
    // 100·(b−c)² > 384·(b+c) — zero floats anywhere. Model verdicts are
    // two md5 streams with different accuracy rates (A: %10<6, B:
    // %10<5) so the discordance is real.
    Op("agg_mcnemar", (s, d) => {
      def verdict(ns: String, thr: Int) =
        expr(s"${md5Bits(ns, "doc_id", 8)} % 10 < $thr")
      Tables.documents(s, d)
        .select(verdict("ma", 6).as("a_ok"), verdict("mb", 5).as("b_ok"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L)).as("b_disc"),
          sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L)).as("c_disc"))
        .withColumn("chi2_x100_num", expr("100 * (b_disc - c_disc) * (b_disc - c_disc)"))
        .withColumn("threshold_x100", expr("384 * (b_disc + c_disc)"))
        .withColumn("significant", col("chi2_x100_num") > col("threshold_x100"))
    },
      // Same two verdict streams, same all-integer cross-multiplied test.
      s"""WITH t AS (SELECT
        |    ${duckMd5Bits("ma", "doc_id", 8)} % 10 < 6 AS a_ok,
        |    ${duckMd5Bits("mb", "doc_id", 8)} % 10 < 5 AS b_ok
        |  FROM documents),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS BIGINT) AS b_disc,
        |    CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT) AS c_disc
        |  FROM t)
        |SELECT n, b_disc, c_disc,
        |  100 * (b_disc - c_disc) * (b_disc - c_disc) AS chi2_x100_num,
        |  384 * (b_disc + c_disc) AS threshold_x100,
        |  100 * (b_disc - c_disc) * (b_disc - c_disc) > 384 * (b_disc + c_disc)
        |    AS significant
        |FROM m""".stripMargin),

    // Capture–recapture (Lincoln–Petersen) population estimate — the
    // estimator a data-quality team uses to size an UNKNOWN population
    // (how many customers exist across two overlapping partial
    // extracts): N̂ = n_A·n_B DIV |A∩B| from two independent md5
    // samples, graded against the KNOWN true count with a sign-safe ppm
    // error — the estimator carries its own ground truth like
    // graph_triangle_estimate. All integer; one pass, two cheap flags.
    Op("agg_capture_recapture", (s, d) => {
      def coin(ns: String) =
        expr(s"${md5Bits(ns, "c_custkey", 8)} % 4 = 0")
      Tables.customer(s, d)
        .select(coin("cap_a").as("a"), coin("cap_b").as("b"))
        .agg(count(lit(1)).as("true_n"),
          sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("b"), 1L).otherwise(0L)).as("n_b"),
          sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("overlap"))
        .withColumn("estimated", expr("(n_a * n_b) DIV overlap"))
        .withColumn("err_signed_ppm",
          expr("""CASE WHEN estimated >= true_n
                 THEN ((estimated - true_n) * 1000000) DIV true_n
                 ELSE -(((true_n - estimated) * 1000000) DIV true_n) END"""))
    },
      // Same two md5 coins, same integer estimator, same sign-safe error.
      s"""WITH t AS (SELECT
        |    ${duckMd5Bits("cap_a", "c_custkey", 8)} % 4 = 0 AS a,
        |    ${duckMd5Bits("cap_b", "c_custkey", 8)} % 4 = 0 AS b
        |  FROM customer),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_n,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS overlap
        |  FROM t),
        |e AS (SELECT *, (n_a * n_b) // overlap AS estimated FROM m)
        |SELECT true_n, n_a, n_b, overlap, estimated,
        |  CASE WHEN estimated >= true_n
        |    THEN ((estimated - true_n) * 1000000) // true_n
        |    ELSE -(((true_n - estimated) * 1000000) // true_n) END AS err_signed_ppm
        |FROM e""".stripMargin),

    // Empirical-Bayes shrinkage — the hierarchical estimator a metrics
    // platform applies to small-segment conversion rates (a 30-order
    // segment's raw rate is noise; shrink it toward the global prior
    // with strength m=100 pseudo-observations): shrunk = (x + m·p̄)/(n+m)
    // kept EXACT by clearing denominators — ppm = (x·N + m·X)·10⁶ DIV
    // (N·(n+m)) in DECIMAL(38,0)/HUGEINT. The shrinkage contract
    // (|shrunk − global| ≤ |raw − global|) is graded as a verdict column.
    Op("agg_eb_shrinkage", (s, d) => {
      val seg = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("x"))
      val glob = seg.agg(sum("n").as("nn"), sum("x").as("xx"))
      seg.crossJoin(broadcast(glob))
        .withColumn("raw_ppm", expr("(x * 1000000) DIV n"))
        .withColumn("global_ppm", expr("(xx * 1000000) DIV nn"))
        .withColumn("shrunk_ppm", expr(
          """CAST((CAST(x AS DECIMAL(38,0)) * nn + 100 * CAST(xx AS DECIMAL(38,0)))
             * 1000000 DIV (CAST(nn AS DECIMAL(38,0)) * (n + 100)) AS BIGINT)"""))
        .withColumn("contracts",
          abs(col("shrunk_ppm") - col("global_ppm")) <=
            abs(col("raw_ppm") - col("global_ppm")))
        .select("segment", "n", "x", "raw_ppm", "shrunk_ppm", "global_ppm", "contracts")
        .orderBy("segment")
    },
      // Same cleared-denominator rational, same contraction verdict.
      """WITH seg AS (SELECT c_mktsegment AS segment,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS xx FROM seg),
        |j AS (SELECT segment, n, x, nn, xx,
        |    (x * 1000000) // n AS raw_ppm,
        |    (xx * 1000000) // nn AS global_ppm,
        |    CAST(((x::HUGEINT * nn + 100 * xx::HUGEINT) * 1000000)
        |      // (nn::HUGEINT * (n + 100)) AS BIGINT) AS shrunk_ppm
        |  FROM seg, g)
        |SELECT segment, n, x, raw_ppm, shrunk_ppm, global_ppm,
        |  abs(shrunk_ppm - global_ppm) <= abs(raw_ppm - global_ppm) AS contracts
        |FROM j ORDER BY segment""".stripMargin),

    // Cramér's V — the EFFECT SIZE agg_chisq's raw statistic lacks (χ²
    // grows with n, so "significant" says nothing about strength): V =
    // √(χ²/(n·(min(r,c)−1))) on the same segment×priority table. χ² is
    // summed from the exact cross-multiplied integer deviations (the
    // agg_chisq law) and the one √ at the end is IEEE-exact; r and c are
    // exact counts, min via LEAST.
    Op("agg_cramers_v", (s, d) => {
      val cells = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("obs"))
        .localCheckpoint()
      val rowT = cells.groupBy("segment").agg(sum("obs").as("row_tot"))
      val colT = cells.groupBy("priority").agg(sum("obs").as("col_tot"))
      val n = cells.agg(sum("obs").as("n"))
      val dims = cells.agg(
        countDistinct("segment").cast("bigint").as("r"),
        countDistinct("priority").cast("bigint").as("c"))
      cells.join(broadcast(rowT), "segment").join(broadcast(colT), "priority")
        .crossJoin(broadcast(n))
        .withColumn("dev", expr("obs * n - row_tot * col_tot"))
        .withColumn("chi_cell",
          expr("""CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE)
                 / CAST(n * row_tot * col_tot AS DOUBLE)"""))
        // χ² summed by an ORDERED fold over the (segment, priority)-sorted
        // cells — a plain SUM of doubles is partition-order dependent and
        // would drift a ulp between engines (the round-9 ordered-fold law)
        .agg(expr("""aggregate(
               transform(sort_array(collect_list(named_struct('s', segment, 'p', priority, 'v', chi_cell))), t -> t.v),
               CAST(0.0 AS DOUBLE), (a, x) -> a + x)""").as("chi2"),
          max("n").as("n"))
        .crossJoin(broadcast(dims))
        .select(col("n"), col("r"), col("c"), col("chi2"),
          expr("sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(r, c) - 1 AS DOUBLE)))")
            .as("cramers_v"))
    },
      // Same integer deviations, same ordered fold, same final sqrt tree.
      """WITH cells AS (SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        |    CAST(COUNT(*) AS BIGINT) AS obs
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |rt AS (SELECT segment, CAST(SUM(obs) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
        |ct AS (SELECT priority, CAST(SUM(obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
        |dims AS (SELECT CAST(COUNT(DISTINCT segment) AS BIGINT) AS r,
        |    CAST(COUNT(DISTINCT priority) AS BIGINT) AS c FROM cells),
        |cc AS (SELECT cells.segment, cells.priority,
        |    (CAST(obs * n - row_tot * col_tot AS DOUBLE)
        |      * CAST(obs * n - row_tot * col_tot AS DOUBLE))
        |      / CAST(n * row_tot * col_tot AS DOUBLE) AS chi_cell, n
        |  FROM cells JOIN rt ON rt.segment = cells.segment
        |  JOIN ct ON ct.priority = cells.priority, nn),
        |s AS (SELECT CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(chi_cell ORDER BY segment, priority)), (a, x) -> a + x) AS DOUBLE)
        |      AS chi2,
        |    MAX(n) AS n
        |  FROM cc)
        |SELECT s.n, dims.r, dims.c, s.chi2,
        |  sqrt(s.chi2 / (CAST(s.n AS DOUBLE) * CAST(least(dims.r, dims.c) - 1 AS DOUBLE)))
        |    AS cramers_v
        |FROM s, dims""".stripMargin),

    // Benjamini–Hochberg FDR correction — the multiple-testing gate
    // every metrics platform needs once it runs agg_ab_ttest across 20
    // metrics at once (5% per-test α inflates family-wise errors): order
    // the p-values, k* = max{k : p₍k₎ ≤ k·α/m}, reject ranks ≤ k*. The
    // step-up condition cross-multiplies to the INTEGER test 2p ≤ 5k
    // (α=0.05, m=20, milli units) so the cutoff is exact; p-values are
    // the shared md5 randomness. One tiny window; output one row per
    // hypothesis with the cutoff broadcast.
    Op("agg_benjamini_hochberg", (s, d) => {
      val w = Window.orderBy("p_milli", "h")
      Tables.nation(s, d).where(col("n_nationkey") < 20)
        .select(col("n_nationkey").cast("bigint").as("h"))
        .withColumn("p_milli",
          expr(s"${md5Bits("bh", "h", 8)} % 1000"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .withColumn("step_ok", expr("2 * p_milli <= 5 * rnk"))
        .withColumn("k_star",
          coalesce(max(when(col("step_ok"), col("rnk"))).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
            lit(0L)))
        .withColumn("rejected", col("rnk") <= col("k_star"))
        .select("h", "p_milli", "rnk", "step_ok", "k_star", "rejected")
        .orderBy("h")
    },
      // Same md5 p-values, same integer step-up condition.
      s"""WITH t AS (SELECT CAST(n_nationkey AS BIGINT) AS h,
        |    ${duckMd5Bits("bh", "n_nationkey", 8)} % 1000
        |      AS p_milli
        |  FROM nation WHERE n_nationkey < 20),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_milli, h) AS BIGINT) AS rnk
        |  FROM t),
        |s AS (SELECT *, 2 * p_milli <= 5 * rnk AS step_ok FROM r),
        |k AS (SELECT CAST(COALESCE(MAX(CASE WHEN step_ok THEN rnk END), 0) AS BIGINT)
        |    AS k_star FROM s)
        |SELECT h, p_milli, rnk, step_ok, k.k_star, rnk <= k.k_star AS rejected
        |FROM s, k ORDER BY h""".stripMargin),

    // Stationary distribution of the event-type Markov chain — the
    // long-run mix win_markov_chain's one-step matrix only implies:
    // π′(j) = Σ_i π(i)·c(i,j) DIV r(i) iterated 5 rounds from uniform
    // 10⁶-µ mass, all integer (each term non-negative), so the rounds
    // replay bit-identically as chained CTEs. Each round is one
    // broadcast-sized matrix join — the graph-superstep shape on a
    // 5-state chain.
    Op("agg_markov_stationary", (s, d) => {
      val t = Tables.events(s, d)
        .withColumn("prev", lag("event_type", 1).over(
          Window.partitionBy("user_id").orderBy("ts_us", "event_id")))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("i"), col("event_type").as("j"))
        .agg(count(lit(1)).as("n"))
      val rowT = t.groupBy("i").agg(sum("n").as("r"))
      val m = t.join(rowT, "i").localCheckpoint()
      val states = m.select(col("i").as("state")).distinct()
      var pi = states.withColumn("p", lit(1000000L))
      for (k <- 1 to 5) {
        pi = states.join(
          m.join(pi.select(col("state").as("i"), col("p")), "i")
            .select(col("j").as("state"), expr("(p * n) DIV r").as("c"))
            .groupBy("state").agg(sum("c").as("pn")),
          Seq("state"), "left")
          .select(col("state"), coalesce(col("pn"), lit(0L)).as("p"))
        if (k == 3) pi = pi.localCheckpoint()
      }
      pi.select(col("state"), col("p").as("pi_micro")).orderBy("state")
    },
      // The same 5 integer matrix-vector rounds as chained CTEs.
      {
      val iters = (1 to 5).map { k =>
        val p = s"p${k - 1}"
        s"""c$k AS MATERIALIZED (SELECT m.j AS state,
           |    CAST(SUM(($p.p * m.n) // m.r) AS BIGINT) AS pn
           |  FROM m JOIN $p ON $p.state = m.i GROUP BY 1),
           |p$k AS MATERIALIZED (SELECT s.state,
           |    CAST(COALESCE(c$k.pn, 0) AS BIGINT) AS p
           |  FROM states s LEFT JOIN c$k ON c$k.state = s.state)"""
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
         |  FROM events),
         |l AS (SELECT event_type AS j,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS i
         |  FROM e),
         |t AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n FROM l
         |  WHERE i IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT i, CAST(SUM(n) AS BIGINT) AS r FROM t GROUP BY 1),
         |m AS (SELECT t.i, t.j, t.n, rt.r FROM t JOIN rt ON rt.i = t.i),
         |states AS (SELECT DISTINCT i AS state FROM m),
         |p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS p FROM states),
         |$iters
         |SELECT state, p AS pi_micro FROM p5 ORDER BY state""".stripMargin
    }),

    // Two-proportion z-test — the A/B test for a BINARY outcome
    // (conversion), which agg_ab_ttest's mean comparison mis-models:
    // pooled p̂ under H₀, z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)). The four
    // counts are exact; the z is ONE double expression over them with
    // the identical IEEE tree in both engines. Conversion = urgent-
    // priority order; arms = the two fixture segments.
    Op("agg_two_proportion_z", (s, d) => {
      val segs = Seq("BUILDING", "MACHINERY")
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .where(col("c_mktsegment").isin(segs: _*))
        .select((col("c_mktsegment") === segs.head).as("a"),
          (col("o_orderpriority") === "1-URGENT").as("conv"))
        .agg(
          sum(when(col("a"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("a") && col("conv"), 1L).otherwise(0L)).as("x1"),
          sum(when(!col("a") && col("conv"), 1L).otherwise(0L)).as("x2"))
        .withColumn("z",
          expr("""(CAST(x1 AS DOUBLE)/n1 - CAST(x2 AS DOUBLE)/n2)
                 / sqrt((CAST(x1 + x2 AS DOUBLE)/(n1 + n2)) * (1 - CAST(x1 + x2 AS DOUBLE)/(n1 + n2)) * (1.0/n1 + 1.0/n2))"""))
        .withColumn("significant", expr("abs(z) > 1.96"))
    },
      // Same exact counts, same pooled-p̂ IEEE tree.
      """WITH j AS (SELECT c_mktsegment = 'BUILDING' AS a,
        |    o_orderpriority = '1-URGENT' AS conv
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN a AND conv THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN NOT a AND conv THEN 1 ELSE 0 END) AS BIGINT) AS x2
        |  FROM j),
        |z AS (SELECT n1, n2, x1, x2,
        |    (CAST(x1 AS DOUBLE)/n1 - CAST(x2 AS DOUBLE)/n2)
        |      / sqrt((CAST(x1 + x2 AS DOUBLE)/(n1 + n2)) * (1 - CAST(x1 + x2 AS DOUBLE)/(n1 + n2)) * (1.0/n1 + 1.0/n2))
        |      AS z
        |  FROM m)
        |SELECT n1, n2, x1, x2, z, abs(z) > 1.96 AS significant FROM z""".stripMargin),

    // Hodges–Lehmann estimator — the robust location estimate (median of
    // all pairwise Walsh averages) that beats both mean (outlier-fragile)
    // and median (inefficient) on heavy-tailed revenue. Pair sums stay
    // INTEGER (half only at the very end); the median of the Walsh sums
    // is the exact lower-median by (sum, i, j) total order. The pair
    // square is bounded by a FIXED-SIZE deterministic sample (hash top-k,
    // the llm_mmr_rerank candidate-pool pattern): k = 512 is CONSTANT in
    // corpus size, so the Walsh square is k(k+1)/2 = 131,328 pairs at ANY
    // scale — a proportional %-sample would grow it quadratically. The
    // top-k plans as TakeOrderedAndProject (per-partition top-k, driver
    // merge of k rows), and the median is count-then-top-m over the same
    // (s2,i,j) total order — no global row_number window anywhere.
    Op("agg_hodges_lehmann", (s, d) => {
      val k = 512
      val xs = Tables.orders(s, d)
        .select(col("o_orderkey").as("i"),
          round(col("o_totalprice") * 100).cast("bigint").as("x"),
          expr(md5Bits("hl", "o_orderkey", 8)).as("h"))
        .orderBy("h", "i").limit(k)
        .select("i", "x")
        .localCheckpoint()
      val pairs = xs.as("a").join(xs.as("b"), col("a.i") <= col("b.i"))
        .select(col("a.i").as("i"), col("b.i").as("j"),
          (col("a.x") + col("b.x")).as("s2"))
      val n = pairs.agg(count(lit(1))).head.getLong(0)
      val m = ((n + 1) / 2).toInt // bounded: n <= k(k+1)/2 by construction
      pairs.orderBy(col("s2"), col("i"), col("j")).limit(m)
        .orderBy(col("s2").desc, col("i").desc, col("j").desc).limit(1)
        .select(lit(n).as("n_pairs"), col("s2").as("median_pair_sum"),
          expr("s2 DIV 2").as("hl_cents"))
    },
      // Same hash-top-k fixed-size sample (cap mirrored), same (sum, i, j)
      // lower-median pick (the oracle may row_number; only the ENGINE must
      // be window-free).
      s"""WITH s AS (SELECT o_orderkey AS i,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
        |    ${duckMd5Bits("hl", "o_orderkey", 8)} AS h
        |  FROM orders),
        |xs AS (SELECT i, x FROM s ORDER BY h, i LIMIT 512),
        |p AS (SELECT a.i AS i, b.i AS j, a.x + b.x AS s2
        |  FROM xs a JOIN xs b ON a.i <= b.i),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY s2, i, j) AS BIGINT) AS rn
        |  FROM p),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p)
        |SELECT t.n AS n_pairs, r.s2 AS median_pair_sum, r.s2 // 2 AS hl_cents
        |FROM r, t WHERE r.rn = (t.n + 1) // 2""".stripMargin),

    // Holt's linear (double-exponential) smoothing — the level+TREND
    // forecaster win_ewma can't express (EWMA lags a trending series
    // forever; Holt tracks the slope). The coupled recurrence
    // l′ = 0.3x + 0.7(l+t), t′ = 0.3(l′−l) + 0.7t runs as an ORDERED
    // HOF fold over each type's daily series (struct-state fold:
    // Spark aggregate ↔ DuckDB list_reduce over struct-transformed
    // elements — the round-9 ordered-fold law extended to 2-component
    // state), all integer cents with SIGN-SAFE DIV 10 (trend goes
    // negative; divide magnitudes, negate after). Forecast = l + h·t is
    // pure arithmetic. One groupBy collect per type; series length =
    // days, bounded.
    Op("win_holt_linear", {
      def sdiv10(e: String, div: String) =
        s"CASE WHEN ($e) >= 0 THEN ($e) $div 10 ELSE -((0 - ($e)) $div 10) END"
      (s: SparkSession, d: String) => {
        val lNew = sdiv10("3 * e.l + 7 * (acc.l + acc.t)", "DIV")
        val tNew = sdiv10(s"3 * (($lNew) - acc.l) + 7 * acc.t", "DIV")
        Tables.events(s, d)
          .groupBy(col("event_type"),
            expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"))
          .agg(sum(floor(col("value") * 100).cast("bigint")).as("cents"))
          .groupBy("event_type")
          .agg(expr("sort_array(collect_list(named_struct('d', day, 'c', cents)))")
            .as("series"))
          .select(col("event_type"),
            size(col("series")).cast("bigint").as("n_days"),
            // acc carries an explicit 'seeded' flag — a sentinel on the
            // level value would mis-fire if a legitimate level ever went
            // negative (trend-dominated series), which DuckDB's
            // first-element seeding can never do
            expr(s"""aggregate(
                    transform(series, s -> named_struct('l', s.c, 't', CAST(0 AS BIGINT))),
                    named_struct('l', CAST(0 AS BIGINT), 't', CAST(0 AS BIGINT), 'i', CAST(0 AS BIGINT)),
                    (acc, e) -> CASE WHEN acc.i = 0
                      THEN named_struct('l', e.l, 't', CAST(0 AS BIGINT), 'i', CAST(1 AS BIGINT))
                      ELSE named_struct('l', CAST($lNew AS BIGINT), 't', CAST($tNew AS BIGINT), 'i', CAST(1 AS BIGINT)) END)""").as("st"))
          .select(col("event_type"), col("n_days"),
            col("st.l").as("level_cents"), col("st.t").as("trend_cents"),
            (col("st.l") + col("st.t") * 3).as("forecast_h3_cents"))
          .orderBy("event_type")
      }
    },
      // Same recurrence replayed as a RECURSIVE CTE stepping the row index
      // (DuckDB 1.0.0's list_reduce mis-binds the accumulator when the
      // lambda returns a STRUCT — verified by probe — so the oracle walks
      // the identical arithmetic via recursion instead); sign-safe //
      // mirrors the sign-safe DIV.
      {
      def sdiv10(e: String) =
        s"CASE WHEN ($e) >= 0 THEN ($e) // 10 ELSE -((0 - ($e)) // 10) END"
      val lNew = sdiv10("3 * s.cents + 7 * (h.l + h.t)")
      val tNew = sdiv10(s"3 * (($lNew) - h.l) + 7 * h.t")
      s"""WITH RECURSIVE e AS (SELECT event_type,
         |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT event_type, cents,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
         |  FROM e),
         |h(het, hrn, l, t) AS (
         |  SELECT event_type, rn, cents, CAST(0 AS BIGINT) FROM s WHERE rn = 1
         |  UNION ALL
         |  SELECT s.event_type, s.rn,
         |    CAST($lNew AS BIGINT), CAST($tNew AS BIGINT)
         |  FROM h JOIN s ON s.event_type = h.het AND s.rn = h.hrn + 1
         |)
         |SELECT h.het AS event_type, s.n_days, h.l AS level_cents,
         |  h.t AS trend_cents, h.l + h.t * 3 AS forecast_h3_cents
         |FROM h JOIN s ON s.event_type = h.het AND s.rn = h.hrn
         |WHERE s.rn = s.n_days
         |ORDER BY event_type""".stripMargin
    }),

    // Permutation test — the RESAMPLING significance test beside
    // agg_ab_ttest's parametric one and agg_poisson_bootstrap's CI (no
    // normality assumption anywhere): planted +150-milli treatment arm,
    // K = 64 md5-derived sign-flip permutations evaluated in ONE 64×
    // fan-out (never a driver loop), every mean comparison fully
    // cross-multiplied — |s_Aj·n_Bj − s_Bj·n_Aj|·(n_A·n_B) vs the
    // observed diff times (n_Aj·n_Bj), DECIMAL(38,0) guarded — and
    // p = (1+#exceed)/(K+1) cleared to exact ppm.
    Op("agg_permutation_test", (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("arm", expr(s"${md5Bits("concat('pa:', CAST(doc_id AS STRING))", 8)} % 2"))
        .withColumn("x", expr(
          s"${md5Bits("concat('pm:', CAST(doc_id AS STRING))", 8)} % 1000 + arm * 150"))
        .localCheckpoint()
      val obs = base.agg(
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("s_a"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("s_b"))
        .withColumn("d_obs", expr("abs(s_a * n_b - s_b * n_a)"))
      val perms = base.crossJoin(broadcast(s.range(0, 64).select(col("id").as("perm"))))
        .withColumn("parm", expr(
          s"${md5Bits("concat('pp:', concat(CAST(perm AS STRING), ':', CAST(doc_id AS STRING)))", 8)} % 2"))
        .groupBy("perm")
        .agg(sum(when(col("parm") === 1, 1L).otherwise(0L)).as("n_aj"),
          sum(when(col("parm") === 1, col("x")).otherwise(0L)).as("s_aj"),
          sum(when(col("parm") === 0, 1L).otherwise(0L)).as("n_bj"),
          sum(when(col("parm") === 0, col("x")).otherwise(0L)).as("s_bj"))
      perms.crossJoin(broadcast(obs))
        .withColumn("exceeds", expr(
          """CAST(abs(s_aj * n_bj - s_bj * n_aj) AS DECIMAL(38,0)) * (n_a * n_b)
             >= CAST(d_obs AS DECIMAL(38,0)) * (n_aj * n_bj)"""))
        .groupBy("n_a", "n_b", "d_obs")
        .agg(count(lit(1)).as("n_perms"),
          sum(when(col("exceeds"), 1L).otherwise(0L)).as("n_exceed"))
        .withColumn("p_ppm", expr("(1 + n_exceed) * 1000000 DIV (n_perms + 1)"))
        .withColumn("significant", col("p_ppm") < 50000L)
        .select("n_a", "n_b", "d_obs", "n_perms", "n_exceed", "p_ppm", "significant")
    },
      // Same planted arm, same 64 sign-flips, same cleared comparisons.
      s"""WITH b AS (SELECT doc_id,
        |    ${duckMd5Bits("pa", "doc_id", 8)} % 2 AS arm
        |  FROM documents),
        |bx AS (SELECT doc_id, arm,
        |    ${duckMd5Bits("pm", "doc_id", 8)} % 1000
        |      + arm * 150 AS x
        |  FROM b),
        |o AS (SELECT CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS s_a,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS s_b
        |  FROM bx),
        |ob AS (SELECT *, abs(s_a * n_b - s_b * n_a) AS d_obs FROM o),
        |pm AS (SELECT perm, doc_id, x,
        |    ${duckMd5Bits("'pp:' || CAST(perm AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)", 8)} % 2 AS parm
        |  FROM bx CROSS JOIN (SELECT CAST(p AS BIGINT) AS perm
        |    FROM generate_series(0, 63) t(p))),
        |pj AS (SELECT perm,
        |    CAST(SUM(CASE WHEN parm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_aj,
        |    CAST(SUM(CASE WHEN parm = 1 THEN x ELSE 0 END) AS BIGINT) AS s_aj,
        |    CAST(SUM(CASE WHEN parm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bj,
        |    CAST(SUM(CASE WHEN parm = 0 THEN x ELSE 0 END) AS BIGINT) AS s_bj
        |  FROM pm GROUP BY 1),
        |ex AS (SELECT n_a, n_b, d_obs, CAST(COUNT(*) AS BIGINT) AS n_perms,
        |    CAST(SUM(CASE WHEN abs(s_aj * n_bj - s_bj * n_aj)::HUGEINT * (n_a * n_b)
        |      >= d_obs::HUGEINT * (n_aj * n_bj) THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
        |  FROM pj CROSS JOIN ob GROUP BY 1, 2, 3)
        |SELECT n_a, n_b, d_obs, n_perms, n_exceed,
        |  (1 + n_exceed) * 1000000 // (n_perms + 1) AS p_ppm,
        |  (1 + n_exceed) * 1000000 // (n_perms + 1) < 50000 AS significant
        |FROM ex""".stripMargin),

    // Matthews correlation coefficient — the single-number binary-
    // classifier grade that survives class imbalance (accuracy lies when
    // 95% of labels are negative; MCC cannot): planted 80%-faithful
    // predictor over md5 truth, confusion counts exact, MCC reported as
    // its SIGN-SAFE SQUARE in ppm — mcc² = num²/den with num = TP·TN −
    // FP·FN exact in int64 and den = the four marginal products under
    // DECIMAL(38,0) (exceeds int64 past ~50k rows), so not one float
    // exists anywhere — and the |MCC| > 0.5 verdict fully
    // cross-multiplied (4·num² > den).
    Op("agg_mcc", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("truth", expr(s"${md5Bits("mct", "doc_id", 8)} % 2"))
        .withColumn("pred", expr(s"IF(${md5Bits("mcf", "doc_id", 8)} % 10 < 2, 1 - truth, truth)"))
      t.agg(count(lit(1)).as("n"),
          sum(when(col("truth") === 1 && col("pred") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("truth") === 0 && col("pred") === 1, 1L).otherwise(0L)).as("fp"),
          sum(when(col("truth") === 0 && col("pred") === 0, 1L).otherwise(0L)).as("tn"),
          sum(when(col("truth") === 1 && col("pred") === 0, 1L).otherwise(0L)).as("fn"))
        .withColumn("num", expr("tp * tn - fp * fn"))
        .withColumn("den", expr(
          """CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
             * (tn + fp) * (tn + fn)"""))
        .withColumn("mcc2_ppm", expr(
          """CASE WHEN num >= 0
             THEN (CAST(num AS DECIMAL(38,0)) * num * 1000000) DIV den
             ELSE -((CAST(0 - num AS DECIMAL(38,0)) * (0 - num) * 1000000) DIV den)
             END"""))
        .withColumn("strong", expr(
          "num >= 0 AND CAST(num AS DECIMAL(38,0)) * num * 4 > den"))
        .select(col("n"), col("tp"), col("fp"), col("tn"), col("fn"),
          col("num"), col("mcc2_ppm").cast("long").as("mcc2_ppm"), col("strong"))
    },
      // Same confusion, same HUGEINT marginal product, same sign-safe square.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("mct", "doc_id", 8)} % 2 AS truth,
        |    ${duckMd5Bits("mcf", "doc_id", 8)} % 10 AS flip
        |  FROM documents),
        |p AS (SELECT truth,
        |    CASE WHEN flip < 2 THEN 1 - truth ELSE truth END AS pred FROM t),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN truth = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN truth = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN truth = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN truth = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM p),
        |m AS (SELECT *, tp * tn - fp * fn AS num,
        |    (tp + fp)::HUGEINT * (tp + fn) * (tn + fp) * (tn + fn) AS den
        |  FROM c)
        |SELECT n, tp, fp, tn, fn, num,
        |  CAST(CASE WHEN num >= 0 THEN (num::HUGEINT * num * 1000000) // den
        |    ELSE -(((0 - num)::HUGEINT * (0 - num) * 1000000) // den) END AS BIGINT)
        |    AS mcc2_ppm,
        |  num >= 0 AND num::HUGEINT * num * 4 > den AS strong
        |FROM m""".stripMargin),

    // Macro/micro F1 — the MULTICLASS eval ledger (agg_mcc grades binary;
    // this grades the 3-class case the way shared-task leaderboards do):
    // planted 80%-faithful predictor, per-class TP/FP/FN exact, per-class
    // F1 = 2·TP·10⁶ DIV (2TP+FP+FN) (one non-negative integer DIV each —
    // no harmonic-mean floats), micro-F1 = accuracy (multiclass identity),
    // macro-F1 = truncated mean of the three class ppms.
    Op("agg_f1_multiclass", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("truth", expr(s"${md5Bits("f1t", "doc_id", 8)} % 3"))
        .withColumn("pred", expr(
          s"IF(${md5Bits("f1f", "doc_id", 8)} % 10 < 2, (truth + 1 + ${md5Bits("f1p", "doc_id", 8)} % 2) % 3, truth)"))
      val per = (0 to 2).flatMap { c =>
        Seq(sum(when(col("truth") === c && col("pred") === c, 1L).otherwise(0L)).as(s"tp$c"),
          sum(when(col("truth") =!= c && col("pred") === c, 1L).otherwise(0L)).as(s"fp$c"),
          sum(when(col("truth") === c && col("pred") =!= c, 1L).otherwise(0L)).as(s"fn$c"))
      }
      t.agg(count(lit(1)).as("n"), per: _*)
        .withColumn("micro_f1_ppm", expr("(tp0 + tp1 + tp2) * 1000000 DIV n"))
        .withColumn("f1_0_ppm", expr("2 * tp0 * 1000000 DIV (2 * tp0 + fp0 + fn0)"))
        .withColumn("f1_1_ppm", expr("2 * tp1 * 1000000 DIV (2 * tp1 + fp1 + fn1)"))
        .withColumn("f1_2_ppm", expr("2 * tp2 * 1000000 DIV (2 * tp2 + fp2 + fn2)"))
        .withColumn("macro_f1_ppm", expr("(f1_0_ppm + f1_1_ppm + f1_2_ppm) DIV 3"))
        .select("n", "tp0", "fp0", "fn0", "tp1", "fp1", "fn1",
          "tp2", "fp2", "fn2", "micro_f1_ppm",
          "f1_0_ppm", "f1_1_ppm", "f1_2_ppm", "macro_f1_ppm")
    },
      // Same planted predictor, same per-class ppm divisions.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("f1t", "doc_id", 8)} % 3 AS truth,
        |    ${duckMd5Bits("f1f", "doc_id", 8)} % 10 AS flip,
        |    ${duckMd5Bits("f1p", "doc_id", 8)} % 2 AS alt
        |  FROM documents),
        |p AS (SELECT truth,
        |    CASE WHEN flip < 2 THEN (truth + 1 + alt) % 3 ELSE truth END AS pred FROM t),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN truth = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp0,
        |    CAST(SUM(CASE WHEN truth <> 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp0,
        |    CAST(SUM(CASE WHEN truth = 0 AND pred <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn0,
        |    CAST(SUM(CASE WHEN truth = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp1,
        |    CAST(SUM(CASE WHEN truth <> 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp1,
        |    CAST(SUM(CASE WHEN truth = 1 AND pred <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn1,
        |    CAST(SUM(CASE WHEN truth = 2 AND pred = 2 THEN 1 ELSE 0 END) AS BIGINT) AS tp2,
        |    CAST(SUM(CASE WHEN truth <> 2 AND pred = 2 THEN 1 ELSE 0 END) AS BIGINT) AS fp2,
        |    CAST(SUM(CASE WHEN truth = 2 AND pred <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS fn2
        |  FROM p),
        |f AS (SELECT *,
        |    (tp0 + tp1 + tp2) * 1000000 // n AS micro_f1_ppm,
        |    2 * tp0 * 1000000 // (2 * tp0 + fp0 + fn0) AS f1_0_ppm,
        |    2 * tp1 * 1000000 // (2 * tp1 + fp1 + fn1) AS f1_1_ppm,
        |    2 * tp2 * 1000000 // (2 * tp2 + fp2 + fn2) AS f1_2_ppm
        |  FROM c)
        |SELECT n, tp0, fp0, fn0, tp1, fp1, fn1, tp2, fp2, fn2, micro_f1_ppm,
        |  f1_0_ppm, f1_1_ppm, f1_2_ppm,
        |  (f1_0_ppm + f1_1_ppm + f1_2_ppm) // 3 AS macro_f1_ppm
        |FROM f""".stripMargin),

    // VaR / CVaR (expected shortfall) — the tail-risk pair every risk
    // desk and SLO dashboard quotes (p99 latency IS VaR; the mean beyond
    // it IS CVaR — and CVaR is the coherent one): per-type losses in
    // exact cents, k = ceil(n/20) worst picked by a deterministic rank
    // window (cents desc, event_id), VaR = the k-th worst, CVaR = the
    // truncated mean of the k worst — one partitioned sort, integer
    // arithmetic end to end.
    Op("agg_cvar_es", (s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("cents").desc, col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("k", expr("(n + 19) DIV 20"))
        .where(col("rn") <= col("k"))
        .groupBy("event_type")
        .agg(max("n").as("n"), max("k").as("k"),
          min("cents").as("var_cents"),
          expr("sum(cents) DIV max(k)").as("cvar_cents"))
        .select("event_type", "n", "k", "var_cents", "cvar_cents")
        .orderBy("event_type")
    },
      // Same rank pick, same truncated tail mean.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cents DESC, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM e),
        |k AS (SELECT *, (n + 19) // 20 AS k FROM r)
        |SELECT event_type, MAX(n) AS n, MAX(k) AS k,
        |  MIN(cents) AS var_cents, CAST(SUM(cents) // MAX(k) AS BIGINT) AS cvar_cents
        |FROM k WHERE rn <= k
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Ichimoku cloud — the five-line trend system (donchian gives one
    // channel; ichimoku layers three midpoints plus the 26-bar
    // DISPLACEMENT that makes the "cloud"): all midpoints kept EXACT by
    // ×2/×4 scaling (tenkan_x2 = hi9+lo9, senkou_a_x4 = tenkan_x2 +
    // kijun_x2 — no halves ever materialize), senkou spans lagged 26
    // rows (the defining quirk — the cloud under TODAY's price was
    // computed 26 bars ago), chikou = close led 26, above-cloud verdict
    // by 4·cents vs both spans in x4 units. Three rows-frames + two
    // shifts on ONE partitioned sort.
    Op("win_ichimoku", (s, d) => {
      val ord = Window.partitionBy("event_type")
        .orderBy(col("ts_us"), col("event_id"))
      def mid2(nm: String, k: Int) =
        (max("cents").over(ord.rowsBetween(-(k - 1), 0)) +
          min("cents").over(ord.rowsBetween(-(k - 1), 0))).as(nm)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("tenkan_x2", mid2("tenkan_x2", 9))
        .withColumn("kijun_x2", mid2("kijun_x2", 26))
        .withColumn("spanb_now_x2", mid2("spanb_now_x2", 52))
        .withColumn("senkou_a_x4",
          lag(expr("tenkan_x2 + kijun_x2"), 26).over(ord))
        .withColumn("senkou_b_x4", lag(expr("spanb_now_x2 * 2"), 26).over(ord))
        .withColumn("chikou", lead("cents", 26).over(ord))
        .where(col("rn") >= 78 && col("event_id") % 5 === 2)
        .withColumn("above_cloud", expr(
          "cents * 4 > senkou_a_x4 AND cents * 4 > senkou_b_x4"))
        .select("event_type", "event_id", "cents", "tenkan_x2", "kijun_x2",
          "senkou_a_x4", "senkou_b_x4", "chikou", "above_cloud")
        .orderBy("event_type", "event_id")
    },
      // Same ×2/×4 scaling, same 26-row displacement, same verdict.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, event_id, cents,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn,
        |    MAX(cents) OVER w9 + MIN(cents) OVER w9 AS tenkan_x2,
        |    MAX(cents) OVER w26 + MIN(cents) OVER w26 AS kijun_x2,
        |    MAX(cents) OVER w52 + MIN(cents) OVER w52 AS spanb_now_x2,
        |    LEAD(cents, 26) OVER o AS chikou
        |  FROM e WINDOW
        |    o AS (PARTITION BY event_type ORDER BY ts_us, event_id),
        |    w9 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |    w26 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
        |    w52 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)),
        |s AS (SELECT *,
        |    LAG(tenkan_x2 + kijun_x2, 26) OVER o2 AS senkou_a_x4,
        |    LAG(spanb_now_x2 * 2, 26) OVER o2 AS senkou_b_x4
        |  FROM w WINDOW o2 AS (PARTITION BY event_type ORDER BY rn))
        |SELECT event_type, event_id, cents, tenkan_x2, kijun_x2,
        |  senkou_a_x4, senkou_b_x4, chikou,
        |  cents * 4 > senkou_a_x4 AND cents * 4 > senkou_b_x4 AS above_cloud
        |FROM s WHERE rn >= 78 AND event_id % 5 = 2
        |ORDER BY event_type, event_id""".stripMargin),

    // Odds ratio / risk ratio — the 2×2 epidemiology pair (agg_chisq
    // asks "associated?"; this asks "HOW STRONG, in the units a
    // clinician quotes"): planted exposure with 30%→45% outcome lift,
    // OR = ad/(bc) and RR = a(c+d)/(c(a+b)) as exact integer ppms, the
    // χ²>3.841 association verdict fully cross-multiplied with the
    // marginal product under DECIMAL(38,0) (exceeds int64 past ~50k).
    Op("agg_odds_ratio", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("exposed", expr(s"${md5Bits("ore", "doc_id", 8)} % 2"))
        .withColumn("outcome", expr(
          s"IF(${md5Bits("oro", "doc_id", 8)} % 100 < 30 + exposed * 15, 1, 0)"))
      t.agg(
          sum(when(col("exposed") === 1 && col("outcome") === 1, 1L).otherwise(0L)).as("a"),
          sum(when(col("exposed") === 1 && col("outcome") === 0, 1L).otherwise(0L)).as("b"),
          sum(when(col("exposed") === 0 && col("outcome") === 1, 1L).otherwise(0L)).as("c"),
          sum(when(col("exposed") === 0 && col("outcome") === 0, 1L).otherwise(0L)).as("d"))
        .withColumn("or_ppm", expr(
          "(CAST(a AS DECIMAL(38,0)) * d * 1000000) DIV (CAST(b AS DECIMAL(38,0)) * c)").cast("long"))
        .withColumn("rr_ppm", expr(
          "(CAST(a AS DECIMAL(38,0)) * (c + d) * 1000000) DIV (CAST(c AS DECIMAL(38,0)) * (a + b))").cast("long"))
        .withColumn("assoc", expr(
          """CAST((a + b + c + d) AS DECIMAL(38,0)) * (a * d - b * c) * (a * d - b * c) * 1000
             > CAST(3841 AS DECIMAL(38,0)) * (a + b) * (c + d) * (a + c) * (b + d)"""))
        .select("a", "b", "c", "d", "or_ppm", "rr_ppm", "assoc")
    },
      // Same 2×2, same HUGEINT cross-multiplied verdict.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("ore", "doc_id", 8)} % 2 AS exposed,
        |    ${duckMd5Bits("oro", "doc_id", 8)} % 100 AS r
        |  FROM documents),
        |x AS (SELECT exposed, CASE WHEN r < 30 + exposed * 15 THEN 1 ELSE 0 END AS outcome FROM t),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM x)
        |SELECT a, b, c, d,
        |  CAST((a::HUGEINT * d * 1000000) // (b::HUGEINT * c) AS BIGINT) AS or_ppm,
        |  CAST((a::HUGEINT * (c + d) * 1000000) // (c::HUGEINT * (a + b)) AS BIGINT) AS rr_ppm,
        |  (a + b + c + d)::HUGEINT * (a * d - b * c) * (a * d - b * c) * 1000
        |    > 3841::HUGEINT * (a + b) * (c + d) * (a + c) * (b + d) AS assoc
        |FROM c""".stripMargin),

    // On-balance volume — the volume-flow confirmation line (win_vwap
    // weights price BY volume; OBV signs volume BY price direction):
    // md5-derived integer volumes, delta = cents − lag, OBV = running
    // Σ sign(delta)·vol — an exact integer cumsum on one partitioned
    // sort — rolled up to the final/extreme ledger per type (the shape
    // a scanner tests divergence against).
    Op("win_obv", (s, d) => {
      val ord = Window.partitionBy("event_type")
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"),
          expr(s"${md5Bits("obv", "event_id", 8)} % 100 + 1").as("vol"))
        .withColumn("delta", col("cents") - lag("cents", 1).over(ord))
        .withColumn("flow", expr(
          "CASE WHEN delta > 0 THEN vol WHEN delta < 0 THEN -vol ELSE CAST(0 AS BIGINT) END"))
        .withColumn("obv", sum(when(col("flow").isNotNull, col("flow"))
          .otherwise(0L)).over(ord))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          // the final OBV is the total signed flow — a plain exact sum,
          // no order sensitivity
          sum(coalesce(col("flow"), lit(0L))).as("obv_final"),
          max("obv").as("obv_max"), min("obv").as("obv_min"))
        .select("event_type", "n", "obv_final", "obv_max", "obv_min")
        .orderBy("event_type")
    },
      // Same signed flow, same cumsum extremes.
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    ${duckMd5Bits("obv", "event_id", 8)} % 100 + 1 AS vol
        |  FROM events),
        |d AS (SELECT *, cents - LAG(cents, 1) OVER o AS delta
        |  FROM e WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |f AS (SELECT *, CASE WHEN delta > 0 THEN vol WHEN delta < 0 THEN -vol
        |    ELSE CAST(0 AS BIGINT) END AS flow FROM d),
        |r AS (SELECT event_type, flow,
        |    SUM(COALESCE(flow, 0)) OVER (PARTITION BY event_type
        |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS obv
        |  FROM f)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(COALESCE(flow, 0)) AS BIGINT) AS obv_final,
        |  CAST(MAX(obv) AS BIGINT) AS obv_max, CAST(MIN(obv) AS BIGINT) AS obv_min
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Brier score — the PROPER scoring rule for probability forecasts
    // (llm_calibration_error bins the gap; Brier is the single number a
    // forecast tournament ranks by, and propriety means miscalibration
    // ALWAYS costs): p ~ uniform ppm, outcome planted truly Bernoulli(p)
    // (the calibrated forecaster), an overconfident rival that pushes
    // every p toward its nearest extreme; Brier = Σ(p−y)² in exact ppm²
    // integers summed under DECIMAL(38,0) (10⁻¹² units × n exceeds int64
    // past ~9M rows), ONE integer DIV by n at the end. The calibrated
    // forecaster must win — graded as a boolean, not a float.
    Op("agg_brier_score", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("p_ppm", expr(s"(${md5Bits("brp", "doc_id", 8)} % 1001) * 1000"))
        .withColumn("y", expr(s"IF(${md5Bits("bry", "doc_id", 8)} % 1000000 < p_ppm, 1, 0)"))
        .withColumn("q_ppm", expr(
          "IF(p_ppm >= 500000, (p_ppm + 1000000) DIV 2, p_ppm DIV 2)"))
        .agg(count(lit(1)).as("n"),
          sum(expr(
            "CAST(p_ppm - y * 1000000 AS DECIMAL(38,0)) * (p_ppm - y * 1000000)")).as("se_cal"),
          sum(expr(
            "CAST(q_ppm - y * 1000000 AS DECIMAL(38,0)) * (q_ppm - y * 1000000)")).as("se_over"))
        .withColumn("brier_cal_e12", expr("se_cal DIV n").cast("long"))
        .withColumn("brier_over_e12", expr("se_over DIV n").cast("long"))
        .withColumn("calibrated_wins", col("se_cal") < col("se_over"))
        .select("n", "brier_cal_e12", "brier_over_e12", "calibrated_wins")
    },
      // Same planted Bernoulli(p), same ppm² sums, same single DIV.
      s"""WITH t AS (SELECT doc_id,
        |    (${duckMd5Bits("brp", "doc_id", 8)} % 1001) * 1000 AS p_ppm
        |  FROM documents),
        |y AS (SELECT *,
        |    CASE WHEN ${duckMd5Bits("bry", "doc_id", 8)} % 1000000 < p_ppm
        |      THEN 1 ELSE 0 END AS y,
        |    CASE WHEN p_ppm >= 500000 THEN (p_ppm + 1000000) // 2
        |      ELSE p_ppm // 2 END AS q_ppm
        |  FROM t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(p_ppm - y * 1000000 AS HUGEINT) * (p_ppm - y * 1000000)) // COUNT(*) AS BIGINT) AS brier_cal_e12,
        |  CAST(SUM(CAST(q_ppm - y * 1000000 AS HUGEINT) * (q_ppm - y * 1000000)) // COUNT(*) AS BIGINT) AS brier_over_e12,
        |  SUM(CAST(p_ppm - y * 1000000 AS HUGEINT) * (p_ppm - y * 1000000))
        |    < SUM(CAST(q_ppm - y * 1000000 AS HUGEINT) * (q_ppm - y * 1000000)) AS calibrated_wins
        |FROM y""".stripMargin),

    // Youden's J / optimal operating point — WHERE to put the threshold
    // (agg_auc_roc grades the ranking as a whole; a DEPLOYED classifier
    // needs one cut, and J = TPR − FPR is the cut that maximizes
    // balanced accuracy): planted +300k score separation, 19-point
    // threshold grid (50k..950k ppm) in ONE broadcast fan-out, the
    // argmax taken entirely on the exact numerator TP·N − FP·P (the P·N
    // denominator is threshold-invariant, so no division participates
    // in the comparison), winner picked deterministically (num desc,
    // thr asc) over the 19-row grid — the only window is grid-sized.
    Op("agg_youden_j", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("truth", expr(s"${md5Bits("yjt", "doc_id", 8)} % 2"))
        .withColumn("score", expr(s"${md5Bits("yjs", "doc_id", 8)} % 700000 + truth * 300000"))
      val tot = t.agg(sum(col("truth")).as("p"),
        sum(expr("1 - truth")).as("nneg"))
      t.crossJoin(broadcast(s.range(1, 20).select((col("id") * 50000L).as("thr"))))
        .groupBy("thr")
        .agg(sum(when(col("truth") === 1 && col("score") >= col("thr"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("truth") === 0 && col("score") >= col("thr"), 1L)
            .otherwise(0L)).as("fp"))
        .crossJoin(broadcast(tot)) // single-row scalar attach
        .withColumn("j_num", expr("tp * nneg - fp * p"))
        // 19 rows — bounded by the grid, not by n
        .withColumn("rk", row_number().over(
          Window.orderBy(col("j_num").desc, col("thr"))))
        .where(col("rk") === 1)
        // j_num at the argmax is positive by construction (+300k plant),
        // so the DIV numerator is never negative
        .withColumn("j_ppm", expr(
          "(CAST(j_num AS DECIMAL(38,0)) * 1000000) DIV (CAST(p AS DECIMAL(38,0)) * nneg)").cast("long"))
        .select("thr", "tp", "fp", "p", "nneg", "j_num", "j_ppm")
    },
      // Same grid, same numerator-only argmax, same deterministic pick.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("yjt", "doc_id", 8)} % 2 AS truth
        |  FROM documents),
        |sc AS (SELECT *,
        |    ${duckMd5Bits("yjs", "doc_id", 8)} % 700000
        |      + truth * 300000 AS score FROM t),
        |tot AS (SELECT CAST(SUM(truth) AS BIGINT) AS p,
        |    CAST(SUM(1 - truth) AS BIGINT) AS nneg FROM sc),
        |g AS (SELECT CAST(v AS BIGINT) * 50000 AS thr FROM generate_series(1, 19) s(v)),
        |cm AS (SELECT thr,
        |    CAST(SUM(CASE WHEN truth = 1 AND score >= thr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN truth = 0 AND score >= thr THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM sc CROSS JOIN g GROUP BY thr),
        |j AS (SELECT cm.*, p, nneg, tp * nneg - fp * p AS j_num FROM cm CROSS JOIN tot)
        |SELECT thr, tp, fp, p, nneg, j_num,
        |  CAST((CAST(j_num AS HUGEINT) * 1000000) // (CAST(p AS HUGEINT) * nneg) AS BIGINT) AS j_ppm
        |FROM j ORDER BY j_num DESC, thr LIMIT 1""".stripMargin),

    // Wilcoxon signed-rank — the PAIRED nonparametric test
    // (agg_mann_whitney compares two independent groups; this tests
    // before/after on the SAME subject, the A/A-with-treatment shape):
    // before = md5 milli-score, after = before + planted +25 shift +
    // symmetric ±50 noise, zero diffs dropped (the textbook rule),
    // |diff| ranked with AVERAGE ranks kept exact in ×2 units
    // (2·cum_less + cnt + 1 — no .5 ever materializes), computed at the
    // GROUP level — the rank window runs over ≤ 75 distinct |diff|
    // values (bounded by the noise domain, not by n). W⁺ₓ₂ = Σ r2 over
    // positive diffs; z² verdict fully cross-multiplied with the exact
    // tie-corrected variance: 6·10⁴·(W2−E2)² > 38416·var6 where
    // E2 = n(n+1)/2 and var6 = n(n+1)(2n+1) − Σ(t³−t)/2, both exact.
    Op("agg_wilcoxon_signed_rank", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("before", expr(s"${md5Bits("wsb", "doc_id", 8)} % 1000"))
        .withColumn("diff", expr(s"25 + ${md5Bits("wsn", "doc_id", 8)} % 101 - 50"))
        .where(col("diff") =!= 0)
        .withColumn("adiff", abs(col("diff")))
      t.groupBy("adiff")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("diff") > 0, 1L).otherwise(0L)).as("cnt_pos"))
        // ≤ 75 groups: the unpartitioned window is domain-bounded
        .withColumn("cum_less", coalesce(sum("cnt").over(
          Window.orderBy("adiff").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("r2", expr("2 * cum_less + cnt + 1"))
        .agg(sum("cnt").as("n"),
          sum(expr("r2 * cnt_pos")).as("w2_plus"),
          // t³−t is always even; tie3 ≈ n³/75² stays in int64 to sf10
          sum(expr("cnt * cnt * cnt - cnt")).as("tie3"))
        .withColumn("e2", expr("n * (n + 1) DIV 2"))
        .withColumn("significant", expr(
          """CAST(6 AS DECIMAL(38,0)) * 10000 * (w2_plus - e2) * (w2_plus - e2)
             > CAST(38416 AS DECIMAL(38,0))
               * (CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie3 DIV 2)"""))
        .select("n", "w2_plus", "e2", "tie3", "significant")
    },
      // Same group-level ×2 average ranks, same tie-corrected verdict.
      s"""WITH t AS (SELECT doc_id,
        |    25 + ${duckMd5Bits("wsn", "doc_id", 8)} % 101 - 50 AS diff
        |  FROM documents),
        |nz AS (SELECT diff, ABS(diff) AS adiff FROM t WHERE diff <> 0),
        |g AS (SELECT adiff, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos
        |  FROM nz GROUP BY adiff),
        |r AS (SELECT *, COALESCE(CAST(SUM(cnt) OVER (ORDER BY adiff
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_less
        |  FROM g),
        |w AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM((2 * cum_less + cnt + 1) * cnt_pos) AS BIGINT) AS w2_plus,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
        |  FROM r)
        |SELECT n, w2_plus, n * (n + 1) // 2 AS e2, tie3,
        |  CAST(6 AS HUGEINT) * 10000 * (w2_plus - n * (n + 1) // 2) * (w2_plus - n * (n + 1) // 2)
        |    > CAST(38416 AS HUGEINT)
        |      * (CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie3 // 2) AS significant
        |FROM w""".stripMargin),

    // ATR — average true range (win_bollinger reads dispersion from
    // closes alone; TR folds the overnight GAP against the prior close,
    // which is what actually hurts a stop-loss): per-bar hi/lo spread
    // from md5 (±49 around the close), first-bar prior-close defined as
    // the close itself (TR degrades to h−l — engine-neutral, no NULL
    // greatest semantics in play), TR = greatest(h−l, |h−pc|, |l−pc|)
    // exact, ATR reported ×14 as the 14-bar rolling TR sum — the ×14
    // scaling law: no division ever happens. One partitioned sort.
    Op("win_atr", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("h", expr(s"cents + ${md5Bits("ath", "event_id", 8)} % 50"))
        .withColumn("l", expr(s"cents - ${md5Bits("atl", "event_id", 8)} % 50"))
        .withColumn("pc", coalesce(lag("cents", 1).over(ord), col("cents")))
        .withColumn("tr", expr("greatest(h - l, abs(h - pc), abs(l - pc))"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("atr_x14", sum("tr").over(ord.rowsBetween(-13, 0)))
        .where(col("rn") >= 14 && col("event_id") % 7 === 3)
        .select("event_type", "event_id", "cents", "tr", "atr_x14")
        .orderBy("event_type", "event_id")
    },
      // Same md5 spreads, same first-bar pc=close rule, same ×14 sum.
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (SELECT *,
        |    cents + ${duckMd5Bits("ath", "event_id", 8)} % 50 AS h,
        |    cents - ${duckMd5Bits("atl", "event_id", 8)} % 50 AS l
        |  FROM e),
        |p AS (SELECT *, COALESCE(LAG(cents, 1) OVER o, cents) AS pc,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn
        |  FROM h WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |tr AS (SELECT *, GREATEST(h - l, ABS(h - pc), ABS(l - pc)) AS tr FROM p),
        |a AS (SELECT *, CAST(SUM(tr) OVER (PARTITION BY event_type
        |      ORDER BY ts_us, event_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS atr_x14
        |  FROM tr)
        |SELECT event_type, event_id, cents, tr, atr_x14 FROM a
        |WHERE rn >= 14 AND event_id % 7 = 3
        |ORDER BY event_type, event_id""".stripMargin),

    // Isotonic calibration (PAV) — fit the best MONOTONE curve through
    // binned outcome rates (llm_calibration_error measures the gap;
    // this REPAIRS it, the standard post-hoc calibrator for classifier
    // scores): planted rising rate with a deliberate dip at bin 7 (so
    // pooling genuinely cascades), 20 score bins, and the fit computed
    // by the PAV MINIMAX identity fit_k = min_{j≥k} max_{i≤k}
    // mean(i..j) — no sequential pooling loop exists; the whole fit is
    // two bounded group-bys over a 20³ interval grid. Each interval
    // mean is one integer DIV to ppm, and min/max over integer ppms is
    // order-free — deterministic in both engines by construction.
    // Monotonicity of the result follows from the minimax lattice
    // argument regardless of the ppm truncation.
    Op("agg_isotonic_pav", (s, d) => {
      val b = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("bin", expr(s"${md5Bits("ipb", "doc_id", 8)} % 1000 DIV 50"))
        .withColumn("y", expr(
          s"IF(${md5Bits("ipy", "doc_id", 8)} % 1000 < 200 + bin * 40 - IF(bin = 7, 250, 0), 1, 0)"))
        .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("y"))
      // 20 bins: every window/join below is domain-bounded, never O(n)
      val w20 = Window.orderBy("bin")
      val pre = b.withColumn("cn", sum("n").over(w20))
        .withColumn("cy", sum("y").over(w20))
        .withColumn("cnl", col("cn") - col("n"))
        .withColumn("cyl", col("cy") - col("y"))
      val pairs = pre.select(col("bin").as("i"), col("cnl"), col("cyl"))
        .join(pre.select(col("bin").as("j"), col("cn"), col("cy")),
          col("i") <= col("j"))
        .select(col("i"), col("j"),
          expr("(cy - cyl) * 1000000 DIV (cn - cnl)").as("m_ppm"))
      val mx = pairs
        .join(broadcast(s.range(0, 20).select(col("id").as("k"))),
          col("i") <= col("k") && col("k") <= col("j"))
        .groupBy("k", "j").agg(max("m_ppm").as("mx"))
      val fit = mx.groupBy("k").agg(min("mx").as("fit_ppm"))
      b.join(fit, col("bin") === col("k"))
        .withColumn("raw_ppm", expr("y * 1000000 DIV n"))
        .select("bin", "n", "y", "raw_ppm", "fit_ppm")
        .orderBy("bin")
    },
      // Same planted dip, same 20³ interval-grid minimax.
      s"""WITH b AS (SELECT
        |    ${duckMd5Bits("ipb", "doc_id", 8)} % 1000 // 50 AS bin,
        |    CASE WHEN ${duckMd5Bits("ipy", "doc_id", 8)} % 1000
        |      < 200 + (${duckMd5Bits("ipb", "doc_id", 8)} % 1000 // 50) * 40
        |        - CASE WHEN ${duckMd5Bits("ipb", "doc_id", 8)} % 1000 // 50 = 7
        |          THEN 250 ELSE 0 END
        |      THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS y
        |  FROM b GROUP BY bin),
        |pre AS (SELECT *, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |    CAST(SUM(y) OVER (ORDER BY bin) AS BIGINT) AS cy FROM g),
        |pairs AS (SELECT i.bin AS i, j.bin AS j,
        |    (j.cy - (i.cy - i.y)) * 1000000 // (j.cn - (i.cn - i.n)) AS m_ppm
        |  FROM pre i JOIN pre j ON i.bin <= j.bin),
        |ks AS (SELECT CAST(k AS BIGINT) AS k FROM generate_series(0, 19) s(k)),
        |mx AS (SELECT k, j, MAX(m_ppm) AS mx FROM pairs JOIN ks
        |  ON i <= k AND k <= j GROUP BY k, j),
        |fit AS (SELECT k, CAST(MIN(mx) AS BIGINT) AS fit_ppm FROM mx GROUP BY k)
        |SELECT bin, n, y, y * 1000000 // n AS raw_ppm, fit_ppm
        |FROM g JOIN fit ON bin = k ORDER BY bin""".stripMargin),

    // TOST equivalence — the test agg_ab_ttest CANNOT do: proving two
    // arms are the SAME within a margin (absence of significance is not
    // evidence of absence; two one-sided tests are). Planted 30.0% vs
    // 30.3% conversion under a 10% = 1/10 margin (exact — m_num =
    // n1·n2 DIV 10, no ppm truncation; wide enough that the verdict is
    // deterministic down to the 500-doc sf0.001 fixture), both one-sided z tests AND the
    // naive two-sided test fully cross-multiplied: the cleared form is
    // (m±d)²·N·10⁶ > Z²·10⁶·s·(N−s)·n1·n2 with d = x1·n2 − x2·n1 exact,
    // pooled s = x1+x2, Z²·10⁶ = 2706025 (one-sided 1.645) / 3841600
    // (two-sided 1.96) — DECIMAL(38,0) guarded (exceeds int64 past
    // ~10k rows). The planted truth: equivalent = true, naive = false.
    Op("agg_tost_equivalence", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("arm", expr(s"${md5Bits("tse", "doc_id", 8)} % 2"))
        .withColumn("conv", expr(s"IF(${md5Bits("tsc", "doc_id", 8)} % 1000 < 300 + arm * 3, 1, 0)"))
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n2"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("x1"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("x2"))
        .withColumn("d_num", expr("x1 * n2 - x2 * n1"))
        .withColumn("m_num", expr("n1 * n2 DIV 10"))
        .withColumn("s_pool", expr("x1 + x2"))
        .withColumn("nn", expr("n1 + n2"))
        .withColumn("equiv_low", expr(
          """m_num + d_num > 0 AND
             CAST(m_num + d_num AS DECIMAL(38,0)) * (m_num + d_num) * nn * 1000000
             > CAST(2706025 AS DECIMAL(38,0)) * s_pool * (nn - s_pool) * n1 * n2"""))
        .withColumn("equiv_high", expr(
          """m_num - d_num > 0 AND
             CAST(m_num - d_num AS DECIMAL(38,0)) * (m_num - d_num) * nn * 1000000
             > CAST(2706025 AS DECIMAL(38,0)) * s_pool * (nn - s_pool) * n1 * n2"""))
        .withColumn("equivalent", col("equiv_low") && col("equiv_high"))
        .withColumn("naive_significant", expr(
          """CAST(d_num AS DECIMAL(38,0)) * d_num * nn * 1000000
             > CAST(3841600 AS DECIMAL(38,0)) * s_pool * (nn - s_pool) * n1 * n2"""))
        .select("n1", "n2", "x1", "x2", "d_num", "m_num",
          "equiv_low", "equiv_high", "equivalent", "naive_significant")
    },
      // Same cleared one-sided pair, same naive two-sided contrast.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("tse", "doc_id", 8)} % 2 AS arm
        |  FROM documents),
        |c AS (SELECT arm,
        |    CASE WHEN ${duckMd5Bits("tsc", "doc_id", 8)} % 1000
        |      < 300 + arm * 3 THEN 1 ELSE 0 END AS conv FROM t),
        |a AS (SELECT
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x2
        |  FROM c),
        |e AS (SELECT *, x1 * n2 - x2 * n1 AS d_num, n1 * n2 // 10 AS m_num,
        |    x1 + x2 AS s_pool, n1 + n2 AS nn FROM a)
        |SELECT n1, n2, x1, x2, d_num, m_num,
        |  m_num + d_num > 0 AND
        |    CAST(m_num + d_num AS HUGEINT) * (m_num + d_num) * nn * 1000000
        |    > CAST(2706025 AS HUGEINT) * s_pool * (nn - s_pool) * n1 * n2 AS equiv_low,
        |  m_num - d_num > 0 AND
        |    CAST(m_num - d_num AS HUGEINT) * (m_num - d_num) * nn * 1000000
        |    > CAST(2706025 AS HUGEINT) * s_pool * (nn - s_pool) * n1 * n2 AS equiv_high,
        |  (m_num + d_num > 0 AND
        |    CAST(m_num + d_num AS HUGEINT) * (m_num + d_num) * nn * 1000000
        |    > CAST(2706025 AS HUGEINT) * s_pool * (nn - s_pool) * n1 * n2)
        |  AND (m_num - d_num > 0 AND
        |    CAST(m_num - d_num AS HUGEINT) * (m_num - d_num) * nn * 1000000
        |    > CAST(2706025 AS HUGEINT) * s_pool * (nn - s_pool) * n1 * n2) AS equivalent,
        |  CAST(d_num AS HUGEINT) * d_num * nn * 1000000
        |    > CAST(3841600 AS HUGEINT) * s_pool * (nn - s_pool) * n1 * n2 AS naive_significant
        |FROM e""".stripMargin),

    // RANSAC line fit — the ROBUST regression that survives what
    // agg_theil_sen merely dampens (10% wild outliers whose y is pure
    // noise): planted y = 3x + 50 ± 20 for the 90% inlier mass, K = 32
    // candidate lines through md5-top-64 point pairs (top-k sample —
    // the HL fixed-size-sample law, never a global window over n),
    // inlier test fully cross-multiplied |（y−y1)(x2−x1) − (x−x1)(y2−y1)|
    // ≤ tol·(x2−x1) — no division anywhere in the hot path — winner by
    // (inliers DESC, k ASC) over the 32-row candidate frame, slope
    // reported sign-safe milli (magnitude DIV, then negate).
    Op("agg_ransac_line", (s, d) => {
      val pts = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("x", expr(s"${md5Bits("rsx", "doc_id", 8)} % 1000"))
        .withColumn("y", expr(
          s"""IF(${md5Bits("rso", "doc_id", 8)} % 10 = 0, ${md5Bits("rsw", "doc_id", 8)} % 3000,
                3 * x + 50 + ${md5Bits("rsn", "doc_id", 8)} % 41 - 20)"""))
        .localCheckpoint()
      // fixed-size deterministic sample: the 64 smallest md5s, paired
      val cand = pts
        .withColumn("hk", expr(s"md5(concat('rsk:', CAST(doc_id AS STRING)))"))
        .orderBy("hk").limit(64)
        .withColumn("idx", row_number().over(Window.orderBy("hk")) - 1)
        .withColumn("k", expr("idx DIV 2"))
        .groupBy("k")
        .agg(min(struct(col("idx"), col("x"), col("y"))).as("p1"),
          max(struct(col("idx"), col("x"), col("y"))).as("p2"))
        .select(col("k"), col("p1.x").as("x1"), col("p1.y").as("y1"),
          col("p2.x").as("x2"), col("p2.y").as("y2"))
        .where(col("x1") =!= col("x2"))
      val scored = pts.crossJoin(broadcast(cand))
        .withColumn("inlier", expr(
          """abs((y - y1) * (x2 - x1) - (x - x1) * (y2 - y1))
             <= 25 * abs(x2 - x1)"""))
        .groupBy("k", "x1", "y1", "x2", "y2")
        .agg(sum(when(col("inlier"), 1L).otherwise(0L)).as("n_inliers"),
          count(lit(1)).as("n"))
      scored
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n_inliers").desc, col("k")))) // 32 rows
        .where(col("rk") === 1)
        .withColumn("slope_milli", expr(
          """CASE WHEN (y2 - y1) * (x2 - x1) >= 0
             THEN abs(y2 - y1) * 1000 DIV abs(x2 - x1)
             ELSE -(abs(y2 - y1) * 1000 DIV abs(x2 - x1)) END"""))
        .select("k", "x1", "y1", "x2", "y2", "n", "n_inliers", "slope_milli")
    },
      // Same top-64 pairing, same cross-multiplied inlier test.
      s"""WITH pts AS (SELECT doc_id,
        |    ${duckMd5Bits("rsx", "doc_id", 8)} % 1000 AS x
        |  FROM documents),
        |py AS (SELECT doc_id, x,
        |    CASE WHEN ${duckMd5Bits("rso", "doc_id", 8)} % 10 = 0
        |      THEN ${duckMd5Bits("rsw", "doc_id", 8)} % 3000
        |      ELSE 3 * x + 50 + ${duckMd5Bits("rsn", "doc_id", 8)} % 41 - 20
        |    END AS y FROM pts),
        |top AS (SELECT *, md5('rsk:' || CAST(doc_id AS VARCHAR)) AS hk
        |  FROM py ORDER BY hk LIMIT 64),
        |idx AS (SELECT x, y, CAST(ROW_NUMBER() OVER (ORDER BY hk) - 1 AS BIGINT) AS idx FROM top),
        |cand AS (SELECT idx // 2 AS k,
        |    MIN({'idx': idx, 'x': x, 'y': y}) AS p1,
        |    MAX({'idx': idx, 'x': x, 'y': y}) AS p2
        |  FROM idx GROUP BY 1),
        |cl AS (SELECT k, p1.x AS x1, p1.y AS y1, p2.x AS x2, p2.y AS y2
        |  FROM cand WHERE p1.x <> p2.x),
        |sc AS (SELECT k, x1, y1, x2, y2,
        |    CAST(SUM(CASE WHEN ABS((y - y1) * (x2 - x1) - (x - x1) * (y2 - y1))
        |      <= 25 * ABS(x2 - x1) THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM py CROSS JOIN cl GROUP BY 1, 2, 3, 4, 5)
        |SELECT k, x1, y1, x2, y2, n, n_inliers,
        |  CASE WHEN (y2 - y1) * (x2 - x1) >= 0
        |    THEN ABS(y2 - y1) * 1000 // ABS(x2 - x1)
        |    ELSE -(ABS(y2 - y1) * 1000 // ABS(x2 - x1)) END AS slope_milli
        |FROM sc ORDER BY n_inliers DESC, k LIMIT 1""".stripMargin),

    // Log-rank test — the TEST companion to agg_kaplan_meier's curve
    // ("are these two survival curves the same?" — the question every
    // retention/reliability A/B asks): planted higher hazard in arm 1,
    // ~30% censoring, per-event-time at-risk counts by a suffix sum
    // over the ≤50 DISTINCT times (domain-bounded window, never n),
    // expectation and variance accumulated in micro-units with one
    // integer DIV per time (per-term truncation is the declared
    // contract, the graph_resource_alloc law), and the χ² verdict
    // cleared to OE² > 3841600·V_micro under DECIMAL(38,0).
    Op("agg_logrank_test", (s, d) => {
      val subj = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("arm", expr(s"${md5Bits("lra", "doc_id", 8)} % 2"))
        .withColumn("t", expr(s"${md5Bits("lrt", "doc_id", 8)} % 50 + 1 - arm * IF(${md5Bits("lrh", "doc_id", 8)} % 10 < 4, 1, 0) * (${md5Bits("lrt", "doc_id", 8)} % 50 DIV 2)"))
        .withColumn("event", expr(s"IF(${md5Bits("lre", "doc_id", 8)} % 10 < 7, 1, 0)"))
      val byT = subj.groupBy("t")
        .agg(count(lit(1)).as("c"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"),
          sum(col("event")).as("d"),
          sum(when(col("arm") === 1, col("event")).otherwise(0L)).as("d1"))
      // ≤ 50 distinct times: the unpartitioned window is domain-bounded
      val wAtRisk = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      byT
        .withColumn("n_at", sum("c").over(wAtRisk))
        .withColumn("n1_at", sum("c1").over(wAtRisk))
        .where(col("d") > 0)
        .withColumn("e1_micro", expr("d * n1_at * 1000000 DIV n_at"))
        .withColumn("v_micro", expr(
          """CASE WHEN n_at > 1
             THEN (CAST(d AS DECIMAL(38,0)) * (n_at - d) * n1_at * (n_at - n1_at) * 1000000)
                  DIV (CAST(n_at AS DECIMAL(38,0)) * n_at * (n_at - 1))
             ELSE CAST(0 AS DECIMAL(38,0)) END"""))
        .agg(sum("d1").as("o1"),
          sum("e1_micro").as("e1_micro"),
          sum("v_micro").cast("long").as("v_micro"))
        .withColumn("oe_micro", expr("o1 * 1000000 - e1_micro"))
        .withColumn("significant", expr(
          """CAST(oe_micro AS DECIMAL(38,0)) * oe_micro
             > CAST(3841600 AS DECIMAL(38,0)) * v_micro"""))
        .select("o1", "e1_micro", "v_micro", "oe_micro", "significant")
    },
      // Same suffix-sum at-risk counts, same per-term micro truncation.
      s"""WITH s AS (SELECT doc_id,
        |    ${duckMd5Bits("lra", "doc_id", 8)} % 2 AS arm,
        |    ${duckMd5Bits("lrt", "doc_id", 8)} % 50 AS tb,
        |    CASE WHEN ${duckMd5Bits("lrh", "doc_id", 8)} % 10 < 4
        |      THEN 1 ELSE 0 END AS hz,
        |    CASE WHEN ${duckMd5Bits("lre", "doc_id", 8)} % 10 < 7
        |      THEN 1 ELSE 0 END AS event
        |  FROM documents),
        |t AS (SELECT arm, tb + 1 - arm * hz * (tb // 2) AS t, event FROM s),
        |g AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(event) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN arm = 1 THEN event ELSE 0 END) AS BIGINT) AS d1
        |  FROM t GROUP BY 1),
        |r AS (SELECT *, CAST(SUM(c) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at,
        |    CAST(SUM(c1) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1_at
        |  FROM g),
        |m AS (SELECT d1, d * n1_at * 1000000 // n_at AS e1_micro,
        |    CASE WHEN n_at > 1
        |      THEN (CAST(d AS HUGEINT) * (n_at - d) * n1_at * (n_at - n1_at) * 1000000)
        |           // (CAST(n_at AS HUGEINT) * n_at * (n_at - 1))
        |      ELSE CAST(0 AS HUGEINT) END AS v_micro
        |  FROM r WHERE d > 0),
        |a AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(SUM(e1_micro) AS BIGINT) AS e1_micro,
        |    CAST(SUM(v_micro) AS BIGINT) AS v_micro FROM m)
        |SELECT o1, e1_micro, v_micro, o1 * 1000000 - e1_micro AS oe_micro,
        |  CAST(o1 * 1000000 - e1_micro AS HUGEINT) * (o1 * 1000000 - e1_micro)
        |    > CAST(3841600 AS HUGEINT) * v_micro AS significant
        |FROM a""".stripMargin),

    // Accumulation/Distribution line — WHERE the volume flows inside
    // each bar (win_obv signs the WHOLE bar's volume by direction; A/D
    // weights it by the close's position in the range): CLV·vol =
    // (2c−h−l)·vol over (h−l), kept exact as a per-term sign-safe
    // milli DIV (magnitude then negate — the division-law), zero-range
    // bars contribute 0, ADL = exact integer cumsum on one partitioned
    // sort, sampled ledger rows.
    Op("win_adline", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("h", expr(s"cents + ${md5Bits("adh", "event_id", 8)} % 50"))
        .withColumn("l", expr(s"cents - ${md5Bits("adl", "event_id", 8)} % 50"))
        .withColumn("vol", expr(s"${md5Bits("adv", "event_id", 8)} % 100 + 1"))
        .withColumn("mfv_milli", expr(
          """CASE WHEN h = l THEN CAST(0 AS BIGINT)
             WHEN 2 * cents - h - l >= 0
             THEN (2 * cents - h - l) * vol * 1000 DIV (h - l)
             ELSE -((h + l - 2 * cents) * vol * 1000 DIV (h - l)) END"""))
        .withColumn("adl_milli", sum("mfv_milli").over(ord))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .where(col("event_id") % 7 === 2)
        .select("event_type", "event_id", "cents", "mfv_milli", "adl_milli")
        .orderBy("event_type", "event_id")
    },
      // Same zero-range guard, same sign-safe per-term milli DIV.
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    CAST(FLOOR(value * 100) AS BIGINT)
        |      + ${duckMd5Bits("adh", "event_id", 8)} % 50 AS h,
        |    CAST(FLOOR(value * 100) AS BIGINT)
        |      - ${duckMd5Bits("adl", "event_id", 8)} % 50 AS l,
        |    ${duckMd5Bits("adv", "event_id", 8)} % 100 + 1 AS vol
        |  FROM events),
        |m AS (SELECT *,
        |    CASE WHEN h = l THEN CAST(0 AS BIGINT)
        |      WHEN 2 * cents - h - l >= 0
        |      THEN (2 * cents - h - l) * vol * 1000 // (h - l)
        |      ELSE -((h + l - 2 * cents) * vol * 1000 // (h - l)) END AS mfv_milli
        |  FROM e),
        |a AS (SELECT *, CAST(SUM(mfv_milli) OVER (PARTITION BY event_type
        |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS adl_milli
        |  FROM m)
        |SELECT event_type, event_id, cents, mfv_milli, adl_milli FROM a
        |WHERE event_id % 7 = 2 ORDER BY event_type, event_id""".stripMargin),

    // Partial correlation — does x relate to y AFTER controlling for z?
    // (agg_corr_matrix reports marginals; confounding is THE reason
    // marginals lie): planted x and y driven ONLY by the shared z, so
    // the marginal is strong and the partial is null — exactly the
    // confounder signature. Everything from ten exact power sums;
    // r² reported sign-safe (the agg_mcc square law); the partial's
    // S-products exceed DECIMAL(38,0) when squared, so both engines
    // apply the SAME declared ÷10⁶ scale-down DIV before squaring
    // (scaled-integer truncation — deterministic by construction).
    Op("agg_partial_corr", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("z", expr(s"${md5Bits("pcz", "doc_id", 8)} % 100"))
        .withColumn("x", expr(s"z + ${md5Bits("pcx", "doc_id", 8)} % 50"))
        .withColumn("y", expr(s"z + ${md5Bits("pcy", "doc_id", 8)} % 50"))
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
          sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
          sum(expr("z * z")).as("szz"), sum(expr("x * y")).as("sxy"),
          sum(expr("x * z")).as("sxz"), sum(expr("y * z")).as("syz"))
        .withColumn("cxx", expr("n * sxx - sx * sx"))
        .withColumn("cyy", expr("n * syy - sy * sy"))
        .withColumn("czz", expr("n * szz - sz * sz"))
        .withColumn("cxy", expr("n * sxy - sx * sy"))
        .withColumn("cxz", expr("n * sxz - sx * sz"))
        .withColumn("cyz", expr("n * syz - sy * sz"))
        .withColumn("rxy2_ppm", expr(
          """CASE WHEN cxy >= 0
             THEN (CAST(cxy AS DECIMAL(38,0)) * cxy * 1000000) DIV (CAST(cxx AS DECIMAL(38,0)) * cyy)
             ELSE -((CAST(0 - cxy AS DECIMAL(38,0)) * (0 - cxy) * 1000000) DIV (CAST(cxx AS DECIMAL(38,0)) * cyy))
             END""").cast("long"))
        .withColumn("pnum_s", expr(
          "(CAST(cxy AS DECIMAL(38,0)) * czz - CAST(cxz AS DECIMAL(38,0)) * cyz) DIV 1000000"))
        .withColumn("pd1_s", expr(
          "(CAST(cxx AS DECIMAL(38,0)) * czz - CAST(cxz AS DECIMAL(38,0)) * cxz) DIV 1000000"))
        .withColumn("pd2_s", expr(
          "(CAST(cyy AS DECIMAL(38,0)) * czz - CAST(cyz AS DECIMAL(38,0)) * cyz) DIV 1000000"))
        .withColumn("partial2_ppm", expr(
          """CASE WHEN pd1_s <= 0 OR pd2_s <= 0 THEN CAST(0 AS BIGINT)
             WHEN pnum_s >= 0
             THEN (CAST(pnum_s AS DECIMAL(38,0)) * pnum_s * 1000000)
                  DIV (CAST(pd1_s AS DECIMAL(38,0)) * pd2_s)
             ELSE -((CAST(0 - pnum_s AS DECIMAL(38,0)) * (0 - pnum_s) * 1000000)
                  DIV (CAST(pd1_s AS DECIMAL(38,0)) * pd2_s))
             END""").cast("long"))
        .withColumn("marginal_strong", col("rxy2_ppm") > 250000L)
        .withColumn("confounder_detected",
          col("rxy2_ppm") > 250000L && abs(col("partial2_ppm")) < 50000L)
        .select("n", "cxy", "cxz", "cyz", "rxy2_ppm", "partial2_ppm",
          "marginal_strong", "confounder_detected")
    },
      // Same ten power sums, same declared ÷10⁶ scale-down before squaring.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("pcz", "doc_id", 8)} % 100 AS z
        |  FROM documents),
        |v AS (SELECT z,
        |    z + ${duckMd5Bits("pcx", "doc_id", 8)} % 50 AS x,
        |    z + ${duckMd5Bits("pcy", "doc_id", 8)} % 50 AS y
        |  FROM t),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(z) AS BIGINT) AS sz,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(z * z) AS BIGINT) AS szz, CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * z) AS BIGINT) AS sxz, CAST(SUM(y * z) AS BIGINT) AS syz
        |  FROM v),
        |c AS (SELECT n, n * sxy - sx * sy AS cxy, n * sxz - sx * sz AS cxz,
        |    n * syz - sy * sz AS cyz, n * sxx - sx * sx AS cxx,
        |    n * syy - sy * sy AS cyy, n * szz - sz * sz AS czz FROM a),
        |p AS (SELECT *,
        |    CASE WHEN cxy >= 0
        |      THEN (CAST(cxy AS HUGEINT) * cxy * 1000000) // (CAST(cxx AS HUGEINT) * cyy)
        |      ELSE -((CAST(0 - cxy AS HUGEINT) * (0 - cxy) * 1000000) // (CAST(cxx AS HUGEINT) * cyy))
        |    END AS rxy2_ppm,
        |    (CAST(cxy AS HUGEINT) * czz - CAST(cxz AS HUGEINT) * cyz) // 1000000 AS pnum_s,
        |    (CAST(cxx AS HUGEINT) * czz - CAST(cxz AS HUGEINT) * cxz) // 1000000 AS pd1_s,
        |    (CAST(cyy AS HUGEINT) * czz - CAST(cyz AS HUGEINT) * cyz) // 1000000 AS pd2_s
        |  FROM c),
        |q AS (SELECT *,
        |    CASE WHEN pd1_s <= 0 OR pd2_s <= 0 THEN CAST(0 AS HUGEINT)
        |      WHEN pnum_s >= 0 THEN (pnum_s * pnum_s * 1000000) // (pd1_s * pd2_s)
        |      ELSE -(((0 - pnum_s) * (0 - pnum_s) * 1000000) // (pd1_s * pd2_s))
        |    END AS partial2_ppm FROM p)
        |SELECT n, cxy, cxz, cyz, CAST(rxy2_ppm AS BIGINT) AS rxy2_ppm,
        |  CAST(partial2_ppm AS BIGINT) AS partial2_ppm,
        |  rxy2_ppm > 250000 AS marginal_strong,
        |  rxy2_ppm > 250000 AND ABS(partial2_ppm) < 50000 AS confounder_detected
        |FROM q""".stripMargin),

    // Cronbach's alpha — the internal-consistency grade every survey /
    // multi-item eval battery reports (do the k items measure ONE
    // construct?): 4 planted items = shared true score + item noise,
    // α = k/(k−1)·(1 − Σσᵢ²/σ_total²) fully rational in the n²-cleared
    // variance sums — one sign-safe DIV to ppm — and the α > 0.7
    // publishing bar fully cross-multiplied.
    Op("agg_cronbach_alpha", (s, d) => {
      val t = (1 to 4).foldLeft(
        Tables.documents(s, d).select(col("doc_id"))
          .withColumn("tt", expr(s"${md5Bits("cat", "doc_id", 8)} % 100"))) { (df, j) =>
        df.withColumn(s"i$j", expr(s"tt + ${md5Bits("ca" + j, "doc_id", 8)} % 50"))
      }.withColumn("tot", expr("i1 + i2 + i3 + i4"))
      t.agg(count(lit(1)).as("n"),
          sum("i1").as("s1"), sum(expr("i1 * i1")).as("q1"),
          sum("i2").as("s2"), sum(expr("i2 * i2")).as("q2"),
          sum("i3").as("s3"), sum(expr("i3 * i3")).as("q3"),
          sum("i4").as("s4"), sum(expr("i4 * i4")).as("q4"),
          sum("tot").as("st"), sum(expr("tot * tot")).as("qt"))
        .withColumn("v_items", expr(
          "(n * q1 - s1 * s1) + (n * q2 - s2 * s2) + (n * q3 - s3 * s3) + (n * q4 - s4 * s4)"))
        .withColumn("v_total", expr("n * qt - st * st"))
        .withColumn("alpha_ppm", expr(
          """CASE WHEN v_total - v_items >= 0
             THEN (CAST(v_total - v_items AS DECIMAL(38,0)) * 4 * 1000000) DIV (CAST(v_total AS DECIMAL(38,0)) * 3)
             ELSE -((CAST(v_items - v_total AS DECIMAL(38,0)) * 4 * 1000000) DIV (CAST(v_total AS DECIMAL(38,0)) * 3))
             END""").cast("long"))
        .withColumn("reliable", expr(
          "CAST(v_total - v_items AS DECIMAL(38,0)) * 4 * 10 > CAST(v_total AS DECIMAL(38,0)) * 3 * 7"))
        .select("n", "v_items", "v_total", "alpha_ppm", "reliable")
    },
      // Same n²-cleared variance sums, same cross-multiplied 0.7 bar.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("cat", "doc_id", 8)} % 100 AS tt
        |  FROM documents),
        |i AS (SELECT
        |    tt + ${duckMd5Bits("ca1", "doc_id", 8)} % 50 AS i1,
        |    tt + ${duckMd5Bits("ca2", "doc_id", 8)} % 50 AS i2,
        |    tt + ${duckMd5Bits("ca3", "doc_id", 8)} % 50 AS i3,
        |    tt + ${duckMd5Bits("ca4", "doc_id", 8)} % 50 AS i4
        |  FROM t),
        |s AS (SELECT i1, i2, i3, i4, i1 + i2 + i3 + i4 AS tot FROM i),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(i1) AS BIGINT) AS s1, CAST(SUM(i1 * i1) AS BIGINT) AS q1,
        |    CAST(SUM(i2) AS BIGINT) AS s2, CAST(SUM(i2 * i2) AS BIGINT) AS q2,
        |    CAST(SUM(i3) AS BIGINT) AS s3, CAST(SUM(i3 * i3) AS BIGINT) AS q3,
        |    CAST(SUM(i4) AS BIGINT) AS s4, CAST(SUM(i4 * i4) AS BIGINT) AS q4,
        |    CAST(SUM(tot) AS BIGINT) AS st, CAST(SUM(tot * tot) AS BIGINT) AS qt
        |  FROM s),
        |v AS (SELECT n,
        |    (n * q1 - s1 * s1) + (n * q2 - s2 * s2) + (n * q3 - s3 * s3) + (n * q4 - s4 * s4) AS v_items,
        |    n * qt - st * st AS v_total FROM a)
        |SELECT n, v_items, v_total,
        |  CAST(CASE WHEN v_total - v_items >= 0
        |    THEN (CAST(v_total - v_items AS HUGEINT) * 4 * 1000000) // (CAST(v_total AS HUGEINT) * 3)
        |    ELSE -((CAST(v_items - v_total AS HUGEINT) * 4 * 1000000) // (CAST(v_total AS HUGEINT) * 3))
        |  END AS BIGINT) AS alpha_ppm,
        |  CAST(v_total - v_items AS HUGEINT) * 4 * 10 > CAST(v_total AS HUGEINT) * 3 * 7 AS reliable
        |FROM v""".stripMargin),

    // Regression leverage / influence audit — WHICH points own the OLS
    // fit agg_regression reports (five planted far-x points; leverage,
    // not residual, is what a robustness review reads first): hᵢ = 1/n +
    // (xᵢ−x̄)²/Sxx with the h > 4/n rule-of-thumb cleared to the exact
    // integer comparison dev² > 3·CXX (dev = n·xᵢ − Σx, CXX = n·Σx² −
    // (Σx)² — no mean ever materializes), leverage reported in ppm with
    // the two declared DIV truncations. One broadcast scalar attach.
    Op("agg_regression_influence", (s, d) => {
      val pts = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("x", expr(
          s"IF(doc_id < 5, 5000 + doc_id * 100, ${md5Bits("rix", "doc_id", 8)} % 1000)"))
        .withColumn("y", expr(s"2 * x + 100 + ${md5Bits("rin", "doc_id", 8)} % 101 - 50"))
      val tot = pts.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum(expr("x * x")).as("sx2"))
        .withColumn("cxx", expr("n * sx2 - sx * sx"))
      pts.crossJoin(broadcast(tot)) // single-row scalar attach
        .withColumn("dev", expr("n * x - sx"))
        .where(expr("CAST(dev AS DECIMAL(38,0)) * dev > CAST(3 AS DECIMAL(38,0)) * cxx"))
        .withColumn("leverage_ppm", expr(
          """(CAST(dev AS DECIMAL(38,0)) * dev * 1000000) DIV (CAST(n AS DECIMAL(38,0)) * cxx)
             + 1000000 DIV n""").cast("long"))
        .select("doc_id", "x", "y", "leverage_ppm")
        .orderBy("doc_id")
    },
      // Same cleared leverage rule, same two declared truncations.
      s"""WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id < 5 THEN 5000 + doc_id * 100
        |      ELSE ${duckMd5Bits("rix", "doc_id", 8)} % 1000
        |    END AS x
        |  FROM documents),
        |py AS (SELECT doc_id, x,
        |    2 * x + 100 + ${duckMd5Bits("rin", "doc_id", 8)} % 101 - 50 AS y
        |  FROM p),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sx2 FROM py),
        |c AS (SELECT n, sx, n * sx2 - sx * sx AS cxx FROM t),
        |f AS (SELECT doc_id, x, y, n * x - sx AS dev, n, cxx FROM py CROSS JOIN c
        |  WHERE CAST(n * x - sx AS HUGEINT) * (n * x - sx) > CAST(3 AS HUGEINT) * cxx)
        |SELECT doc_id, x, y,
        |  CAST((CAST(dev AS HUGEINT) * dev * 1000000) // (CAST(n AS HUGEINT) * cxx)
        |    + 1000000 // n AS BIGINT) AS leverage_ppm
        |FROM f ORDER BY doc_id""".stripMargin),

    // Pinball (quantile) loss — the scoring rule for QUANTILE forecasts
    // (agg_mape_smape grades point forecasts; capacity planning quotes
    // p90s, and pinball is the proper score for them): planted uniform
    // demand, forecaster A quotes the TRUE p90 (900), forecaster B
    // quotes the median as if it were the p90 — the asymmetric 9:1 loss
    // kept exact by the ×10 scaling law (10·L = 9·overage or 1·
    // underage, all integers), per-type ledger; A must win everywhere.
    Op("agg_pinball_loss", (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          expr(s"${md5Bits("pb", "event_id", 8)} % 1000").as("a"))
        .withColumn("la_x10", expr("IF(a >= 900, 9 * (a - 900), 900 - a)"))
        .withColumn("lb_x10", expr("IF(a >= 500, 9 * (a - 500), 500 - a)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("la_x10").as("loss_a_x10"), sum("lb_x10").as("loss_b_x10"))
        .withColumn("calibrated_wins", col("loss_a_x10") < col("loss_b_x10"))
        .orderBy("event_type")
    },
      // Same planted demand, same ×10 asymmetric loss.
      s"""WITH e AS (SELECT event_type,
        |    ${duckMd5Bits("pb", "event_id", 8)} % 1000 AS a
        |  FROM events),
        |l AS (SELECT event_type,
        |    CASE WHEN a >= 900 THEN 9 * (a - 900) ELSE 900 - a END AS la_x10,
        |    CASE WHEN a >= 500 THEN 9 * (a - 500) ELSE 500 - a END AS lb_x10
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(la_x10) AS BIGINT) AS loss_a_x10,
        |  CAST(SUM(lb_x10) AS BIGINT) AS loss_b_x10,
        |  SUM(la_x10) < SUM(lb_x10) AS calibrated_wins
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Durbin–Watson — the serial-correlation alarm every regression
    // report carries (agg_acf plots the whole correlogram; DW is the
    // single 0–4 number referees look at, ≈2(1−ρ)): the SAME planted
    // values measured under two orderings — a slow triangular drift
    // (time order; successive diffs tiny → DW ≪ 2) and an md5 shuffle
    // of identical values (diffs ≈ white → DW ≈ 2) — so the statistic's
    // entire signal is the ORDERING, proven on one dataset. Cleared
    // exactly: dw_milli = n·Σdiff²·1000 DIV (n·Σx² − Sx²); the Σdiff²
    // window is the standard per-type partitioned sort.
    Op("agg_durbin_watson", (s, d) => {
      def series(ordCol: String, label: String) = {
        val w = Window.partitionBy("event_type").orderBy(col(ordCol), col("event_id"))
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("ts_us"),
            expr(md5Bits("dwk", "event_id", 8)).as("hk"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))).cast("bigint"))
          .withColumn("x", expr("5 * abs(rn % 200 - 100) + hk % 20"))
          .withColumn("df", col("x") - lag("x", 1).over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum(expr("x * x")).as("sxx"),
            sum(expr("df * df")).as("sd2"))
          .withColumn("series", lit(label))
      }
      series("ts_us", "time_ordered").unionByName(series("hk", "shuffled"))
        .withColumn("dw_milli", expr(
          "(CAST(n AS DECIMAL(38,0)) * sd2 * 1000) DIV (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)").cast("long"))
        .withColumn("autocorrelated", col("dw_milli") < 1000L)
        .select("event_type", "series", "n", "sd2", "dw_milli", "autocorrelated")
        .orderBy("event_type", "series")
    },
      // Same one dataset, same two orderings, same cleared milli DIV.
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    ${duckMd5Bits("dwk", "event_id", 8)} AS hk
        |  FROM events),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ts_us, event_id) AS BIGINT) AS rn FROM e),
        |x AS (SELECT *, 5 * ABS(rn % 200 - 100) + hk % 20 AS x FROM r),
        |t AS (SELECT event_type, 'time_ordered' AS series,
        |    x - LAG(x, 1) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS df, x
        |  FROM x
        |  UNION ALL
        |  SELECT event_type, 'shuffled' AS series,
        |    x - LAG(x, 1) OVER (PARTITION BY event_type ORDER BY hk, event_id) AS df, x
        |  FROM x),
        |a AS (SELECT event_type, series, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(df * df) AS BIGINT) AS sd2
        |  FROM t GROUP BY 1, 2)
        |SELECT event_type, series, n, sd2,
        |  CAST((CAST(n AS HUGEINT) * sd2 * 1000)
        |    // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS dw_milli,
        |  (CAST(n AS HUGEINT) * sd2 * 1000)
        |    // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) < 1000 AS autocorrelated
        |FROM a ORDER BY event_type, series""".stripMargin),

    // Fleiss' kappa — multi-rater agreement (agg_cohens_kappa stops at
    // TWO raters; every labeling pipeline runs 3+ and Fleiss is the
    // number the annotation report quotes): 3 planted raters with 80%
    // fidelity to a latent label, per-item category counts n_ic, and κ
    // cleared COMPLETELY to one sign-safe DIV — κ = (3AN − 2S) /
    // (18N² − 2S) with A = ΣᵢΣ_c n_ic(n_ic−1) and S = ΣT_c², both exact
    // integers (the 6N / 9N² denominators cancel into the single
    // rational).
    Op("agg_fleiss_kappa", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("truth", expr(s"${md5Bits("fkt", "doc_id", 8)} % 3"))
      val rated = (1 to 3).foldLeft(t) { (df, r) =>
        df.withColumn(s"r$r", expr(
          s"IF(${md5Bits("fkf" + r, "doc_id", 8)} % 10 < 8, truth, (truth + 1 + ${md5Bits("fko" + r, "doc_id", 8)} % 2) % 3)"))
      }
      val counted = (0 to 2).foldLeft(rated) { (df, c) =>
        df.withColumn(s"n$c", expr(
          s"IF(r1 = $c, 1, 0) + IF(r2 = $c, 1, 0) + IF(r3 = $c, 1, 0)"))
      }.withColumn("pairs", expr("n0 * (n0 - 1) + n1 * (n1 - 1) + n2 * (n2 - 1)"))
      counted.agg(count(lit(1)).as("n_items"),
          sum("pairs").as("a"),
          sum("n0").as("t0"), sum("n1").as("t1"), sum("n2").as("t2"))
        .withColumn("s2", expr("t0 * t0 + t1 * t1 + t2 * t2"))
        .withColumn("kappa_ppm", expr(
          """CASE WHEN 3 * a * n_items - 2 * s2 >= 0
             THEN (CAST(3 AS DECIMAL(38,0)) * a * n_items - CAST(2 AS DECIMAL(38,0)) * s2) * 1000000
                  DIV (CAST(18 AS DECIMAL(38,0)) * n_items * n_items - CAST(2 AS DECIMAL(38,0)) * s2)
             ELSE -((CAST(2 AS DECIMAL(38,0)) * s2 - CAST(3 AS DECIMAL(38,0)) * a * n_items) * 1000000
                  DIV (CAST(18 AS DECIMAL(38,0)) * n_items * n_items - CAST(2 AS DECIMAL(38,0)) * s2))
             END""").cast("long"))
        .withColumn("substantial", col("kappa_ppm") > 400000L)
        .select("n_items", "a", "s2", "kappa_ppm", "substantial")
    },
      // Same 3-rater plant, same single-rational clearing.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("fkt", "doc_id", 8)} % 3 AS truth
        |  FROM documents),
        |r AS (SELECT doc_id, truth,
        |    CASE WHEN ${duckMd5Bits("fkf1", "doc_id", 8)} % 10 < 8
        |      THEN truth ELSE (truth + 1 + ${duckMd5Bits("fko1", "doc_id", 8)} % 2) % 3 END AS r1,
        |    CASE WHEN ${duckMd5Bits("fkf2", "doc_id", 8)} % 10 < 8
        |      THEN truth ELSE (truth + 1 + ${duckMd5Bits("fko2", "doc_id", 8)} % 2) % 3 END AS r2,
        |    CASE WHEN ${duckMd5Bits("fkf3", "doc_id", 8)} % 10 < 8
        |      THEN truth ELSE (truth + 1 + ${duckMd5Bits("fko3", "doc_id", 8)} % 2) % 3 END AS r3
        |  FROM t),
        |c AS (SELECT
        |    CASE WHEN r1 = 0 THEN 1 ELSE 0 END + CASE WHEN r2 = 0 THEN 1 ELSE 0 END + CASE WHEN r3 = 0 THEN 1 ELSE 0 END AS n0,
        |    CASE WHEN r1 = 1 THEN 1 ELSE 0 END + CASE WHEN r2 = 1 THEN 1 ELSE 0 END + CASE WHEN r3 = 1 THEN 1 ELSE 0 END AS n1,
        |    CASE WHEN r1 = 2 THEN 1 ELSE 0 END + CASE WHEN r2 = 2 THEN 1 ELSE 0 END + CASE WHEN r3 = 2 THEN 1 ELSE 0 END AS n2
        |  FROM r),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(n0 * (n0 - 1) + n1 * (n1 - 1) + n2 * (n2 - 1)) AS BIGINT) AS a,
        |    CAST(SUM(n0) AS BIGINT) AS t0, CAST(SUM(n1) AS BIGINT) AS t1,
        |    CAST(SUM(n2) AS BIGINT) AS t2
        |  FROM c),
        |k AS (SELECT n_items, a, t0 * t0 + t1 * t1 + t2 * t2 AS s2 FROM a)
        |SELECT n_items, a, s2,
        |  CAST(CASE WHEN 3 * a * n_items - 2 * s2 >= 0
        |    THEN (CAST(3 AS HUGEINT) * a * n_items - CAST(2 AS HUGEINT) * s2) * 1000000
        |         // (CAST(18 AS HUGEINT) * n_items * n_items - CAST(2 AS HUGEINT) * s2)
        |    ELSE -((CAST(2 AS HUGEINT) * s2 - CAST(3 AS HUGEINT) * a * n_items) * 1000000
        |         // (CAST(18 AS HUGEINT) * n_items * n_items - CAST(2 AS HUGEINT) * s2))
        |  END AS BIGINT) AS kappa_ppm,
        |  CAST(CASE WHEN 3 * a * n_items - 2 * s2 >= 0
        |    THEN (CAST(3 AS HUGEINT) * a * n_items - CAST(2 AS HUGEINT) * s2) * 1000000
        |         // (CAST(18 AS HUGEINT) * n_items * n_items - CAST(2 AS HUGEINT) * s2)
        |    ELSE -((CAST(2 AS HUGEINT) * s2 - CAST(3 AS HUGEINT) * a * n_items) * 1000000
        |         // (CAST(18 AS HUGEINT) * n_items * n_items - CAST(2 AS HUGEINT) * s2))
        |  END AS BIGINT) > 400000 AS substantial
        |FROM k""".stripMargin),

    // Kendall's W — concordance across m RANKERS (agg_kendall_tau
    // correlates two; a judge panel needs the m-way number): 4 planted
    // judges scoring 8 items with an index-proportional skill signal,
    // per-judge ranks by an 8-row window, rank sums R_i, and
    // W = 12·ΣD²/(m²(k³−k)) with D = R_i − m(k+1)/2 — every quantity an
    // exact integer (m(k+1)/2 = 18 here), one DIV to ppm.
    Op("agg_kendall_w", (s, d) => {
      val items = Tables.documents(s, d).where(col("doc_id") < 8)
        .select(col("doc_id").as("item"))
      val judges = broadcast(s.range(0, 4).select(col("id").as("judge")))
      val scored = items.crossJoin(judges)
        .withColumn("score", expr(
          s"${md5Bits("concat('kw:', CAST(judge AS STRING), ':', CAST(item AS STRING))", 8)} % 1000 + item * 400"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("judge").orderBy(col("score"), col("item"))).cast("bigint"))
      scored.groupBy("item").agg(sum("rk").as("r_sum"))
        .withColumn("d", col("r_sum") - lit(18L)) // m(k+1)/2 = 4·9/2
        .agg(count(lit(1)).as("k"), sum(expr("d * d")).as("sum_d2"))
        .withColumn("m", lit(4L))
        // m²(k³−k) = 16·504 = 8064
        .withColumn("w_ppm", expr("12 * sum_d2 * 1000000 DIV 8064"))
        .withColumn("concordant", col("w_ppm") > 700000L)
        .select("k", "m", "sum_d2", "w_ppm", "concordant")
    },
      // Same 8-item judge panel, same exact rank sums.
      s"""WITH items AS (SELECT doc_id AS item FROM documents WHERE doc_id < 8),
        |j AS (SELECT CAST(v AS BIGINT) AS judge FROM generate_series(0, 3) s(v)),
        |sc AS (SELECT item, judge,
        |    ${duckMd5Bits("'kw:' || CAST(judge AS VARCHAR) || ':' || CAST(item AS VARCHAR)", 8)} % 1000
        |      + item * 400 AS score
        |  FROM items CROSS JOIN j),
        |rk AS (SELECT item, CAST(ROW_NUMBER() OVER (PARTITION BY judge
        |      ORDER BY score, item) AS BIGINT) AS rk FROM sc),
        |rs AS (SELECT item, SUM(rk) - 18 AS d FROM rk GROUP BY item),
        |w AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(d * d) AS BIGINT) AS sum_d2 FROM rs)
        |SELECT k, CAST(4 AS BIGINT) AS m, sum_d2,
        |  12 * sum_d2 * 1000000 // 8064 AS w_ppm,
        |  12 * sum_d2 * 1000000 // 8064 > 700000 AS concordant
        |FROM w""".stripMargin),

    // Bland–Altman — method-agreement analysis (do two instruments
    // measure the SAME thing?): planted +20 bias with two-tier noise
    // (10% heavy tail so the limits actually exclude something), bias
    // in exact milli, and the outside-limits count via the fully
    // cross-multiplied per-row test (n·dᵢ − Sd)²·10⁴ > 38416·(nΣd²−Sd²)
    // — population variance, no sqrt, no float.
    Op("agg_bland_altman", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("diff", expr(
          s"""20 + IF(${md5Bits("bao", "doc_id", 8)} % 10 = 0,
                ${md5Bits("ban", "doc_id", 8)} % 181 - 90, ${md5Bits("ban", "doc_id", 8)} % 61 - 30)"""))
      val tot = t.agg(count(lit(1)).as("n"), sum("diff").as("sd"),
        sum(expr("diff * diff")).as("sd2"))
      t.crossJoin(broadcast(tot)) // single-row scalar attach
        .withColumn("outside", expr(
          """CAST(n * diff - sd AS DECIMAL(38,0)) * (n * diff - sd) * 10000
             > CAST(38416 AS DECIMAL(38,0)) * (n * sd2 - sd * sd)"""))
        .groupBy("n", "sd", "sd2")
        .agg(sum(when(col("outside"), 1L).otherwise(0L)).as("n_outside"))
        .withColumn("bias_milli", expr(
          """CASE WHEN sd >= 0 THEN sd * 1000 DIV n
             ELSE -((0 - sd) * 1000 DIV n) END"""))
        .withColumn("outside_ppm", expr("n_outside * 1000000 DIV n"))
        .select("n", "bias_milli", "n_outside", "outside_ppm")
    },
      // Same two-tier noise, same cross-multiplied limits test.
      s"""WITH t AS (SELECT doc_id,
        |    20 + CASE WHEN ${duckMd5Bits("bao", "doc_id", 8)} % 10 = 0
        |      THEN ${duckMd5Bits("ban", "doc_id", 8)} % 181 - 90
        |      ELSE ${duckMd5Bits("ban", "doc_id", 8)} % 61 - 30
        |    END AS diff
        |  FROM documents),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(diff) AS BIGINT) AS sd,
        |    CAST(SUM(diff * diff) AS BIGINT) AS sd2 FROM t),
        |o AS (SELECT n, sd, sd2,
        |    CAST(SUM(CASE WHEN CAST(n * diff - sd AS HUGEINT) * (n * diff - sd) * 10000
        |      > CAST(38416 AS HUGEINT) * (n * sd2 - sd * sd) THEN 1 ELSE 0 END) AS BIGINT) AS n_outside
        |  FROM t CROSS JOIN a GROUP BY 1, 2, 3)
        |SELECT n,
        |  CASE WHEN sd >= 0 THEN sd * 1000 // n ELSE -((0 - sd) * 1000 // n) END AS bias_milli,
        |  n_outside, n_outside * 1000000 // n AS outside_ppm
        |FROM o""".stripMargin),

    // Tail dependence — do extremes CO-OCCUR? (agg_corr_matrix measures
    // the middle of the distribution; risk lives in the joint tail, and
    // a Gaussian copula's tail dependence is ZERO no matter the
    // correlation): a shared SPIKE REGIME (z > 90 lifts both series by
    // +100) vs an independent pair with private spikes, λ̂ =
    // P(y > T | x > T) at the fixed documented extreme cut T = 150 —
    // pure counts, two integer DIVs, no rank window anywhere (the cut
    // is by VALUE, so no global sort exists to bottleneck at scale).
    // Analytic: λ_dep ≈ P(noise > 50) ≈ 0.49; λ_ind ≈ 0.09·0.49 ≈ 0.04.
    Op("agg_tail_dependence", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("z", expr(s"${md5Bits("tdz", "doc_id", 8)} % 100"))
        .withColumn("x", expr(s"IF(z > 90, 100, 0) + ${md5Bits("tdx", "doc_id", 8)} % 100"))
        .withColumn("y", expr(s"IF(z > 90, 100, 0) + ${md5Bits("tdy", "doc_id", 8)} % 100"))
        .withColumn("x2", expr(
          s"IF(${md5Bits("tdu", "doc_id", 8)} % 100 > 90, 100, 0) + ${md5Bits("tdv", "doc_id", 8)} % 100"))
        .withColumn("y2", expr(
          s"IF(${md5Bits("tdw", "doc_id", 8)} % 100 > 90, 100, 0) + ${md5Bits("tdq", "doc_id", 8)} % 100"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") > 150, 1L).otherwise(0L)).as("nx"),
          sum(when(col("x") > 150 && col("y") > 150, 1L).otherwise(0L)).as("nxy"),
          sum(when(col("x2") > 150, 1L).otherwise(0L)).as("nx2"),
          sum(when(col("x2") > 150 && col("y2") > 150, 1L).otherwise(0L)).as("nxy2"))
        .withColumn("lambda_dep_ppm", expr("nxy * 1000000 DIV nx"))
        .withColumn("lambda_ind_ppm", expr("nxy2 * 1000000 DIV nx2"))
        .withColumn("tail_dependent", col("lambda_dep_ppm") > col("lambda_ind_ppm") * 3)
        .select("n", "nx", "nxy", "nx2", "nxy2",
          "lambda_dep_ppm", "lambda_ind_ppm", "tail_dependent")
    },
      // Same fixed value cut, same pure-count conditionals.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("tdz", "doc_id", 8)} % 100 AS z
        |  FROM documents),
        |v AS (SELECT
        |    CASE WHEN z > 90 THEN 100 ELSE 0 END
        |      + ${duckMd5Bits("tdx", "doc_id", 8)} % 100 AS x,
        |    CASE WHEN z > 90 THEN 100 ELSE 0 END
        |      + ${duckMd5Bits("tdy", "doc_id", 8)} % 100 AS y,
        |    CASE WHEN ${duckMd5Bits("tdu", "doc_id", 8)} % 100 > 90 THEN 100 ELSE 0 END
        |      + ${duckMd5Bits("tdv", "doc_id", 8)} % 100 AS x2,
        |    CASE WHEN ${duckMd5Bits("tdw", "doc_id", 8)} % 100 > 90 THEN 100 ELSE 0 END
        |      + ${duckMd5Bits("tdq", "doc_id", 8)} % 100 AS y2
        |  FROM t),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN x > 150 THEN 1 ELSE 0 END) AS BIGINT) AS nx,
        |    CAST(SUM(CASE WHEN x > 150 AND y > 150 THEN 1 ELSE 0 END) AS BIGINT) AS nxy,
        |    CAST(SUM(CASE WHEN x2 > 150 THEN 1 ELSE 0 END) AS BIGINT) AS nx2,
        |    CAST(SUM(CASE WHEN x2 > 150 AND y2 > 150 THEN 1 ELSE 0 END) AS BIGINT) AS nxy2
        |  FROM v)
        |SELECT n, nx, nxy, nx2, nxy2,
        |  nxy * 1000000 // nx AS lambda_dep_ppm,
        |  nxy2 * 1000000 // nx2 AS lambda_ind_ppm,
        |  nxy * 1000000 // nx > (nxy2 * 1000000 // nx2) * 3 AS tail_dependent
        |FROM a""".stripMargin),

    // Lin's CCC — concordance correlation (agg_bland_altman plots the
    // disagreement; CCC is the single number that punishes BOTH scatter
    // and location shift, which Pearson forgives): the same latent pair
    // measured twice — once aligned, once with a planted +10 shift —
    // CCC = 2Cxy / (Cxx + Cyy + (Sx−Sy)²) — ONE exact rational (the n²
    // clearing makes the mean-shift term (Sx−Sy)², no mean ever
    // materializes), sign-safe DIV to ppm; the shift must cost CCC.
    Op("agg_lin_ccc", (s, d) => {
      def pair(shift: Int, label: String) =
        Tables.documents(s, d).select(col("doc_id"))
          .withColumn("z", expr(s"${md5Bits("lcz", "doc_id", 8)} % 100"))
          .withColumn("x", expr(s"z + ${md5Bits("lcx", "doc_id", 8)} % 30"))
          .withColumn("y", expr(s"z + ${md5Bits("lcy", "doc_id", 8)} % 30 + $shift"))
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
            sum(expr("x * y")).as("sxy"))
          .withColumn("pair", lit(label))
      pair(0, "aligned").unionByName(pair(10, "shifted"))
        .withColumn("cxy", expr("n * sxy - sx * sy"))
        .withColumn("cxx", expr("n * sxx - sx * sx"))
        .withColumn("cyy", expr("n * syy - sy * sy"))
        .withColumn("ccc_ppm", expr(
          """CASE WHEN cxy >= 0
             THEN (CAST(2 AS DECIMAL(38,0)) * cxy * 1000000)
                  DIV (CAST(cxx AS DECIMAL(38,0)) + cyy + CAST(sx - sy AS DECIMAL(38,0)) * (sx - sy))
             ELSE -((CAST(2 AS DECIMAL(38,0)) * (0 - cxy) * 1000000)
                  DIV (CAST(cxx AS DECIMAL(38,0)) + cyy + CAST(sx - sy AS DECIMAL(38,0)) * (sx - sy)))
             END""").cast("long"))
        .select("pair", "n", "cxy", "ccc_ppm")
        .orderBy("pair")
    },
      // Same n²-cleared single rational, same shift penalty.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("lcz", "doc_id", 8)} % 100 AS z,
        |    ${duckMd5Bits("lcx", "doc_id", 8)} % 30 AS ex,
        |    ${duckMd5Bits("lcy", "doc_id", 8)} % 30 AS ey
        |  FROM documents),
        |p AS (SELECT 'aligned' AS pair, 0 AS shift FROM (VALUES (1)) s(v)
        |  UNION ALL SELECT 'shifted', 10 FROM (VALUES (1)) s(v)),
        |a AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(z + ex) AS BIGINT) AS sx,
        |    CAST(SUM(z + ey + shift) AS BIGINT) AS sy,
        |    CAST(SUM((z + ex) * (z + ex)) AS BIGINT) AS sxx,
        |    CAST(SUM((z + ey + shift) * (z + ey + shift)) AS BIGINT) AS syy,
        |    CAST(SUM((z + ex) * (z + ey + shift)) AS BIGINT) AS sxy
        |  FROM t CROSS JOIN p GROUP BY pair),
        |c AS (SELECT pair, n, n * sxy - sx * sy AS cxy,
        |    n * sxx - sx * sx AS cxx, n * syy - sy * sy AS cyy,
        |    sx - sy AS ds FROM a)
        |SELECT pair, n, cxy,
        |  CAST(CASE WHEN cxy >= 0
        |    THEN (CAST(2 AS HUGEINT) * cxy * 1000000)
        |         // (CAST(cxx AS HUGEINT) + cyy + CAST(ds AS HUGEINT) * ds)
        |    ELSE -((CAST(2 AS HUGEINT) * (0 - cxy) * 1000000)
        |         // (CAST(cxx AS HUGEINT) + cyy + CAST(ds AS HUGEINT) * ds))
        |  END AS BIGINT) AS ccc_ppm
        |FROM c ORDER BY pair""".stripMargin),

    // Theil's U2 — is the forecaster better than the NAIVE carry-forward?
    // (agg_mape_smape scores a forecast in isolation; U2 scores it
    // against the benchmark that costs nothing): the 2-bar smoother
    // f_t = (a_{t−1} + a_{t−2}) DIV 2 vs naive f_t = a_{t−1} on the
    // per-type cent series, U2² = Σ(f−a)² / Σ(naive−a)² as one exact
    // ppm DIV per type — squared form declared (no sqrt exists), and
    // on an i.i.d.-ish series the smoother's 1.5σ² must beat the
    // naive's 2σ².
    Op("agg_theil_u2", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("a"))
        .withColumn("p1", lag("a", 1).over(ord))
        .withColumn("p2", lag("a", 2).over(ord))
        .where(col("p2").isNotNull)
        .withColumn("f", expr("(p1 + p2) DIV 2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(expr("(f - a) * (f - a)")).as("sse_model"),
          sum(expr("(p1 - a) * (p1 - a)")).as("sse_naive"))
        .withColumn("u2_sq_ppm", expr(
          "(CAST(sse_model AS DECIMAL(38,0)) * 1000000) DIV sse_naive").cast("long"))
        .withColumn("beats_naive", col("sse_model") < col("sse_naive"))
        .select("event_type", "n", "sse_model", "sse_naive", "u2_sq_ppm", "beats_naive")
        .orderBy("event_type")
    },
      // Same 2-bar smoother vs naive, same squared-form ppm.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS a FROM events),
        |l AS (SELECT *, LAG(a, 1) OVER o AS p1, LAG(a, 2) OVER o AS p2
        |  FROM e WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |f AS (SELECT event_type, a, p1, (p1 + p2) // 2 AS f FROM l WHERE p2 IS NOT NULL),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM((f - a) * (f - a)) AS BIGINT) AS sse_model,
        |    CAST(SUM((p1 - a) * (p1 - a)) AS BIGINT) AS sse_naive
        |  FROM f GROUP BY 1)
        |SELECT event_type, n, sse_model, sse_naive,
        |  CAST((CAST(sse_model AS HUGEINT) * 1000000) // sse_naive AS BIGINT) AS u2_sq_ppm,
        |  sse_model < sse_naive AS beats_naive
        |FROM g ORDER BY event_type""".stripMargin),

    // Stratified ATE — the causal estimate a confounded A/B needs
    // (agg_ab_ttest assumes randomization; real logs don't have it):
    // planted propensity RISING with stratum z (20%→80%) while z also
    // lifts the outcome — the naive diff-in-means is biased UP by
    // construction, and stratification removes exactly that bias.
    // Per-stratum diff cleared to one sign-safe milli DIV (per-term
    // truncation declared, 5 strata), ATE = the n_z-weighted average in
    // one more DIV; truth +30 recovered, naive bias flagged.
    Op("agg_stratified_ate", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("z", expr(s"${md5Bits("saz", "doc_id", 8)} % 5"))
        .withColumn("t", expr(s"IF(${md5Bits("sat", "doc_id", 8)} % 100 < 20 + 15 * z, 1, 0)"))
        .withColumn("y", expr(s"100 + 30 * t + 20 * z + ${md5Bits("say", "doc_id", 8)} % 21 - 10"))
      val strata = t.groupBy("z")
        .agg(count(lit(1)).as("nz"),
          sum(col("t")).as("n1"),
          sum(expr("1 - t")).as("n0"),
          sum(expr("t * y")).as("sy1"),
          sum(expr("(1 - t) * y")).as("sy0"))
        .withColumn("diff_milli", expr(
          """CASE WHEN sy1 * n0 - sy0 * n1 >= 0
             THEN (sy1 * n0 - sy0 * n1) * 1000 DIV (n1 * n0)
             ELSE -((sy0 * n1 - sy1 * n0) * 1000 DIV (n1 * n0)) END"""))
      val naive = t.agg(
          sum(col("t")).as("m1"), sum(expr("1 - t")).as("m0"),
          sum(expr("t * y")).as("ty"), sum(expr("(1 - t) * y")).as("cy"))
        .withColumn("naive_milli", expr("(ty * m0 - cy * m1) * 1000 DIV (m1 * m0)"))
        .select("naive_milli")
      strata.agg(sum("nz").as("n"),
          sum(expr("nz * diff_milli")).as("wsum"))
        .withColumn("ate_milli", expr(
          """CASE WHEN wsum >= 0 THEN wsum DIV n
             ELSE -((0 - wsum) DIV n) END"""))
        .crossJoin(broadcast(naive)) // single-row scalar attach
        .withColumn("bias_detected", col("naive_milli") > col("ate_milli") + 5000L)
        .select("n", "ate_milli", "naive_milli", "bias_detected")
    },
      // Same 5-stratum clearing, same declared per-term milli truncation.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("saz", "doc_id", 8)} % 5 AS z
        |  FROM documents),
        |v AS (SELECT z,
        |    CASE WHEN ${duckMd5Bits("sat", "doc_id", 8)} % 100
        |      < 20 + 15 * z THEN 1 ELSE 0 END AS t,
        |    ${duckMd5Bits("say", "doc_id", 8)} % 21 - 10 AS e
        |  FROM t),
        |y AS (SELECT z, t, 100 + 30 * t + 20 * z + e AS y FROM v),
        |s AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS nz,
        |    CAST(SUM(t) AS BIGINT) AS n1, CAST(SUM(1 - t) AS BIGINT) AS n0,
        |    CAST(SUM(t * y) AS BIGINT) AS sy1, CAST(SUM((1 - t) * y) AS BIGINT) AS sy0
        |  FROM y GROUP BY z),
        |dm AS (SELECT *, CASE WHEN sy1 * n0 - sy0 * n1 >= 0
        |    THEN (sy1 * n0 - sy0 * n1) * 1000 // (n1 * n0)
        |    ELSE -((sy0 * n1 - sy1 * n0) * 1000 // (n1 * n0)) END AS diff_milli
        |  FROM s),
        |ate AS (SELECT CAST(SUM(nz) AS BIGINT) AS n,
        |    CAST(SUM(nz * diff_milli) AS BIGINT) AS wsum FROM dm),
        |nv AS (SELECT CAST(SUM(t) AS BIGINT) AS m1, CAST(SUM(1 - t) AS BIGINT) AS m0,
        |    CAST(SUM(t * y) AS BIGINT) AS ty, CAST(SUM((1 - t) * y) AS BIGINT) AS cy
        |  FROM y)
        |SELECT n,
        |  CASE WHEN wsum >= 0 THEN wsum // n ELSE -((0 - wsum) // n) END AS ate_milli,
        |  (ty * m0 - cy * m1) * 1000 // (m1 * m0) AS naive_milli,
        |  (ty * m0 - cy * m1) * 1000 // (m1 * m0)
        |    > (CASE WHEN wsum >= 0 THEN wsum // n ELSE -((0 - wsum) // n) END) + 5000 AS bias_detected
        |FROM ate CROSS JOIN nv""".stripMargin),

    // MMD over discrete buckets — distribution shift as a DISTANCE
    // (agg_ks_drift reports the max gap, agg_tv_distance the L1; the
    // squared-kernel MMD is what gradient-based shift detectors use):
    // treatment sample with 40% of its mass collapsed onto bucket 0 vs
    // a control split of the SAME distribution (the null), MMD² =
    // Σ_b (ca_b·nb − cb_b·na)² cleared over (na·nb)² under
    // DECIMAL(38,0), reported in e12 units; shift must dominate the
    // null by an order of magnitude. Two groupBys, one 10-row join.
    Op("agg_mmd_buckets", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("half", expr("doc_id % 2"))
        .withColumn("base", expr(s"${md5Bits("mmb", "doc_id", 8)} % 10"))
        .withColumn("shifted", expr(s"IF(${md5Bits("mms", "doc_id", 8)} % 10 < 4, 0, base)"))
      def mmd(colA: String, whereA: String, colB: String, whereB: String) = {
        val a = t.where(expr(whereA)).groupBy(expr(colA).as("b"))
          .agg(count(lit(1)).as("ca"))
        val b = t.where(expr(whereB)).groupBy(expr(colB).as("b"))
          .agg(count(lit(1)).as("cb"))
        a.join(b, Seq("b"), "full_outer")
          .na.fill(0L, Seq("ca", "cb"))
          .agg(sum("ca").as("na"), sum("cb").as("nb"),
            collect_list(struct(col("b"), col("ca"), col("cb"))).as("bs"))
          .withColumn("mmd2_e12", expr(
            """aggregate(bs, CAST(0 AS DECIMAL(38,0)),
               (acc, e) -> acc + CAST(e.ca * nb - e.cb * na AS DECIMAL(38,0)) * (e.ca * nb - e.cb * na))
               * 1000000000000 DIV (CAST(na AS DECIMAL(38,0)) * na * nb * nb)""").cast("long"))
          .select("na", "nb", "mmd2_e12")
      }
      val shift = mmd("base", "half = 0", "shifted", "half = 1")
        .withColumnRenamed("mmd2_e12", "mmd2_shift_e12")
        .withColumnRenamed("na", "n_base").withColumnRenamed("nb", "n_shift")
      val nul = mmd("base", "half = 0", "base", "half = 1")
        .select(col("mmd2_e12").as("mmd2_null_e12"))
      shift.crossJoin(broadcast(nul))
        .withColumn("shift_detected",
          col("mmd2_shift_e12") > col("mmd2_null_e12") * 10)
        .select("n_base", "n_shift", "mmd2_shift_e12", "mmd2_null_e12", "shift_detected")
    },
      // Same bucket counts, same (ca·nb − cb·na)² clearing, plain SQL sum.
      s"""WITH t AS (SELECT doc_id, doc_id % 2 AS half,
        |    ${duckMd5Bits("mmb", "doc_id", 8)} % 10 AS base,
        |    CASE WHEN ${duckMd5Bits("mms", "doc_id", 8)} % 10 < 4
        |      THEN 0 ELSE ${duckMd5Bits("mmb", "doc_id", 8)} % 10
        |    END AS shifted
        |  FROM documents),
        |sa AS (SELECT base AS b, CAST(COUNT(*) AS BIGINT) AS ca FROM t WHERE half = 0 GROUP BY 1),
        |sb AS (SELECT shifted AS b, CAST(COUNT(*) AS BIGINT) AS cb FROM t WHERE half = 1 GROUP BY 1),
        |sj AS (SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM sa FULL OUTER JOIN sb ON sa.b = sb.b),
        |sm AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
        |    SUM(CAST(0 AS HUGEINT)) AS zero FROM sj),
        |shift AS (SELECT na, nb,
        |    CAST((SELECT SUM(CAST(ca * nb - cb * na AS HUGEINT) * (ca * nb - cb * na)) FROM sj)
        |      * 1000000000000 // (CAST(na AS HUGEINT) * na * nb * nb) AS BIGINT) AS mmd2_shift_e12
        |  FROM sm),
        |na_ AS (SELECT base AS b, CAST(COUNT(*) AS BIGINT) AS ca FROM t WHERE half = 0 GROUP BY 1),
        |nb_ AS (SELECT base AS b, CAST(COUNT(*) AS BIGINT) AS cb FROM t WHERE half = 1 GROUP BY 1),
        |nj AS (SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM na_ FULL OUTER JOIN nb_ ON na_.b = nb_.b),
        |nm AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM nj),
        |nul AS (SELECT
        |    CAST((SELECT SUM(CAST(ca * nb - cb * na AS HUGEINT) * (ca * nb - cb * na)) FROM nj)
        |      * 1000000000000 // (CAST(na AS HUGEINT) * na * nb * nb) AS BIGINT) AS mmd2_null_e12
        |  FROM nm)
        |SELECT na AS n_base, nb AS n_shift, mmd2_shift_e12, mmd2_null_e12,
        |  mmd2_shift_e12 > mmd2_null_e12 * 10 AS shift_detected
        |FROM shift CROSS JOIN nul""".stripMargin),

    // SPC control-chart rules — Western Electric 1 & 4, the shop-floor
    // alarm grammar (win_zscore_outlier flags points; SPC flags
    // PATTERNS): planted spikes (every 97th event) for rule 1 and a
    // planted 12-bar drift segment for rule 4, centerline and sigma as
    // the n²-cleared sums so rule 1 is the exact comparison
    // (n·x − Sx)² > 9·(nΣx²−Sx²) and rule 4 is an 8-bar rolling count
    // of the exact side test n·x > Sx. One scalar attach, one
    // partitioned sort; flagged-point ledger per type.
    Op("win_spc_rules", (s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"))
        .withColumn("rn0", row_number().over(
          Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))).cast("bigint"))
        .withColumn("x", expr(
          s"""500 + ${md5Bits("spn", "event_id", 8)} % 41 - 20
              + IF(event_id % 97 = 0, 150, 0)
              + IF(rn0 % 250 < 12, 40, 0)"""))
      val tot = base.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum(expr("x * x")).as("sxx"))
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      base.join(broadcast(tot), "event_type")
        .withColumn("rule1", expr(
          """CAST(n * x - sx AS DECIMAL(38,0)) * (n * x - sx)
             > CAST(9 AS DECIMAL(38,0)) * (n * sxx - sx * sx)"""))
        .withColumn("above", when(expr("n * x > sx"), 1L).otherwise(0L))
        .withColumn("run8", sum("above").over(ord.rowsBetween(-7, 0)))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("rule4", col("rn") >= 8 && (col("run8") === 8L || col("run8") === 0L))
        .where(col("rule1") || col("rule4"))
        .select("event_type", "event_id", "x", "rule1", "rule4")
        .orderBy("event_type", "event_id")
    },
      // Same planted spikes/drift, same cleared rule comparisons.
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn0
        |  FROM events),
        |x AS (SELECT *, 500 + ${duckMd5Bits("spn", "event_id", 8)} % 41 - 20
        |    + CASE WHEN event_id % 97 = 0 THEN 150 ELSE 0 END
        |    + CASE WHEN rn0 % 250 < 12 THEN 40 ELSE 0 END AS x
        |  FROM e),
        |t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM x GROUP BY 1),
        |j AS (SELECT x.*, t.n, t.sx, t.sxx,
        |    CAST(n * x - sx AS HUGEINT) * (n * x - sx)
        |      > CAST(9 AS HUGEINT) * (n * sxx - sx * sx) AS rule1,
        |    CASE WHEN n * x > sx THEN 1 ELSE 0 END AS above
        |  FROM x JOIN t USING (event_type)),
        |w AS (SELECT *, CAST(SUM(above) OVER (PARTITION BY event_type
        |      ORDER BY ts_us, event_id ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS BIGINT) AS run8,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ts_us, event_id) AS BIGINT) AS rn
        |  FROM j)
        |SELECT event_type, event_id, x, rule1,
        |  rn >= 8 AND (run8 = 8 OR run8 = 0) AS rule4
        |FROM w WHERE rule1 OR (rn >= 8 AND (run8 = 8 OR run8 = 0))
        |ORDER BY event_type, event_id""".stripMargin),

    // Chandelier exit — the volatility-scaled trailing stop (win_donchian
    // trails the raw extreme; the chandelier backs off by 3 ATRs so
    // normal noise doesn't stop you out): stop×14 = 14·HH22 − 3·ATR×14,
    // everything in the ×14 scaling law (no division ever), exit signal
    // = 14·close < stop×14. One partitioned sort, two rows-frames.
    Op("win_chandelier_exit", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("h", expr(s"cents + ${md5Bits("ceh", "event_id", 8)} % 50"))
        .withColumn("l", expr(s"cents - ${md5Bits("cel", "event_id", 8)} % 50"))
        .withColumn("pc", coalesce(lag("cents", 1).over(ord), col("cents")))
        .withColumn("tr", expr("greatest(h - l, abs(h - pc), abs(l - pc))"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("atr_x14", sum("tr").over(ord.rowsBetween(-13, 0)))
        .withColumn("hh22", max("h").over(ord.rowsBetween(-21, 0)))
        .withColumn("stop_x14", expr("14 * hh22 - 3 * atr_x14"))
        .withColumn("exit_signal", expr("14 * cents < stop_x14"))
        .where(col("rn") >= 22 && col("event_id") % 11 === 5)
        .select("event_type", "event_id", "cents", "hh22", "atr_x14",
          "stop_x14", "exit_signal")
        .orderBy("event_type", "event_id")
    },
      // Same ×14 scaling, same 22-bar trail, same 3-ATR backoff.
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (SELECT *,
        |    cents + ${duckMd5Bits("ceh", "event_id", 8)} % 50 AS h,
        |    cents - ${duckMd5Bits("cel", "event_id", 8)} % 50 AS l
        |  FROM e),
        |p AS (SELECT *, COALESCE(LAG(cents, 1) OVER o, cents) AS pc,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn
        |  FROM h WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |tr AS (SELECT *, GREATEST(h - l, ABS(h - pc), ABS(l - pc)) AS tr FROM p),
        |a AS (SELECT *,
        |    CAST(SUM(tr) OVER w14 AS BIGINT) AS atr_x14,
        |    CAST(MAX(h) OVER w22 AS BIGINT) AS hh22
        |  FROM tr WINDOW
        |    w14 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
        |    w22 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 21 PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id, cents, hh22, atr_x14,
        |  14 * hh22 - 3 * atr_x14 AS stop_x14,
        |  14 * cents < 14 * hh22 - 3 * atr_x14 AS exit_signal
        |FROM a WHERE rn >= 22 AND event_id % 11 = 5
        |ORDER BY event_type, event_id""".stripMargin),

    // Empirical Q–Q points — "are these two distributions the SAME
    // SHAPE?" read off quantile-vs-quantile (agg_ks_drift gives one
    // max-gap number; this gives the nine points an analyst actually
    // plots): per-type rank windows, decile values by the exact
    // lower-quantile rank pick rn = 1 + (n−1)·q DIV 10, click-vs-view
    // paired by decile with the exact cent gap. Two partitioned rank
    // windows, one 9-row join.
    Op("agg_qq_points", (s, d) => {
      def deciles(t: String, xName: String) = {
        val w = Window.partitionBy("event_type").orderBy("cents", "event_id")
        Tables.events(s, d).where(col("event_type") === t)
          .select(col("event_type"), col("event_id"),
            floor(col("value") * 100).cast("bigint").as("cents"))
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")).cast("bigint"))
          .crossJoin(broadcast(s.range(1, 10).select(col("id").as("q"))))
          .where(col("rn") === expr("1 + (n - 1) * q DIV 10"))
          .select(col("q"), col("cents").as(xName))
      }
      deciles("click", "click_cents").join(deciles("view", "view_cents"), "q")
        .withColumn("gap_cents", col("click_cents") - col("view_cents"))
        .orderBy("q")
    },
      // Same rank picks, same decile pairing.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE event_type IN ('click', 'view')),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM e),
        |q AS (SELECT CAST(q AS BIGINT) AS q FROM generate_series(1, 9) t(q)),
        |ck AS (SELECT q, cents AS click_cents FROM r JOIN q
        |  ON rn = 1 + (n - 1) * q // 10 WHERE event_type = 'click'),
        |vw AS (SELECT q, cents AS view_cents FROM r JOIN q
        |  ON rn = 1 + (n - 1) * q // 10 WHERE event_type = 'view')
        |SELECT ck.q, click_cents, view_cents,
        |  click_cents - view_cents AS gap_cents
        |FROM ck JOIN vw ON ck.q = vw.q ORDER BY ck.q""".stripMargin),

    // Floor-trader pivot points — the support/resistance ladder computed
    // from the PRIOR day's OHLC (agg_ohlc_candles builds the candles;
    // this trades off them): everything ×3-SCALED so the (H+L+C)/3 pivot
    // never materializes a third (the agg_tukey_fences ×2 law), R1/S1/
    // R2/S2 ladders in exact scaled cents, and the next day's close
    // graded against R1 for the breakout verdict. One per-type day
    // window.
    Op("win_pivot_points", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"),
          floor(col("value") * 100).cast("bigint").as("cents"),
          expr("((ts_us DIV 1000000) % 86400) * 1099511627776 + event_id").as("ok"))
        .groupBy("event_type", "day")
        .agg(max("cents").as("h"), min("cents").as("l"),
          expr("max_by(cents, ok)").as("c"))
        .withColumn("p3", expr("h + l + c"))
        .withColumn("r1_3", expr("2 * p3 - 3 * l"))
        .withColumn("s1_3", expr("2 * p3 - 3 * h"))
        .withColumn("r2_3", expr("p3 + 3 * (h - l)"))
        .withColumn("s2_3", expr("p3 - 3 * (h - l)"))
        .withColumn("next_c", lead("c", 1).over(w))
        .where(col("next_c").isNotNull && col("day") % 12 === 5)
        .withColumn("breakout_up", expr("3 * next_c > r1_3"))
        .withColumn("breakdown", expr("3 * next_c < s1_3"))
        .select("event_type", "day", "p3", "r1_3", "s1_3", "r2_3", "s2_3",
          "breakout_up", "breakdown")
        .orderBy("event_type", "day")
    },
      // Same ×3-scaled ladder, same day-scoped positional close key.
      """WITH e AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    ((epoch_us(ts) // 1000000) % 86400) * 1099511627776 + event_id AS ok
        |  FROM events),
        |o AS (SELECT event_type, day, MAX(cents) AS h, MIN(cents) AS l,
        |    arg_max(cents, ok) AS c
        |  FROM e GROUP BY 1, 2),
        |p AS (SELECT *, h + l + c AS p3,
        |    lead(c) OVER (PARTITION BY event_type ORDER BY day) AS next_c
        |  FROM o)
        |SELECT event_type, day, p3,
        |  2 * p3 - 3 * l AS r1_3, 2 * p3 - 3 * h AS s1_3,
        |  p3 + 3 * (h - l) AS r2_3, p3 - 3 * (h - l) AS s2_3,
        |  3 * next_c > 2 * p3 - 3 * l AS breakout_up,
        |  3 * next_c < 2 * p3 - 3 * h AS breakdown
        |FROM p WHERE next_c IS NOT NULL AND day % 12 = 5
        |ORDER BY event_type, day""".stripMargin),

    // Kaplan–Meier product-limit estimator — the right-censoring-aware
    // survival curve (agg_survival_table buckets a life table; this is
    // the ESTIMATOR the table approximates): PLANTED md5 lifetimes
    // (0–99 days) right-censored at the fixed 60-day study horizon
    // (~40% censoring, so the estimator has real work at every scale —
    // the observed first-to-last-event span censors nearly everyone on
    // a uniformly-active fixture), cohorts by user_id % 3. S folds over
    // the ordered death times as S′ = S·(n_t−d_t) DIV n_t in ppm
    // (non-negative DIV; a SCALAR accumulator, but the elements are
    // structs, so the oracle still replays via RECURSIVE CTE per the
    // round-10 fold law). At-risk counts come from one descending
    // cumulative window per cohort — no per-time rescan.
    Op("agg_kaplan_meier", (s, d) => {
      val lab = Tables.events(s, d).select("user_id").distinct()
        .withColumn("dur_raw", expr(
          s"${md5Bits("km", "user_id", 8)} % 100"))
        .select((col("user_id") % 3).as("cohort"),
          least(col("dur_raw"), lit(60L)).as("dur"),
          when(col("dur_raw") <= 60, 1L).otherwise(0L).as("ev"))
      val byDur = lab.groupBy("cohort", "dur")
        .agg(count(lit(1)).as("n_here"), sum("ev").as("d"))
      val wAtRisk = Window.partitionBy("cohort").orderBy(desc("dur"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val times = byDur
        .withColumn("r", sum("n_here").over(wAtRisk))
        .where(col("d") > 0)
      val folded = times.groupBy("cohort")
        .agg(count(lit(1)).as("n_death_times"),
          expr("sort_array(collect_list(named_struct('t', dur, 'd', d, 'r', r)))").as("steps"))
        .withColumn("s_ppm", expr(
          """aggregate(steps, CAST(1000000 AS BIGINT),
             (acc, e) -> acc * (e.r - e.d) DIV e.r)"""))
      val cohorts = lab.groupBy("cohort")
        .agg(count(lit(1)).as("n_users"), sum("ev").as("n_events"),
          sum(expr("1 - ev")).as("n_censored"))
      cohorts.join(folded, "cohort")
        .select("cohort", "n_users", "n_events", "n_censored",
          "n_death_times", "s_ppm")
        .orderBy("cohort")
    },
      // Same planted lifetimes, same at-risk cumulative, same ppm product
      // fold — replayed as a RECURSIVE CTE over the death-time index
      // (struct elements, so list_reduce is out per the fold law).
      s"""WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events),
        |pl AS (SELECT user_id,
        |    ${duckMd5Bits("km", "user_id", 8)} % 100 AS dur_raw
        |  FROM u),
        |lab AS (SELECT user_id % 3 AS cohort, LEAST(dur_raw, 60) AS dur,
        |    CASE WHEN dur_raw <= 60 THEN 1 ELSE 0 END AS evt
        |  FROM pl),
        |bd AS (SELECT cohort, dur, CAST(COUNT(*) AS BIGINT) AS n_here,
        |    CAST(SUM(evt) AS BIGINT) AS d FROM lab GROUP BY 1, 2),
        |tm AS (SELECT cohort, dur, d,
        |    CAST(SUM(n_here) OVER (PARTITION BY cohort ORDER BY dur DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r
        |  FROM bd),
        |dt AS (SELECT cohort, dur, d, r,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY dur) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY cohort) AS BIGINT) AS nt
        |  FROM tm WHERE d > 0),
        |f(coh, frn, s_ppm) AS (
        |  SELECT cohort, CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
        |  FROM (SELECT DISTINCT cohort FROM dt)
        |  UNION ALL
        |  SELECT dt.cohort, dt.rn, f.s_ppm * (dt.r - dt.d) // dt.r
        |  FROM f JOIN dt ON dt.cohort = f.coh AND dt.rn = f.frn + 1
        |),
        |fin AS (SELECT coh AS cohort, s_ppm FROM f
        |  JOIN (SELECT cohort AS c2, MAX(nt) AS nt FROM dt GROUP BY 1) q
        |    ON q.c2 = f.coh AND f.frn = q.nt),
        |co AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(evt) AS BIGINT) AS n_events,
        |    CAST(SUM(1 - evt) AS BIGINT) AS n_censored
        |  FROM lab GROUP BY 1),
        |ndt AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_death_times
        |  FROM dt GROUP BY 1)
        |SELECT co.cohort, n_users, n_events, n_censored, n_death_times, s_ppm
        |FROM co JOIN ndt ON co.cohort = ndt.cohort
        |JOIN fin ON fin.cohort = co.cohort
        |ORDER BY co.cohort""".stripMargin),

    // Ulcer index — the DRAWDOWN-depth volatility measure (win_drawdown
    // reports the max; this integrates the squares — the metric that
    // punishes long deep valleys over brief dips): per-type daily means
    // (DIV-frozen), running peak, drawdown in exact basis points, and
    // ulcer = sqrt(Σdd²/n) as ONE sqrt over the exact integer rational
    // (the agg_jarque_bera law). One per-type window shuffle.
    Op("win_ulcer_index", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"))
        .agg(sum(floor(col("value") * 100).cast("bigint")).as("sc"),
          count(lit(1)).as("nd"))
        .withColumn("x", expr("sc DIV nd"))
        .withColumn("peak", max("x").over(w))
        .withColumn("dd_bp", expr("(peak - x) * 10000 DIV peak"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          max("dd_bp").as("max_dd_bp"),
          sum(expr("dd_bp * dd_bp")).as("sum_dd2"))
        .withColumn("ulcer_bp", expr(
          "sqrt(CAST(sum_dd2 AS DOUBLE) / CAST(n_days AS DOUBLE))"))
        .select("event_type", "n_days", "max_dd_bp", "sum_dd2", "ulcer_bp")
        .orderBy("event_type")
    },
      // Same frozen daily means, same bp drawdowns, same one-sqrt rational.
      """WITH daily AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sc,
        |    CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT event_type, day, sc // nd AS x FROM daily),
        |p AS (SELECT *, CAST(MAX(x) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
        |  FROM x),
        |dd AS (SELECT event_type, (peak - x) * 10000 // peak AS dd_bp FROM p),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(MAX(dd_bp) AS BIGINT) AS max_dd_bp,
        |    CAST(SUM(dd_bp * dd_bp) AS BIGINT) AS sum_dd2
        |  FROM dd GROUP BY 1)
        |SELECT event_type, n_days, max_dd_bp, sum_dd2,
        |  sqrt(CAST(sum_dd2 AS DOUBLE) / CAST(n_days AS DOUBLE)) AS ulcer_bp
        |FROM g ORDER BY event_type""".stripMargin),

    // CUSUM changepoint LOCATOR — "the mean shifted WHERE?" (win_cusum
    // raises the alarm; this finds the split): centered cumulative sums
    // over the daily series with deviations cleared of the mean division
    // (n·x − S exact), the best split = argmax |CS_t| recovered from ONE
    // composite max (|cs|·2²⁰ + reversed rn so ties break to the EARLIEST
    // day — both engines by the same integer order), and the before/after
    // means DIV-frozen to milli for the shift ledger. The series is
    // O(days) bounded metadata; the one global window sorts ≤ hundreds
    // of rows.
    Op("agg_changepoint", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"))
        .agg(sum(floor(col("value") * 100).cast("bigint")).as("sc"),
          count(lit(1)).as("nd"))
        .withColumn("x", expr("sc DIV nd"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("stot"))
      val w = Window.orderBy("day")
      val cs = daily.crossJoin(broadcast(tot))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("cs", sum(expr("n * x - stot")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("day"), col("rn"), col("n"), col("x"), col("cs"))
      val best = cs.agg(max(expr("abs(cs) * 1048576 + (1048575 - rn)")).as("amax"))
        .select(expr("1048575 - (amax % 1048576)").as("best_rn"),
          expr("amax DIV 1048576").as("best_abs_cs"))
      val bestRow = cs.crossJoin(broadcast(best))
        .where(col("rn") === col("best_rn"))
        .select(col("day").as("split_day"), col("best_rn"), col("best_abs_cs"),
          col("n"))
      cs.crossJoin(broadcast(bestRow.drop("n")))
        .groupBy("split_day", "best_rn", "best_abs_cs")
        .agg(max("n").as("n"),
          sum(when(col("rn") <= col("best_rn"), col("x")).otherwise(0L)).as("s_before"),
          sum(when(col("rn") > col("best_rn"), col("x")).otherwise(0L)).as("s_after"))
        .select(col("n"), col("split_day"), col("best_rn"), col("best_abs_cs"),
          expr("s_before * 1000 DIV best_rn").as("mean_before_milli"),
          expr("CASE WHEN n = best_rn THEN CAST(0 AS BIGINT) ELSE s_after * 1000 DIV (n - best_rn) END").as("mean_after_milli"))
    },
      // Same cleared cumsum, same composite earliest-tie argmax, same
      // DIV-frozen shift ledger.
      """WITH daily AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sc,
        |    CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM events GROUP BY 1),
        |x AS (SELECT day, sc // nd AS x FROM daily),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS stot FROM x),
        |c AS (SELECT day, x, n,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn,
        |    CAST(SUM(n * x - stot) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
        |  FROM x CROSS JOIN t),
        |b AS (SELECT CAST(MAX(abs(cs) * 1048576 + (1048575 - rn)) AS BIGINT) AS amax FROM c),
        |bb AS (SELECT 1048575 - (amax % 1048576) AS best_rn,
        |    amax // 1048576 AS best_abs_cs FROM b),
        |sd AS (SELECT c.day AS split_day, bb.best_rn, bb.best_abs_cs
        |  FROM c JOIN bb ON c.rn = bb.best_rn),
        |agg AS (SELECT sd.split_day, sd.best_rn, sd.best_abs_cs,
        |    MAX(c.n) AS n,
        |    CAST(SUM(CASE WHEN c.rn <= sd.best_rn THEN c.x ELSE 0 END) AS BIGINT) AS s_before,
        |    CAST(SUM(CASE WHEN c.rn > sd.best_rn THEN c.x ELSE 0 END) AS BIGINT) AS s_after
        |  FROM c CROSS JOIN sd GROUP BY 1, 2, 3)
        |SELECT n, split_day, best_rn, best_abs_cs,
        |  s_before * 1000 // best_rn AS mean_before_milli,
        |  CAST(CASE WHEN n = best_rn THEN 0
        |    ELSE s_after * 1000 // (n - best_rn) END AS BIGINT) AS mean_after_milli
        |FROM agg""".stripMargin),

    // Lorenz curve POINTS — the distribution agg_gini summarizes to one
    // number, materialized as per-region deciles (the points a fairness
    // dashboard actually draws): same region rank as agg_gini, decile by
    // integer DIV over the attached group count, cumulative share in
    // exact ppm via a 50-row decile window. The per-region rank window is
    // the gini shuffle reused, not a new global sort.
    Op("agg_lorenz_points", (s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)").as("cents"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey"), col("n_regionkey").cast("bigint").as("region"))),
          col("c_nationkey") === col("n_nationkey"))
      val wr = Window.partitionBy("region")
      val ranked = o
        .withColumn("i", row_number().over(wr.orderBy("cents", "o_orderkey")).cast("bigint"))
        .withColumn("nr", count(lit(1)).over(wr).cast("bigint"))
        .withColumn("decile", expr("(i - 1) * 10 DIV nr"))
      val dec = ranked.groupBy("region", "decile")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("dec_cents"))
      val wd = Window.partitionBy("region").orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
      dec
        .withColumn("cum_cents", sum("dec_cents").over(wd))
        .withColumn("tot_cents", sum("dec_cents").over(wr))
        .withColumn("cum_share_ppm", expr("cum_cents * 1000000 DIV tot_cents"))
        .select("region", "decile", "n_orders", "dec_cents", "cum_cents", "cum_share_ppm")
        .orderBy("region", "decile")
    },
      // Same gini rank reused, same decile DIV, same ppm shares.
      """WITH o AS (SELECT o_orderkey, n_regionkey AS region,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey),
        |r AS (SELECT CAST(region AS BIGINT) AS region, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY region ORDER BY cents, o_orderkey) AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER (PARTITION BY region) AS BIGINT) AS nr
        |  FROM o),
        |dc AS (SELECT region, (i - 1) * 10 // nr AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(cents) AS BIGINT) AS dec_cents
        |  FROM r GROUP BY 1, 2),
        |cm AS (SELECT *,
        |    CAST(SUM(dec_cents) OVER (PARTITION BY region ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
        |    CAST(SUM(dec_cents) OVER (PARTITION BY region) AS BIGINT) AS tot_cents
        |  FROM dc)
        |SELECT region, decile, n_orders, dec_cents, cum_cents,
        |  cum_cents * 1000000 // tot_cents AS cum_share_ppm
        |FROM cm ORDER BY region, decile""".stripMargin),

    // Alpha-beta (steady-state Kalman) filter — the constant-gain state
    // estimator beside win_holt_linear's exponential smoother (Holt
    // smooths; this TRACKS through an innovation: predict l+t, correct by
    // gains α=0.2, β=0.1 on the residual): per-type daily series, the
    // 2-component state stepped by an ORDERED HOF fold in integer cents
    // with SIGN-SAFE DIV 10 (residuals go negative), seeded from the
    // first observation. Same struct-state fold law as Holt — the oracle
    // must replay as a RECURSIVE CTE (DuckDB list_reduce mis-binds
    // struct accumulators, probe-verified round 10).
    Op("win_kalman_ab", {
      def sdiv10(e: String, div: String) =
        s"CASE WHEN ($e) >= 0 THEN ($e) $div 10 ELSE -((0 - ($e)) $div 10) END"
      (s: SparkSession, d: String) => {
        val res = "e.l - (acc.l + acc.t)"
        val lNew = s"(acc.l + acc.t) + ${sdiv10(s"2 * ($res)", "DIV")}"
        val tNew = s"acc.t + ${sdiv10(res, "DIV")}"
        Tables.events(s, d)
          .groupBy(col("event_type"),
            expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"))
          .agg(sum(floor(col("value") * 100).cast("bigint")).as("cents"))
          .groupBy("event_type")
          .agg(expr("sort_array(collect_list(named_struct('d', day, 'c', cents)))")
            .as("series"))
          .select(col("event_type"),
            size(col("series")).cast("bigint").as("n_days"),
            expr(s"""aggregate(
                    transform(series, s -> named_struct('l', s.c, 't', CAST(0 AS BIGINT))),
                    named_struct('l', CAST(0 AS BIGINT), 't', CAST(0 AS BIGINT), 'i', CAST(0 AS BIGINT)),
                    (acc, e) -> CASE WHEN acc.i = 0
                      THEN named_struct('l', e.l, 't', CAST(0 AS BIGINT), 'i', CAST(1 AS BIGINT))
                      ELSE named_struct('l', CAST($lNew AS BIGINT), 't', CAST($tNew AS BIGINT), 'i', CAST(1 AS BIGINT)) END)""").as("st"))
          .select(col("event_type"), col("n_days"),
            col("st.l").as("level_cents"), col("st.t").as("trend_cents"),
            (col("st.l") + col("st.t")).as("pred_next_cents"))
          .orderBy("event_type")
      }
    },
      // Same innovation recurrence replayed as a RECURSIVE CTE (the
      // struct-fold law), sign-safe // mirroring sign-safe DIV.
      {
      def sdiv10(e: String) =
        s"CASE WHEN ($e) >= 0 THEN ($e) // 10 ELSE -((0 - ($e)) // 10) END"
      val res = "s.cents - (h.l + h.t)"
      val lNew = s"(h.l + h.t) + ${sdiv10(s"2 * ($res)")}"
      val tNew = s"h.t + ${sdiv10(res)}"
      s"""WITH RECURSIVE e AS (SELECT event_type,
         |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT event_type, cents,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
         |  FROM e),
         |h(het, hrn, l, t) AS (
         |  SELECT event_type, rn, cents, CAST(0 AS BIGINT) FROM s WHERE rn = 1
         |  UNION ALL
         |  SELECT s.event_type, s.rn,
         |    CAST($lNew AS BIGINT), CAST($tNew AS BIGINT)
         |  FROM h JOIN s ON s.event_type = h.het AND s.rn = h.hrn + 1
         |)
         |SELECT h.het AS event_type, s.n_days, h.l AS level_cents,
         |  h.t AS trend_cents, h.l + h.t AS pred_next_cents
         |FROM h JOIN s ON s.event_type = h.het AND s.rn = h.hrn
         |WHERE s.rn = s.n_days
         |ORDER BY event_type""".stripMargin
    }),

    // Ljung–Box portmanteau test — "is this series WHITE NOISE?" (the
    // residual-diagnostics classic; agg_runs_test asks it of signs, this
    // of AUTOCORRELATION): daily mean cents (DIV-frozen), deviations
    // d_t = n·x_t − S exact (cleared of the mean division), lag-1..3
    // autocovariances as exact integer products REDUCED by DIV 10⁶ (the
    // documented fixed-point contract — keeps the cross-multiplied
    // verdict inside DECIMAL(38,0)), Q against χ²₃(.05) = 7.815 fully
    // cross-multiplied. The series is O(days) — bounded metadata — so
    // the one global window is a ≤hundreds-row sort, not a data sort.
    Op("agg_ljung_box", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("CAST(ts_us DIV 86400000000 AS BIGINT)").as("day"))
        .agg(sum(floor(col("value") * 100).cast("bigint")).as("sc"),
          count(lit(1)).as("nd"))
        .withColumn("x", expr("sc DIV nd"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("stot"))
      val w = Window.orderBy("day")
      val dev = daily.crossJoin(broadcast(tot))
        .select(col("day"), col("n"), (col("n") * col("x") - col("stot")).as("dv"))
        .withColumn("d1", lead("dv", 1).over(w))
        .withColumn("d2", lead("dv", 2).over(w))
        .withColumn("d3", lead("dv", 3).over(w))
      dev.groupBy("n")
        .agg(
          sum((col("dv") * col("dv")).cast("decimal(38,0)")).as("c0r_sc"),
          sum((col("dv") * coalesce(col("d1"), lit(0L))).cast("decimal(38,0)")).as("c1r_sc"),
          sum((col("dv") * coalesce(col("d2"), lit(0L))).cast("decimal(38,0)")).as("c2r_sc"),
          sum((col("dv") * coalesce(col("d3"), lit(0L))).cast("decimal(38,0)")).as("c3r_sc"))
        .select(col("n"),
          expr("CAST(CASE WHEN c0r_sc >= 0 THEN c0r_sc DIV 1000000 ELSE -((0 - c0r_sc) DIV 1000000) END AS BIGINT)").as("c0r"),
          expr("CAST(CASE WHEN c1r_sc >= 0 THEN c1r_sc DIV 1000000 ELSE -((0 - c1r_sc) DIV 1000000) END AS BIGINT)").as("c1r"),
          expr("CAST(CASE WHEN c2r_sc >= 0 THEN c2r_sc DIV 1000000 ELSE -((0 - c2r_sc) DIV 1000000) END AS BIGINT)").as("c2r"),
          expr("CAST(CASE WHEN c3r_sc >= 0 THEN c3r_sc DIV 1000000 ELSE -((0 - c3r_sc) DIV 1000000) END AS BIGINT)").as("c3r"))
        .withColumn("num", expr(
          """CAST(c1r AS DECIMAL(38,0)) * c1r * ((n - 2) * (n - 3))
           + CAST(c2r AS DECIMAL(38,0)) * c2r * ((n - 1) * (n - 3))
           + CAST(c3r AS DECIMAL(38,0)) * c3r * ((n - 1) * (n - 2))"""))
        .withColumn("den", expr(
          "CAST(c0r AS DECIMAL(38,0)) * c0r * ((n - 1) * (n - 2) * (n - 3))"))
        .withColumn("q_milli", expr(
          "CAST(1000 * (n * (n + 2)) * num DIV den AS BIGINT)"))
        .withColumn("autocorrelated", expr("1000 * (n * (n + 2)) * num > 7815 * den"))
        .select("n", "c0r", "c1r", "c2r", "c3r", "q_milli", "autocorrelated")
    },
      // Same cleared deviations, same DIV-reduced autocovariances, same
      // cross-multiplied portmanteau verdict.
      """WITH daily AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sc,
        |    CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM events GROUP BY 1),
        |x AS (SELECT day, sc // nd AS x FROM daily),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS stot FROM x),
        |dv AS (SELECT day, n, n * x - stot AS dv FROM x CROSS JOIN t),
        |ld AS (SELECT *, lead(dv, 1) OVER w AS d1, lead(dv, 2) OVER w AS d2,
        |    lead(dv, 3) OVER w AS d3
        |  FROM dv WINDOW w AS (ORDER BY day)),
        |raw AS (SELECT n,
        |    SUM(dv::HUGEINT * dv) AS c0s,
        |    SUM(dv::HUGEINT * COALESCE(d1, 0)) AS c1s,
        |    SUM(dv::HUGEINT * COALESCE(d2, 0)) AS c2s,
        |    SUM(dv::HUGEINT * COALESCE(d3, 0)) AS c3s
        |  FROM ld GROUP BY 1),
        |cs AS (SELECT n,
        |    CAST(CASE WHEN c0s >= 0 THEN c0s // 1000000 ELSE -((0 - c0s) // 1000000) END AS BIGINT) AS c0r,
        |    CAST(CASE WHEN c1s >= 0 THEN c1s // 1000000 ELSE -((0 - c1s) // 1000000) END AS BIGINT) AS c1r,
        |    CAST(CASE WHEN c2s >= 0 THEN c2s // 1000000 ELSE -((0 - c2s) // 1000000) END AS BIGINT) AS c2r,
        |    CAST(CASE WHEN c3s >= 0 THEN c3s // 1000000 ELSE -((0 - c3s) // 1000000) END AS BIGINT) AS c3r
        |  FROM raw),
        |q AS (SELECT *,
        |    c1r::HUGEINT * c1r * ((n - 2) * (n - 3))
        |      + c2r::HUGEINT * c2r * ((n - 1) * (n - 3))
        |      + c3r::HUGEINT * c3r * ((n - 1) * (n - 2)) AS num,
        |    c0r::HUGEINT * c0r * ((n - 1) * (n - 2) * (n - 3)) AS den
        |  FROM cs)
        |SELECT n, c0r, c1r, c2r, c3r,
        |  CAST(1000 * (n * (n + 2)) * num // den AS BIGINT) AS q_milli,
        |  1000 * (n * (n + 2)) * num > 7815 * den AS autocorrelated
        |FROM q""".stripMargin),

    // Kendall's τ-b — the CONCORDANCE-counting rank correlation (Spearman's
    // companion that weighs every pair, not every rank gap): on a 1-in-100
    // order sample, all ordered pairs classify as concordant / discordant /
    // x-tied / y-tied with EXACT integer counts (products of cent and count
    // diffs stay far inside int64), and τ_b = (C−D)/√((n₀−Tx)(n₀−Ty)) is ONE
    // double division over one sqrt of a product of exact ints — both
    // factors < 2⁵³ so the double product is exact and the IEEE result is
    // engine-identical. The pair join is a broadcast nested loop over the
    // small sample (the O(n²) statistic is intentionally sample-bounded; at
    // 100 TB you'd keep exactly this sample-first shape).
    Op("agg_kendall_tau", (s, d) => {
      val counts = Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("cust_orders"))
      val t = Tables.orders(s, d).where(col("o_orderkey") % 100 === 7)
        .join(counts, "o_custkey")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("bigint").as("x"),
          col("cust_orders").as("y"))
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
        .withColumn("tau_b", expr(
          """CASE WHEN n0 > tx AND n0 > ty
             THEN CAST(nc - nd AS DOUBLE)
               / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
             ELSE 0.0 END"""))
    },
      // Same pair classification, same exact-int-product single-sqrt double.
      """WITH cc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cust_orders
        |  FROM orders GROUP BY 1),
        |t AS (SELECT o.o_orderkey AS k,
        |    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS x,
        |    cc.cust_orders AS y
        |  FROM orders o JOIN cc ON cc.o_custkey = o.o_custkey
        |  WHERE o.o_orderkey % 100 = 7),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |    CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        |    CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
        |  FROM t a JOIN t b ON a.k < b.k)
        |SELECT n0, nc, nd, tx, ty,
        |  CASE WHEN n0 > tx AND n0 > ty
        |    THEN CAST(nc - nd AS DOUBLE)
        |      / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
        |    ELSE 0.0 END AS tau_b
        |FROM p""".stripMargin),

    // Kruskal–Wallis H — the k-sample UNPAIRED rank test (one-way ANOVA on
    // ranks; Mann–Whitney generalized past two groups, Friedman's unpaired
    // twin): global ranks over a 1-in-10 order sample use the deterministic
    // (cents, key) tie-break (engine contract — no midrank floats), per-
    // priority rank sums and counts stay exact BIGINTs, and
    // H = 12·ΣRⱼ²/nⱼ / (N(N+1)) − 3(N+1) is a FIXED-SHAPE double expression
    // (five casted divisions summed left-to-right, one final division) —
    // every operand an exact integer, so both engines walk the identical
    // IEEE op sequence. Significance cross-checks H > 9.488 (χ², df=4).
    // The global (x, key) row_number is the two-level banded form (the
    // agg_ks_test law): $100k-band offsets + per-band partitioned
    // row_number — no global sort at any scale.
    Op("agg_kruskal_wallis", (s, d) => {
      val t = Tables.orders(s, d).where(col("o_orderkey") % 10 === 3)
        .select(substring(col("o_orderpriority"), 1, 1).cast("int").as("g"),
          round(col("o_totalprice") * 100).cast("bigint").as("x"),
          col("o_orderkey"))
      val off = t.groupBy(expr("x DIV 10000000").as("bkt"))
        .agg(count(lit(1)).as("bc"))
        .withColumn("off", coalesce(sum("bc").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      val r = t.withColumn("bkt", expr("x DIV 10000000"))
        .join(broadcast(off), "bkt")
        .withColumn("rk", col("off") + row_number().over(
          Window.partitionBy("bkt").orderBy("x", "o_orderkey")).cast("bigint"))
      val aggs = (1 to 5).flatMap { j =>
        Seq(sum(when(col("g") === j, col("rk"))).as(s"r$j"),
          sum(when(col("g") === j, 1L).otherwise(0L)).as(s"n$j"))
      }
      r.agg(count(lit(1)).as("n"), aggs: _*)
        .withColumn("h", expr(
          """12.0 * (CAST(r1*r1 AS DOUBLE) / n1 + CAST(r2*r2 AS DOUBLE) / n2
             + CAST(r3*r3 AS DOUBLE) / n3 + CAST(r4*r4 AS DOUBLE) / n4
             + CAST(r5*r5 AS DOUBLE) / n5)
             / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)"""))
        .withColumn("significant", expr("h > 9.488"))
    },
      // Same key tie-break ranks, same fixed-shape IEEE expression.
      """WITH t AS (SELECT
        |    CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS g,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
        |    o_orderkey
        |  FROM orders WHERE o_orderkey % 10 = 3),
        |r AS (SELECT g,
        |    CAST(ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS BIGINT) AS rk
        |  FROM t),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN g = 1 THEN rk END) AS BIGINT) AS r1,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN g = 2 THEN rk END) AS BIGINT) AS r2,
        |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN g = 3 THEN rk END) AS BIGINT) AS r3,
        |    CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(SUM(CASE WHEN g = 4 THEN rk END) AS BIGINT) AS r4,
        |    CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |    CAST(SUM(CASE WHEN g = 5 THEN rk END) AS BIGINT) AS r5,
        |    CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5
        |  FROM r)
        |SELECT n, r1, n1, r2, n2, r3, n3, r4, n4, r5, n5,
        |  12.0 * (CAST(r1*r1 AS DOUBLE) / n1 + CAST(r2*r2 AS DOUBLE) / n2
        |  + CAST(r3*r3 AS DOUBLE) / n3 + CAST(r4*r4 AS DOUBLE) / n4
        |  + CAST(r5*r5 AS DOUBLE) / n5)
        |  / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1) AS h,
        |  12.0 * (CAST(r1*r1 AS DOUBLE) / n1 + CAST(r2*r2 AS DOUBLE) / n2
        |  + CAST(r3*r3 AS DOUBLE) / n3 + CAST(r4*r4 AS DOUBLE) / n4
        |  + CAST(r5*r5 AS DOUBLE) / n5)
        |  / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1) > 9.488 AS significant
        |FROM m""".stripMargin),

    // Bollinger bands — the rolling mean ± 2σ envelope every monitoring and
    // trading dashboard draws: a single 20-row window per event_type (one
    // shuffle serves count/sum/sum-of-squares), the variance numerator
    // n·Σx²−(Σx)² stays an EXACT integer in cents² (catastrophic
    // cancellation happens in integers, the agg_runs_test law), and the
    // bands are a fixed double expression over exact ints (one sqrt — the
    // sqrt-on-data allowance). Emitted rows subsample 1-in-5 AFTER the
    // window so the frame itself is complete.
    Op("win_bollinger", (s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts_us"), col("event_id")).rowsBetween(-19, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("nw", count(lit(1)).over(w))
        .withColumn("sw", sum("cents").over(w))
        .withColumn("qw", sum(col("cents") * col("cents")).over(w))
        .where(col("nw") === 20 && col("event_id") % 5 === 2)
        .withColumn("var_num", expr("20 * qw - sw * sw"))
        .withColumn("mid", expr("CAST(sw AS DOUBLE) / 20.0"))
        .withColumn("upper_band", expr(
          "CAST(sw AS DOUBLE) / 20.0 + 2.0 * sqrt(CAST(20 * qw - sw * sw AS DOUBLE) / 380.0)"))
        .withColumn("lower_band", expr(
          "CAST(sw AS DOUBLE) / 20.0 - 2.0 * sqrt(CAST(20 * qw - sw * sw AS DOUBLE) / 380.0)"))
        .select("event_type", "event_id", "cents", "sw", "var_num",
          "mid", "upper_band", "lower_band")
        .orderBy("event_type", "event_id")
    },
      // Same exact-integer variance numerator, same single-sqrt bands.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, event_id, cents,
        |    CAST(COUNT(*) OVER win AS BIGINT) AS nw,
        |    CAST(SUM(cents) OVER win AS BIGINT) AS sw,
        |    CAST(SUM(cents * cents) OVER win AS BIGINT) AS qw
        |  FROM e
        |  WINDOW win AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id, cents, sw, 20 * qw - sw * sw AS var_num,
        |  CAST(sw AS DOUBLE) / 20.0 AS mid,
        |  CAST(sw AS DOUBLE) / 20.0
        |    + 2.0 * sqrt(CAST(20 * qw - sw * sw AS DOUBLE) / 380.0) AS upper_band,
        |  CAST(sw AS DOUBLE) / 20.0
        |    - 2.0 * sqrt(CAST(20 * qw - sw * sw AS DOUBLE) / 380.0) AS lower_band
        |FROM w WHERE nw = 20 AND event_id % 5 = 2
        |ORDER BY event_type, event_id""".stripMargin),

    // Cochran's Q — the k-treatment BINARY repeated-measures test (McNemar
    // past two treatments; Friedman's 0/1 specialization): three planted
    // success rates (1/5, 2/5, 3/5) from the shared md5-integer randomness,
    // column totals Cⱼ and row totals Rᵢ exact BIGINTs, and
    // Q = (k−1)(kΣCⱼ²−N²)/(kN−ΣRᵢ²) an EXACT integer rational (numerator
    // ≥ 0 by Cauchy–Schwarz, so DIV == //); df=2 significance
    // cross-multiplies to 1000·num > 5991·den. One scan, one aggregate.
    Op("agg_cochran_q", (s, d) => {
      def x(j: Int) =
        s"(CASE WHEN ${md5Bits(s"cq$j", "doc_id", 8)} % 5 < ${j + 1} THEN 1 ELSE 0 END)"
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("x0", expr(x(0)).cast("long"))
        .withColumn("x1", expr(x(1)).cast("long"))
        .withColumn("x2", expr(x(2)).cast("long"))
        .agg(count(lit(1)).as("n"),
          sum("x0").as("c0"), sum("x1").as("c1"), sum("x2").as("c2"),
          sum(expr("(x0 + x1 + x2) * (x0 + x1 + x2)")).as("sum_r2"))
        .withColumn("nn", expr("c0 + c1 + c2"))
        .withColumn("q_num", expr("2 * (3 * (c0*c0 + c1*c1 + c2*c2) - nn * nn)"))
        .withColumn("q_den", expr("3 * nn - sum_r2"))
        .withColumn("q_milli", expr("1000 * q_num DIV q_den"))
        .withColumn("significant", expr("1000 * q_num > 5991 * q_den"))
    },
      // Same md5 successes, same Cauchy–Schwarz-non-negative rational.
      {
      def x(j: Int) =
        s"(CASE WHEN ${duckMd5Bits(s"cq$j", "doc_id", 8)} % 5 < ${j + 1} THEN 1 ELSE 0 END)"
      s"""WITH t AS (SELECT doc_id,
         |    CAST(${x(0)} AS BIGINT) AS x0,
         |    CAST(${x(1)} AS BIGINT) AS x1,
         |    CAST(${x(2)} AS BIGINT) AS x2
         |  FROM documents),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x0) AS BIGINT) AS c0, CAST(SUM(x1) AS BIGINT) AS c1,
         |    CAST(SUM(x2) AS BIGINT) AS c2,
         |    CAST(SUM((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT) AS sum_r2
         |  FROM t)
         |SELECT n, c0, c1, c2, sum_r2, c0 + c1 + c2 AS nn,
         |  2 * (3 * (c0*c0 + c1*c1 + c2*c2) - (c0+c1+c2) * (c0+c1+c2)) AS q_num,
         |  3 * (c0+c1+c2) - sum_r2 AS q_den,
         |  1000 * (2 * (3 * (c0*c0 + c1*c1 + c2*c2) - (c0+c1+c2) * (c0+c1+c2)))
         |    // (3 * (c0+c1+c2) - sum_r2) AS q_milli,
         |  1000 * (2 * (3 * (c0*c0 + c1*c1 + c2*c2) - (c0+c1+c2) * (c0+c1+c2)))
         |    > 5991 * (3 * (c0+c1+c2) - sum_r2) AS significant
         |FROM m""".stripMargin
    }),

    // Stochastic oscillator — %K = (close−L₁₄)/(H₁₄−L₁₄) with %D its
    // 3-period mean, the overbought/oversold gauge next to win_rsi's
    // momentum and win_bollinger's volatility: rolling 14-row min/max per
    // event_type (one shuffle serves both), %K an exact NON-NEGATIVE ppm
    // DIV, %D the truncated mean of three non-negative ppms (DIV == //),
    // rows kept only once all three %K frames are complete (rn ≥ 16).
    Op("win_stochastic_osc", (s, d) => {
      val ord = Window.partitionBy("event_type")
        .orderBy(col("ts_us"), col("event_id"))
      val w14 = ord.rowsBetween(-13, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("h14", max("cents").over(w14))
        .withColumn("l14", min("cents").over(w14))
        .withColumn("k_ppm", expr(
          "CASE WHEN h14 > l14 THEN (cents - l14) * 1000000 DIV (h14 - l14) ELSE 500000 END"))
        .withColumn("d_ppm", expr(
          "(k_ppm + lag(k_ppm, 1) OVER (PARTITION BY event_type ORDER BY ts_us, event_id)" +
            " + lag(k_ppm, 2) OVER (PARTITION BY event_type ORDER BY ts_us, event_id)) DIV 3"))
        .where(col("rn") >= 16 && col("event_id") % 5 === 1)
        .select("event_type", "event_id", "cents", "h14", "l14", "k_ppm", "d_ppm")
        .orderBy("event_type", "event_id")
    },
      // Same rolling extremes, same non-negative ppm DIVs.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, event_id, ts_us, cents,
        |    CAST(ROW_NUMBER() OVER ord AS BIGINT) AS rn,
        |    CAST(MAX(cents) OVER w14 AS BIGINT) AS h14,
        |    CAST(MIN(cents) OVER w14 AS BIGINT) AS l14
        |  FROM e
        |  WINDOW ord AS (PARTITION BY event_type ORDER BY ts_us, event_id),
        |    w14 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |k AS (SELECT *,
        |    CASE WHEN h14 > l14 THEN (cents - l14) * 1000000 // (h14 - l14)
        |      ELSE 500000 END AS k_ppm
        |  FROM w),
        |dd AS (SELECT *,
        |    (k_ppm + lag(k_ppm, 1) OVER ord2 + lag(k_ppm, 2) OVER ord2) // 3 AS d_ppm
        |  FROM k
        |  WINDOW ord2 AS (PARTITION BY event_type ORDER BY ts_us, event_id))
        |SELECT event_type, event_id, cents, h14, l14, k_ppm, d_ppm
        |FROM dd WHERE rn >= 16 AND event_id % 5 = 1
        |ORDER BY event_type, event_id""".stripMargin),

    // chrF-2 — the character-bigram F-score MT/eval metric (robust to
    // tokenization where BLEU is hostage to it): adjacent even/odd docs
    // pair as (hypothesis, reference), char-bigram MULTISET counts per
    // side, overlap = Σ min(cₕ, cᵣ) via an inner join (absent grams
    // contribute 0), and chrF2 = 5·P·R/(4P+R) CLEARED to the single
    // integer division 5·ov·10⁶ DIV (4·cr + ch) — the em_f1 harmonic-mean
    // clearing law. One explode per side, one (pair, gram) join.
    Op("llm_chrf", (s, d) => {
      def grams(mod: Int) = Tables.documents(s, d)
        .where(col("doc_id") % 20 === mod && length(col("text")) >= 2)
        .select(expr("doc_id DIV 20").as("pair"),
          explode(expr("transform(sequence(1, CAST(length(text) - 1 AS INT)), i -> substring(text, i, 2))")).as("gram"))
        .groupBy("pair", "gram").agg(count(lit(1)).as("c"))
      val h = grams(0).withColumnRenamed("c", "ch_g")
      val r = grams(1).withColumnRenamed("c", "cr_g")
      val totH = h.groupBy("pair").agg(sum("ch_g").as("ch"))
      val totR = r.groupBy("pair").agg(sum("cr_g").as("cr"))
      val ov = h.join(r, Seq("pair", "gram"))
        .groupBy("pair").agg(sum(least(col("ch_g"), col("cr_g"))).as("ov_raw"))
      totH.join(totR, "pair").join(ov, Seq("pair"), "left")
        .withColumn("ov", coalesce(col("ov_raw"), lit(0L)))
        .withColumn("chrf2_ppm", expr("5 * ov * 1000000 DIV (4 * cr + ch)"))
        .select("pair", "ch", "cr", "ov", "chrf2_ppm")
        .orderBy("pair")
    },
      // Same multiset bigrams, same cleared harmonic mean.
      """WITH h AS (SELECT doc_id // 20 AS pair, substring(text, CAST(i AS INTEGER), 2) AS gram,
        |    CAST(COUNT(*) AS BIGINT) AS ch_g
        |  FROM documents, LATERAL (SELECT unnest(range(1, CAST(length(text) AS INT))) AS i) u
        |  WHERE doc_id % 20 = 0 AND length(text) >= 2
        |  GROUP BY 1, 2),
        |r AS (SELECT doc_id // 20 AS pair, substring(text, CAST(i AS INTEGER), 2) AS gram,
        |    CAST(COUNT(*) AS BIGINT) AS cr_g
        |  FROM documents, LATERAL (SELECT unnest(range(1, CAST(length(text) AS INT))) AS i) u
        |  WHERE doc_id % 20 = 1 AND length(text) >= 2
        |  GROUP BY 1, 2),
        |th AS (SELECT pair, CAST(SUM(ch_g) AS BIGINT) AS ch FROM h GROUP BY 1),
        |tr AS (SELECT pair, CAST(SUM(cr_g) AS BIGINT) AS cr FROM r GROUP BY 1),
        |o AS (SELECT h.pair, CAST(SUM(LEAST(h.ch_g, r.cr_g)) AS BIGINT) AS ov_raw
        |  FROM h JOIN r ON h.pair = r.pair AND h.gram = r.gram GROUP BY 1)
        |SELECT th.pair, th.ch, tr.cr,
        |  COALESCE(o.ov_raw, 0) AS ov,
        |  5 * COALESCE(o.ov_raw, 0) * 1000000 // (4 * tr.cr + th.ch) AS chrf2_ppm
        |FROM th JOIN tr ON th.pair = tr.pair
        |LEFT JOIN o ON o.pair = th.pair
        |ORDER BY th.pair""".stripMargin),

    // Jarque–Bera normality test — skewness² and excess kurtosis from raw
    // power sums with the CANCELLATION IN EXACT INTEGERS law taken to the
    // 4th moment: A2 = nΣx²−(Σx)², A3 = n²Σx³−3nΣxΣx²+2(Σx)³,
    // A4 = n³Σx⁴−4n²ΣxΣx³+6n(Σx)²Σx²−3(Σx)⁴ all DECIMAL(38,0)-exact
    // (the (Σx)⁴ term peaks ~10³⁵, inside both DECIMAL(38,0) and HUGEINT),
    // then S² = A3²/A2³ and kurt = A4/A2² — the n-powers cancel
    // ALGEBRAICALLY, so only correctly-rounded decimal→double casts and a
    // fixed IEEE shape remain. JB = n(S²/6+(kurt−3)²/24), χ² df=2 at 5.991.
    Op("agg_jarque_bera", (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 100).cast("bigint").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast("decimal(38,0)")).as("s1"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"),
          sum((col("c") * col("c") * col("c")).cast("decimal(38,0)")).as("s3"),
          // c^4 peaks ~9.9e18 at sf0.1 — beyond int64: square in LONG
          // (c^2 <= 3.2e9, safe), then multiply as DECIMAL(38,0)
          sum((col("c") * col("c")).cast("decimal(38,0)") *
            (col("c") * col("c")).cast("decimal(38,0)")).as("s4"))
        .withColumn("a2", expr("n * s2 - s1 * s1"))
        .withColumn("a3", expr("n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1"))
        .withColumn("a4", expr(
          "n * n * n * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1"))
        .withColumn("skew2", expr(
          "CAST(a3 AS DOUBLE) * CAST(a3 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE))"))
        .withColumn("kurt", expr(
          "CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE))"))
        .withColumn("jb", expr(
          "CAST(n AS DOUBLE) * (CAST(a3 AS DOUBLE) * CAST(a3 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) / 6.0"
            + " + (CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3.0) * (CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3.0) / 24.0)"))
        .withColumn("normal_rejected", expr("CAST(n AS DOUBLE) * (CAST(a3 AS DOUBLE) * CAST(a3 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) / 6.0"
            + " + (CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3.0) * (CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3.0) / 24.0) > 5.991"))
        .select("event_type", "n", "skew2", "kurt", "jb", "normal_rejected")
        .orderBy("event_type")
    },
      // Same exact HUGEINT central moments, same algebraic n-cancellation.
      """WITH e AS (SELECT event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS c FROM events),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(c::HUGEINT) AS s1,
        |    SUM(c::HUGEINT * c) AS s2,
        |    SUM(c::HUGEINT * c * c) AS s3,
        |    SUM(c::HUGEINT * c * c * c) AS s4
        |  FROM e GROUP BY 1),
        |a AS (SELECT event_type, n,
        |    n * s2 - s1 * s1 AS a2,
        |    n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS a3,
        |    n * n * n * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2
        |      - 3 * s1 * s1 * s1 * s1 AS a4
        |  FROM m)
        |SELECT event_type, n,
        |  CAST(a3 AS DOUBLE) * CAST(a3 AS DOUBLE)
        |    / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) AS skew2,
        |  CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) AS kurt,
        |  CAST(n AS DOUBLE) * (CAST(a3 AS DOUBLE) * CAST(a3 AS DOUBLE)
        |    / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) / 6.0
        |    + (CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3.0)
        |    * (CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3.0) / 24.0) AS jb,
        |  CAST(n AS DOUBLE) * (CAST(a3 AS DOUBLE) * CAST(a3 AS DOUBLE)
        |    / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) / 6.0
        |    + (CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3.0)
        |    * (CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3.0) / 24.0) > 5.991 AS normal_rejected
        |FROM a ORDER BY event_type""".stripMargin),

    // Page's L — the ORDERED-alternative trend test Friedman cannot see
    // (Friedman asks "any difference?", Page asks "does treatment 2 beat 1
    // beat 0?"): the same comparison-counted ranks with deterministic index
    // tie-break, L = ΣΣ j·Rⱼ an exact integer, E[L] = 12n and Var[L] = 2n
    // closed-form for k=3, and the DIRECTIONAL z² significance
    // cross-multiplies to 1000·(L−12n)² > 3841·2n AND L > 12n. The planted
    // +80/treatment shift is exactly the monotone alternative L exists for.
    Op("agg_page_trend", (s, d) => {
      def sc(j: Int) =
        s"(${md5Bits(s"pg$j", "doc_id", 8)} % 1000 + ${j * 80})"
      def rank(j: Int) = {
        val others = (0 to 2).filter(_ != j).map { i =>
          s"(CASE WHEN ${sc(i)} < ${sc(j)} OR (${sc(i)} = ${sc(j)} AND $i < $j) THEN 1 ELSE 0 END)"
        }.mkString(" + ")
        s"1 + $others"
      }
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("r0", expr(rank(0)).cast("long"))
        .withColumn("r1", expr(rank(1)).cast("long"))
        .withColumn("r2", expr(rank(2)).cast("long"))
        .agg(count(lit(1)).as("n"),
          sum("r0").as("rs0"), sum("r1").as("rs1"), sum("r2").as("rs2"))
        .withColumn("l_stat", expr("rs0 + 2 * rs1 + 3 * rs2"))
        .withColumn("z2_num", expr("(l_stat - 12 * n) * (l_stat - 12 * n)"))
        .withColumn("z2_den", expr("2 * n"))
        .withColumn("trend_up", expr(
          "l_stat > 12 * n AND 1000 * (l_stat - 12 * n) * (l_stat - 12 * n) > 3841 * (2 * n)"))
    },
      // Same comparison-counted ranks, same closed-form directional z².
      {
      def sc(j: Int) =
        s"(${duckMd5Bits(s"pg$j", "doc_id", 8)} % 1000 + ${j * 80})"
      def rank(j: Int) = {
        val others = (0 to 2).filter(_ != j).map { i =>
          s"(CASE WHEN ${sc(i)} < ${sc(j)} OR (${sc(i)} = ${sc(j)} AND $i < $j) THEN 1 ELSE 0 END)"
        }.mkString(" + ")
        s"1 + $others"
      }
      s"""WITH t AS (SELECT doc_id,
         |    CAST(${rank(0)} AS BIGINT) AS r0,
         |    CAST(${rank(1)} AS BIGINT) AS r1,
         |    CAST(${rank(2)} AS BIGINT) AS r2
         |  FROM documents),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(r0) AS BIGINT) AS rs0, CAST(SUM(r1) AS BIGINT) AS rs1,
         |    CAST(SUM(r2) AS BIGINT) AS rs2
         |  FROM t)
         |SELECT n, rs0, rs1, rs2, rs0 + 2 * rs1 + 3 * rs2 AS l_stat,
         |  (rs0 + 2 * rs1 + 3 * rs2 - 12 * n) * (rs0 + 2 * rs1 + 3 * rs2 - 12 * n) AS z2_num,
         |  2 * n AS z2_den,
         |  rs0 + 2 * rs1 + 3 * rs2 > 12 * n
         |    AND 1000 * (rs0 + 2 * rs1 + 3 * rs2 - 12 * n) * (rs0 + 2 * rs1 + 3 * rs2 - 12 * n)
         |    > 3841 * (2 * n) AS trend_up
         |FROM m""".stripMargin
    }),

    // Donchian channel — the breakout detector whose frame EXCLUDES the
    // current row (bollinger/stochastic frames include it — an inclusive
    // frame can never break its own channel): 20-row trailing max/min per
    // event_type over ROWS -20..-1, signal = +1 above the prior high / −1
    // below the prior low / 0 inside, all integer compares on cents. The
    // three windows (extremes + row_number) share one (type, ts) shuffle.
    Op("win_donchian", (s, d) => {
      val ord = Window.partitionBy("event_type")
        .orderBy(col("ts_us"), col("event_id"))
      val wex = ord.rowsBetween(-20, -1)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("hi20", max("cents").over(wex))
        .withColumn("lo20", min("cents").over(wex))
        .withColumn("sig", expr(
          "CAST(CASE WHEN cents > hi20 THEN 1 WHEN cents < lo20 THEN -1 ELSE 0 END AS BIGINT)"))
        .where(col("rn") >= 21 && col("event_id") % 5 === 3)
        .select("event_type", "event_id", "cents", "hi20", "lo20", "sig")
        .orderBy("event_type", "event_id")
    },
      // Same exclusive trailing frame, same integer breakout compares.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, event_id, cents,
        |    CAST(ROW_NUMBER() OVER ord AS BIGINT) AS rn,
        |    CAST(MAX(cents) OVER wex AS BIGINT) AS hi20,
        |    CAST(MIN(cents) OVER wex AS BIGINT) AS lo20
        |  FROM e
        |  WINDOW ord AS (PARTITION BY event_type ORDER BY ts_us, event_id),
        |    wex AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, event_id, cents, hi20, lo20,
        |  CAST(CASE WHEN cents > hi20 THEN 1 WHEN cents < lo20 THEN -1 ELSE 0 END AS BIGINT) AS sig
        |FROM w WHERE rn >= 21 AND event_id % 5 = 3
        |ORDER BY event_type, event_id""".stripMargin),

    // nDCG@5 — the GRADED-relevance ranking metric (MRR sees only the first
    // hit; nDCG weighs every graded position): 20-doc probe groups, graded
    // rel 0–3 and scores from the shared md5 randomness, ranked and ideal
    // position picks via conditional MAX over two deterministic windows,
    // and DCG = Σ relᵢ·wᵢ with wᵢ = 1/log₂(i+1) FIXED-POINT in micro-units
    // (1000000, 630930, 500000, 430677, 386853 — no float sum exists to
    // drift, and a trial double version DID drift 1 ulp cross-engine via
    // FMA contraction); nDCG = dcg·10⁶ DIV idcg exact.
    Op("llm_ndcg", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("qid", expr("doc_id DIV 20"))
        .withColumn("rel", expr(s"${md5Bits("rel", "doc_id", 8)} % 4"))
        .withColumn("score", expr(s"${md5Bits("sc", "doc_id", 8)} % 10000"))
      val wRank = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("doc_id"))
      val wIdeal = Window.partitionBy("qid")
        .orderBy(col("rel").desc, col("doc_id"))
      val picks = (1 to 5).flatMap { i =>
        Seq(max(when(col("rn") === i, col("rel"))).as(s"r$i"),
          max(when(col("irn") === i, col("rel"))).as(s"i$i"))
      }
      def dcgExpr(p: String) =
        s"""CAST(COALESCE(${p}1, 0) * 1000000 + COALESCE(${p}2, 0) * 630930
           + COALESCE(${p}3, 0) * 500000 + COALESCE(${p}4, 0) * 430677
           + COALESCE(${p}5, 0) * 386853 AS BIGINT)"""
      t.withColumn("rn", row_number().over(wRank))
        .withColumn("irn", row_number().over(wIdeal))
        .groupBy("qid").agg(picks.head, picks.tail: _*)
        .withColumn("dcg_micro", expr(dcgExpr("r")))
        .withColumn("idcg_micro", expr(dcgExpr("i")))
        .withColumn("ndcg_ppm", expr(
          "CASE WHEN idcg_micro > 0 THEN dcg_micro * 1000000 DIV idcg_micro ELSE CAST(0 AS BIGINT) END"))
        .select("qid", "dcg_micro", "idcg_micro", "ndcg_ppm")
        .orderBy("qid")
    },
      // Same md5 grades, same literal-constant weights, same one division.
      {
      def dcg(p: String) =
        s"""CAST(COALESCE(${p}1, 0) * 1000000 + COALESCE(${p}2, 0) * 630930
           |  + COALESCE(${p}3, 0) * 500000 + COALESCE(${p}4, 0) * 430677
           |  + COALESCE(${p}5, 0) * 386853 AS BIGINT)""".stripMargin
      s"""WITH t AS (SELECT doc_id, doc_id // 20 AS qid,
         |    ${duckMd5Bits("rel", "doc_id", 8)} % 4 AS rel,
         |    ${duckMd5Bits("sc", "doc_id", 8)} % 10000 AS score
         |  FROM documents),
         |r AS (SELECT qid, rel,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS irn
         |  FROM t),
         |p AS (SELECT qid,
         |    MAX(CASE WHEN rn = 1 THEN rel END) AS r1, MAX(CASE WHEN irn = 1 THEN rel END) AS i1,
         |    MAX(CASE WHEN rn = 2 THEN rel END) AS r2, MAX(CASE WHEN irn = 2 THEN rel END) AS i2,
         |    MAX(CASE WHEN rn = 3 THEN rel END) AS r3, MAX(CASE WHEN irn = 3 THEN rel END) AS i3,
         |    MAX(CASE WHEN rn = 4 THEN rel END) AS r4, MAX(CASE WHEN irn = 4 THEN rel END) AS i4,
         |    MAX(CASE WHEN rn = 5 THEN rel END) AS r5, MAX(CASE WHEN irn = 5 THEN rel END) AS i5
         |  FROM r GROUP BY 1)
         |SELECT qid, ${dcg("r")} AS dcg_micro, ${dcg("i")} AS idcg_micro,
         |  CASE WHEN (${dcg("i")}) > 0
         |    THEN (${dcg("r")}) * 1000000 // (${dcg("i")})
         |    ELSE CAST(0 AS BIGINT) END AS ndcg_ppm
         |FROM p ORDER BY qid""".stripMargin
    }),

    // Bowley quartile skewness — the ROBUST skew jarque_bera's moment S²
    // is not (one wild outlier owns a third moment; quartiles shrug):
    // deterministic quartile PICKS at rn = (n+1)k/4 DIV (the engine's
    // no-interpolation quantile contract), Bowley = (Q3+Q1−2Q2)/(Q3−Q1)
    // as a sign-safe exact ppm. The rank window and the count share one
    // event_type shuffle.
    Op("agg_bowley_skew", (s, d) => {
      val part = Window.partitionBy("event_type")
      val ord = part.orderBy(col("cents"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("cnt", count(lit(1)).over(part))
        .groupBy("event_type")
        .agg(max("cnt").as("n"),
          max(when(col("rn") === expr("(cnt + 1) DIV 4"), col("cents"))).as("q1"),
          max(when(col("rn") === expr("(cnt + 1) DIV 2"), col("cents"))).as("q2"),
          max(when(col("rn") === expr("(3 * (cnt + 1)) DIV 4"), col("cents"))).as("q3"))
        .withColumn("bowley_ppm", expr(
          """CASE WHEN q3 = q1 THEN CAST(0 AS BIGINT)
             WHEN q3 + q1 - 2 * q2 >= 0
               THEN (q3 + q1 - 2 * q2) * 1000000 DIV (q3 - q1)
             ELSE -((-(q3 + q1 - 2 * q2)) * 1000000 DIV (q3 - q1)) END"""))
        .orderBy("event_type")
    },
      // Same deterministic quartile picks, same sign-safe rational.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
        |  FROM e),
        |q AS (SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n,
        |    CAST(MAX(CASE WHEN rn = (cnt + 1) // 4 THEN cents END) AS BIGINT) AS q1,
        |    CAST(MAX(CASE WHEN rn = (cnt + 1) // 2 THEN cents END) AS BIGINT) AS q2,
        |    CAST(MAX(CASE WHEN rn = (3 * (cnt + 1)) // 4 THEN cents END) AS BIGINT) AS q3
        |  FROM w GROUP BY 1)
        |SELECT event_type, n, q1, q2, q3,
        |  CASE WHEN q3 = q1 THEN CAST(0 AS BIGINT)
        |    WHEN q3 + q1 - 2 * q2 >= 0
        |      THEN (q3 + q1 - 2 * q2) * 1000000 // (q3 - q1)
        |    ELSE -((-(q3 + q1 - 2 * q2)) * 1000000 // (q3 - q1)) END AS bowley_ppm
        |FROM q ORDER BY event_type""".stripMargin),

    // Grubbs' outlier test — "is the most extreme point too extreme for a
    // normal sample?": the deviation numerator n·xᵢ−Σx stays an EXACT
    // integer per row (no mean float ever exists), A2 = nΣx²−(Σx)² exact,
    // and G² = maxdev²(n−1)/(n·A2) an exact DECIMAL(38,0) rational scored
    // in ppm; the G > 4 alarm cross-multiplies to ppm > 16·10⁶. The
    // whole-partition sum window and the final rollup share one shuffle.
    Op("agg_grubbs", (s, d) => {
      val part = Window.partitionBy("event_type")
      Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("sw", sum("cents").over(part))
        .withColumn("cw", count(lit(1)).over(part))
        .withColumn("dev", abs(col("cw") * col("cents") - col("sw")))
        .groupBy("event_type")
        .agg(max("cw").as("n"), max("dev").as("maxdev"),
          max("sw").as("s1"),
          sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("s2"))
        .withColumn("a2", expr("CAST(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DECIMAL(38,0))"))
        .withColumn("g2_ppm", expr(
          "CAST(CAST(maxdev AS DECIMAL(38,0)) * maxdev * (n - 1) * 1000000 DIV (n * a2) AS BIGINT)"))
        .withColumn("outlier_alarm", expr("g2_ppm > 16000000"))
        .select(col("event_type"), col("n"), col("maxdev"),
          col("a2").cast("double").as("a2_d"), col("g2_ppm"), col("outlier_alarm"))
        .orderBy("event_type")
    },
      // Same exact deviation numerator, same DECIMAL/HUGEINT rational.
      """WITH e AS (SELECT event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, cents,
        |    CAST(SUM(cents) OVER (PARTITION BY event_type) AS BIGINT) AS sw,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cw
        |  FROM e),
        |g AS (SELECT event_type, CAST(MAX(cw) AS BIGINT) AS n,
        |    CAST(MAX(abs(cw * cents - sw)) AS BIGINT) AS maxdev,
        |    CAST(MAX(sw) AS BIGINT) AS s1,
        |    SUM(cents::HUGEINT * cents) AS s2
        |  FROM w GROUP BY 1),
        |a AS (SELECT event_type, n, maxdev,
        |    n * s2 - s1::HUGEINT * s1 AS a2
        |  FROM g)
        |SELECT event_type, n, maxdev, CAST(a2 AS DOUBLE) AS a2_d,
        |  CAST(maxdev::HUGEINT * maxdev * (n - 1) * 1000000 // (n * a2) AS BIGINT) AS g2_ppm,
        |  CAST(maxdev::HUGEINT * maxdev * (n - 1) * 1000000 // (n * a2) AS BIGINT) > 16000000 AS outlier_alarm
        |FROM a ORDER BY event_type""".stripMargin),

    // One-sided CUSUM drift — the sequential detector that ACCUMULATES
    // small shifts win_changepoint's single split and win_peak_detect's
    // local spikes both miss: S⁺ᵢ = max(0, S⁺ᵢ₋₁ + xᵢ−t−k) unrolls to
    // cumsum(x−t−k) − running-min(cumsum) — two frames over ONE ordered
    // window, all exact integer cents (t=24500 target, k=2000 slack), so
    // the classically-recursive statistic needs no recursion at all.
    Op("win_cusum", (s, d) => {
      val ord = Window.partitionBy("event_type")
        .orderBy(col("ts_us"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("c_hi", sum(expr("cents - 24500 - 2000")).over(run))
        .withColumn("c_lo", sum(expr("24500 - 2000 - cents")).over(run))
        .withColumn("s_hi", expr("c_hi - least(min(c_hi) OVER (PARTITION BY event_type ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), CAST(0 AS BIGINT))"))
        .withColumn("s_lo", expr("c_lo - least(min(c_lo) OVER (PARTITION BY event_type ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), CAST(0 AS BIGINT))"))
        .withColumn("drift_alarm", expr(
          "CAST(CASE WHEN s_hi > 500000 THEN 1 WHEN s_lo > 500000 THEN -1 ELSE 0 END AS BIGINT)"))
        .where(col("event_id") % 20 === 4)
        .select("event_type", "event_id", "cents", "s_hi", "s_lo", "drift_alarm")
        .orderBy("event_type", "event_id")
    },
      // Same recursion-free unrolling, same exact integer drift.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |c AS (SELECT event_type, event_id, ts_us, cents,
        |    CAST(SUM(cents - 24500 - 2000) OVER run AS BIGINT) AS c_hi,
        |    CAST(SUM(24500 - 2000 - cents) OVER run AS BIGINT) AS c_lo
        |  FROM e
        |  WINDOW run AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT event_type, event_id, cents,
        |    c_hi - LEAST(CAST(MIN(c_hi) OVER run AS BIGINT), CAST(0 AS BIGINT)) AS s_hi,
        |    c_lo - LEAST(CAST(MIN(c_lo) OVER run AS BIGINT), CAST(0 AS BIGINT)) AS s_lo
        |  FROM c
        |  WINDOW run AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id, cents, s_hi, s_lo,
        |  CAST(CASE WHEN s_hi > 500000 THEN 1 WHEN s_lo > 500000 THEN -1 ELSE 0 END AS BIGINT) AS drift_alarm
        |FROM s WHERE event_id % 20 = 4
        |ORDER BY event_type, event_id""".stripMargin),

    // Z-order (Morton) curve — the ACTUAL bit-interleave under every
    // multi-dimensional clustering claim (snapshot_zorder grades the file
    // skipping; this grades the curve itself): morton = Σ x-bit i → bit 2i,
    // y-bit i → bit 2i+1 as a fixed shift/mask expression, and the
    // LOCALITY THEOREM is graded — every morton-DIV-64 block must be an
    // exact 8×8 tile (x/y spans ≤ 7), which is precisely why z-ordered
    // files prune on BOTH columns at 100 TB.
    Op("fn_zorder_curve", (s, d) => {
      val morton = (0 to 7).map { i =>
        s"(shiftleft((x8 >> $i) & 1, ${2 * i}) + shiftleft((y8 >> $i) & 1, ${2 * i + 1}))"
      }.mkString(" + ")
      Tables.orders(s, d)
        .select(expr("o_custkey % 256").as("x8"),
          expr("o_orderkey % 256").as("y8"))
        .withColumn("morton", expr(s"CAST($morton AS BIGINT)"))
        .withColumn("tile", expr("morton DIV 64"))
        .groupBy("tile")
        .agg(count(lit(1)).as("n_rows"),
          min("x8").as("x_min"), max("x8").as("x_max"),
          min("y8").as("y_min"), max("y8").as("y_max"))
        .withColumn("locality_ok", expr(
          "x_max - x_min <= 7 AND y_max - y_min <= 7"))
        .where(col("tile") % 16 === 1)
        .orderBy("tile")
    },
      // Same bit interleave, same graded 8×8 tile theorem.
      {
      val morton = (0 to 7).map { i =>
        s"((((x8 >> $i) & 1) << ${2 * i}) + (((y8 >> $i) & 1) << ${2 * i + 1}))"
      }.mkString(" + ")
      s"""WITH b AS (SELECT o_custkey % 256 AS x8, o_orderkey % 256 AS y8
         |  FROM orders),
         |m AS (SELECT x8, y8, CAST($morton AS BIGINT) AS morton FROM b),
         |t AS (SELECT morton // 64 AS tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(MIN(x8) AS BIGINT) AS x_min, CAST(MAX(x8) AS BIGINT) AS x_max,
         |    CAST(MIN(y8) AS BIGINT) AS y_min, CAST(MAX(y8) AS BIGINT) AS y_max
         |  FROM m GROUP BY 1)
         |SELECT tile, n_rows, x_min, x_max, y_min, y_max,
         |  x_max - x_min <= 7 AND y_max - y_min <= 7 AS locality_ok
         |FROM t WHERE tile % 16 = 1 ORDER BY tile""".stripMargin
    }),

    // KV-cache budget planning — the serving-memory ledger next to
    // llm_prefix_cache_plan's compute ledger: per 512-token length band,
    // bytes/token = 2(K+V)·32 layers·8 KV heads·128 dim·2 B fp16 = 131072
    // EXACTLY (a power of two — the integer plan is exact), band totals,
    // and the max concurrent sequences a 16 GiB budget admits at the
    // band's worst-case length — the number a batch scheduler actually
    // needs. All integer DIVs on non-negative operands.
    Op("llm_kv_cache_plan", (s, d) =>
      Tables.documents(s, d)
        .select(expr("CAST(length(text) DIV 4 AS BIGINT)").as("tokens"))
        .withColumn("band", expr("tokens DIV 512"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          sum("tokens").as("band_tokens"),
          max("tokens").as("max_tokens"))
        .withColumn("kv_bytes_per_seq", expr("max_tokens * 131072"))
        .withColumn("band_kv_bytes", expr("band_tokens * 131072"))
        .withColumn("seqs_at_16g", expr(
          "CASE WHEN max_tokens = 0 THEN CAST(0 AS BIGINT) ELSE 17179869184 DIV (max_tokens * 131072) END"))
        .orderBy("band"),
      // Same power-of-two byte ledger, same integer admission DIVs.
      """WITH t AS (SELECT CAST(length(text) // 4 AS BIGINT) AS tokens
        |  FROM documents),
        |b AS (SELECT tokens // 512 AS band, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(tokens) AS BIGINT) AS band_tokens,
        |    CAST(MAX(tokens) AS BIGINT) AS max_tokens
        |  FROM t GROUP BY 1)
        |SELECT band, n_docs, band_tokens, max_tokens,
        |  max_tokens * 131072 AS kv_bytes_per_seq,
        |  band_tokens * 131072 AS band_kv_bytes,
        |  CASE WHEN max_tokens = 0 THEN CAST(0 AS BIGINT)
        |    ELSE 17179869184 // (max_tokens * 131072) END AS seqs_at_16g
        |FROM b ORDER BY band""".stripMargin),

    // SPRT — Wald's sequential probability-ratio test (the always-valid
    // A/B stopper next to agg_ab_ttest's fixed-horizon test): Bernoulli
    // H₀ p=.5 vs H₁ p=.6 with a planted .6 stream, the log-likelihood
    // walk carried in MICRO-NAT INTEGERS (+182322 per success = 10⁶·ln1.2,
    // −223144 per failure = 10⁶·ln0.8 — transcendentals frozen into
    // literals, the walk itself pure integer cumsum), Wald bounds
    // ±2944439 = 10⁶·ln19 (α=β=.05), and the FIRST crossing index found
    // by conditional MIN — no driver-side loop walks the sequence.
    // The llr walk and its index are the two-level banded cumulative
    // (the agg_ks_test law) over the doc_id sequence: per-band count/sum
    // offsets (one serial window over the ~n/2²⁰-row band rollup) +
    // partitioned within-band cumsum and row_number.
    Op("agg_sprt", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("success", expr(
          s"CASE WHEN ${md5Bits("sprt", "doc_id", 8)} % 10 < 6 THEN 1 ELSE 0 END"))
        .withColumn("llr_step", expr(
          "CAST(CASE WHEN success = 1 THEN 182322 ELSE -223144 END AS BIGINT)"))
        .withColumn("bkt", expr("doc_id DIV 1048576"))
      val wB = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val off = t.groupBy("bkt")
        .agg(count(lit(1)).as("bc"), sum("llr_step").as("bs"))
        .withColumn("off_n", coalesce(sum("bc").over(wB), lit(0L)))
        .withColumn("off_s", coalesce(sum("bs").over(wB), lit(0L)))
        .select("bkt", "off_n", "off_s")
      val wIn = Window.partitionBy("bkt").orderBy("doc_id")
      t.join(broadcast(off), "bkt")
        .withColumn("cum", col("off_s") +
          sum("llr_step").over(wIn.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("rn", col("off_n") + row_number().over(wIn).cast("bigint"))
        .agg(count(lit(1)).as("n"),
          sum("success").as("successes"),
          max("cum").as("max_llr"), min("cum").as("min_llr"),
          min(when(col("cum") >= 2944439L, col("rn"))).as("first_accept"),
          min(when(col("cum") <= -2944439L, col("rn"))).as("first_reject"))
        .withColumn("decision", expr(
          """CASE
             WHEN first_accept IS NOT NULL AND (first_reject IS NULL OR first_accept < first_reject) THEN 'accept_h1'
             WHEN first_reject IS NOT NULL THEN 'accept_h0'
             ELSE 'continue' END"""))
    },
      // Same micro-nat integer walk, same conditional-MIN first crossing.
      s"""WITH t AS (SELECT doc_id,
        |    CASE WHEN ${duckMd5Bits("sprt", "doc_id", 8)} % 10 < 6
        |      THEN 1 ELSE 0 END AS success
        |  FROM documents),
        |w AS (SELECT doc_id, success,
        |    CAST(SUM(CASE WHEN success = 1 THEN 182322 ELSE -223144 END)
        |      OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(success) AS BIGINT) AS successes,
        |  CAST(MAX(cum) AS BIGINT) AS max_llr, CAST(MIN(cum) AS BIGINT) AS min_llr,
        |  CAST(MIN(CASE WHEN cum >= 2944439 THEN rn END) AS BIGINT) AS first_accept,
        |  CAST(MIN(CASE WHEN cum <= -2944439 THEN rn END) AS BIGINT) AS first_reject,
        |  CASE
        |    WHEN MIN(CASE WHEN cum >= 2944439 THEN rn END) IS NOT NULL
        |      AND (MIN(CASE WHEN cum <= -2944439 THEN rn END) IS NULL
        |        OR MIN(CASE WHEN cum >= 2944439 THEN rn END) < MIN(CASE WHEN cum <= -2944439 THEN rn END))
        |      THEN 'accept_h1'
        |    WHEN MIN(CASE WHEN cum <= -2944439 THEN rn END) IS NOT NULL THEN 'accept_h0'
        |    ELSE 'continue' END AS decision
        |FROM w""".stripMargin),

    // Differential-privacy ε ledger — the privacy-budget accountant every
    // governed analytics deployment runs beside its RLS/masking layer
    // (warehouse_rls_matrix guards rows, this guards AGGREGATE LEAKAGE):
    // each query event spends mechanism-priced micro-ε (Laplace 100000,
    // Gaussian 50000, exact reads 250000), basic composition SUMS them per
    // analyst, and the 3.0-ε budget verdict plus the overspend amount are
    // exact integers. The mechanism pricing is a fixed CASE — one scan.
    Op("llm_dp_epsilon_ledger", (s, d) =>
      Tables.events(s, d)
        .select(expr("user_id % 20").as("analyst"), col("event_type"))
        .withColumn("eps_micro", expr(
          """CAST(CASE WHEN event_type = 'view' THEN 50000
             WHEN event_type = 'click' THEN 100000
             ELSE 250000 END AS BIGINT)"""))
        .groupBy("analyst")
        .agg(count(lit(1)).as("n_queries"),
          sum("eps_micro").as("eps_spent_micro"))
        .withColumn("over_budget", expr("eps_spent_micro > 3000000"))
        .withColumn("overspend_micro", expr(
          "greatest(eps_spent_micro - 3000000, CAST(0 AS BIGINT))"))
        .orderBy("analyst"),
      // Same mechanism pricing, same basic-composition integer sums.
      """WITH q AS (SELECT user_id % 20 AS analyst,
        |    CAST(CASE WHEN event_type = 'view' THEN 50000
        |      WHEN event_type = 'click' THEN 100000
        |      ELSE 250000 END AS BIGINT) AS eps_micro
        |  FROM events)
        |SELECT analyst, CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(SUM(eps_micro) AS BIGINT) AS eps_spent_micro,
        |  CAST(SUM(eps_micro) AS BIGINT) > 3000000 AS over_budget,
        |  GREATEST(CAST(SUM(eps_micro) AS BIGINT) - 3000000, CAST(0 AS BIGINT)) AS overspend_micro
        |FROM q GROUP BY 1 ORDER BY analyst""".stripMargin),

    // Trimmed mean — the OTHER robust location estimator (winsorized CLAMPS
    // the tails to the cut points; trimming DROPS them — different
    // statistic, different breakdown behavior): per event_type, shed the
    // bottom and top 5% by deterministic (cents, id) rank, exact integer
    // mean of the kept cents via non-negative DIV, plain mean alongside so
    // the robustness gap itself is graded. Rank + count share one shuffle.
    Op("agg_trimmed_mean", (s, d) => {
      val part = Window.partitionBy("event_type")
      val ord = part.orderBy(col("cents"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("cnt", count(lit(1)).over(part))
        .groupBy("event_type")
        .agg(max("cnt").as("n"),
          sum("cents").as("total"),
          sum(when(col("rn") > expr("cnt DIV 20") &&
            col("rn") <= expr("cnt - cnt DIV 20"), col("cents"))).as("kept_total"),
          sum(when(col("rn") > expr("cnt DIV 20") &&
            col("rn") <= expr("cnt - cnt DIV 20"), 1L).otherwise(0L)).as("kept"))
        .withColumn("mean_cents", expr("total DIV n"))
        .withColumn("trimmed_mean_cents", expr("kept_total DIV kept"))
        .orderBy("event_type")
    },
      // Same deterministic rank trim, same non-negative integer means.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
        |  FROM e),
        |g AS (SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN rn > cnt // 20 AND rn <= cnt - cnt // 20 THEN cents END) AS BIGINT) AS kept_total,
        |    CAST(SUM(CASE WHEN rn > cnt // 20 AND rn <= cnt - cnt // 20 THEN 1 ELSE 0 END) AS BIGINT) AS kept
        |  FROM w GROUP BY 1)
        |SELECT event_type, n, total, kept_total, kept,
        |  total // n AS mean_cents,
        |  kept_total // kept AS trimmed_mean_cents
        |FROM g ORDER BY event_type""".stripMargin),

    // Geohash — the TEXTUAL spatial index beside fn_zorder_curve's numeric
    // one (same interleave theorem, but the prefix IS the containment
    // relation — truncate a geohash and you name the parent cell):
    // deterministic md5 lat/lon in micro-degrees, 10-bit quantization per
    // axis by exact DIV, the 20-bit lon-first interleave as a fixed
    // shift/mask expression, and 4 base32 chars picked by substring into
    // the standard alphabet literal — every step integer or table lookup.
    Op("fn_geohash", (s, d) => {
      val z = (0 to 9).map { i =>
        s"(shiftleft((lonq >> ${9 - i}) & 1, ${19 - 2 * i}) + shiftleft((latq >> ${9 - i}) & 1, ${18 - 2 * i}))"
      }.mkString(" + ")
      val chars = (0 to 3).map { k =>
        s"substring('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((z >> ${15 - 5 * k}) & 31) + 1 AS INT), 1)"
      }.mkString(", ")
      Tables.events(s, d).select(col("event_id"))
        .where(col("event_id") % 20 === 6)
        .withColumn("lat_micro", expr(s"${md5Bits("lat", "event_id", 8)} % 180000001 - 90000000"))
        .withColumn("lon_micro", expr(s"${md5Bits("lon", "event_id", 8)} % 360000001 - 180000000"))
        .withColumn("latq", expr("(lat_micro + 90000000) * 1024 DIV 180000001"))
        .withColumn("lonq", expr("(lon_micro + 180000000) * 1024 DIV 360000001"))
        .withColumn("z", expr(s"CAST($z AS BIGINT)"))
        .withColumn("geohash4", expr(s"concat($chars)"))
        .select("event_id", "lat_micro", "lon_micro", "z", "geohash4")
        .orderBy("event_id")
    },
      // Same interleave, same base32 table lookups.
      {
      val z = (0 to 9).map { i =>
        s"((((lonq >> ${9 - i}) & 1) << ${19 - 2 * i}) + (((latq >> ${9 - i}) & 1) << ${18 - 2 * i}))"
      }.mkString(" + ")
      val chars = (0 to 3).map { k =>
        s"substring('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((z >> ${15 - 5 * k}) & 31) + 1 AS INT), 1)"
      }.mkString(" || ")
      s"""WITH e AS (SELECT event_id,
         |    ${duckMd5Bits("lat", "event_id", 8)} % 180000001 - 90000000 AS lat_micro,
         |    ${duckMd5Bits("lon", "event_id", 8)} % 360000001 - 180000000 AS lon_micro
         |  FROM events WHERE event_id % 20 = 6),
         |q AS (SELECT event_id, lat_micro, lon_micro,
         |    (lat_micro + 90000000) * 1024 // 180000001 AS latq,
         |    (lon_micro + 180000000) * 1024 // 360000001 AS lonq
         |  FROM e),
         |m AS (SELECT event_id, lat_micro, lon_micro, CAST($z AS BIGINT) AS z FROM q)
         |SELECT event_id, lat_micro, lon_micro, z, $chars AS geohash4
         |FROM m ORDER BY event_id""".stripMargin
    }),

    // Weighted median — the order statistic where every row votes its
    // weight (median_mad counts rows; a traffic-weighted latency SLO
    // counts requests): deterministic (cents, id) order, running weight
    // cumsum, and the pick is the FIRST row where 2·cumw ≥ totw — a
    // conditional MIN, exact because the condition is monotone along the
    // ordered cents. Rank window and totals share one event_type shuffle.
    Op("agg_weighted_median", (s, d) => {
      val part = Window.partitionBy("event_type")
      val run = part.orderBy(col("cents"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"),
          expr("user_id % 7 + 1").as("w"))
        .withColumn("cumw", sum("w").over(run))
        .withColumn("totw", sum("w").over(part))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), max("totw").as("total_weight"),
          min(when(expr("2 * cumw >= totw"), col("cents"))).as("weighted_median_cents"),
          sum(expr("w * cents")).as("wsum"))
        .withColumn("weighted_mean_cents", expr("wsum DIV total_weight"))
        .orderBy("event_type")
    },
      // Same monotone conditional-MIN pick, same exact integer weights.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    user_id % 7 + 1 AS w
        |  FROM events),
        |w AS (SELECT event_type, cents, w,
        |    CAST(SUM(w) OVER (PARTITION BY event_type ORDER BY cents, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
        |    CAST(SUM(w) OVER (PARTITION BY event_type) AS BIGINT) AS totw
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(totw) AS BIGINT) AS total_weight,
        |  CAST(MIN(CASE WHEN 2 * cumw >= totw THEN cents END) AS BIGINT) AS weighted_median_cents,
        |  CAST(SUM(w * cents) AS BIGINT) AS wsum,
        |  CAST(SUM(w * cents) AS BIGINT) // CAST(MAX(totw) AS BIGINT) AS weighted_mean_cents
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin),

    // GDPR erasure audit — the right-to-be-forgotten VERIFIER beside
    // warehouse_crypto_shred's key-deletion mechanism (shredding claims
    // erasure; this PROVES it by hunting survivors): the erasure set is
    // user_id ≡ 4 (mod 11), the post-erasure table plants leak rows
    // (event_id ≡ 7 mod 13 survive), and the audit inner-joins survivors
    // to the erasure list — per-user leak counts plus the global verdict.
    // The erasure list broadcasts; the scan never shuffles the fact side.
    Op("warehouse_erasure_audit", (s, d) => {
      val erased = Tables.events(s, d)
        .where(expr("user_id % 11 = 4"))
        .select(col("user_id")).distinct()
      val postErasure = Tables.events(s, d)
        .where(expr("user_id % 11 != 4 OR event_id % 13 = 7"))
      postErasure.join(broadcast(erased), Seq("user_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("leaked_rows"),
          min("event_id").as("first_leak_event"))
        .withColumn("erasure_violated", lit(true))
        .orderBy("user_id")
    },
      // Same planted survivors, same broadcast-shaped witness join.
      """WITH erased AS (SELECT DISTINCT user_id FROM events WHERE user_id % 11 = 4),
        |post AS (SELECT user_id, event_id FROM events
        |  WHERE user_id % 11 != 4 OR event_id % 13 = 7)
        |SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS leaked_rows,
        |  CAST(MIN(p.event_id) AS BIGINT) AS first_leak_event,
        |  TRUE AS erasure_violated
        |FROM post p JOIN erased x ON x.user_id = p.user_id
        |GROUP BY 1 ORDER BY p.user_id""".stripMargin),

    // Cohen's d — the EFFECT SIZE the t-test's p-value hides (a huge n
    // makes a trivial shift "significant"; d asks if it MATTERS): md5
    // arm split with a planted +3000-cent treatment shift, and
    // d² = (m₁−m₀)²/s²_pooled cleared to ONE exact-integer rational —
    // (n₀S₁−n₁S₀)²(n₀+n₁−2) / (n₀n₁(n₀A₂₁+n₁A₂₀)) with every A₂ᵢ the
    // exact cancellation-free variance numerator — scored in micro with
    // the direction emitted separately (the square forgets the sign).
    Op("agg_cohens_d", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"),
          floor(col("value") * 100).cast("bigint").as("c0"))
        .withColumn("arm", expr(
          s"${md5Bits("cd", "event_id", 8)} % 2"))
        .withColumn("x", expr("c0 + arm * 3000"))
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("x"))).as("s0"),
          sum(when(col("arm") === 1, col("x"))).as("s1"),
          sum(when(col("arm") === 0, (col("x") * col("x")).cast("decimal(38,0)"))).as("ss0"),
          sum(when(col("arm") === 1, (col("x") * col("x")).cast("decimal(38,0)"))).as("ss1"))
        .withColumn("a20", expr("n0 * ss0 - CAST(s0 AS DECIMAL(38,0)) * s0"))
        .withColumn("a21", expr("n1 * ss1 - CAST(s1 AS DECIMAL(38,0)) * s1"))
        .withColumn("d2_micro", expr(
          """CAST((CAST(n0 AS DECIMAL(38,0)) * s1 - CAST(n1 AS DECIMAL(38,0)) * s0)
             * (CAST(n0 AS DECIMAL(38,0)) * s1 - CAST(n1 AS DECIMAL(38,0)) * s0)
             * (n0 + n1 - 2) * 1000000
             DIV (CAST(n0 AS DECIMAL(38,0)) * n1 * (n0 * a21 + n1 * a20)) AS BIGINT)"""))
        .withColumn("direction", expr(
          "CAST(CASE WHEN n0 * s1 - n1 * s0 > 0 THEN 1 WHEN n0 * s1 - n1 * s0 < 0 THEN -1 ELSE 0 END AS BIGINT)"))
        .select("n0", "n1", "s0", "s1", "d2_micro", "direction")
    },
      // Same md5 arms, same single cleared HUGEINT rational.
      s"""WITH t AS (SELECT event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS c0,
        |    ${duckMd5Bits("cd", "event_id", 8)} % 2 AS arm
        |  FROM events),
        |x AS (SELECT arm, c0 + arm * 3000 AS x FROM t),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS s0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS s1,
        |    SUM(CASE WHEN arm = 0 THEN x::HUGEINT * x END) AS ss0,
        |    SUM(CASE WHEN arm = 1 THEN x::HUGEINT * x END) AS ss1
        |  FROM x),
        |a AS (SELECT n0, n1, s0, s1,
        |    n0 * ss0 - s0::HUGEINT * s0 AS a20,
        |    n1 * ss1 - s1::HUGEINT * s1 AS a21
        |  FROM m)
        |SELECT n0, n1, s0, s1,
        |  CAST((n0::HUGEINT * s1 - n1::HUGEINT * s0)
        |    * (n0::HUGEINT * s1 - n1::HUGEINT * s0)
        |    * (n0 + n1 - 2) * 1000000
        |    // (n0::HUGEINT * n1 * (n0 * a21 + n1 * a20)) AS BIGINT) AS d2_micro,
        |  CAST(CASE WHEN n0 * s1 - n1 * s0 > 0 THEN 1
        |    WHEN n0 * s1 - n1 * s0 < 0 THEN -1 ELSE 0 END AS BIGINT) AS direction
        |FROM a""".stripMargin),

    // Classical seasonal decomposition (trend + seasonal + residual — the
    // decomposition win_holt_linear forecasts OVER): hourly means per
    // type, trend = centered 25-point moving mean (full frames only),
    // detrended = hourly − trend (negative — every mean over it uses the
    // SIGN-SAFE DIV split), seasonal = hour-of-day mean of detrended via
    // a second partition window (no join), residual closes the identity
    // hourly = trend + seasonal + residual EXACTLY (integer arithmetic
    // forgives nothing and the identity is graded).
    Op("win_seasonal_decompose", (s, d) => {
      val hourly = Tables.events(s, d)
        .select(col("event_type"),
          expr("ts_us DIV 3600000000").as("hour"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .groupBy("event_type", "hour")
        .agg(count(lit(1)).as("nh"), sum("cents").as("sh"))
        .withColumn("h_mean", expr("sh DIV nh"))
      val ord = Window.partitionBy("event_type").orderBy("hour")
      val c25 = ord.rowsBetween(-12, 12)
      val t = hourly
        .withColumn("tw_n", count(lit(1)).over(c25))
        .withColumn("tw_s", sum("h_mean").over(c25))
        .withColumn("trend", expr("CASE WHEN tw_n = 25 THEN tw_s DIV 25 END"))
        .withColumn("det", expr("h_mean - trend"))
        .withColumn("hod", expr("hour % 24"))
      val whod = Window.partitionBy("event_type", "hod")
      t.withColumn("sd_s", sum(when(col("det").isNotNull, col("det"))).over(whod))
        .withColumn("sd_n", sum(when(col("det").isNotNull, 1L).otherwise(0L)).over(whod))
        .withColumn("seasonal", expr(
          """CASE WHEN sd_n = 0 THEN CAST(NULL AS BIGINT)
             WHEN sd_s >= 0 THEN sd_s DIV sd_n
             ELSE -((-sd_s) DIV sd_n) END"""))
        .withColumn("residual", expr("det - seasonal"))
        .where(col("trend").isNotNull && col("hour") % 3 === 1)
        .select("event_type", "hour", "h_mean", "trend", "seasonal", "residual")
        .orderBy("event_type", "hour")
    },
      // Same centered frame, same sign-safe seasonal means, same identity.
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS nh,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sh
        |  FROM events GROUP BY 1, 2),
        |hm AS (SELECT event_type, hour, sh // nh AS h_mean FROM h),
        |t AS (SELECT event_type, hour, h_mean,
        |    CAST(COUNT(*) OVER c25 AS BIGINT) AS tw_n,
        |    CAST(SUM(h_mean) OVER c25 AS BIGINT) AS tw_s
        |  FROM hm
        |  WINDOW c25 AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |dt AS (SELECT event_type, hour, h_mean,
        |    CASE WHEN tw_n = 25 THEN tw_s // 25 END AS trend,
        |    h_mean - (CASE WHEN tw_n = 25 THEN tw_s // 25 END) AS det,
        |    hour % 24 AS hod
        |  FROM t),
        |sd AS (SELECT event_type, hour, h_mean, trend, det,
        |    CAST(SUM(CASE WHEN det IS NOT NULL THEN det END)
        |      OVER (PARTITION BY event_type, hod) AS BIGINT) AS sd_s,
        |    CAST(SUM(CASE WHEN det IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type, hod) AS BIGINT) AS sd_n
        |  FROM dt)
        |SELECT event_type, hour, h_mean, trend,
        |  CASE WHEN sd_n = 0 THEN CAST(NULL AS BIGINT)
        |    WHEN sd_s >= 0 THEN sd_s // sd_n
        |    ELSE -((-sd_s) // sd_n) END AS seasonal,
        |  det - (CASE WHEN sd_n = 0 THEN CAST(NULL AS BIGINT)
        |    WHEN sd_s >= 0 THEN sd_s // sd_n
        |    ELSE -((-sd_s) // sd_n) END) AS residual
        |FROM sd WHERE trend IS NOT NULL AND hour % 3 = 1
        |ORDER BY event_type, hour""".stripMargin),

    // Grid-bucketed nearest neighbor — the SPATIAL JOIN that answers
    // "closest point", not "same cell" (join_spatial_grid's containment):
    // md5 micro-coordinates, 20×20 grid cells as the blocking key, the
    // within-cell pair join ranked by EXACT squared distance with id
    // tie-break (no sqrt needed — argmin of d² is argmin of d), rn=1 per
    // point. The cell key bounds the pair blow-up exactly the way a
    // 100 TB spatial index would.
    Op("join_nearest_spatial", (s, d) => {
      val pts = Tables.events(s, d)
        .where(col("event_id") % 10 === 2)
        .select(col("event_id"))
        .withColumn("x", expr(s"${md5Bits("px", "event_id", 8)} % 1000000"))
        .withColumn("y", expr(s"${md5Bits("py", "event_id", 8)} % 1000000"))
        .withColumn("cell", expr("(x DIV 50000) * 100 + y DIV 50000"))
        .withColumnRenamed("event_id", "pid")
      val a = pts.select(col("pid").as("a_id"), col("x").as("ax"),
        col("y").as("ay"), col("cell"))
      val b = pts.select(col("pid").as("b_id"), col("x").as("bx"),
        col("y").as("by"), col("cell"))
      val w = Window.partitionBy("a_id").orderBy(col("dist2"), col("b_id"))
      a.join(b, Seq("cell")).where(col("a_id") =!= col("b_id"))
        .withColumn("dist2", expr("(ax - bx) * (ax - bx) + (ay - by) * (ay - by)"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("a_id", "b_id", "dist2", "cell")
        .orderBy("a_id")
    },
      // Same grid blocking, same exact squared-distance argmin.
      s"""WITH p AS (SELECT event_id AS pid,
        |    ${duckMd5Bits("px", "event_id", 8)} % 1000000 AS x,
        |    ${duckMd5Bits("py", "event_id", 8)} % 1000000 AS y
        |  FROM events WHERE event_id % 10 = 2),
        |c AS (SELECT pid, x, y, (x // 50000) * 100 + y // 50000 AS cell FROM p),
        |j AS (SELECT a.pid AS a_id, b.pid AS b_id, a.cell,
        |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |  FROM c a JOIN c b ON a.cell = b.cell AND a.pid != b.pid),
        |r AS (SELECT a_id, b_id, dist2, cell,
        |    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dist2, b_id) AS rn
        |  FROM j)
        |SELECT a_id, b_id, dist2, cell FROM r WHERE rn = 1
        |ORDER BY a_id""".stripMargin),

    // TTL retention planning — the lifecycle ledger a 100 TB warehouse
    // runs nightly (snapshot_expire ages SNAPSHOTS; this ages DATA
    // partitions): (type, day) partitions, age against the corpus's own
    // max day (no wall clock — determinism), hot ≤ 7 d / warm ≤ 21 d /
    // delete beyond (the fixture spans 30 days — all three tiers populate), per-tier partition/row/byte rollup with reclaimable
    // bytes; the max-day broadcast is one tiny cross join.
    Op("warehouse_ttl_retention_plan", (s, d) => {
      val parts = Tables.events(s, d)
        .select(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("p_rows"))
      val maxDay = parts.agg(max("day").as("max_day"))
      parts.crossJoin(broadcast(maxDay))
        .withColumn("age_days", expr("max_day - day"))
        .withColumn("tier", expr(
          "CASE WHEN age_days <= 7 THEN 'hot' WHEN age_days <= 21 THEN 'warm' ELSE 'delete' END"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_partitions"),
          sum("p_rows").as("n_rows"),
          sum(expr("p_rows * 96")).as("est_bytes"),
          sum(expr("CASE WHEN age_days > 21 THEN p_rows * 96 ELSE 0 END")).as("reclaim_bytes"))
        .orderBy("tier")
    },
      // Same wall-clock-free aging, same per-tier byte ledger.
      """WITH parts AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS p_rows
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT MAX(day) AS max_day FROM parts),
        |aged AS (SELECT p.*, m.max_day - p.day AS age_days FROM parts p, m),
        |t AS (SELECT *,
        |    CASE WHEN age_days <= 7 THEN 'hot'
        |      WHEN age_days <= 21 THEN 'warm' ELSE 'delete' END AS tier
        |  FROM aged)
        |SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_partitions,
        |  CAST(SUM(p_rows) AS BIGINT) AS n_rows,
        |  CAST(SUM(p_rows * 96) AS BIGINT) AS est_bytes,
        |  CAST(SUM(CASE WHEN age_days > 21 THEN p_rows * 96 ELSE 0 END) AS BIGINT) AS reclaim_bytes
        |FROM t GROUP BY 1 ORDER BY tier""".stripMargin),

    // IPv4/CIDR classification — the network-analytics primitive (flow
    // logs, abuse triage, egress audits) this engine had zero coverage
    // for: 32-bit addresses from md5, RFC-1918 containment decided by the
    // SHIFT COMPARE ip >> (32−p) = base >> (32−p) (the hardware's own
    // longest-prefix idea, no string parsing), dotted-quad rendered by
    // pure DIV/mod, per-block rollup. Everything integer or concat.
    Op("fn_ipv4_cidr", (s, d) => {
      Tables.events(s, d)
        .select(col("event_id"))
        .withColumn("ip", expr(
          s"${md5Bits("ip", "event_id", 8)} % 4294967296"))
        .withColumn("block", expr(
          """CASE WHEN ip >> 24 = 10 THEN '10.0.0.0/8'
             WHEN ip >> 20 = 2753 THEN '172.16.0.0/12'
             WHEN ip >> 16 = 49320 THEN '192.168.0.0/16'
             ELSE 'public' END"""))
        .withColumn("dotted", expr(
          "concat(CAST(ip DIV 16777216 AS STRING), '.', CAST(ip DIV 65536 % 256 AS STRING), '.', CAST(ip DIV 256 % 256 AS STRING), '.', CAST(ip % 256 AS STRING))"))
        .groupBy("block")
        .agg(count(lit(1)).as("n_ips"),
          min("ip").as("min_ip"), max("ip").as("max_ip"),
          min("dotted").as("min_dotted"))
        .orderBy("block")
    },
      // Same shift-compare containment, same DIV/mod dotted rendering.
      s"""WITH i AS (SELECT event_id,
        |    ${duckMd5Bits("ip", "event_id", 8)} % 4294967296 AS ip
        |  FROM events),
        |c AS (SELECT ip,
        |    CASE WHEN ip >> 24 = 10 THEN '10.0.0.0/8'
        |      WHEN ip >> 20 = 2753 THEN '172.16.0.0/12'
        |      WHEN ip >> 16 = 49320 THEN '192.168.0.0/16'
        |      ELSE 'public' END AS block,
        |    CAST(ip // 16777216 AS VARCHAR) || '.' || CAST(ip // 65536 % 256 AS VARCHAR)
        |      || '.' || CAST(ip // 256 % 256 AS VARCHAR) || '.' || CAST(ip % 256 AS VARCHAR) AS dotted
        |  FROM i)
        |SELECT block, CAST(COUNT(*) AS BIGINT) AS n_ips,
        |  CAST(MIN(ip) AS BIGINT) AS min_ip, CAST(MAX(ip) AS BIGINT) AS max_ip,
        |  MIN(dotted) AS min_dotted
        |FROM c GROUP BY 1 ORDER BY block""".stripMargin),

    // MCQ position-bias audit — the eval pathology where a model prefers
    // slot A regardless of content (llm_length_bias_audit's sibling; both
    // are judge-validity checks): uniform md5 truth slots, a PLANTED
    // 40%-toward-slot-0 predictor, per-slot prediction counts and
    // accuracy in exact ppm, and the uniformity χ² = (4Σc²−N²)/N kept as
    // an integer rational with the df=3 flag cross-multiplied.
    Op("llm_mcq_position_bias", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("truth", expr(s"${md5Bits("mcqt", "doc_id", 8)} % 4"))
        .withColumn("pred", expr(
          s"CASE WHEN ${md5Bits("mcqb", "doc_id", 8)} % 10 < 4 THEN CAST(0 AS BIGINT) ELSE ${md5Bits("mcqp", "doc_id", 8)} % 4 END"))
      val slots = (0 to 3).flatMap { j =>
        Seq(sum(when(col("pred") === j, 1L).otherwise(0L)).as(s"c$j"),
          sum(when(col("pred") === j && col("truth") === j, 1L).otherwise(0L)).as(s"hit$j"))
      }
      t.agg(count(lit(1)).as("n"), slots: _*)
        .withColumn("chi2_num", expr(
          "4 * (c0*c0 + c1*c1 + c2*c2 + c3*c3) - n * n"))
        .withColumn("chi2_den", col("n"))
        .withColumn("biased", expr("1000 * chi2_num > 7815 * chi2_den"))
        .withColumn("acc0_ppm", expr("CASE WHEN c0 = 0 THEN CAST(0 AS BIGINT) ELSE hit0 * 1000000 DIV c0 END"))
        .withColumn("acc_rest_ppm", expr(
          "CASE WHEN c1 + c2 + c3 = 0 THEN CAST(0 AS BIGINT) ELSE (hit1 + hit2 + hit3) * 1000000 DIV (c1 + c2 + c3) END"))
        .select("n", "c0", "c1", "c2", "c3", "chi2_num", "chi2_den",
          "biased", "acc0_ppm", "acc_rest_ppm")
    },
      // Same planted slot-0 pull, same integer uniformity rational.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("mcqt", "doc_id", 8)} % 4 AS truth,
        |    CASE WHEN ${duckMd5Bits("mcqb", "doc_id", 8)} % 10 < 4
        |      THEN 0
        |      ELSE ${duckMd5Bits("mcqp", "doc_id", 8)} % 4 END AS pred
        |  FROM documents),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN pred = 0 AND truth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS hit0,
        |    CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN pred = 1 AND truth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hit1,
        |    CAST(SUM(CASE WHEN pred = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN pred = 2 AND truth = 2 THEN 1 ELSE 0 END) AS BIGINT) AS hit2,
        |    CAST(SUM(CASE WHEN pred = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN pred = 3 AND truth = 3 THEN 1 ELSE 0 END) AS BIGINT) AS hit3
        |  FROM t)
        |SELECT n, c0, c1, c2, c3,
        |  4 * (c0*c0 + c1*c1 + c2*c2 + c3*c3) - n * n AS chi2_num,
        |  n AS chi2_den,
        |  1000 * (4 * (c0*c0 + c1*c1 + c2*c2 + c3*c3) - n * n) > 7815 * n AS biased,
        |  CASE WHEN c0 = 0 THEN CAST(0 AS BIGINT) ELSE hit0 * 1000000 // c0 END AS acc0_ppm,
        |  CASE WHEN c1 + c2 + c3 = 0 THEN CAST(0 AS BIGINT)
        |    ELSE (hit1 + hit2 + hit3) * 1000000 // (c1 + c2 + c3) END AS acc_rest_ppm
        |FROM m""".stripMargin),

    // MAPE / sMAPE — the forecast-error pair every capacity dashboard
    // quotes (agg_forecast_backtest grades a model; these grade the ERROR
    // METRIC itself): seasonal-naive forecast = hourly mean lagged 24 h,
    // per-row errors cleared to fixed-point ppm by one non-negative DIV
    // each (|a−f|·10⁶ DIV a; 2|a−f|·10⁶ DIV (a+f)), then truncated means
    // — the documented fixed-point contract, deterministic cross-engine.
    Op("agg_mape_smape", (s, d) => {
      val hourly = Tables.events(s, d)
        .select(col("event_type"),
          expr("ts_us DIV 3600000000").as("hour"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .groupBy("event_type", "hour")
        .agg(count(lit(1)).as("nh"), sum("cents").as("sh"))
        .withColumn("a", expr("sh DIV nh"))
      val ord = Window.partitionBy("event_type").orderBy("hour")
      hourly.withColumn("f", lag("a", 24).over(ord))
        .where(col("f").isNotNull && col("a") > 0 && expr("a + f > 0"))
        .withColumn("ape_ppm", expr("abs(a - f) * 1000000 DIV a"))
        .withColumn("sape_ppm", expr("2 * abs(a - f) * 1000000 DIV (a + f)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("ape_ppm").as("ape_sum"), sum("sape_ppm").as("sape_sum"))
        .withColumn("mape_ppm", expr("ape_sum DIV n"))
        .withColumn("smape_ppm", expr("sape_sum DIV n"))
        .select("event_type", "n", "mape_ppm", "smape_ppm")
        .orderBy("event_type")
    },
      // Same seasonal-naive forecast, same fixed-point per-row clearing.
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS nh,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sh
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, hour, sh // nh AS a FROM h),
        |f AS (SELECT event_type, hour, a,
        |    lag(a, 24) OVER (PARTITION BY event_type ORDER BY hour) AS f
        |  FROM a),
        |e AS (SELECT event_type,
        |    abs(a - f) * 1000000 // a AS ape_ppm,
        |    2 * abs(a - f) * 1000000 // (a + f) AS sape_ppm
        |  FROM f WHERE f IS NOT NULL AND a > 0 AND a + f > 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(ape_ppm) AS BIGINT) // COUNT(*) AS mape_ppm,
        |  CAST(SUM(sape_ppm) AS BIGINT) // COUNT(*) AS smape_ppm
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Best-of-N sampling audit — the inference-time scaling move (sample
    // N, keep the reward model's favorite) graded for what it actually
    // buys: 10-candidate groups, latent quality q and a NOISY proxy score
    // q + U(−200,200) (an imperfect reward model — the realistic case),
    // the BoN pick is the score-argmax via a deterministic window, and
    // the ledger reports picked/oracle/first-sample quality plus the
    // win rate over the baseline — regret included, exact integers only.
    Op("llm_best_of_n", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("grp", expr("doc_id DIV 10"))
        .withColumn("q", expr(s"${md5Bits("bq", "doc_id", 8)} % 1000"))
        .withColumn("score", expr(s"q + ${md5Bits("be", "doc_id", 8)} % 400 - 200"))
      val w = Window.partitionBy("grp")
        .orderBy(col("score").desc, col("doc_id"))
      val g = t.withColumn("rn", row_number().over(w))
        .groupBy("grp")
        .agg(count(lit(1)).as("k"),
          max(when(col("rn") === 1, col("q"))).as("picked_q"),
          max("q").as("oracle_q"),
          max(when(expr("doc_id % 10 = 0"), col("q"))).as("first_q"))
        .where(col("k") === 10)
      g.agg(count(lit(1)).as("n_groups"),
          sum("picked_q").as("picked_sum"),
          sum("oracle_q").as("oracle_sum"),
          sum("first_q").as("first_sum"),
          sum(when(col("picked_q") > col("first_q"), 1L).otherwise(0L)).as("wins"))
        .withColumn("picked_mean_milli", expr("picked_sum * 1000 DIV n_groups"))
        .withColumn("regret_mean_milli", expr("(oracle_sum - picked_sum) * 1000 DIV n_groups"))
        .withColumn("win_rate_ppm", expr("wins * 1000000 DIV n_groups"))
        .select("n_groups", "picked_sum", "oracle_sum", "first_sum",
          "picked_mean_milli", "regret_mean_milli", "win_rate_ppm")
    },
      // Same noisy proxy, same deterministic argmax, same regret ledger.
      s"""WITH t AS (SELECT doc_id, doc_id // 10 AS grp,
        |    ${duckMd5Bits("bq", "doc_id", 8)} % 1000 AS q,
        |    ${duckMd5Bits("bq", "doc_id", 8)} % 1000
        |      + ${duckMd5Bits("be", "doc_id", 8)} % 400 - 200 AS score
        |  FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC, doc_id) AS rn
        |  FROM t),
        |g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(MAX(CASE WHEN rn = 1 THEN q END) AS BIGINT) AS picked_q,
        |    CAST(MAX(q) AS BIGINT) AS oracle_q,
        |    CAST(MAX(CASE WHEN doc_id % 10 = 0 THEN q END) AS BIGINT) AS first_q
        |  FROM r GROUP BY 1),
        |f AS (SELECT * FROM g WHERE k = 10)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(picked_q) AS BIGINT) AS picked_sum,
        |  CAST(SUM(oracle_q) AS BIGINT) AS oracle_sum,
        |  CAST(SUM(first_q) AS BIGINT) AS first_sum,
        |  CAST(SUM(picked_q) AS BIGINT) * 1000 // COUNT(*) AS picked_mean_milli,
        |  (CAST(SUM(oracle_q) AS BIGINT) - CAST(SUM(picked_q) AS BIGINT)) * 1000 // COUNT(*) AS regret_mean_milli,
        |  CAST(SUM(CASE WHEN picked_q > first_q THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS win_rate_ppm
        |FROM f""".stripMargin),

    // Self-consistency voting — sample k=5 answers and take the MAJORITY
    // (the eval-time ensembling llm_pass_at_k estimates and this one
    // executes): per question, each sample is right with p=0.4 plus
    // uniform noise (effective p≈0.55), the vote tally is a fixed CASE
    // cascade with the ties-to-smallest-index contract, and the ledger
    // grades majority accuracy AGAINST single-sample accuracy — the gain
    // is the whole point and it is exact-integer end to end.
    Op("llm_self_consistency", (s, d) => {
      def samp(i: Int) =
        s"(CASE WHEN ${md5Bits(s"scs$i", "doc_id", 8)} % 10 < 4 THEN truth ELSE ${md5Bits(s"scr$i", "doc_id", 8)} % 4 END)"
      val votes = (0 to 3).map { a =>
        val terms = (1 to 5).map(i => s"(CASE WHEN s$i = $a THEN 1 ELSE 0 END)").mkString(" + ")
        (s"v$a", s"CAST($terms AS BIGINT)")
      }
      var t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("truth", expr(s"${md5Bits("sct", "doc_id", 8)} % 4"))
      (1 to 5).foreach { i => t = t.withColumn(s"s$i", expr(samp(i))) }
      votes.foreach { case (name, ex) => t = t.withColumn(name, expr(ex)) }
      t.withColumn("maj", expr(
          """CAST(CASE WHEN v0 >= v1 AND v0 >= v2 AND v0 >= v3 THEN 0
             WHEN v1 >= v2 AND v1 >= v3 THEN 1
             WHEN v2 >= v3 THEN 2 ELSE 3 END AS BIGINT)"""))
        .agg(count(lit(1)).as("n"),
          sum(when(col("s1") === col("truth"), 1L).otherwise(0L)).as("single_hits"),
          sum(when(col("maj") === col("truth"), 1L).otherwise(0L)).as("maj_hits"))
        .withColumn("single_acc_ppm", expr("single_hits * 1000000 DIV n"))
        .withColumn("maj_acc_ppm", expr("maj_hits * 1000000 DIV n"))
        // difference of two already-truncated ppms — exact, sign-safe by
        // construction (never a DIV over a negative numerator)
        .withColumn("gain_ppm", expr("maj_hits * 1000000 DIV n - single_hits * 1000000 DIV n"))
    },
      // Same vote cascade with ties-to-smallest, same exact gain.
      {
      def samp(i: Int) =
        s"(CASE WHEN (${duckMd5Bits(s"scs$i", "doc_id", 8)}) % 10 < 4 THEN truth ELSE (${duckMd5Bits(s"scr$i", "doc_id", 8)}) % 4 END)"
      val sampCols = (1 to 5).map(i => s"    ${samp(i)} AS s$i").mkString(",\n")
      val voteCols = (0 to 3).map { a =>
        val terms = (1 to 5).map(i => s"(CASE WHEN s$i = $a THEN 1 ELSE 0 END)").mkString(" + ")
        s"    CAST($terms AS BIGINT) AS v$a"
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id,
         |    (${duckMd5Bits("sct", "doc_id", 8)}) % 4 AS truth
         |  FROM documents),
         |s AS (SELECT doc_id, truth,
         |$sampCols
         |  FROM t),
         |v AS (SELECT doc_id, truth, s1,
         |$voteCols
         |  FROM s),
         |m AS (SELECT *,
         |    CAST(CASE WHEN v0 >= v1 AND v0 >= v2 AND v0 >= v3 THEN 0
         |      WHEN v1 >= v2 AND v1 >= v3 THEN 1
         |      WHEN v2 >= v3 THEN 2 ELSE 3 END AS BIGINT) AS maj
         |  FROM v)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN s1 = truth THEN 1 ELSE 0 END) AS BIGINT) AS single_hits,
         |  CAST(SUM(CASE WHEN maj = truth THEN 1 ELSE 0 END) AS BIGINT) AS maj_hits,
         |  CAST(SUM(CASE WHEN s1 = truth THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS single_acc_ppm,
         |  CAST(SUM(CASE WHEN maj = truth THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS maj_acc_ppm,
         |  CAST(SUM(CASE WHEN maj = truth THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*)
         |    - CAST(SUM(CASE WHEN s1 = truth THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS gain_ppm
         |FROM m""".stripMargin
    }),

    // Tukey fences — the NONPARAMETRIC outlier rule beside agg_grubbs'
    // normal-theory one (Grubbs assumes Gaussian tails; Tukey only needs
    // quartiles): rank-picked Q1/Q3 per type, and the 1.5·IQR fences are
    // kept EXACT by scaling the comparison by 2 — outlier iff
    // 2x < 2Q1−3·IQR or 2x > 2Q3+3·IQR, no halves ever materialize. The
    // rank window and the fence counts share one event_type shuffle.
    Op("agg_tukey_fences", (s, d) => {
      val part = Window.partitionBy("event_type")
      val ord = part.orderBy(col("cents"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("cnt", count(lit(1)).over(part))
        .withColumn("q1", max(when(col("rn") === expr("(cnt + 1) DIV 4"), col("cents"))).over(part))
        .withColumn("q3", max(when(col("rn") === expr("(3 * (cnt + 1)) DIV 4"), col("cents"))).over(part))
        .groupBy("event_type")
        .agg(max("cnt").as("n"), max("q1").as("q1"), max("q3").as("q3"),
          sum(when(expr("2 * cents < 2 * q1 - 3 * (q3 - q1)"), 1L).otherwise(0L)).as("n_out_low"),
          sum(when(expr("2 * cents > 2 * q3 + 3 * (q3 - q1)"), 1L).otherwise(0L)).as("n_out_high"))
        .withColumn("iqr", expr("q3 - q1"))
        .orderBy("event_type")
    },
      // Same rank-picked quartiles, same ×2-scaled exact fences.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
        |  FROM e),
        |q AS (SELECT event_type, cents, cnt,
        |    CAST(MAX(CASE WHEN rn = (cnt + 1) // 4 THEN cents END)
        |      OVER (PARTITION BY event_type) AS BIGINT) AS q1,
        |    CAST(MAX(CASE WHEN rn = (3 * (cnt + 1)) // 4 THEN cents END)
        |      OVER (PARTITION BY event_type) AS BIGINT) AS q3
        |  FROM w)
        |SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n,
        |  CAST(MAX(q1) AS BIGINT) AS q1, CAST(MAX(q3) AS BIGINT) AS q3,
        |  CAST(SUM(CASE WHEN 2 * cents < 2 * q1 - 3 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_out_low,
        |  CAST(SUM(CASE WHEN 2 * cents > 2 * q3 + 3 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_out_high,
        |  CAST(MAX(q3) - MAX(q1) AS BIGINT) AS iqr
        |FROM q GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Membership-inference audit — the PRIVACY EVAL beside the DP ledger
    // (the ledger budgets leakage; this MEASURES it): planted members get
    // a −300-milli loss discount, the attack ranks by loss, and its AUC
    // is the exact Mann–Whitney rank-sum rational (nonmember rank sum
    // minus its own minimum over nm·nn, in ppm — deterministic (loss, id)
    // tie-break, no floats). AUC > 0.6 flags the model as leaking.
    // The attack's (loss, id) rank is the two-level banded row_number
    // (the agg_ks_test law): loss ∈ [1700, 3000) bands by DIV 100 (≤ 13
    // bands) — band offsets + per-band partitioned row_number, no global
    // sort at any scale.
    Op("llm_membership_inference", (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("member", expr(s"${md5Bits("mem", "doc_id", 8)} % 2"))
        .withColumn("loss_milli", expr(s"2000 + ${md5Bits("ln", "doc_id", 8)} % 1000 - member * 300"))
        .withColumn("bkt", expr("loss_milli DIV 100"))
      val off = t.groupBy("bkt").agg(count(lit(1)).as("bc"))
        .withColumn("off", coalesce(sum("bc").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      t.join(broadcast(off), "bkt")
        .withColumn("rk", col("off") + row_number().over(
          Window.partitionBy("bkt").orderBy("loss_milli", "doc_id")).cast("bigint"))
        .agg(count(lit(1)).as("n"),
          sum("member").as("nm"),
          sum(when(col("member") === 0, col("rk"))).as("rs_nonmember"))
        .withColumn("nn", expr("n - nm"))
        .withColumn("auc_ppm", expr(
          "(rs_nonmember - nn * (nn + 1) DIV 2) * 1000000 DIV (nn * nm)"))
        .withColumn("leaking", expr("auc_ppm > 600000"))
        .select("n", "nm", "nn", "rs_nonmember", "auc_ppm", "leaking")
    },
      // Same planted discount, same exact rank-sum AUC.
      s"""WITH t AS (SELECT doc_id,
        |    ${duckMd5Bits("mem", "doc_id", 8)} % 2 AS member,
        |    2000 + ${duckMd5Bits("ln", "doc_id", 8)} % 1000
        |      - (${duckMd5Bits("mem", "doc_id", 8)} % 2) * 300 AS loss_milli
        |  FROM documents),
        |r AS (SELECT *,
        |    CAST(ROW_NUMBER() OVER (ORDER BY loss_milli, doc_id) AS BIGINT) AS rk
        |  FROM t),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(member) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN member = 0 THEN rk END) AS BIGINT) AS rs_nonmember
        |  FROM r)
        |SELECT n, nm, n - nm AS nn, rs_nonmember,
        |  (rs_nonmember - (n - nm) * (n - nm + 1) // 2) * 1000000 // ((n - nm) * nm) AS auc_ppm,
        |  (rs_nonmember - (n - nm) * (n - nm + 1) // 2) * 1000000 // ((n - nm) * nm) > 600000 AS leaking
        |FROM m""".stripMargin),

    // Rolling VWAP — the volume-weighted price beside win_twap's
    // time-weighted one (fills weigh by traded size, not elapsed time):
    // one 20-row frame per type carries Σp·v and Σv, the quotient is a
    // single non-negative integer DIV per row, and the synthetic volume
    // user_id%7+1 keeps every weight in [1,7] — exact end to end.
    Op("win_vwap", (s, d) => {
      val w20 = Window.partitionBy("event_type")
        .orderBy(col("ts_us"), col("event_id")).rowsBetween(-19, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"),
          expr("user_id % 7 + 1").as("vol"))
        .withColumn("nw", count(lit(1)).over(w20))
        .withColumn("pv", sum(expr("cents * vol")).over(w20))
        .withColumn("v", sum("vol").over(w20))
        .where(col("nw") === 20 && col("event_id") % 7 === 3)
        .withColumn("vwap_cents", expr("pv DIV v"))
        .select("event_type", "event_id", "cents", "vol", "pv", "v", "vwap_cents")
        .orderBy("event_type", "event_id")
    },
      // Same 20-row weight frame, same single non-negative quotient.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    user_id % 7 + 1 AS vol
        |  FROM events),
        |w AS (SELECT event_type, event_id, cents, vol,
        |    CAST(COUNT(*) OVER w20 AS BIGINT) AS nw,
        |    CAST(SUM(cents * vol) OVER w20 AS BIGINT) AS pv,
        |    CAST(SUM(vol) OVER w20 AS BIGINT) AS v
        |  FROM e
        |  WINDOW w20 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id, cents, vol, pv, v, pv // v AS vwap_cents
        |FROM w WHERE nw = 20 AND event_id % 7 = 3
        |ORDER BY event_type, event_id""".stripMargin),

    // Access-log anomaly — the behavioral layer of the governance stack
    // (rls_matrix says WHO may read, dp_epsilon_ledger prices WHAT they
    // read, this watches HOW OFTEN): per (analyst, hour) access counts,
    // each analyst's own MEDIAN hourly rate by deterministic rank pick,
    // and hours above 2× that personal baseline flag — all integer
    // compares, robust to the analyst's own scale by construction.
    Op("warehouse_access_anomaly", (s, d) => {
      val hourly = Tables.events(s, d)
        .select(expr("user_id % 20").as("analyst"),
          expr("ts_us DIV 3600000000").as("hour"))
        .groupBy("analyst", "hour")
        .agg(count(lit(1)).as("accesses"))
      val part = Window.partitionBy("analyst")
      val ord = part.orderBy(col("accesses"), col("hour"))
      hourly
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("nh", count(lit(1)).over(part))
        .withColumn("med", max(when(col("rn") === expr("(nh + 1) DIV 2"), col("accesses"))).over(part))
        .groupBy("analyst")
        .agg(max("nh").as("n_hours"), max("med").as("median_rate"),
          sum(when(expr("accesses > 2 * med"), 1L).otherwise(0L)).as("n_anomalous_hours"),
          max(when(expr("accesses > 2 * med"), col("accesses"))).as("peak_anomaly"))
        .withColumn("peak_anomaly", coalesce(col("peak_anomaly"), lit(0L)))
        .orderBy("analyst")
    },
      // Same personal-median baseline, same integer 2× flags.
      """WITH h AS (SELECT user_id % 20 AS analyst, epoch_us(ts) // 3600000000 AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS accesses
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT analyst, hour, accesses,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY analyst ORDER BY accesses, hour) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY analyst) AS BIGINT) AS nh
        |  FROM h),
        |m AS (SELECT analyst, hour, accesses, nh,
        |    CAST(MAX(CASE WHEN rn = (nh + 1) // 2 THEN accesses END)
        |      OVER (PARTITION BY analyst) AS BIGINT) AS med
        |  FROM w)
        |SELECT analyst, CAST(MAX(nh) AS BIGINT) AS n_hours,
        |  CAST(MAX(med) AS BIGINT) AS median_rate,
        |  CAST(SUM(CASE WHEN accesses > 2 * med THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous_hours,
        |  COALESCE(CAST(MAX(CASE WHEN accesses > 2 * med THEN accesses END) AS BIGINT), 0) AS peak_anomaly
        |FROM m GROUP BY 1 ORDER BY analyst""".stripMargin),

    // Gradient-noise-scale estimate — the critical-batch-size diagnostic
    // (McCandlish et al.'s B_simple ≈ tr(Σ)/|G|², the number that says
    // when bigger batches stop helping): 64 md5 shard-gradient proxies,
    // variance numerator A2 = nΣg²−(Σg)² in exact integers (the
    // cancellation law), and B_milli = A2·n·1000 DIV ((n−1)·(Σg)²) one
    // exact rational — the whole estimator never touches a float.
    Op("llm_grad_noise_scale", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"))
        .withColumn("shard", expr("doc_id % 64"))
        .withColumn("g", expr(
          s"1000 + ${md5Bits("gns", "doc_id", 8)} % 400 - 200"))
        .groupBy("shard").agg(sum("g").as("gs"))
        .agg(count(lit(1)).as("n"),
          sum("gs").as("s1"),
          sum((col("gs") * col("gs")).cast("decimal(38,0)")).cast("bigint").as("s2"))
        .withColumn("a2", expr("n * s2 - s1 * s1"))
        .withColumn("b_simple_milli", expr(
          "CAST(CAST(a2 AS DECIMAL(38,0)) * n * 1000 DIV ((n - 1) * CAST(s1 AS DECIMAL(38,0)) * s1) AS BIGINT)"))
        .select("n", "s1", "s2", "a2", "b_simple_milli")
    },
      // Same shard proxies, same cancellation-law exact rational.
      s"""WITH t AS (SELECT doc_id % 64 AS shard,
        |    1000 + ${duckMd5Bits("gns", "doc_id", 8)} % 400 - 200 AS g
        |  FROM documents),
        |sh AS (SELECT shard, CAST(SUM(g) AS BIGINT) AS gs FROM t GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(gs) AS BIGINT) AS s1,
        |    CAST(SUM(gs::HUGEINT * gs) AS BIGINT) AS s2
        |  FROM sh)
        |SELECT n, s1, s2, n * s2 - s1 * s1 AS a2,
        |  CAST((n * s2 - s1 * s1)::HUGEINT * n * 1000
        |    // ((n - 1) * s1::HUGEINT * s1) AS BIGINT) AS b_simple_milli
        |FROM m""".stripMargin),

    // Bloom-filter sizing plan — the parameter table behind
    // sink_parquet_bloom (that op USES a bloom filter; this one SIZES it):
    // for p=0.01 the optimal bits/key is ln p⁻¹/(ln 2)² ≈ 9.585 (frozen
    // to the integer literal 9585 milli-bits — no runtime transcendental)
    // and k = 7 hashes; per 512-token corpus band the plan emits ceil'd
    // bits, bytes, and k — the exact integer ledger an ingest job ships.
    Op("fn_bloom_parameters", (s, d) =>
      Tables.documents(s, d)
        .select(expr("CAST(length(text) DIV 4 AS BIGINT) DIV 512").as("band"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_keys"))
        .withColumn("m_bits", expr("(n_keys * 9585 + 999) DIV 1000"))
        .withColumn("m_bytes", expr("((n_keys * 9585 + 999) DIV 1000 + 7) DIV 8"))
        .withColumn("k_hashes", lit(7L))
        .withColumn("bits_per_key_milli", lit(9585L))
        .orderBy("band"),
      // Same frozen 9585 milli-bits/key, same ceil'd integer ledger.
      """WITH b AS (SELECT CAST(length(text) // 4 AS BIGINT) // 512 AS band
        |  FROM documents),
        |g AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_keys FROM b GROUP BY 1)
        |SELECT band, n_keys,
        |  (n_keys * 9585 + 999) // 1000 AS m_bits,
        |  ((n_keys * 9585 + 999) // 1000 + 7) // 8 AS m_bytes,
        |  CAST(7 AS BIGINT) AS k_hashes,
        |  CAST(9585 AS BIGINT) AS bits_per_key_milli
        |FROM g ORDER BY band""".stripMargin),

    // Allen's interval algebra — ALL 13 temporal relations classified by
    // one endpoint CASE cascade (join_range_interval finds overlaps; this
    // NAMES the relationship — the vocabulary schedulers, CDC mergers and
    // temporal reasoners share): md5 interval pairs, the seven base
    // relations + six inverses from pure integer endpoint compares, and
    // the distribution rollup proves the cascade partitions (every pair
    // classifies exactly once — graded by count conservation).
    Op("fn_allen_intervals", (s, d) => {
      Tables.events(s, d).select(col("event_id"))
        .withColumn("a1", expr(s"${md5Bits("ia", "event_id", 8)} % 1000"))
        .withColumn("a2", expr(s"a1 + ${md5Bits("il", "event_id", 8)} % 100 + 1"))
        .withColumn("b1", expr(s"${md5Bits("ib", "event_id", 8)} % 1000"))
        .withColumn("b2", expr(s"b1 + ${md5Bits("im", "event_id", 8)} % 100 + 1"))
        .withColumn("rel", expr(
          """CASE
             WHEN a2 < b1 THEN 'precedes'
             WHEN a2 = b1 THEN 'meets'
             WHEN b2 < a1 THEN 'preceded_by'
             WHEN b2 = a1 THEN 'met_by'
             WHEN a1 = b1 AND a2 = b2 THEN 'equals'
             WHEN a1 = b1 AND a2 < b2 THEN 'starts'
             WHEN a1 = b1 AND a2 > b2 THEN 'started_by'
             WHEN a2 = b2 AND a1 > b1 THEN 'finishes'
             WHEN a2 = b2 AND a1 < b1 THEN 'finished_by'
             WHEN a1 > b1 AND a2 < b2 THEN 'during'
             WHEN a1 < b1 AND a2 > b2 THEN 'contains'
             WHEN a1 < b1 AND a2 < b2 THEN 'overlaps'
             ELSE 'overlapped_by' END"""))
        .groupBy("rel")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("rel")
    },
      // Same endpoint cascade, same partition-of-13 rollup.
      {
      s"""WITH t AS (SELECT event_id,
         |    (${duckMd5Bits("ia", "event_id", 8)}) % 1000 AS a1,
         |    (${duckMd5Bits("ia", "event_id", 8)}) % 1000 + (${duckMd5Bits("il", "event_id", 8)}) % 100 + 1 AS a2,
         |    (${duckMd5Bits("ib", "event_id", 8)}) % 1000 AS b1,
         |    (${duckMd5Bits("ib", "event_id", 8)}) % 1000 + (${duckMd5Bits("im", "event_id", 8)}) % 100 + 1 AS b2
         |  FROM events),
         |c AS (SELECT CASE
         |    WHEN a2 < b1 THEN 'precedes'
         |    WHEN a2 = b1 THEN 'meets'
         |    WHEN b2 < a1 THEN 'preceded_by'
         |    WHEN b2 = a1 THEN 'met_by'
         |    WHEN a1 = b1 AND a2 = b2 THEN 'equals'
         |    WHEN a1 = b1 AND a2 < b2 THEN 'starts'
         |    WHEN a1 = b1 AND a2 > b2 THEN 'started_by'
         |    WHEN a2 = b2 AND a1 > b1 THEN 'finishes'
         |    WHEN a2 = b2 AND a1 < b1 THEN 'finished_by'
         |    WHEN a1 > b1 AND a2 < b2 THEN 'during'
         |    WHEN a1 < b1 AND a2 > b2 THEN 'contains'
         |    WHEN a1 < b1 AND a2 < b2 THEN 'overlaps'
         |    ELSE 'overlapped_by' END AS rel
         |  FROM t)
         |SELECT rel, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM c GROUP BY 1 ORDER BY rel""".stripMargin
    }),

    // Mann–Kendall trend test — the DISTRIBUTION-FREE monotone-trend
    // detector (agg_page_trend needs blocked treatments; MK asks one
    // series "are you drifting?"): daily mean cents, S = Σ_{i<j}
    // sign(xⱼ−xᵢ) over all day pairs (exact integer, ~30 days → trivial
    // pair join), Var(S) = n(n−1)(2n+5)/18 closed-form, and the z²
    // verdict cross-multiplies to 18000·S² > 3841·n(n−1)(2n+5) — no
    // variance float, no sqrt, ties contribute sign 0 (documented).
    Op("agg_mk_trend", (s, d) => {
      val daily = Tables.events(s, d)
        .select(expr("ts_us DIV 86400000000").as("day"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .groupBy("day").agg(count(lit(1)).as("nd"), sum("cents").as("sd"))
        .withColumn("x", expr("sd DIV nd"))
        .select("day", "x")
      val a = daily.select(col("day").as("di"), col("x").as("xi"))
      val b = daily.select(col("day").as("dj"), col("x").as("xj"))
      a.join(b, col("di") < col("dj"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1 ELSE 0 END AS BIGINT)")).as("s_stat"))
        .withColumn("n", expr(
          "CAST((1 + CAST(sqrt(CAST(8 * n_pairs + 1 AS DOUBLE)) AS BIGINT)) DIV 2 AS BIGINT)"))
        .withColumn("var_num", expr("n * (n - 1) * (2 * n + 5)"))
        .withColumn("trending", expr("18000 * s_stat * s_stat > 3841 * var_num"))
        .withColumn("direction", expr(
          "CAST(CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1 ELSE 0 END AS BIGINT)"))
        .select("n", "n_pairs", "s_stat", "var_num", "trending", "direction")
    },
      // Same exact pair signs, same closed-form cross-multiplied verdict.
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sd
        |  FROM events GROUP BY 1),
        |x AS (SELECT day, sd // nd AS x FROM daily),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM x a JOIN x b ON a.day < b.day),
        |m AS (SELECT n_pairs, s_stat,
        |    CAST((1 + CAST(sqrt(CAST(8 * n_pairs + 1 AS DOUBLE)) AS BIGINT)) // 2 AS BIGINT) AS n
        |  FROM p)
        |SELECT n, n_pairs, s_stat, n * (n - 1) * (2 * n + 5) AS var_num,
        |  18000 * s_stat * s_stat > 3841 * (n * (n - 1) * (2 * n + 5)) AS trending,
        |  CAST(CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1 ELSE 0 END AS BIGINT) AS direction
        |FROM m""".stripMargin),

    // Process capability Cp/Cpk — the SLO-margin index (how many sigmas
    // of headroom a spec window leaves; the SRE reading of a
    // manufacturing classic): spec limits 500..56000 cents, variance from
    // the exact A2 numerator, σ by ONE sqrt over an exact rational, and
    // Cp = (USL−LSL)/6σ, Cpk = min(USL−μ, μ−LSL)/3σ as fixed double
    // shapes where μ enters ONLY via the exact n·USL−Σx integer
    // numerators — means never materialize as floats.
    Op("agg_process_capability", (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 100).cast("bigint").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("s1"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).cast("bigint").as("s2"))
        .withColumn("a2", expr("n * s2 - s1 * s1"))
        .withColumn("sigma", expr(
          "sqrt(CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))"))
        .withColumn("cp", expr(
          "CAST(55500 AS DOUBLE) / (6.0 * sqrt(CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))))"))
        .withColumn("cpk", expr(
          """CAST(least(56000 * n - s1, s1 - 500 * n) AS DOUBLE) / CAST(n AS DOUBLE)
             / (3.0 * sqrt(CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))))"""))
        .withColumn("capable", expr(
          "least(56000 * n - s1, s1 - 500 * n) * least(56000 * n - s1, s1 - 500 * n) * 100 > 9 * a2 * 9"))
        .select("event_type", "n", "a2", "sigma", "cp", "cpk", "capable")
        .orderBy("event_type")
    },
      // Same A2 numerator in int64 (fits: max n·s2 ≈ 2.0e16 at sf0.1), same
      // one-sqrt-over-exact-rational σ, same chained-division cp/cpk shapes.
      """WITH e AS (SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS c FROM events),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS s1,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS s2
        |  FROM e GROUP BY 1),
        |a AS (SELECT event_type, n, n * s2 - s1 * s1 AS a2, s1 FROM g)
        |SELECT event_type, n, a2,
        |  sqrt(CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) AS sigma,
        |  CAST(55500 AS DOUBLE) / (6.0 * sqrt(CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))) AS cp,
        |  CAST(least(56000 * n - s1, s1 - 500 * n) AS DOUBLE) / CAST(n AS DOUBLE)
        |    / (3.0 * sqrt(CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))) AS cpk,
        |  least(56000 * n - s1, s1 - 500 * n) * least(56000 * n - s1, s1 - 500 * n) * 100 > 9 * a2 * 9 AS capable
        |FROM a ORDER BY event_type""".stripMargin),

    // Beta-binomial posterior — the BAYESIAN reading of a conversion rate
    // (agg_ab_ttest asks "significant?"; this asks "what do we BELIEVE?"):
    // Beta(2,8) prior on an md5 arm with a planted 30% rate, posterior
    // Beta(2+k, 8+n−k) summarized by its EXACT rational moments — mean
    // (2+k)/(10+n) and variance αβ/((α+β)²(α+β+1)) both cleared to ppm
    // integer DIVs (numerators non-negative), plus the prior-vs-data
    // shrinkage gap the Bayesian machinery exists to show.
    Op("agg_beta_binomial", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("hit", expr(
          s"CASE WHEN ${md5Bits("bb", "doc_id", 8)} % 10 < 3 THEN 1 ELSE 0 END"))
        .agg(count(lit(1)).as("n"), sum("hit").cast("long").as("k"))
        .withColumn("alpha_post", expr("2 + k"))
        .withColumn("beta_post", expr("8 + n - k"))
        .withColumn("post_mean_ppm", expr(
          "alpha_post * 1000000 DIV (alpha_post + beta_post)"))
        .withColumn("post_var_ppb", expr(
          """CAST(CAST(alpha_post AS DECIMAL(38,0)) * beta_post * 1000000000
             DIV (CAST(alpha_post + beta_post AS DECIMAL(38,0)) * (alpha_post + beta_post)
               * (alpha_post + beta_post + 1)) AS BIGINT)"""))
        .withColumn("mle_ppm", expr("k * 1000000 DIV n"))
        .withColumn("shrinkage_ppm", expr(
          "alpha_post * 1000000 DIV (alpha_post + beta_post) - k * 1000000 DIV n"))
    },
      // Same md5 arm draw, same exact-rational posterior moments cleared to
      // ppm/ppb integer DIVs (all numerators non-negative).
      s"""WITH h AS (SELECT CASE WHEN ${duckMd5Bits("bb", "doc_id", 8)} % 10 < 3
        |      THEN 1 ELSE 0 END AS hit FROM documents),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(hit) AS BIGINT) AS k FROM h),
        |p AS (SELECT n, k, 2 + k AS alpha_post, 8 + n - k AS beta_post FROM a)
        |SELECT n, k, alpha_post, beta_post,
        |  alpha_post * 1000000 // (alpha_post + beta_post) AS post_mean_ppm,
        |  CAST(CAST(alpha_post AS HUGEINT) * beta_post * 1000000000
        |    // (CAST(alpha_post + beta_post AS HUGEINT) * (alpha_post + beta_post)
        |      * (alpha_post + beta_post + 1)) AS BIGINT) AS post_var_ppb,
        |  k * 1000000 // n AS mle_ppm,
        |  alpha_post * 1000000 // (alpha_post + beta_post) - k * 1000000 // n AS shrinkage_ppm
        |FROM p""".stripMargin),

    // One-way ANOVA — the PARAMETRIC k-group mean test beside
    // agg_kruskal_wallis' rank-based one: per-type exact integer moments
    // (n, Σc, Σc² through DECIMAL(38,0)), group and grand means FROZEN to
    // milli-cent fixed point (the documented fixed-point contract — both
    // engines truncate identically), SSB = Σnᵢ(mᵢ−m)² exact in int64,
    // SSW = Σ(10⁶qᵢ − 2000sᵢmᵢ + nᵢmᵢ²) exact in DECIMAL(38,0) (the
    // cancellation-law shape at milli scale), and the F verdict fully
    // cross-multiplied against F(4,∞)=2.372: 10⁹·SSB·(n−k) > 2372·(k−1)·SSWsc.
    Op("agg_anova_oneway", (s, d) => {
      val g = Tables.events(s, d)
        .select(col("event_type"), floor(col("value") * 100).cast("bigint").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ni"), sum("c").as("si"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("qi"))
        .withColumn("mi", expr("si * 1000 DIV ni"))
      val grand = g.agg(count(lit(1)).as("k"), sum("ni").as("n"), sum("si").as("stot"))
        .withColumn("m", expr("stot * 1000 DIV n"))
      g.crossJoin(broadcast(grand))
        .select(col("k"), col("n"),
          expr("ni * (mi - m) * (mi - m)").as("ssb_i"),
          expr("""CAST(1000000 AS DECIMAL(38,0)) * qi
                 - CAST(2000 AS DECIMAL(38,0)) * si * mi
                 + CAST(ni AS DECIMAL(38,0)) * mi * mi""").as("ssw_i"))
        .groupBy("k", "n")
        .agg(sum("ssb_i").as("ssb"),
          sum("ssw_i").cast("decimal(38,0)").as("ssw_sc"))
        .withColumn("ssw_cents2", expr("CAST(ssw_sc DIV 1000000 AS BIGINT)"))
        .withColumn("f_milli", expr(
          """CAST(CAST(ssb AS DECIMAL(38,0)) * (n - k) * 1000000000
             DIV (CAST(k - 1 AS DECIMAL(38,0)) * ssw_sc) AS BIGINT)"""))
        .withColumn("significant", expr(
          "CAST(ssb AS DECIMAL(38,0)) * (n - k) * 1000000000 > 2372 * (CAST(k - 1 AS DECIMAL(38,0)) * ssw_sc) * 1000000"))
        .select("k", "n", "ssb", "ssw_cents2", "f_milli", "significant")
    },
      // Same milli-frozen means, same cancellation-law SSW in HUGEINT,
      // same cross-multiplied F verdict.
      """WITH e AS (SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS c FROM events),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ni,
        |    CAST(SUM(c) AS BIGINT) AS si,
        |    SUM(CAST(c AS HUGEINT) * c) AS qi
        |  FROM e GROUP BY 1),
        |gm AS (SELECT *, si * 1000 // ni AS mi FROM g),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ni) AS BIGINT) AS n,
        |    CAST(SUM(si) AS BIGINT) AS stot FROM gm),
        |tm AS (SELECT *, stot * 1000 // n AS m FROM t),
        |p AS (SELECT k, n,
        |    CAST(SUM(ni * (mi - m) * (mi - m)) AS BIGINT) AS ssb,
        |    SUM(1000000::HUGEINT * qi - 2000::HUGEINT * si * mi
        |      + ni::HUGEINT * mi * mi) AS ssw_sc
        |  FROM gm CROSS JOIN tm GROUP BY 1, 2)
        |SELECT k, n, ssb, CAST(ssw_sc // 1000000 AS BIGINT) AS ssw_cents2,
        |  CAST(ssb::HUGEINT * (n - k) * 1000000000
        |    // ((k - 1)::HUGEINT * ssw_sc) AS BIGINT) AS f_milli,
        |  ssb::HUGEINT * (n - k) * 1000000000
        |    > 2372 * ((k - 1)::HUGEINT * ssw_sc) * 1000000 AS significant
        |FROM p""".stripMargin),

    // Brown–Forsythe (median-based Levene) — the VARIANCE-homogeneity
    // test ANOVA's equal-variance assumption needs checked against:
    // per-type lower median by exact rank pick, z = |c − medᵢ| exact
    // cents, then the SAME milli-frozen one-way-F machinery run on z.
    // Median + deviations share one per-type window shuffle.
    Op("agg_levene_bf", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("c", "event_id")
      val cnt = Window.partitionBy("event_type")
      val base = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("bigint").as("c"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("ni", count(lit(1)).over(cnt).cast("bigint"))
      val med = base.where(col("rn") === expr("(ni + 1) DIV 2"))
        .select(col("event_type"), col("c").as("med"))
      val z = base.join(broadcast(med), "event_type")
        .select(col("event_type"), expr("abs(c - med)").as("z"))
      val g = z.groupBy("event_type")
        .agg(count(lit(1)).as("ni"), sum("z").as("si"),
          sum((col("z") * col("z")).cast("decimal(38,0)")).as("qi"))
        .withColumn("mi", expr("si * 1000 DIV ni"))
      val grand = g.agg(count(lit(1)).as("k"), sum("ni").as("n"), sum("si").as("stot"))
        .withColumn("m", expr("stot * 1000 DIV n"))
      g.crossJoin(broadcast(grand))
        .select(col("k"), col("n"),
          expr("ni * (mi - m) * (mi - m)").as("ssb_i"),
          expr("""CAST(1000000 AS DECIMAL(38,0)) * qi
                 - CAST(2000 AS DECIMAL(38,0)) * si * mi
                 + CAST(ni AS DECIMAL(38,0)) * mi * mi""").as("ssw_i"))
        .groupBy("k", "n")
        .agg(sum("ssb_i").as("ssb"),
          sum("ssw_i").cast("decimal(38,0)").as("ssw_sc"))
        .withColumn("ssw_cents2", expr("CAST(ssw_sc DIV 1000000 AS BIGINT)"))
        .withColumn("f_milli", expr(
          """CAST(CAST(ssb AS DECIMAL(38,0)) * (n - k) * 1000000000
             DIV (CAST(k - 1 AS DECIMAL(38,0)) * ssw_sc) AS BIGINT)"""))
        .withColumn("heteroscedastic", expr(
          "CAST(ssb AS DECIMAL(38,0)) * (n - k) * 1000000000 > 2372 * (CAST(k - 1 AS DECIMAL(38,0)) * ssw_sc) * 1000000"))
        .select("k", "n", "ssb", "ssw_cents2", "f_milli", "heteroscedastic")
    },
      // Same rank-picked medians, same exact |c − med| deviations, same
      // milli-frozen F machinery.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS c FROM events),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY c, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS ni0
        |  FROM e),
        |md AS (SELECT event_type, c AS med FROM r WHERE rn = (ni0 + 1) // 2),
        |z AS (SELECT e.event_type, abs(c - med) AS z
        |  FROM e JOIN md ON e.event_type = md.event_type),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ni,
        |    CAST(SUM(z) AS BIGINT) AS si,
        |    SUM(CAST(z AS HUGEINT) * z) AS qi
        |  FROM z GROUP BY 1),
        |gm AS (SELECT *, si * 1000 // ni AS mi FROM g),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ni) AS BIGINT) AS n,
        |    CAST(SUM(si) AS BIGINT) AS stot FROM gm),
        |tm AS (SELECT *, stot * 1000 // n AS m FROM t),
        |p AS (SELECT k, n,
        |    CAST(SUM(ni * (mi - m) * (mi - m)) AS BIGINT) AS ssb,
        |    SUM(1000000::HUGEINT * qi - 2000::HUGEINT * si * mi
        |      + ni::HUGEINT * mi * mi) AS ssw_sc
        |  FROM gm CROSS JOIN tm GROUP BY 1, 2)
        |SELECT k, n, ssb, CAST(ssw_sc // 1000000 AS BIGINT) AS ssw_cents2,
        |  CAST(ssb::HUGEINT * (n - k) * 1000000000
        |    // ((k - 1)::HUGEINT * ssw_sc) AS BIGINT) AS f_milli,
        |  ssb::HUGEINT * (n - k) * 1000000000
        |    > 2372 * ((k - 1)::HUGEINT * ssw_sc) * 1000000 AS heteroscedastic
        |FROM p""".stripMargin),

    // Tokenizer-drift audit — what a tokenizer UPGRADE does to every
    // token-denominated contract downstream (billing, context budgets,
    // packing plans): v1 = chars DIV 4 vs v2 = (chars + spaces) DIV 5 as
    // two deterministic tokenizers, per-language totals for both, drift
    // in SIGN-SAFE ppm, and the repriced-budget verdict (drift beyond
    // ±5% flags the lang for re-budgeting). One scan, one rollup.
    Op("llm_tokenizer_drift", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          expr("CAST(length(text) AS BIGINT)").as("chars"),
          expr("CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)").as("spaces"))
        .withColumn("t1", expr("chars DIV 4"))
        .withColumn("t2", expr("(chars + spaces) DIV 5"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("t1").as("tokens_v1"), sum("t2").as("tokens_v2"))
        .withColumn("drift_ppm", expr(
          """CASE WHEN tokens_v2 - tokens_v1 >= 0
             THEN (tokens_v2 - tokens_v1) * 1000000 DIV tokens_v1
             ELSE -((tokens_v1 - tokens_v2) * 1000000 DIV tokens_v1) END"""))
        .withColumn("rebudget", expr("drift_ppm > 50000 OR drift_ppm < -50000"))
        .orderBy("lang"),
      // Same two deterministic tokenizers, same sign-safe ppm clearing.
      """WITH t AS (SELECT lang, CAST(length(text) AS BIGINT) AS chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS spaces
        |  FROM documents),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(chars // 4) AS BIGINT) AS tokens_v1,
        |    CAST(SUM((chars + spaces) // 5) AS BIGINT) AS tokens_v2
        |  FROM t GROUP BY 1),
        |d AS (SELECT lang, n_docs, tokens_v1, tokens_v2,
        |    CASE WHEN tokens_v2 >= tokens_v1 THEN (tokens_v2 - tokens_v1) * 1000000 // tokens_v1
        |      ELSE -((tokens_v1 - tokens_v2) * 1000000 // tokens_v1) END AS drift_ppm
        |  FROM g)
        |SELECT lang, n_docs, tokens_v1, tokens_v2, drift_ppm,
        |  drift_ppm > 50000 OR drift_ppm < -50000 AS rebudget
        |FROM d ORDER BY lang""".stripMargin)
  )

}
