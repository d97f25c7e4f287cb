package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 operators, second compilation unit (Round12Ops.scala crossed
  * 1.6k lines; a fresh small file keeps the incremental recompile at ~1 s).
  * Same paired impl/oracle style, same engine-exactness laws.
  */
object Round12bOps extends Family {
  /** Truncated exponential weights (α≈1/2, 7 lags) for the Keltner
    * midline — finite-lag integer EWMA, the win_ewma law. */
  private val KeltnerW = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L)

  /** Hilbert-curve round chains (order 8, 256×256 grid) shared by the
    * Spark impl and the DuckDB oracle — ONE generator, two dialects
    * (`DIV` vs `//`, `a ^ b` vs `xor(a, b)`), so the 8 unrolled rounds
    * cannot drift between engines. Returns ordered (column, expr)
    * assignments; Spark chains them as withColumns, DuckDB as one
    * lateral-alias CTE per round. */
  private[ops] def hilbertEncodeSteps(xor: (String, String) => String): Seq[Seq[(String, String)]] =
    (7 to 0 by -1).zipWithIndex.map { case (k, i) =>
      val s = 1 << k
      Seq(
        s"rx$i" -> s"CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END",
        s"ry$i" -> s"CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END",
        s"d${i + 1}" -> s"d$i + $s * $s * ${xor(s"(3 * rx$i)", s"ry$i")}",
        s"x${i + 1}" -> s"CASE WHEN ry$i = 0 THEN (CASE WHEN rx$i = 1 THEN $s - 1 - y$i ELSE y$i END) ELSE x$i END",
        s"y${i + 1}" -> s"CASE WHEN ry$i = 0 THEN (CASE WHEN rx$i = 1 THEN $s - 1 - x$i ELSE x$i END) ELSE y$i END")
    }

  private[ops] def hilbertDecodeSteps(xor: (String, String) => String, div: String): Seq[Seq[(String, String)]] =
    (0 to 7).map { i =>
      val s = 1 << i
      Seq(
        s"sx$i" -> s"CASE WHEN (t$i $div 2) % 2 = 1 THEN 1 ELSE 0 END",
        s"sy$i" -> s"CASE WHEN ${xor(s"(t$i % 2)", s"sx$i")} = 1 THEN 1 ELSE 0 END",
        s"a${i + 1}" -> s"(CASE WHEN sy$i = 0 THEN (CASE WHEN sx$i = 1 THEN $s - 1 - b$i ELSE b$i END) ELSE a$i END) + $s * sx$i",
        s"b${i + 1}" -> s"(CASE WHEN sy$i = 0 THEN (CASE WHEN sx$i = 1 THEN $s - 1 - a$i ELSE a$i END) ELSE b$i END) + $s * sy$i",
        s"t${i + 1}" -> s"t$i $div 4")
    }

  val ops: Seq[Op] = Seq(
    // EXCEPT ALL — bag difference (multiplicities subtract, floor 0), the
    // third bag-algebra operator next to set_union_all/set_intersect_all.
    // Spark plans the same counted-group hash join as INTERSECT ALL; at
    // 100 TB both sides shuffle once on the value and the difference is
    // computed group-local — never a row-by-row anti probe.
    Op("set_except_all", (s, d) => {
      val a = Tables.customer(s, d)
        .select(col("c_nationkey").cast("bigint").as("nationkey"))
      val b = Tables.supplier(s, d).where(col("s_acctbal") > 5000)
        .select(col("s_nationkey").cast("bigint").as("nationkey"))
      a.exceptAll(b)
        .groupBy("nationkey").agg(count(lit(1)).as("n_exall"))
        .orderBy("nationkey")
    },
      // Same bag difference, same counted-group contract.
      """SELECT nationkey, COUNT(*) AS n_exall FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  EXCEPT ALL
        |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier WHERE s_acctbal > 5000)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin),

    // IDENTIFIER(:param) — late-bound table/column names from SQL
    // parameters WITHOUT string interpolation (the injection-safe form of
    // dynamic SQL; the constant-folded identifier still resolves at
    // analysis time, so the plan is identical to the literal query —
    // pushdown and pruning are unaffected).
    Op("api_identifier_clause", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_ident_orders_v")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM IDENTIFIER(:tbl)
          |WHERE IDENTIFIER(:keycol) % :m = 0
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
        Map("tbl" -> "graft_ident_orders_v", "keycol" -> "o_orderkey",
          "m" -> Integer.valueOf(3)))
    },
      // The identifier binds to the literal table/column — replay directly.
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Gregorian Easter (anonymous Gauss computus) for 1901–2100 — pure
    // DIV/MOD integer chain, zero transcendentals, constant 200-row
    // domain; the classic proof that calendar logic stays in exact
    // integer arithmetic end-to-end. All intermediates are non-negative
    // so integer division needs no magnitude-then-negate guard.
    Op("fn_easter_computus", (s, d) => {
      s.range(1901, 2101).toDF("yr")
        .withColumn("a", expr("yr % 19"))
        .withColumn("b", expr("yr DIV 100"))
        .withColumn("c", expr("yr % 100"))
        .withColumn("dd", expr("b DIV 4"))
        .withColumn("e", expr("b % 4"))
        .withColumn("f", expr("(b + 8) DIV 25"))
        .withColumn("g", expr("(b - f + 1) DIV 3"))
        .withColumn("h", expr("(19*a + b - dd - g + 15) % 30"))
        .withColumn("i", expr("c DIV 4"))
        .withColumn("k", expr("c % 4"))
        .withColumn("l", expr("(32 + 2*e + 2*i - h - k) % 7"))
        .withColumn("m", expr("(a + 11*h + 22*l) DIV 451"))
        .withColumn("em", expr("(h + l - 7*m + 114) DIV 31"))
        .withColumn("ed", expr("(h + l - 7*m + 114) % 31 + 1"))
        .select(col("yr"),
          col("em").cast("bigint").as("easter_month"),
          col("ed").cast("bigint").as("easter_day"),
          expr("CAST(make_date(CAST(yr AS INT), CAST(em AS INT), CAST(ed AS INT)) AS STRING)").as("easter_date"))
        .orderBy("yr")
    },
      // Identical integer computus chain (// = DuckDB integer division;
      // every intermediate non-negative).
      """WITH y AS (SELECT CAST(g AS BIGINT) AS yr
        |  FROM generate_series(1901, 2100) t(g)),
        |c AS (SELECT yr, yr % 19 AS a, yr // 100 AS b, yr % 100 AS c FROM y),
        |c2 AS (SELECT *, b // 4 AS dd, b % 4 AS e, (b + 8) // 25 AS f,
        |    (b - (b + 8) // 25 + 1) // 3 AS g FROM c),
        |c3 AS (SELECT *, (19*a + b - dd - g + 15) % 30 AS h,
        |    c // 4 AS i, c % 4 AS k FROM c2),
        |c4 AS (SELECT *, (32 + 2*e + 2*i - h - k) % 7 AS l FROM c3),
        |c5 AS (SELECT *, (a + 11*h + 22*l) // 451 AS m FROM c4)
        |SELECT yr,
        |  CAST((h + l - 7*m + 114) // 31 AS BIGINT) AS easter_month,
        |  CAST((h + l - 7*m + 114) % 31 + 1 AS BIGINT) AS easter_day,
        |  CAST(make_date(CAST(yr AS INT), CAST((h + l - 7*m + 114) // 31 AS INT),
        |    CAST((h + l - 7*m + 114) % 31 + 1 AS INT)) AS VARCHAR) AS easter_date
        |FROM c5 ORDER BY yr""".stripMargin),

    // Business-day (Mon–Fri) order-to-ship lead time per lineitem,
    // CLOSED FORM from epoch days — no per-day explode, no calendar join:
    // g(e) = weekdays in [1970-01-01, day e) = 5·(e DIV 7) + r(e MOD 7)
    // with r the 7-entry literal prefix table anchored on day 0 =
    // Thursday; bdays(order, ship] = g(e_ship+1) − g(e_order+1). O(1) per
    // row, scan-local, aggregates map-side — the shape that survives a
    // 100 TB lineitem. avg in exact milli (nonneg → DIV safe).
    Op("fn_business_days", (s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
            .cast("bigint").as("er"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            .cast("bigint").as("es"))
        .withColumn("gr", expr(
          "5 * ((er + 1) DIV 7) + element_at(array(0,1,2,2,2,3,4), CAST((er + 1) % 7 AS INT) + 1)"))
        .withColumn("gs", expr(
          "5 * ((es + 1) DIV 7) + element_at(array(0,1,2,2,2,3,4), CAST((es + 1) % 7 AS INT) + 1)"))
        .withColumn("bd", col("gr") - col("gs"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum("bd").as("total_bdays"),
          expr("SUM(bd) * 1000 DIV COUNT(*)").as("avg_bdays_milli"))
        .orderBy("o_orderpriority")
    },
      // Same closed-form weekday prefix count (day 0 = Thursday; DuckDB
      // date subtraction yields integer days; list indexing is 1-based).
      """WITH e AS (SELECT o_orderpriority,
        |    CAST(date_diff('day', DATE '1970-01-01', l_shipdate) AS BIGINT) AS er,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS es
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (SELECT o_orderpriority,
        |    (5 * ((er + 1) // 7) + ([0,1,2,2,2,3,4])[CAST((er + 1) % 7 AS INT) + 1])
        |  - (5 * ((es + 1) // 7) + ([0,1,2,2,2,3,4])[CAST((es + 1) % 7 AS INT) + 1])
        |    AS bd
        |  FROM e)
        |SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(bd) AS BIGINT) AS total_bdays,
        |  CAST(CAST(SUM(bd) AS BIGINT) * 1000 // COUNT(*) AS BIGINT) AS avg_bdays_milli
        |FROM g GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Williams %R (10-period) with overbought/oversold zone classification
    // and zone-transition counts — the momentum-oscillator twin of
    // win_stochastic_osc but inverted scale, shorter window, and a zone
    // state machine on top: %R magnitude ppm = (h10 − close)·10⁶ DIV
    // (h10 − l10); OB < 200000 (price near high), OS > 800000. One
    // shuffle (partition by series), two window passes on the same sort.
    Op("win_williams_r", (s, d) => {
      val ord = Window.partitionBy("event_type")
        .orderBy(col("ts_us"), col("event_id"))
      val w10 = ord.rowsBetween(-9, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("h10", max("cents").over(w10))
        .withColumn("l10", min("cents").over(w10))
        .withColumn("wr_ppm", expr(
          "CASE WHEN h10 > l10 THEN (h10 - cents) * 1000000 DIV (h10 - l10) ELSE 500000 END"))
        .withColumn("zone", expr(
          "CASE WHEN wr_ppm < 200000 THEN 'OB' WHEN wr_ppm > 800000 THEN 'OS' ELSE 'MID' END"))
        .withColumn("prev_zone", lag("zone", 1).over(ord))
        .where(col("rn") >= 10)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_obs"),
          sum(expr("CASE WHEN zone = 'OB' THEN 1 ELSE 0 END")).as("n_ob"),
          sum(expr("CASE WHEN zone = 'OS' THEN 1 ELSE 0 END")).as("n_os"),
          sum(expr("CASE WHEN prev_zone IS NOT NULL AND zone <> prev_zone THEN 1 ELSE 0 END"))
            .as("n_transitions"))
        .orderBy("event_type")
    },
      // Same 10-period extremes, same zone thresholds, same lag transition
      // count.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, event_id, ts_us, cents,
        |    CAST(ROW_NUMBER() OVER ord AS BIGINT) AS rn,
        |    CAST(MAX(cents) OVER w10 AS BIGINT) AS h10,
        |    CAST(MIN(cents) OVER w10 AS BIGINT) AS l10
        |  FROM e
        |  WINDOW ord AS (PARTITION BY event_type ORDER BY ts_us, event_id),
        |    w10 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
        |z AS (SELECT *,
        |    CASE WHEN h10 > l10 THEN (h10 - cents) * 1000000 // (h10 - l10)
        |      ELSE 500000 END AS wr_ppm
        |  FROM w),
        |zz AS (SELECT *,
        |    CASE WHEN wr_ppm < 200000 THEN 'OB'
        |      WHEN wr_ppm > 800000 THEN 'OS' ELSE 'MID' END AS zone
        |  FROM z),
        |zl AS (SELECT *, LAG(zone) OVER (PARTITION BY event_type
        |    ORDER BY ts_us, event_id) AS prev_zone FROM zz)
        |SELECT event_type, COUNT(*) AS n_obs,
        |  CAST(SUM(CASE WHEN zone = 'OB' THEN 1 ELSE 0 END) AS BIGINT) AS n_ob,
        |  CAST(SUM(CASE WHEN zone = 'OS' THEN 1 ELSE 0 END) AS BIGINT) AS n_os,
        |  CAST(SUM(CASE WHEN prev_zone IS NOT NULL AND zone <> prev_zone
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions
        |FROM zl WHERE rn >= 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Keltner channel — EWMA midline of typical price ± 2×ATR(10) bands.
    // Midline is the finite-lag integer EWMA (win_ewma law: literal
    // weight vector, num DIV den); true range reuses the win_atr
    // synthetic high/low (own md5 namespaces → an independent series).
    // All milli-scaled integers; one shuffle, all windows on one sort.
    Op("win_keltner", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      val terms = KeltnerW.zipWithIndex.map { case (wt, i) =>
        coalesce(lag(col("tp_milli"), i).over(ord) * wt, lit(0L)) }
      val denom = KeltnerW.zipWithIndex.map { case (wt, i) =>
        when(lag(col("tp_milli"), i).over(ord).isNotNull, wt).otherwise(0L) }
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("h", expr(s"cents + ${md5Bits("kch", "event_id", 8)} % 60"))
        .withColumn("l", expr(s"cents - ${md5Bits("kcl", "event_id", 8)} % 60"))
        .withColumn("tp_milli", expr("(h + l + cents) * 1000 DIV 3"))
        .withColumn("pc", coalesce(lag("cents", 1).over(ord), col("cents")))
        .withColumn("tr", expr("greatest(h - l, abs(h - pc), abs(l - pc))"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("kw_num", terms.reduce(_ + _))
        .withColumn("kw_den", denom.reduce(_ + _))
        .withColumn("mid_milli", expr("kw_num DIV kw_den"))
        .withColumn("atr10_sum", sum("tr").over(ord.rowsBetween(-9, 0)))
        .withColumn("upper_milli", expr("mid_milli + atr10_sum * 200"))
        .withColumn("lower_milli", expr("mid_milli - atr10_sum * 200"))
        .withColumn("band_pos", expr(
          "CASE WHEN cents * 1000 > upper_milli THEN 'ABOVE' " +
            "WHEN cents * 1000 < lower_milli THEN 'BELOW' ELSE 'IN' END"))
        .where(col("rn") >= 10 && col("event_id") % 9 === 4)
        .select("event_type", "event_id", "cents", "mid_milli",
          "upper_milli", "lower_milli", "band_pos")
        .orderBy("event_type", "event_id")
    },
      // Same synthetic h/l namespaces, same literal weight vector, same
      // milli scaling.
      {
      val lags = KeltnerW.indices.map(i => s"lag(tp_milli, $i) OVER o AS t$i").mkString(", ")
      val num = KeltnerW.zipWithIndex
        .map { case (wt, i) => s"COALESCE($wt * t$i, 0)" }.mkString(" + ")
      val den = KeltnerW.zipWithIndex
        .map { case (wt, i) => s"CASE WHEN t$i IS NULL THEN 0 ELSE $wt END" }
        .mkString(" + ")
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
         |hl AS (SELECT *,
         |    cents + ${duckMd5Bits("kch", "event_id", 8)} % 60 AS h,
         |    cents - ${duckMd5Bits("kcl", "event_id", 8)} % 60 AS l
         |  FROM e),
         |tp AS (SELECT *, (h + l + cents) * 1000 // 3 AS tp_milli,
         |    COALESCE(LAG(cents, 1) OVER o, cents) AS pc,
         |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn
         |  FROM hl WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
         |tr AS (SELECT *, GREATEST(h - l, ABS(h - pc), ABS(l - pc)) AS tr,
         |    $lags
         |  FROM tp WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
         |m AS (SELECT *, ($num) // ($den) AS mid_milli,
         |    CAST(SUM(tr) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
         |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS atr10_sum
         |  FROM tr),
         |b AS (SELECT *, mid_milli + atr10_sum * 200 AS upper_milli,
         |    mid_milli - atr10_sum * 200 AS lower_milli FROM m)
         |SELECT event_type, event_id, cents, mid_milli, upper_milli, lower_milli,
         |  CASE WHEN cents * 1000 > upper_milli THEN 'ABOVE'
         |    WHEN cents * 1000 < lower_milli THEN 'BELOW' ELSE 'IN' END AS band_pos
         |FROM b WHERE rn >= 10 AND event_id % 9 = 4
         |ORDER BY event_type, event_id""".stripMargin
    }),

    // Money Flow Index — volume-weighted RSI over DAILY bars built from
    // the raw event stream (bar h/l/c/volume from one group-by; c by the
    // composite max_by law): raw flow = typical-price milli × volume,
    // split by bar-to-bar tp direction (flat bars drop, declared), 14-day
    // rolling pos/neg sums, mfi ppm = pos·10⁶ DIV (pos+neg). Daily bars
    // shrink the window input ~1000×; at 100 TB the bar build is the only
    // full-data pass and it's map-side partial-aggregated.
    Op("win_mfi", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val w14 = ord.rowsBetween(-13, 0)
      priceTicks(Tables.events(s, d))
        .groupBy("event_type", "day")
        .agg(max("cents").as("h"), min("cents").as("l"),
          expr("max_by(cents, struct(ts_us, event_id))").as("c"),
          count(lit(1)).as("volume"))
        .withColumn("tp_milli", expr("(h + l + c) * 1000 DIV 3"))
        .withColumn("prev_tp", lag("tp_milli", 1).over(ord))
        .withColumn("pos_mf", expr(
          "CASE WHEN prev_tp IS NOT NULL AND tp_milli > prev_tp THEN tp_milli * volume ELSE 0 END"))
        .withColumn("neg_mf", expr(
          "CASE WHEN prev_tp IS NOT NULL AND tp_milli < prev_tp THEN tp_milli * volume ELSE 0 END"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("pos14", sum("pos_mf").over(w14))
        .withColumn("neg14", sum("neg_mf").over(w14))
        .withColumn("mfi_ppm", expr(
          "CASE WHEN pos14 + neg14 > 0 THEN pos14 * 1000000 DIV (pos14 + neg14) ELSE 500000 END"))
        .where(col("rn") >= 14)
        .select("event_type", "day", "tp_milli", "volume", "pos14", "neg14", "mfi_ppm")
        .orderBy("event_type", "day")
    },
      // Same daily bars (composite max_by law), same direction split, same
      // rolling sums.
      s"""WITH $TicksCte,
        |bar AS (SELECT event_type, day,
        |    MAX(cents) AS h, MIN(cents) AS l,
        |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS c,
        |    CAST(COUNT(*) AS BIGINT) AS volume
        |  FROM e GROUP BY 1, 2),
        |tp AS (SELECT *, (h + l + c) * 1000 // 3 AS tp_milli FROM bar),
        |dir AS (SELECT *, LAG(tp_milli) OVER w AS prev_tp,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
        |  FROM tp WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |mf AS (SELECT *,
        |    CASE WHEN prev_tp IS NOT NULL AND tp_milli > prev_tp
        |      THEN tp_milli * volume ELSE 0 END AS pos_mf,
        |    CASE WHEN prev_tp IS NOT NULL AND tp_milli < prev_tp
        |      THEN tp_milli * volume ELSE 0 END AS neg_mf
        |  FROM dir),
        |s AS (SELECT *,
        |    CAST(SUM(pos_mf) OVER w14 AS BIGINT) AS pos14,
        |    CAST(SUM(neg_mf) OVER w14 AS BIGINT) AS neg14
        |  FROM mf WINDOW w14 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, tp_milli, volume, pos14, neg14,
        |  CASE WHEN pos14 + neg14 > 0 THEN pos14 * 1000000 // (pos14 + neg14)
        |    ELSE 500000 END AS mfi_ppm
        |FROM s WHERE rn >= 14
        |ORDER BY event_type, day""".stripMargin),

    // Commodity Channel Index (20-period) — the one indicator whose mean
    // deviation is anchored on the WINDOW'S OWN mean (Σ|TP_i − SMA_t|
    // with SMA_t fixed per row), so it is NOT a plain window sum: the
    // frame's TPs ride along as a bounded 20-element array and an
    // integer fold computes Σ|20·tp_i − s20| with denominators cleared.
    // cci_milli = (20·tp − s20)·4·10⁶ DIV (3·dsum), negative numerator by
    // the magnitude-then-negate law. Constant 20-element arrays per row —
    // memory bounded regardless of scale.
    Op("win_cci", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      val w20 = ord.rowsBetween(-19, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("tp"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("s20", sum("tp").over(w20))
        .withColumn("tps", collect_list("tp").over(w20))
        .withColumn("dsum", expr(
          "aggregate(tps, CAST(0 AS BIGINT), (a, x) -> a + abs(20 * x - s20))"))
        .withColumn("cci_milli", expr(
          """CASE WHEN dsum = 0 THEN 0
            |  WHEN 20 * tp >= s20 THEN (20 * tp - s20) * 4000000 DIV (3 * dsum)
            |  ELSE -((s20 - 20 * tp) * 4000000 DIV (3 * dsum)) END""".stripMargin))
        .where(col("rn") >= 20 && col("event_id") % 11 === 5)
        .select("event_type", "event_id", "tp", "s20", "dsum", "cci_milli")
        .orderBy("event_type", "event_id")
    },
      // Same 20-element frame list, same cleared-denominator fold, same
      // magnitude-then-negate division.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS tp FROM events),
        |w AS (SELECT event_type, event_id, ts_us, tp,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn,
        |    CAST(SUM(tp) OVER w20 AS BIGINT) AS s20,
        |    list(tp) OVER w20 AS tps
        |  FROM e
        |  WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id),
        |    w20 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |dv AS (SELECT *, CAST(list_sum(list_transform(tps,
        |      x -> ABS(20 * x - s20))) AS BIGINT) AS dsum FROM w)
        |SELECT event_type, event_id, tp, s20, dsum,
        |  CASE WHEN dsum = 0 THEN 0
        |    WHEN 20 * tp >= s20 THEN (20 * tp - s20) * 4000000 // (3 * dsum)
        |    ELSE -((s20 - 20 * tp) * 4000000 // (3 * dsum)) END AS cci_milli
        |FROM dv WHERE rn >= 20 AND event_id % 11 = 5
        |ORDER BY event_type, event_id""".stripMargin),

    // SemVer 2.0 precedence — real field-wise comparison, not a lexicon
    // rank: numeric core, release > any prerelease, prerelease
    // identifiers compared field-by-field (numeric < alphanumeric,
    // numeric numerically, alpha lexically, shorter prefix first).
    // Deterministic version corpus from part keys + md5-picked
    // prerelease tags; the graded output is each version's global
    // precedence rank — any parse or ordering divergence shifts ranks.
    Op("fn_semver_compare", (s, d) => {
      val pre = s"CASE ${md5Bits("sv", "pk", 8)} % 6 " +
        "WHEN 0 THEN '' WHEN 1 THEN 'alpha' WHEN 2 THEN 'alpha.1' " +
        "WHEN 3 THEN 'beta.2' WHEN 4 THEN 'rc.1' ELSE 'rc.10' END"
      def fld(i: Int) = Seq(
        s"CASE WHEN split_part(pre, '.', $i) = '' THEN -1 " +
          s"WHEN split_part(pre, '.', $i) RLIKE '^[0-9]+$$' THEN 0 ELSE 1 END AS f${i}_type",
        s"CASE WHEN split_part(pre, '.', $i) RLIKE '^[0-9]+$$' " +
          s"THEN CAST(split_part(pre, '.', $i) AS BIGINT) ELSE -1 END AS f${i}_num",
        s"CASE WHEN split_part(pre, '.', $i) <> '' AND NOT split_part(pre, '.', $i) RLIKE '^[0-9]+$$' " +
          s"THEN split_part(pre, '.', $i) ELSE '' END AS f${i}_str")
      val ord = Window.orderBy(col("maj"), col("mnr"), col("pat"), col("rel_flag"),
        col("f1_type"), col("f1_num"), col("f1_str"),
        col("f2_type"), col("f2_num"), col("f2_str"), col("pk"))
      Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .where(col("pk") % 7 === 2)
        .withColumn("maj", expr("pk % 4")).withColumn("mnr", expr("pk DIV 4 % 5"))
        .withColumn("pat", expr("pk DIV 20 % 10"))
        .withColumn("pre", expr(pre))
        .withColumn("version", expr(
          "concat(maj, '.', mnr, '.', pat, CASE WHEN pre = '' THEN '' ELSE concat('-', pre) END)"))
        .withColumn("rel_flag", expr("CASE WHEN pre = '' THEN 1 ELSE 0 END"))
        .selectExpr(Seq("pk", "version", "maj", "mnr", "pat", "rel_flag", "pre") ++
          fld(1) ++ fld(2): _*)
        .withColumn("prec_rank", row_number().over(ord).cast("bigint"))
        .select("pk", "version", "prec_rank")
        .orderBy("pk")
    },
      // Same md5 tag pick, same field-wise precedence key, same global
      // row_number.
      s"""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS pk FROM part
        |  WHERE p_partkey % 7 = 2),
        |v AS (SELECT pk, pk % 4 AS maj, pk // 4 % 5 AS mnr, pk // 20 % 10 AS pat,
        |    CASE ${duckMd5Bits("sv", "pk", 8)} % 6
        |      WHEN 0 THEN '' WHEN 1 THEN 'alpha' WHEN 2 THEN 'alpha.1'
        |      WHEN 3 THEN 'beta.2' WHEN 4 THEN 'rc.1' ELSE 'rc.10' END AS pre
        |  FROM p),
        |f AS (SELECT *,
        |    CAST(maj AS VARCHAR) || '.' || CAST(mnr AS VARCHAR) || '.' || CAST(pat AS VARCHAR) ||
        |      CASE WHEN pre = '' THEN '' ELSE '-' || pre END AS version,
        |    CASE WHEN pre = '' THEN 1 ELSE 0 END AS rel_flag,
        |    split_part(pre, '.', 1) AS p1, split_part(pre, '.', 2) AS p2
        |  FROM v),
        |k AS (SELECT *,
        |    CASE WHEN p1 = '' THEN -1 WHEN regexp_matches(p1, '^[0-9]+$$') THEN 0 ELSE 1 END AS f1_type,
        |    CASE WHEN regexp_matches(p1, '^[0-9]+$$') THEN CAST(p1 AS BIGINT) ELSE -1 END AS f1_num,
        |    CASE WHEN p1 <> '' AND NOT regexp_matches(p1, '^[0-9]+$$') THEN p1 ELSE '' END AS f1_str,
        |    CASE WHEN p2 = '' THEN -1 WHEN regexp_matches(p2, '^[0-9]+$$') THEN 0 ELSE 1 END AS f2_type,
        |    CASE WHEN regexp_matches(p2, '^[0-9]+$$') THEN CAST(p2 AS BIGINT) ELSE -1 END AS f2_num,
        |    CASE WHEN p2 <> '' AND NOT regexp_matches(p2, '^[0-9]+$$') THEN p2 ELSE '' END AS f2_str
        |  FROM f)
        |SELECT pk, version,
        |  CAST(ROW_NUMBER() OVER (ORDER BY maj, mnr, pat, rel_flag,
        |    f1_type, f1_num, f1_str, f2_type, f2_num, f2_str, pk) AS BIGINT) AS prec_rank
        |FROM k ORDER BY pk""".stripMargin),

    // Pipeline-parallel (1F1B) plan — bubble fraction, per-stage weight
    // memory, peak activation stash across a (model × stages ×
    // microbatches) grid. bubble = (p−1)/(m+p−1) exact ppm; stash depth
    // at the first stage = min(m, p) in-flight microbatches. Constant
    // 30-row grid, pure integer arithmetic (the llm_act_ckpt_plan
    // family: sizing math a 100 TB training job does before launch).
    Op("llm_pipeline_parallel_plan", (s, d) => {
      val grid = for {
        (model, layers, hidden) <- Seq(("1b", 24L, 2048L), ("7b", 32L, 4096L),
          ("30b", 48L, 6144L), ("70b", 80L, 8192L), ("180b", 105L, 12288L))
        p <- Seq(2L, 4L, 8L); m <- Seq(8L, 32L, 128L)
      } yield (model, layers, hidden, p, m)
      s.createDataFrame(grid).toDF("model", "layers", "hidden", "p", "m")
        .withColumn("bubble_ppm", expr("(p - 1) * 1000000 DIV (m + p - 1)"))
        .withColumn("layers_per_stage", expr("(layers + p - 1) DIV p"))
        .withColumn("stage_weight_mb",
          expr("(layers_per_stage * 12 * hidden * hidden * 2) DIV 1048576"))
        .withColumn("stash_microbatches", expr("least(m, p)"))
        .withColumn("stash_mb",
          expr("(stash_microbatches * 14 * 2048 * hidden * 2) DIV 1048576"))
        .withColumn("efficiency_ppm", expr("1000000 - bubble_ppm"))
        .select("model", "p", "m", "bubble_ppm", "layers_per_stage",
          "stage_weight_mb", "stash_microbatches", "stash_mb", "efficiency_ppm")
        .orderBy("model", "p", "m")
    },
      // Same grids, same integer sizing arithmetic (// = DIV, both
      // left-associative with *).
      """WITH cfg AS (SELECT * FROM (VALUES
        |    ('1b', 24, 2048), ('7b', 32, 4096), ('30b', 48, 6144),
        |    ('70b', 80, 8192), ('180b', 105, 12288)) AS t(model, layers, hidden)),
        |g AS (SELECT model, CAST(layers AS BIGINT) AS layers,
        |    CAST(hidden AS BIGINT) AS hidden, CAST(p AS BIGINT) AS p,
        |    CAST(m AS BIGINT) AS m
        |  FROM cfg, (VALUES (2), (4), (8)) AS pp(p),
        |    (VALUES (8), (32), (128)) AS mm(m)),
        |x AS (SELECT *, (p - 1) * 1000000 // (m + p - 1) AS bubble_ppm,
        |    (layers + p - 1) // p AS layers_per_stage,
        |    LEAST(m, p) AS stash_microbatches
        |  FROM g)
        |SELECT model, p, m, bubble_ppm, layers_per_stage,
        |  (layers_per_stage * 12 * hidden * hidden * 2) // 1048576 AS stage_weight_mb,
        |  stash_microbatches,
        |  (stash_microbatches * 14 * 2048 * hidden * 2) // 1048576 AS stash_mb,
        |  1000000 - bubble_ppm AS efficiency_ppm
        |FROM x ORDER BY model, p, m""".stripMargin),

    // Tensor-parallel plan — ring all-reduce bytes per layer and step
    // across TP degrees: 2 all-reduces/layer (attention out + MLP out) of
    // b·s·h·2 bytes each, ring cost 2·(t−1)/t of the payload; per-GPU
    // parameter shard 12h²/t. Exact integers; DIV ordering keeps both
    // engines identical.
    Op("llm_tensor_parallel_plan", (s, d) => {
      val grid = for {
        (model, layers, hidden) <- Seq(("1b", 24L, 2048L), ("7b", 32L, 4096L),
          ("30b", 48L, 6144L), ("70b", 80L, 8192L), ("180b", 105L, 12288L))
        t <- Seq(2L, 4L, 8L)
      } yield (model, layers, hidden, t)
      s.createDataFrame(grid).toDF("model", "layers", "hidden", "t")
        .withColumn("payload_bytes", expr("8 * 2048 * hidden * 2"))
        .withColumn("ring_bytes_per_ar", expr("2 * (t - 1) * payload_bytes DIV t"))
        .withColumn("comm_mb_per_layer", expr("(2 * ring_bytes_per_ar) DIV 1048576"))
        .withColumn("comm_mb_per_step", expr("(2 * ring_bytes_per_ar * layers) DIV 1048576"))
        .withColumn("shard_params", expr("12 * hidden * hidden * layers DIV t"))
        .withColumn("shard_weight_mb", expr("(shard_params * 2) DIV 1048576"))
        .select("model", "t", "payload_bytes", "ring_bytes_per_ar",
          "comm_mb_per_layer", "comm_mb_per_step", "shard_params", "shard_weight_mb")
        .orderBy("model", "t")
    },
      """WITH cfg AS (SELECT * FROM (VALUES
        |    ('1b', 24, 2048), ('7b', 32, 4096), ('30b', 48, 6144),
        |    ('70b', 80, 8192), ('180b', 105, 12288)) AS c(model, layers, hidden)),
        |g AS (SELECT model, CAST(layers AS BIGINT) AS layers,
        |    CAST(hidden AS BIGINT) AS hidden, CAST(t AS BIGINT) AS t
        |  FROM cfg, (VALUES (2), (4), (8)) AS tt(t)),
        |x AS (SELECT *, 8 * 2048 * hidden * 2 AS payload_bytes FROM g),
        |y AS (SELECT *, 2 * (t - 1) * payload_bytes // t AS ring_bytes_per_ar,
        |    12 * hidden * hidden * layers // t AS shard_params
        |  FROM x)
        |SELECT model, t, payload_bytes, ring_bytes_per_ar,
        |  (2 * ring_bytes_per_ar) // 1048576 AS comm_mb_per_layer,
        |  (2 * ring_bytes_per_ar * layers) // 1048576 AS comm_mb_per_step,
        |  shard_params, (shard_params * 2) // 1048576 AS shard_weight_mb
        |FROM y ORDER BY model, t""".stripMargin),

    // ZeRO partitioning plan — per-GPU bytes for stages 0–3 over data
    // parallel degree N: weights 2P (bf16) + grads 2P + optimizer 12P
    // (fp32 master/m/v); stage 1 shards optimizer, stage 2 + grads,
    // stage 3 + weights. Exact MB via DIV; savings vs stage 0 in ppm.
    // One row per (model, N, stage) — the grid UNPIVOTS the stage
    // dimension so downstream queries filter/plot it relationally.
    Op("llm_zero_plan", (s, d) => {
      val grid = for {
        (model, layers, hidden) <- Seq(("1b", 24L, 2048L), ("7b", 32L, 4096L),
          ("30b", 48L, 6144L), ("70b", 80L, 8192L), ("180b", 105L, 12288L))
        n <- Seq(8L, 64L, 512L); stage <- Seq(0L, 1L, 2L, 3L)
      } yield (model, layers, hidden, n, stage)
      s.createDataFrame(grid).toDF("model", "layers", "hidden", "n", "stage")
        .withColumn("params", expr("12 * hidden * hidden * layers"))
        .withColumn("per_gpu_bytes", expr(
          """CASE stage
            |  WHEN 0 THEN 16 * params
            |  WHEN 1 THEN 4 * params + 12 * params DIV n
            |  WHEN 2 THEN 2 * params + 14 * params DIV n
            |  ELSE 16 * params DIV n END""".stripMargin))
        .withColumn("per_gpu_mb", expr("per_gpu_bytes DIV 1048576"))
        .withColumn("save_vs_dp_ppm",
          expr("(16 * params - per_gpu_bytes) * 1000000 DIV (16 * params)"))
        .select("model", "n", "stage", "params", "per_gpu_mb", "save_vs_dp_ppm")
        .orderBy("model", "n", "stage")
    },
      """WITH cfg AS (SELECT * FROM (VALUES
        |    ('1b', 24, 2048), ('7b', 32, 4096), ('30b', 48, 6144),
        |    ('70b', 80, 8192), ('180b', 105, 12288)) AS c(model, layers, hidden)),
        |g AS (SELECT model, CAST(layers AS BIGINT) AS layers,
        |    CAST(hidden AS BIGINT) AS hidden, CAST(n AS BIGINT) AS n,
        |    CAST(stage AS BIGINT) AS stage
        |  FROM cfg, (VALUES (8), (64), (512)) AS nn(n),
        |    (VALUES (0), (1), (2), (3)) AS ss(stage)),
        |p AS (SELECT *, 12 * hidden * hidden * layers AS params FROM g),
        |b AS (SELECT *,
        |    CASE stage
        |      WHEN 0 THEN 16 * params
        |      WHEN 1 THEN 4 * params + 12 * params // n
        |      WHEN 2 THEN 2 * params + 14 * params // n
        |      ELSE 16 * params // n END AS per_gpu_bytes
        |  FROM p)
        |SELECT model, n, stage, params, per_gpu_bytes // 1048576 AS per_gpu_mb,
        |  (16 * params - per_gpu_bytes) * 1000000 // (16 * params) AS save_vs_dp_ppm
        |FROM b ORDER BY model, n, stage""".stripMargin),

    // LoRA adapter plan — trainable parameter count and optimizer-state
    // shrink for rank-r adapters on the 4 attention projections (2·h·r
    // each, per layer): ratio vs full fine-tune in ppm, optimizer bytes
    // 12·trainable vs 12·P. Pure integers on the same config grid.
    Op("llm_lora_plan", (s, d) => {
      val grid = for {
        (model, layers, hidden) <- Seq(("1b", 24L, 2048L), ("7b", 32L, 4096L),
          ("30b", 48L, 6144L), ("70b", 80L, 8192L), ("180b", 105L, 12288L))
        r <- Seq(8L, 16L, 64L)
      } yield (model, layers, hidden, r)
      s.createDataFrame(grid).toDF("model", "layers", "hidden", "r")
        .withColumn("full_params", expr("12 * hidden * hidden * layers"))
        .withColumn("lora_params", expr("4 * 2 * hidden * r * layers"))
        .withColumn("trainable_ppm", expr("lora_params * 1000000 DIV full_params"))
        .withColumn("full_opt_mb", expr("(12 * full_params) DIV 1048576"))
        .withColumn("lora_opt_mb", expr("(12 * lora_params) DIV 1048576"))
        .withColumn("opt_save_ppm", expr(
          "(full_opt_mb - lora_opt_mb) * 1000000 DIV full_opt_mb"))
        .select("model", "r", "full_params", "lora_params", "trainable_ppm",
          "full_opt_mb", "lora_opt_mb", "opt_save_ppm")
        .orderBy("model", "r")
    },
      """WITH cfg AS (SELECT * FROM (VALUES
        |    ('1b', 24, 2048), ('7b', 32, 4096), ('30b', 48, 6144),
        |    ('70b', 80, 8192), ('180b', 105, 12288)) AS c(model, layers, hidden)),
        |g AS (SELECT model, CAST(layers AS BIGINT) AS layers,
        |    CAST(hidden AS BIGINT) AS hidden, CAST(r AS BIGINT) AS r
        |  FROM cfg, (VALUES (8), (16), (64)) AS rr(r)),
        |p AS (SELECT *, 12 * hidden * hidden * layers AS full_params,
        |    4 * 2 * hidden * r * layers AS lora_params
        |  FROM g),
        |q AS (SELECT *, (12 * full_params) // 1048576 AS full_opt_mb,
        |    (12 * lora_params) // 1048576 AS lora_opt_mb
        |  FROM p)
        |SELECT model, r, full_params, lora_params,
        |  lora_params * 1000000 // full_params AS trainable_ppm,
        |  full_opt_mb, lora_opt_mb,
        |  (full_opt_mb - lora_opt_mb) * 1000000 // full_opt_mb AS opt_save_ppm
        |FROM q ORDER BY model, r""".stripMargin),

    // ABC/XYZ inventory classification — ABC by cumulative revenue share
    // (A ≤70%, B ≤90%, boundaries compared in exact integer cross-
    // multiples, cum·10 vs k·total), XYZ by demand variability with the
    // CV² bands cleared to integers: X iff 4·(nΣq²−S²) ≤ S², Y iff ≤S².
    // Two aggregation passes + one ranked cumulative window over the
    // PART-LEVEL rollup (|parts| rows, not |lineitem|) — the window
    // never sees the fact table.
    Op("agg_abc_xyz", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey").cast("bigint").as("pk"),
          col("l_quantity").cast("bigint").as("qty"),
          floor(col("l_extendedprice") * 100).cast("bigint").as("cents"),
          expr("year(l_shipdate) * 12 + month(l_shipdate)").as("mon"))
      val monthly = li.groupBy("pk", "mon").agg(sum("qty").as("q"))
      val xyz = monthly.groupBy("pk").agg(count(lit(1)).as("n_mon"),
        sum("q").as("sq"), sum(expr("q * q")).as("sq2"))
        .withColumn("dispersion", expr("n_mon * sq2 - sq * sq"))
        .withColumn("xyz", expr(
          "CASE WHEN 4 * dispersion <= sq * sq THEN 'X' " +
            "WHEN dispersion <= sq * sq THEN 'Y' ELSE 'Z' END"))
      val rev = li.groupBy("pk").agg(sum("cents").as("rev_cents"))
      // the revenue cumsum is the two-level banded form (the agg_ks_test
      // law, DESC): every part in a higher $100k revenue band is earlier
      // in the (rev DESC, pk) order, so cum = higher-band mass + within-
      // band partitioned cumsum — the only serial window is the band
      // rollup, never the |parts| relation.
      val banded = rev.withColumn("bkt", expr("rev_cents DIV 10000000"))
      val wBand = Window.orderBy(desc("bkt")).rowsBetween(Window.unboundedPreceding, -1)
      val bandPrefix = banded.groupBy("bkt").agg(sum("rev_cents").as("bc"))
        .withColumn("off", coalesce(sum("bc").over(wBand), lit(0L)))
        .select("bkt", "off")
      val wIn = Window.partitionBy("bkt").orderBy(col("rev_cents").desc, col("pk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = rev.agg(sum("rev_cents").as("tot_cents"))
      val abc = banded.join(broadcast(bandPrefix), "bkt")
        .crossJoin(broadcast(tot))
        .withColumn("cum_cents", col("off") + sum("rev_cents").over(wIn))
        .withColumn("abc", expr(
          "CASE WHEN cum_cents * 10 <= 7 * tot_cents THEN 'A' " +
            "WHEN cum_cents * 10 <= 9 * tot_cents THEN 'B' ELSE 'C' END"))
      abc.join(xyz, "pk")
        .groupBy("abc", "xyz")
        .agg(count(lit(1)).as("n_parts"), sum("rev_cents").as("class_cents"))
        .orderBy("abc", "xyz")
    },
      // Same part-level rollups, same cleared CV² bands, same ranked
      // cumulative boundary comparisons.
      """WITH li AS (SELECT CAST(l_partkey AS BIGINT) AS pk,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
        |    year(l_shipdate) * 12 + month(l_shipdate) AS mon
        |  FROM lineitem),
        |monthly AS (SELECT pk, mon, CAST(SUM(qty) AS BIGINT) AS q
        |  FROM li GROUP BY 1, 2),
        |xyz AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_mon,
        |    CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(q * q) AS BIGINT) AS sq2
        |  FROM monthly GROUP BY 1),
        |xc AS (SELECT pk,
        |    CASE WHEN 4 * (n_mon * sq2 - sq * sq) <= sq * sq THEN 'X'
        |      WHEN n_mon * sq2 - sq * sq <= sq * sq THEN 'Y' ELSE 'Z' END AS xyz
        |  FROM xyz),
        |rev AS (SELECT pk, CAST(SUM(cents) AS BIGINT) AS rev_cents
        |  FROM li GROUP BY 1),
        |tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot_cents FROM rev),
        |abc AS (SELECT pk, rev_cents,
        |    CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, pk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM rev),
        |cls AS (SELECT pk, rev_cents,
        |    CASE WHEN cum_cents * 10 <= 7 * tot_cents THEN 'A'
        |      WHEN cum_cents * 10 <= 9 * tot_cents THEN 'B' ELSE 'C' END AS abc
        |  FROM abc, tot)
        |SELECT abc, xyz, COUNT(*) AS n_parts,
        |  CAST(SUM(rev_cents) AS BIGINT) AS class_cents
        |FROM cls JOIN xc USING (pk)
        |GROUP BY abc, xyz ORDER BY abc, xyz""".stripMargin),

    // Newsvendor order quantity — the critical-fractile q* = smallest q
    // with F(q) ≥ cu/(cu+co) over the EMPIRICAL daily-demand
    // distribution (cu=3, co=1 → 3/4 fractile; plus the median for
    // contrast). Exact order-statistic rank picks (the agg_cvar rank
    // law): rank ⌈3n/4⌉ with deterministic tie-break. Daily demand =
    // orders per day per priority class.
    Op("agg_newsvendor", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).as("day"))
        .agg(count(lit(1)).as("demand"))
      val ord = Window.partitionBy("o_orderpriority")
        .orderBy(col("demand"), col("day"))
      val n = Window.partitionBy("o_orderpriority")
      daily
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("n_days", count(lit(1)).over(n).cast("bigint"))
        .withColumn("k75", expr("(3 * n_days + 3) DIV 4"))
        .withColumn("k50", expr("(n_days + 1) DIV 2"))
        .where(col("rn") === col("k75") || col("rn") === col("k50"))
        .groupBy("o_orderpriority")
        .agg(max("n_days").as("n_days"),
          max(expr("CASE WHEN rn = k75 THEN demand END")).as("q_star"),
          max(expr("CASE WHEN rn = k50 THEN demand END")).as("q_median"))
        .orderBy("o_orderpriority")
    },
      // Same daily-demand distribution, same rank picks.
      """WITH daily AS (SELECT o_orderpriority,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS INT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS demand
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY demand, day) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n_days
        |  FROM daily),
        |k AS (SELECT *, (3 * n_days + 3) // 4 AS k75, (n_days + 1) // 2 AS k50 FROM r)
        |SELECT o_orderpriority, MAX(n_days) AS n_days,
        |  MAX(CASE WHEN rn = k75 THEN demand END) AS q_star,
        |  MAX(CASE WHEN rn = k50 THEN demand END) AS q_median
        |FROM k WHERE rn = k75 OR rn = k50
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Little's law ledger — per event_type: λ (session arrivals/hour,
    // milli), W (mean session duration µs), L (mean concurrency, milli)
    // from per-user first/last timestamps. L = λ·W holds exactly by
    // construction (Σdur/span) — the op PROVES the identity in integer
    // arithmetic instead of assuming it; the spec asserts the algebra.
    Op("agg_littles_law", (s, d) => {
      Tables.events(s, d)
        .groupBy("event_type", "user_id")
        .agg(min("ts_us").as("t0"), max("ts_us").as("t1"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_sessions"),
          sum(expr("t1 - t0")).as("sum_dur_us"),
          (max("t1") - min("t0")).as("span_us"))
        .withColumn("l_milli", expr("sum_dur_us * 1000 DIV span_us"))
        .withColumn("w_us", expr("sum_dur_us DIV n_sessions"))
        .withColumn("lambda_per_hr_milli",
          expr("n_sessions * 3600000000 * 1000 DIV span_us"))
        .select("event_type", "n_sessions", "sum_dur_us", "span_us",
          "l_milli", "w_us", "lambda_per_hr_milli")
        .orderBy("event_type")
    },
      // Same session rollup, same integer ledger.
      """WITH s AS (SELECT event_type, user_id,
        |    MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |    CAST(SUM(t1 - t0) AS BIGINT) AS sum_dur_us,
        |    CAST(MAX(t1) - MIN(t0) AS BIGINT) AS span_us
        |  FROM s GROUP BY 1)
        |SELECT event_type, n_sessions, sum_dur_us, span_us,
        |  sum_dur_us * 1000 // span_us AS l_milli,
        |  sum_dur_us // n_sessions AS w_us,
        |  n_sessions * 3600000000 * 1000 // span_us AS lambda_per_hr_milli
        |FROM a ORDER BY event_type""".stripMargin),

    // 4-4-5 retail fiscal calendar — weeks since the epoch Sunday
    // 1991-12-29 (declared anchor, before every order date so the week
    // index never goes negative — the DIV law; 52-week fiscal years,
    // quarters of 13 weeks split 4-4-5): fy, quarter, period all from
    // one integer week index — O(1) per row, no calendar table join.
    // Orders roll up by (fy, period) with exact cents.
    Op("fn_fiscal_445", (s, d) => {
      Tables.orders(s, d)
        .withColumn("wk", expr(
          "(datediff(o_orderdate, DATE '1991-12-29')) DIV 7"))
        .withColumn("fy", expr("1992 + wk DIV 52"))
        .withColumn("wy", expr("wk % 52"))
        .withColumn("qtr", expr("wy DIV 13 + 1"))
        .withColumn("wq", expr("wy % 13"))
        .withColumn("period", expr(
          "(qtr - 1) * 3 + CASE WHEN wq < 4 THEN 1 WHEN wq < 8 THEN 2 ELSE 3 END"))
        .groupBy("fy", "period")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .orderBy("fy", "period")
    },
      // Same anchor Sunday, same 4-4-5 split.
      """WITH w AS (SELECT
        |    CAST(date_diff('day', DATE '1991-12-29', o_orderdate) AS BIGINT) // 7 AS wk,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT cents, 1992 + wk // 52 AS fy, wk % 52 AS wy FROM w),
        |q AS (SELECT cents, fy, wy // 13 + 1 AS qtr, wy % 13 AS wq FROM f)
        |SELECT fy, (qtr - 1) * 3 +
        |    CASE WHEN wq < 4 THEN 1 WHEN wq < 8 THEN 2 ELSE 3 END AS period,
        |  COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS cents
        |FROM q GROUP BY 1, 2 ORDER BY fy, period""".stripMargin),

    // Wiener index + global efficiency — whole-graph distance summary
    // over the shared heavy backbone (graph_closeness's per-node view,
    // aggregated to ONE row): W = Σ_{u<v} d(u,v), efficiency = Σ 10⁶ DIV
    // d (integer-truncated per pair, declared), diameter, mean distance
    // in milli. Same level-synchronous BFS relaxation (4 rounds, mid
    // checkpoint — the plan-doubling law), bounded 25-node domain.
    Op("graph_wiener_index", (s, d) => {
      val heavy = GraphOps.heavyBackbone(s, d)
      val bi = GraphOps.undirected(heavy)
      val nodes = Tables.nation(s, d).select(col("n_nationkey").cast("bigint").as("u"))
      var dist = nodes.crossJoin(nodes.select(col("u").as("v")))
        .withColumn("dist", when(col("u") === col("v"), 0L).otherwise(lit(99L)))
      for (i <- 1 to 4) {
        val relax = dist.join(bi, dist("v") === bi("src"))
          .select(col("u"), col("dst").as("v"), (col("dist") + 1).as("cand"))
          .groupBy("u", "v").agg(min("cand").as("cand"))
        dist = dist.join(relax, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            least(col("dist"), coalesce(col("cand"), lit(99L))).as("dist"))
        if (i == 2) dist = dist.localCheckpoint()
      }
      val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
      dist.where(col("u") < col("v") && col("dist") < 99)
        .agg(count(lit(1)).as("n_pairs"),
          sum("dist").as("wiener"),
          max("dist").as("diameter"),
          sum(expr("1000000 DIV dist")).as("eff_sum_micro"))
        .crossJoin(broadcast(nNodes))
        .withColumn("avg_dist_milli", expr("wiener * 1000 DIV n_pairs"))
        .select("n_nodes", "n_pairs", "wiener", "diameter",
          "eff_sum_micro", "avg_dist_milli")
    },
      // Same backbone CTEs (shared with the graph family), same 4 BFS
      // relaxation rounds, same truncated per-pair efficiency terms.
      s"""WITH ${GraphOps.coreOracleCtes},
         |${GraphOps.BiCte},
         |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS u FROM nation),
         |${GraphOps.hopDistCtes(4)},
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(dist) AS BIGINT) AS wiener,
         |    CAST(MAX(dist) AS BIGINT) AS diameter,
         |    CAST(SUM(1000000 // dist) AS BIGINT) AS eff_sum_micro
         |  FROM p4 WHERE u < v AND dist < 99)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
         |  n_pairs, wiener, diameter, eff_sum_micro,
         |  wiener * 1000 // n_pairs AS avg_dist_milli
         |FROM agg""".stripMargin),

    // Direct + indirect (SMR) epidemiological standardization — the
    // stratum-confounding corrector: planted rising event rate over 8
    // strata, study groups = market segments, reference = the whole
    // population. Indirect: E = Σ n_s·d_ref_s·10⁶ DIV n_ref_s (micro),
    // SMR = obs·10⁹ DIV E (milli). Direct: Σ n_ref_s·(d_s·10⁶ DIV n_s)
    // DIV N_ref. All integer, divisions in declared order — the exact-
    // rational family of agg_stratified_ate.
    Op("agg_smr_standardization", (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          expr("CAST(c_custkey AS BIGINT) % 8").as("stratum"),
          expr(s"CASE WHEN ${md5Bits("smr", "c_custkey", 8)} % 1000 " +
            "< 40 + 15 * (CAST(c_custkey AS BIGINT) % 8) THEN 1 ELSE 0 END").as("ev"))
      val ref = base.groupBy("stratum")
        .agg(count(lit(1)).as("n_ref"), sum("ev").as("d_ref"))
      val refTot = ref.agg(sum("n_ref").as("n_ref_tot"))
      val study = base.groupBy("seg", "stratum")
        .agg(count(lit(1)).as("n_s"), sum("ev").as("d_s"))
      study.join(broadcast(ref), "stratum")
        .groupBy("seg")
        .agg(sum("n_s").as("n_study"), sum("d_s").as("obs"),
          sum(expr("n_s * d_ref * 1000000 DIV n_ref")).as("exp_micro"),
          sum(expr("n_ref * (d_s * 1000000 DIV n_s)")).as("dir_num"))
        .crossJoin(broadcast(refTot))
        .withColumn("smr_milli", expr("obs * 1000000000 DIV exp_micro"))
        .withColumn("dir_rate_micro", expr("dir_num DIV n_ref_tot"))
        .withColumn("crude_rate_micro", expr("obs * 1000000 DIV n_study"))
        .select("seg", "n_study", "obs", "exp_micro", "smr_milli",
          "dir_rate_micro", "crude_rate_micro")
        .orderBy("seg")
    },
      // Same planted stratified rates, same declared division order.
      s"""WITH base AS (SELECT c_mktsegment AS seg,
        |    CAST(c_custkey AS BIGINT) % 8 AS stratum,
        |    CASE WHEN ${duckMd5Bits("smr", "c_custkey", 8)} % 1000
        |      < 40 + 15 * (CAST(c_custkey AS BIGINT) % 8) THEN 1 ELSE 0 END AS ev
        |  FROM customer),
        |ref AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_ref,
        |    CAST(SUM(ev) AS BIGINT) AS d_ref FROM base GROUP BY 1),
        |rt AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS n_ref_tot FROM ref),
        |study AS (SELECT seg, stratum, CAST(COUNT(*) AS BIGINT) AS n_s,
        |    CAST(SUM(ev) AS BIGINT) AS d_s FROM base GROUP BY 1, 2),
        |j AS (SELECT seg, CAST(SUM(n_s) AS BIGINT) AS n_study,
        |    CAST(SUM(d_s) AS BIGINT) AS obs,
        |    CAST(SUM(n_s * d_ref * 1000000 // n_ref) AS BIGINT) AS exp_micro,
        |    CAST(SUM(n_ref * (d_s * 1000000 // n_s)) AS BIGINT) AS dir_num
        |  FROM study JOIN ref USING (stratum) GROUP BY 1)
        |SELECT seg, n_study, obs, exp_micro,
        |  obs * 1000000000 // exp_micro AS smr_milli,
        |  dir_num // n_ref_tot AS dir_rate_micro,
        |  obs * 1000000 // n_study AS crude_rate_micro
        |FROM j, rt ORDER BY seg""".stripMargin),

    // Elder's Force Index — volume × close-to-close change on daily
    // bars, 13-bar rolling sum, pressure classification. The bar build
    // is the one full-data pass (map-side combine); windows run on the
    // ~day-count rollup.
    Op("win_force_index", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      priceTicks(Tables.events(s, d))
        .groupBy("event_type", "day")
        .agg(expr("max_by(cents, struct(ts_us, event_id))").as("c"),
          count(lit(1)).as("volume"))
        .withColumn("prev_c", lag("c", 1).over(ord))
        .withColumn("fi", expr(
          "CASE WHEN prev_c IS NULL THEN 0 ELSE volume * (c - prev_c) END"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("fi13", sum("fi").over(ord.rowsBetween(-12, 0)))
        .withColumn("pressure", expr(
          "CASE WHEN fi13 > 0 THEN 'BUY' WHEN fi13 < 0 THEN 'SELL' ELSE 'FLAT' END"))
        .where(col("rn") >= 14)
        .select("event_type", "day", "c", "volume", "fi", "fi13", "pressure")
        .orderBy("event_type", "day")
    },
      // Same daily bars, same 13-bar rolling pressure sum.
      s"""WITH $TicksCte,
        |bar AS (SELECT event_type, day,
        |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS c,
        |    CAST(COUNT(*) AS BIGINT) AS volume
        |  FROM e GROUP BY 1, 2),
        |f AS (SELECT *, LAG(c) OVER w AS prev_c,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
        |  FROM bar WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |fi AS (SELECT *, CASE WHEN prev_c IS NULL THEN 0
        |    ELSE volume * (c - prev_c) END AS fi FROM f),
        |s AS (SELECT *, CAST(SUM(fi) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 12 PRECEDING AND CURRENT ROW) AS BIGINT) AS fi13 FROM fi)
        |SELECT event_type, day, c, volume, fi, fi13,
        |  CASE WHEN fi13 > 0 THEN 'BUY' WHEN fi13 < 0 THEN 'SELL'
        |    ELSE 'FLAT' END AS pressure
        |FROM s WHERE rn >= 14 ORDER BY event_type, day""".stripMargin),

    // Elder-Ray bull/bear power — daily-bar high/low minus the finite-
    // lag integer-EWMA of the close (KeltnerW weight-vector law, milli
    // scale): bull = h·1000 − ema, bear = l·1000 − ema, plus the
    // dual-confirmation signal (bull>0 ∧ bear<0 = contested range).
    Op("win_elder_ray", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val terms = KeltnerW.zipWithIndex.map { case (wt, i) =>
        coalesce(lag(col("c"), i).over(ord) * wt, lit(0L)) }
      val denom = KeltnerW.zipWithIndex.map { case (wt, i) =>
        when(lag(col("c"), i).over(ord).isNotNull, wt).otherwise(0L) }
      priceTicks(Tables.events(s, d))
        .groupBy("event_type", "day")
        .agg(max("cents").as("h"), min("cents").as("l"),
          expr("max_by(cents, struct(ts_us, event_id))").as("c"))
        .withColumn("e_num", terms.reduce(_ + _))
        .withColumn("e_den", denom.reduce(_ + _))
        .withColumn("ema_milli", expr("e_num * 1000 DIV e_den"))
        .withColumn("bull_milli", expr("h * 1000 - ema_milli"))
        .withColumn("bear_milli", expr("l * 1000 - ema_milli"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("signal", expr(
          """CASE WHEN bull_milli > 0 AND bear_milli > 0 THEN 'STRONG_BULL'
            |  WHEN bull_milli < 0 AND bear_milli < 0 THEN 'STRONG_BEAR'
            |  ELSE 'CONTESTED' END""".stripMargin))
        .where(col("rn") >= 8)
        .select("event_type", "day", "h", "l", "c", "ema_milli",
          "bull_milli", "bear_milli", "signal")
        .orderBy("event_type", "day")
    },
      // Same bars, same weight-vector EMA, same signal split.
      {
      val lags = KeltnerW.indices.map(i => s"lag(c, $i) OVER w AS c$i").mkString(", ")
      val num = KeltnerW.zipWithIndex
        .map { case (wt, i) => s"COALESCE($wt * c$i, 0)" }.mkString(" + ")
      val den = KeltnerW.zipWithIndex
        .map { case (wt, i) => s"CASE WHEN c$i IS NULL THEN 0 ELSE $wt END" }
        .mkString(" + ")
      s"""WITH $TicksCte,
         |bar AS (SELECT event_type, day,
         |    MAX(cents) AS h, MIN(cents) AS l,
         |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS c
         |  FROM e GROUP BY 1, 2),
         |lg AS (SELECT *, $lags, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
         |  FROM bar WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |m AS (SELECT *, ($num) * 1000 // ($den) AS ema_milli FROM lg),
         |b AS (SELECT *, h * 1000 - ema_milli AS bull_milli,
         |    l * 1000 - ema_milli AS bear_milli FROM m)
         |SELECT event_type, day, h, l, c, ema_milli, bull_milli, bear_milli,
         |  CASE WHEN bull_milli > 0 AND bear_milli > 0 THEN 'STRONG_BULL'
         |    WHEN bull_milli < 0 AND bear_milli < 0 THEN 'STRONG_BEAR'
         |    ELSE 'CONTESTED' END AS signal
         |FROM b WHERE rn >= 8 ORDER BY event_type, day""".stripMargin
    }),

    // ∞-gram next-token lookup — the suffix-backoff LM query over a
    // corpus n-gram index (the infini-gram retrieval shape): for each
    // query 3-token context, find the LONGEST suffix (3→2→1 tokens)
    // present in the corpus tables and emit its most frequent next token
    // (ties broken lexically via ranked window, both engines). The
    // 4-gram table is ONE lead window per doc (§2.3 — the old 4-way
    // (doc_id, pos) self-join paid three extra exchanges for the same
    // rows); the pos+1/+2/+3 equality filters reproduce the join's
    // gap semantics exactly (empty tokens leave position holes, and a
    // gram must not bridge one). The gram relation is checkpointed once —
    // the backoff SQL consumes it four times (c3/c2/c1 tables + queries).
    Op("llm_infinigram_next", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "tok").where(col("tok") =!= "")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val grams = toks
        .withColumn("p2", lead("pos", 1).over(w))
        .withColumn("t2", lead("tok", 1).over(w))
        .withColumn("p3", lead("pos", 2).over(w))
        .withColumn("t3", lead("tok", 2).over(w))
        .withColumn("p4", lead("pos", 3).over(w))
        .withColumn("t4", lead("tok", 3).over(w))
        .where(col("p2") === col("pos") + 1 &&
          col("p3") === col("pos") + 2 && col("p4") === col("pos") + 3)
        .select(col("doc_id"), col("pos"), col("tok").as("w1"),
          col("t2").as("w2"), col("t3").as("w3"), col("t4").as("w4"))
        .localCheckpoint()
      grams.createOrReplaceTempView("graft_ig_grams")
      s.sql(
        """WITH c3 AS (SELECT concat_ws(' ', w1, w2, w3) AS ctx, w4 AS nxt,
          |    COUNT(*) AS cnt FROM graft_ig_grams GROUP BY 1, 2),
          |b3 AS (SELECT ctx, nxt, cnt FROM (SELECT *, ROW_NUMBER() OVER
          |    (PARTITION BY ctx ORDER BY cnt DESC, nxt) AS rn FROM c3) WHERE rn = 1),
          |c2 AS (SELECT concat_ws(' ', w2, w3) AS ctx, w4 AS nxt,
          |    COUNT(*) AS cnt FROM graft_ig_grams GROUP BY 1, 2),
          |b2 AS (SELECT ctx, nxt, cnt FROM (SELECT *, ROW_NUMBER() OVER
          |    (PARTITION BY ctx ORDER BY cnt DESC, nxt) AS rn FROM c2) WHERE rn = 1),
          |c1 AS (SELECT w3 AS ctx, w4 AS nxt, COUNT(*) AS cnt
          |  FROM graft_ig_grams GROUP BY 1, 2),
          |b1 AS (SELECT ctx, nxt, cnt FROM (SELECT *, ROW_NUMBER() OVER
          |    (PARTITION BY ctx ORDER BY cnt DESC, nxt) AS rn FROM c1) WHERE rn = 1),
          |q AS (SELECT doc_id, pos, concat_ws(' ', w1, w2, w3) AS q3,
          |    concat_ws(' ', w2, w3) AS q2, w3 AS q1, w4 AS truth
          |  FROM graft_ig_grams WHERE doc_id % 25 = 3 AND pos % 50 = 7)
          |SELECT q.doc_id, CAST(q.pos AS BIGINT) AS pos,
          |  CASE WHEN b3.nxt IS NOT NULL THEN 3
          |    WHEN b2.nxt IS NOT NULL THEN 2 ELSE 1 END AS matched_len,
          |  COALESCE(b3.nxt, b2.nxt, b1.nxt) AS pred,
          |  CAST(COALESCE(b3.cnt, b2.cnt, b1.cnt) AS BIGINT) AS cnt,
          |  CASE WHEN COALESCE(b3.nxt, b2.nxt, b1.nxt) = q.truth THEN 1 ELSE 0 END AS hit
          |FROM q
          |LEFT JOIN b3 ON b3.ctx = q.q3
          |LEFT JOIN b2 ON b2.ctx = q.q2
          |LEFT JOIN b1 ON b1.ctx = q.q1
          |ORDER BY q.doc_id, q.pos""".stripMargin)
    },
      // Same gram tables (string_split keeps empty pieces out via filter),
      // same ranked backoff probes.
      """WITH toks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t.tok
        |  FROM documents,
        |    LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
        |      generate_subscripts(string_split(text, ' '), 1) AS i) t
        |  WHERE t.tok <> ''),
        |g AS (SELECT t1.doc_id, t1.pos, t1.tok AS w1, t2.tok AS w2,
        |    t3.tok AS w3, t4.tok AS w4
        |  FROM toks t1
        |  JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
        |  JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
        |  JOIN toks t4 ON t4.doc_id = t1.doc_id AND t4.pos = t1.pos + 3),
        |c3 AS (SELECT w1 || ' ' || w2 || ' ' || w3 AS ctx, w4 AS nxt,
        |    COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |b3 AS (SELECT ctx, nxt, cnt FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY ctx ORDER BY cnt DESC, nxt) AS rn FROM c3) WHERE rn = 1),
        |c2 AS (SELECT w2 || ' ' || w3 AS ctx, w4 AS nxt, COUNT(*) AS cnt
        |  FROM g GROUP BY 1, 2),
        |b2 AS (SELECT ctx, nxt, cnt FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY ctx ORDER BY cnt DESC, nxt) AS rn FROM c2) WHERE rn = 1),
        |c1 AS (SELECT w3 AS ctx, w4 AS nxt, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |b1 AS (SELECT ctx, nxt, cnt FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY ctx ORDER BY cnt DESC, nxt) AS rn FROM c1) WHERE rn = 1),
        |q AS (SELECT doc_id, pos, w1 || ' ' || w2 || ' ' || w3 AS q3,
        |    w2 || ' ' || w3 AS q2, w3 AS q1, w4 AS truth
        |  FROM g WHERE doc_id % 25 = 3 AND pos % 50 = 7)
        |SELECT q.doc_id, q.pos,
        |  CAST(CASE WHEN b3.nxt IS NOT NULL THEN 3
        |    WHEN b2.nxt IS NOT NULL THEN 2 ELSE 1 END AS INT) AS matched_len,
        |  COALESCE(b3.nxt, b2.nxt, b1.nxt) AS pred,
        |  CAST(COALESCE(b3.cnt, b2.cnt, b1.cnt) AS BIGINT) AS cnt,
        |  CAST(CASE WHEN COALESCE(b3.nxt, b2.nxt, b1.nxt) = q.truth
        |    THEN 1 ELSE 0 END AS INT) AS hit
        |FROM q
        |LEFT JOIN b3 ON b3.ctx = q.q3
        |LEFT JOIN b2 ON b2.ctx = q.q2
        |LEFT JOIN b1 ON b1.ctx = q.q1
        |ORDER BY q.doc_id, q.pos""".stripMargin),

    // Prompt compression (frequency-rank filter) — drop the corpus-wide
    // top-20 most frequent tokens from each document, preserving order;
    // the LLMLingua-class "low-information token" cut with a fully
    // deterministic criterion. Kept tokens re-assemble through a sorted
    // struct array (no window over the fact table); compression ratio in
    // exact ppm. The top-20 list is a broadcast — one explode pass, one
    // 20-row join.
    Op("llm_prompt_compression", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "tok").where(col("tok") =!= "")
      val top20 = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok")).limit(20)
        .select(col("tok").as("stop"))
      val kept = toks.join(broadcast(top20), toks("tok") === top20("stop"), "left_anti")
      val nOrig = toks.groupBy("doc_id").agg(count(lit(1)).as("n_orig"))
      kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          expr("concat_ws(' ', slice(transform(array_sort(" +
            "collect_list(struct(pos, tok))), x -> x.tok), 1, 8))").as("head_kept"))
        .join(nOrig, "doc_id")
        .where(col("doc_id") % 20 === 11)
        .withColumn("ratio_ppm", expr("n_kept * 1000000 DIV n_orig"))
        .select("doc_id", "n_orig", "n_kept", "ratio_ppm", "head_kept")
        .orderBy("doc_id")
    },
      // Same top-20 cut (freq desc, token asc), same ordered reassembly.
      """WITH toks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t.tok
        |  FROM documents,
        |    LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
        |      generate_subscripts(string_split(text, ' '), 1) AS i) t
        |  WHERE t.tok <> ''),
        |top20 AS (SELECT tok AS stop FROM (SELECT tok, COUNT(*) AS freq
        |  FROM toks GROUP BY 1 ORDER BY freq DESC, tok LIMIT 20)),
        |kept AS (SELECT * FROM toks WHERE tok NOT IN (SELECT stop FROM top20)),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(tok ORDER BY pos)[1:8], ' ') AS head_kept
        |  FROM kept GROUP BY 1),
        |orig AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_orig
        |  FROM toks GROUP BY 1)
        |SELECT doc_id, n_orig, n_kept, n_kept * 1000000 // n_orig AS ratio_ppm,
        |  head_kept
        |FROM agg JOIN orig USING (doc_id)
        |WHERE doc_id % 20 = 11 ORDER BY doc_id""".stripMargin),

    // Roman numeral roundtrip — subtractive encode per decimal place
    // (repeat/CASE, no loops) and a PURELY ALGEBRAIC decode: expand the
    // six subtractive pairs, then value = Σ letter-count × letter-value
    // via length-difference counting — zero per-character iteration in
    // either engine. Graded row-by-row that decode(encode(n)) = n.
    Op("fn_roman_roundtrip", (s, d) => {
      def place(digit: String, one: String, five: String, ten: String) =
        s"""CASE WHEN $digit = 9 THEN '$one$ten'
           |  WHEN $digit >= 5 THEN concat('$five', repeat('$one', CAST($digit - 5 AS INT)))
           |  WHEN $digit = 4 THEN '$one$five'
           |  ELSE repeat('$one', CAST($digit AS INT)) END""".stripMargin
      val counts = Seq("M" -> 1000, "D" -> 500, "C" -> 100, "L" -> 50,
        "X" -> 10, "V" -> 5, "I" -> 1)
        .map { case (ch, v) =>
          s"(length(norm) - length(replace(norm, '$ch', ''))) * $v" }
        .mkString(" + ")
      s.range(1, 4000).toDF("n").where(col("n") % 7 === 3)
        .withColumn("roman", expr(
          s"concat(repeat('M', CAST(n DIV 1000 AS INT)), ${place("(n DIV 100 % 10)", "C", "D", "M")}, " +
            s"${place("(n DIV 10 % 10)", "X", "L", "C")}, ${place("(n % 10)", "I", "V", "X")})"))
        .withColumn("norm", expr(
          "replace(replace(replace(replace(replace(replace(roman, " +
            "'CM', 'DCCCC'), 'CD', 'CCCC'), 'XC', 'LXXXX'), 'XL', 'XXXX'), " +
            "'IX', 'VIIII'), 'IV', 'IIII')"))
        .withColumn("decoded", expr(s"CAST($counts AS BIGINT)"))
        .select(col("n"), col("roman"), col("decoded"))
        .orderBy("n")
    },
      // Same place-wise encode, same algebraic length-difference decode.
      """WITH n AS (SELECT CAST(g AS BIGINT) AS n
        |  FROM generate_series(1, 3999) t(g) WHERE g % 7 = 3),
        |r AS (SELECT n,
        |    repeat('M', CAST(n // 1000 AS INT)) ||
        |    CASE WHEN n // 100 % 10 = 9 THEN 'CM'
        |      WHEN n // 100 % 10 >= 5 THEN 'D' || repeat('C', CAST(n // 100 % 10 - 5 AS INT))
        |      WHEN n // 100 % 10 = 4 THEN 'CD'
        |      ELSE repeat('C', CAST(n // 100 % 10 AS INT)) END ||
        |    CASE WHEN n // 10 % 10 = 9 THEN 'XC'
        |      WHEN n // 10 % 10 >= 5 THEN 'L' || repeat('X', CAST(n // 10 % 10 - 5 AS INT))
        |      WHEN n // 10 % 10 = 4 THEN 'XL'
        |      ELSE repeat('X', CAST(n // 10 % 10 AS INT)) END ||
        |    CASE WHEN n % 10 = 9 THEN 'IX'
        |      WHEN n % 10 >= 5 THEN 'V' || repeat('I', CAST(n % 10 - 5 AS INT))
        |      WHEN n % 10 = 4 THEN 'IV'
        |      ELSE repeat('I', CAST(n % 10 AS INT)) END AS roman
        |  FROM n),
        |x AS (SELECT n, roman,
        |    replace(replace(replace(replace(replace(replace(roman,
        |      'CM', 'DCCCC'), 'CD', 'CCCC'), 'XC', 'LXXXX'), 'XL', 'XXXX'),
        |      'IX', 'VIIII'), 'IV', 'IIII') AS norm
        |  FROM r)
        |SELECT n, roman, CAST(
        |    (length(norm) - length(replace(norm, 'M', ''))) * 1000
        |  + (length(norm) - length(replace(norm, 'D', ''))) * 500
        |  + (length(norm) - length(replace(norm, 'C', ''))) * 100
        |  + (length(norm) - length(replace(norm, 'L', ''))) * 50
        |  + (length(norm) - length(replace(norm, 'X', ''))) * 10
        |  + (length(norm) - length(replace(norm, 'V', ''))) * 5
        |  + (length(norm) - length(replace(norm, 'I', ''))) * 1 AS BIGINT) AS decoded
        |FROM x ORDER BY n""".stripMargin),

    // M/M/1 queueing ledger — utilization ρ, queue length Lq, wait Wq
    // from the exact-rational Erlang algebra: ρ ppm = Σ service DIV
    // span, Lq ppm = ρ²/(1−ρ) as ρ_ppm² DIV (10⁶−ρ_ppm), Wq = Lq/λ.
    // Service times are bounded deterministic functions of the event
    // value; everything integer µs/ppm.
    Op("agg_mm1_queue", (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"), col("ts_us"),
          expr("(CAST(FLOOR(value * 100) AS BIGINT) % 500 + 1) * 1000").as("svc_us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_arrivals"),
          sum("svc_us").as("busy_us"),
          (max("ts_us") - min("ts_us")).as("span_us"))
        .withColumn("rho_ppm", expr("busy_us * 1000000 DIV span_us"))
        .withColumn("lq_micro", expr(
          "CASE WHEN rho_ppm < 1000000 THEN rho_ppm * rho_ppm DIV (1000000 - rho_ppm) ELSE -1 END"))
        .withColumn("wq_us", expr(
          "CASE WHEN lq_micro >= 0 THEN lq_micro * span_us DIV n_arrivals DIV 1000000 ELSE -1 END"))
        .select("event_type", "n_arrivals", "busy_us", "span_us",
          "rho_ppm", "lq_micro", "wq_us")
        .orderBy("event_type")
    },
      // Same service-time rule, same Erlang algebra in ppm.
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
        |    (CAST(FLOOR(value * 100) AS BIGINT) % 500 + 1) * 1000 AS svc_us
        |  FROM events),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
        |    CAST(SUM(svc_us) AS BIGINT) AS busy_us,
        |    CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS span_us
        |  FROM e GROUP BY 1),
        |r AS (SELECT *, busy_us * 1000000 // span_us AS rho_ppm FROM a),
        |l AS (SELECT *, CASE WHEN rho_ppm < 1000000
        |    THEN rho_ppm * rho_ppm // (1000000 - rho_ppm) ELSE -1 END AS lq_micro
        |  FROM r)
        |SELECT event_type, n_arrivals, busy_us, span_us, rho_ppm, lq_micro,
        |  CASE WHEN lq_micro >= 0 THEN lq_micro * span_us // n_arrivals // 1000000
        |    ELSE -1 END AS wq_us
        |FROM l ORDER BY event_type""".stripMargin),

    // Aalen–Johansen competing-risks estimator — cumulative incidence
    // per cause with the overall KM survival as the weight: CIF_k(T) =
    // Σ_s S(s−)·d_k(s)/n(s), replayed as ONE ordered integer fold whose
    // accumulator carries (S, CIF₁, CIF₂) simultaneously (the
    // agg_kaplan_meier fold law extended to a struct state; CIF uses the
    // PRE-step S). Two planted causes + censoring; S+CIF₁+CIF₂ ≤ 10⁶
    // with only truncation loss.
    Op("agg_aalen_johansen", (s, d) => {
      val lab = Tables.events(s, d).select("user_id").distinct()
        .withColumn("dur_raw", expr(
          s"${md5Bits("aj", "user_id", 8)} % 100"))
        .withColumn("cause_raw", expr(
          s"1 + ${md5Bits("ajc", "user_id", 8)} % 2"))
        .select((col("user_id") % 3).as("cohort"),
          least(col("dur_raw"), lit(60L)).as("dur"),
          when(col("dur_raw") <= 60, col("cause_raw")).otherwise(0L).as("cause"))
      val byDur = lab.groupBy("cohort", "dur")
        .agg(count(lit(1)).as("n_here"),
          sum(expr("CASE WHEN cause = 1 THEN 1 ELSE 0 END")).as("d1"),
          sum(expr("CASE WHEN cause = 2 THEN 1 ELSE 0 END")).as("d2"))
      val wAtRisk = Window.partitionBy("cohort").orderBy(desc("dur"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val times = byDur
        .withColumn("r", sum("n_here").over(wAtRisk))
        .where(col("d1") + col("d2") > 0)
      val folded = times.groupBy("cohort")
        .agg(count(lit(1)).as("n_event_times"),
          expr("sort_array(collect_list(named_struct('t', dur, 'd1', d1, 'd2', d2, 'r', r)))").as("steps"))
        .withColumn("fin", expr(
          """aggregate(steps,
             named_struct('s', CAST(1000000 AS BIGINT), 'c1', CAST(0 AS BIGINT), 'c2', CAST(0 AS BIGINT)),
             (acc, e) -> named_struct(
               's', acc.s * (e.r - e.d1 - e.d2) DIV e.r,
               'c1', acc.c1 + acc.s * e.d1 DIV e.r,
               'c2', acc.c2 + acc.s * e.d2 DIV e.r))"""))
      val cohorts = lab.groupBy("cohort")
        .agg(count(lit(1)).as("n_users"),
          sum(expr("CASE WHEN cause = 1 THEN 1 ELSE 0 END")).as("n_cause1"),
          sum(expr("CASE WHEN cause = 2 THEN 1 ELSE 0 END")).as("n_cause2"),
          sum(expr("CASE WHEN cause = 0 THEN 1 ELSE 0 END")).as("n_censored"))
      cohorts.join(folded, "cohort")
        .select(col("cohort"), col("n_users"), col("n_cause1"), col("n_cause2"),
          col("n_censored"), col("n_event_times"),
          expr("fin.s").as("s_ppm"), expr("fin.c1").as("cif1_ppm"),
          expr("fin.c2").as("cif2_ppm"))
        .orderBy("cohort")
    },
      // Same planted durations/causes, same recursive struct-state fold
      // (the KM WITH RECURSIVE law with a 3-component accumulator).
      s"""WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events),
        |pl AS (SELECT user_id,
        |    ${duckMd5Bits("aj", "user_id", 8)} % 100 AS dur_raw,
        |    1 + ${duckMd5Bits("ajc", "user_id", 8)} % 2 AS cause_raw
        |  FROM u),
        |lab AS (SELECT user_id % 3 AS cohort, LEAST(dur_raw, 60) AS dur,
        |    CASE WHEN dur_raw <= 60 THEN cause_raw ELSE 0 END AS cause
        |  FROM pl),
        |bd AS (SELECT cohort, dur, CAST(COUNT(*) AS BIGINT) AS n_here,
        |    CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
        |  FROM lab GROUP BY 1, 2),
        |tm AS (SELECT cohort, dur, d1, d2,
        |    CAST(SUM(n_here) OVER (PARTITION BY cohort ORDER BY dur DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r
        |  FROM bd),
        |dt AS (SELECT cohort, dur, d1, d2, r,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY dur) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY cohort) AS BIGINT) AS nt
        |  FROM tm WHERE d1 + d2 > 0),
        |f(coh, frn, s_ppm, c1, c2) AS (
        |  SELECT cohort, CAST(0 AS BIGINT), CAST(1000000 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT cohort FROM dt)
        |  UNION ALL
        |  SELECT dt.cohort, dt.rn,
        |    f.s_ppm * (dt.r - dt.d1 - dt.d2) // dt.r,
        |    f.c1 + f.s_ppm * dt.d1 // dt.r,
        |    f.c2 + f.s_ppm * dt.d2 // dt.r
        |  FROM f JOIN dt ON dt.cohort = f.coh AND dt.rn = f.frn + 1
        |),
        |fin AS (SELECT coh AS cohort, s_ppm, c1, c2 FROM f
        |  JOIN (SELECT cohort AS cc, MAX(nt) AS nt FROM dt GROUP BY 1) q
        |    ON q.cc = f.coh AND f.frn = q.nt),
        |co AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cause1,
        |    CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cause2,
        |    CAST(SUM(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
        |  FROM lab GROUP BY 1),
        |ndt AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_event_times
        |  FROM dt GROUP BY 1)
        |SELECT co.cohort, n_users, n_cause1, n_cause2, n_censored,
        |  n_event_times, s_ppm, c1 AS cif1_ppm, c2 AS cif2_ppm
        |FROM co JOIN ndt USING (cohort) JOIN fin USING (cohort)
        |ORDER BY cohort""".stripMargin),

    // Actuarial life table — qx→lx survivorship chain over 8 planted
    // age bands per segment cohort: lx(b) = radix-truncating product of
    // (10⁶−qx) over PRECEDING bands, computed per row as a bounded fold
    // over the window's collected prefix (no pivot, no recursion on the
    // Spark side); standardized deaths dx_std = lx − lx·(10⁶−qx) DIV
    // 10⁶. Bounded 8-element arrays, one shuffle.
    Op("agg_life_table", (s, d) => {
      val q = Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          expr("CAST(c_custkey AS BIGINT) % 8").as("band"),
          expr(s"CASE WHEN ${md5Bits("lt", "c_custkey", 8)} % 1000 " +
            "< 60 + 25 * (CAST(c_custkey AS BIGINT) % 8) THEN 1 ELSE 0 END").as("dx"))
        .groupBy("seg", "band")
        .agg(count(lit(1)).as("nx"), sum("dx").as("dx"))
        .withColumn("qx_ppm", expr("dx * 1000000 DIV nx"))
      val wPrev = Window.partitionBy("seg").orderBy("band")
        .rowsBetween(Window.unboundedPreceding, -1)
      q.withColumn("q_prev", coalesce(collect_list("qx_ppm").over(wPrev),
          expr("CAST(array() AS ARRAY<BIGINT>)")))
        .withColumn("lx", expr(
          "aggregate(q_prev, CAST(1000000 AS BIGINT), (acc, qq) -> acc * (1000000 - qq) DIV 1000000)"))
        .withColumn("dx_std", expr("lx - lx * (1000000 - qx_ppm) DIV 1000000"))
        .select("seg", "band", "nx", "dx", "qx_ppm", "lx", "dx_std")
        .orderBy("seg", "band")
    },
      // Same planted qx, same prefix-product recursion — indexed by the
      // PRESENT-band rank (row_number per segment), not band+1: the Spark
      // side folds collect_list over preceding PRESENT bands, and the old
      // band-chained recursion silently dropped every band after a gap
      // (caught at sf0.001 in round 17, where one segment has an empty
      // band; identical output on gap-free data).
      s"""WITH RECURSIVE q AS (SELECT c_mktsegment AS seg,
        |    CAST(c_custkey AS BIGINT) % 8 AS band,
        |    CAST(COUNT(*) AS BIGINT) AS nx,
        |    CAST(SUM(CASE WHEN ${duckMd5Bits("lt", "c_custkey", 8)} % 1000
        |      < 60 + 25 * (CAST(c_custkey AS BIGINT) % 8) THEN 1 ELSE 0 END) AS BIGINT) AS dx
        |  FROM customer GROUP BY 1, 2),
        |qq AS (SELECT *, dx * 1000000 // nx AS qx_ppm,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY band) AS BIGINT) AS rn FROM q),
        |f(seg, rn, lx) AS (
        |  SELECT seg, CAST(1 AS BIGINT), CAST(1000000 AS BIGINT)
        |  FROM (SELECT DISTINCT seg FROM qq)
        |  UNION ALL
        |  SELECT f.seg, f.rn + 1, f.lx * (1000000 - qq.qx_ppm) // 1000000
        |  FROM f JOIN qq ON qq.seg = f.seg AND qq.rn = f.rn
        |  WHERE f.rn < 8
        |)
        |SELECT qq.seg AS seg, qq.band AS band, nx, dx, qx_ppm, lx,
        |  lx - lx * (1000000 - qx_ppm) // 1000000 AS dx_std
        |FROM qq JOIN f ON f.seg = qq.seg AND f.rn = qq.rn
        |ORDER BY seg, band""".stripMargin),

    // Williams fractal pivots — strict 5-bar local extremes on daily
    // bars (high above both neighbors two deep ⇒ UP fractal; low below
    // ⇒ DOWN; both can coincide). Interior bars only; the lead/lag
    // probe is four comparisons on one sorted pass.
    Op("win_fractals", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      Tables.events(s, d)
        .select(col("event_type"),
          expr("ts_us DIV 86400000000").as("day"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .groupBy("event_type", "day")
        .agg(max("cents").as("h"), min("cents").as("l"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type")).cast("bigint"))
        .withColumn("up", expr(
          "h > lag(h, 1) OVER (PARTITION BY event_type ORDER BY day) AND " +
            "h > lag(h, 2) OVER (PARTITION BY event_type ORDER BY day) AND " +
            "h > lead(h, 1) OVER (PARTITION BY event_type ORDER BY day) AND " +
            "h > lead(h, 2) OVER (PARTITION BY event_type ORDER BY day)"))
        .withColumn("dn", expr(
          "l < lag(l, 1) OVER (PARTITION BY event_type ORDER BY day) AND " +
            "l < lag(l, 2) OVER (PARTITION BY event_type ORDER BY day) AND " +
            "l < lead(l, 1) OVER (PARTITION BY event_type ORDER BY day) AND " +
            "l < lead(l, 2) OVER (PARTITION BY event_type ORDER BY day)"))
        .where(col("rn") >= 3 && col("rn") <= col("nn") - 2 &&
          (col("up") || col("dn")))
        .withColumn("kind", expr(
          "CASE WHEN up AND dn THEN 'BOTH' WHEN up THEN 'UP' ELSE 'DOWN' END"))
        .select("event_type", "day", "h", "l", "kind")
        .orderBy("event_type", "day")
    },
      // Same strict 5-bar probes on the same daily bars.
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |bar AS (SELECT event_type, day, MAX(cents) AS h, MIN(cents) AS l
        |  FROM e GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn,
        |    (h > LAG(h, 1) OVER o AND h > LAG(h, 2) OVER o
        |      AND h > LEAD(h, 1) OVER o AND h > LEAD(h, 2) OVER o) AS up,
        |    (l < LAG(l, 1) OVER o AND l < LAG(l, 2) OVER o
        |      AND l < LEAD(l, 1) OVER o AND l < LEAD(l, 2) OVER o) AS dn
        |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, day, h, l,
        |  CASE WHEN up AND dn THEN 'BOTH' WHEN up THEN 'UP' ELSE 'DOWN' END AS kind
        |FROM w WHERE rn >= 3 AND rn <= nn - 2 AND (up OR dn)
        |ORDER BY event_type, day""".stripMargin),

    // DMI/ADX (sum-smoothed declared variant) — directional movement
    // +DM/−DM gated one-against-the-other, true range, 14-bar rolling
    // sums → ±DI ppm, DX ppm = |ΔDI|·10⁶ DIV ΣDI, ADX = 14-bar DX mean;
    // synthetic h/l via own md5 namespaces (the win_atr law). One sort,
    // all windows share it; zero denominators guarded.
    Op("win_dmi_adx", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      val w14 = ord.rowsBetween(-13, 0)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("h", expr(s"cents + ${md5Bits("dmh", "event_id", 8)} % 60"))
        .withColumn("l", expr(s"cents - ${md5Bits("dml", "event_id", 8)} % 60"))
        .withColumn("ph", lag("h", 1).over(ord))
        .withColumn("pl", lag("l", 1).over(ord))
        .withColumn("pc", coalesce(lag("cents", 1).over(ord), col("cents")))
        .withColumn("up_m", expr("CASE WHEN ph IS NULL THEN 0 ELSE h - ph END"))
        .withColumn("dn_m", expr("CASE WHEN pl IS NULL THEN 0 ELSE pl - l END"))
        .withColumn("pdm", expr("CASE WHEN up_m > dn_m AND up_m > 0 THEN up_m ELSE 0 END"))
        .withColumn("ndm", expr("CASE WHEN dn_m > up_m AND dn_m > 0 THEN dn_m ELSE 0 END"))
        .withColumn("tr", expr("greatest(h - l, abs(h - pc), abs(l - pc))"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("pdm14", sum("pdm").over(w14))
        .withColumn("ndm14", sum("ndm").over(w14))
        .withColumn("tr14", sum("tr").over(w14))
        .withColumn("pdi_ppm", expr(
          "CASE WHEN tr14 > 0 THEN pdm14 * 1000000 DIV tr14 ELSE 0 END"))
        .withColumn("ndi_ppm", expr(
          "CASE WHEN tr14 > 0 THEN ndm14 * 1000000 DIV tr14 ELSE 0 END"))
        .withColumn("dx_ppm", expr(
          "CASE WHEN pdi_ppm + ndi_ppm > 0 THEN abs(pdi_ppm - ndi_ppm) * 1000000 DIV (pdi_ppm + ndi_ppm) ELSE 0 END"))
        .withColumn("adx_ppm", expr(
          "SUM(dx_ppm) OVER (PARTITION BY event_type ORDER BY ts_us, event_id " +
            "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) DIV 14"))
        .where(col("rn") >= 28 && col("event_id") % 13 === 6)
        .select("event_type", "event_id", "pdi_ppm", "ndi_ppm", "dx_ppm", "adx_ppm")
        .orderBy("event_type", "event_id")
    },
      // Same md5 h/l namespaces, same gated DM, same 14-bar sums.
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |hl AS (SELECT *,
        |    cents + ${duckMd5Bits("dmh", "event_id", 8)} % 60 AS h,
        |    cents - ${duckMd5Bits("dml", "event_id", 8)} % 60 AS l
        |  FROM e),
        |p AS (SELECT *, LAG(h) OVER o AS ph, LAG(l) OVER o AS pl,
        |    COALESCE(LAG(cents) OVER o, cents) AS pc,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn
        |  FROM hl WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |dm AS (SELECT *,
        |    CASE WHEN ph IS NULL THEN 0 ELSE h - ph END AS up_m,
        |    CASE WHEN pl IS NULL THEN 0 ELSE pl - l END AS dn_m,
        |    GREATEST(h - l, ABS(h - pc), ABS(l - pc)) AS tr
        |  FROM p),
        |g AS (SELECT *,
        |    CASE WHEN up_m > dn_m AND up_m > 0 THEN up_m ELSE 0 END AS pdm,
        |    CASE WHEN dn_m > up_m AND dn_m > 0 THEN dn_m ELSE 0 END AS ndm
        |  FROM dm),
        |s AS (SELECT *,
        |    CAST(SUM(pdm) OVER w14 AS BIGINT) AS pdm14,
        |    CAST(SUM(ndm) OVER w14 AS BIGINT) AS ndm14,
        |    CAST(SUM(tr) OVER w14 AS BIGINT) AS tr14
        |  FROM g WINDOW w14 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |di AS (SELECT *,
        |    CASE WHEN tr14 > 0 THEN pdm14 * 1000000 // tr14 ELSE 0 END AS pdi_ppm,
        |    CASE WHEN tr14 > 0 THEN ndm14 * 1000000 // tr14 ELSE 0 END AS ndi_ppm
        |  FROM s),
        |dx AS (SELECT *,
        |    CASE WHEN pdi_ppm + ndi_ppm > 0
        |      THEN ABS(pdi_ppm - ndi_ppm) * 1000000 // (pdi_ppm + ndi_ppm)
        |      ELSE 0 END AS dx_ppm
        |  FROM di),
        |a AS (SELECT *, CAST(SUM(dx_ppm) OVER (PARTITION BY event_type
        |      ORDER BY ts_us, event_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) // 14 AS adx_ppm
        |  FROM dx)
        |SELECT event_type, event_id, pdi_ppm, ndi_ppm, dx_ppm, adx_ppm
        |FROM a WHERE rn >= 28 AND event_id % 13 = 6
        |ORDER BY event_type, event_id""".stripMargin),

    // Croston's intermittent-demand method — sparse demand (1-in-37
    // orders), the nonzero-demand subsequence carries BOTH state series:
    // finite-lag integer EWMA of demand sizes (z) and of inter-arrival
    // gaps (p), forecast rate = z/p in exact ppm; graded at the final
    // state per series (composite max_by over the last demand day).
    Op("agg_croston", (s, d) => {
      val daily = Tables.orders(s, d)
        .where(col("o_orderkey") % 37 === 5)
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            .cast("bigint").as("day"))
        .agg(count(lit(1)).as("z"))
      val ord = Window.partitionBy("o_orderpriority").orderBy("day")
      val terms = KeltnerW.zipWithIndex.map { case (wt, i) =>
        coalesce(lag(col("z"), i).over(ord) * wt, lit(0L)) }
      val denomZ = KeltnerW.zipWithIndex.map { case (wt, i) =>
        when(lag(col("z"), i).over(ord).isNotNull, wt).otherwise(0L) }
      val gapTerms = KeltnerW.zipWithIndex.map { case (wt, i) =>
        coalesce(lag(col("gap"), i).over(ord) * wt, lit(0L)) }
      val denomG = KeltnerW.zipWithIndex.map { case (wt, i) =>
        when(lag(col("gap"), i).over(ord).isNotNull, wt).otherwise(0L) }
      daily
        .withColumn("gap", col("day") - lag("day", 1).over(ord))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("z_num", terms.reduce(_ + _))
        .withColumn("z_den", denomZ.reduce(_ + _))
        .withColumn("z_milli", expr("z_num * 1000 DIV z_den"))
        .withColumn("g_num", gapTerms.reduce(_ + _))
        .withColumn("g_den", denomG.reduce(_ + _))
        .withColumn("p_milli", expr(
          "CASE WHEN g_den > 0 THEN g_num * 1000 DIV g_den ELSE 0 END"))
        .withColumn("f_ppm", expr(
          "CASE WHEN p_milli > 0 THEN z_milli * 1000000 DIV p_milli ELSE 0 END"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_demand_days"),
          expr("max_by(z_milli, day)").as("z_milli"),
          expr("max_by(p_milli, day)").as("p_milli"),
          expr("max_by(f_ppm, day)").as("f_ppm"))
        .orderBy("o_orderpriority")
    },
      // Same sparse series, same weight-vector EWMAs, same final-state
      // pick.
      {
      val zl = KeltnerW.indices.map(i => s"lag(z, $i) OVER o AS z$i").mkString(", ")
      val gl = KeltnerW.indices.map(i => s"lag(gap, $i) OVER o AS g$i").mkString(", ")
      val zn = KeltnerW.zipWithIndex.map { case (w, i) => s"COALESCE($w * z$i, 0)" }.mkString(" + ")
      val zd = KeltnerW.zipWithIndex.map { case (w, i) => s"CASE WHEN z$i IS NULL THEN 0 ELSE $w END" }.mkString(" + ")
      val gn = KeltnerW.zipWithIndex.map { case (w, i) => s"COALESCE($w * g$i, 0)" }.mkString(" + ")
      val gd = KeltnerW.zipWithIndex.map { case (w, i) => s"CASE WHEN g$i IS NULL THEN 0 ELSE $w END" }.mkString(" + ")
      s"""WITH daily AS (SELECT o_orderpriority,
         |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS z
         |  FROM orders WHERE o_orderkey % 37 = 5 GROUP BY 1, 2),
         |g AS (SELECT *, day - LAG(day) OVER o AS gap
         |  FROM daily WINDOW o AS (PARTITION BY o_orderpriority ORDER BY day)),
         |l AS (SELECT *, $zl, $gl
         |  FROM g WINDOW o AS (PARTITION BY o_orderpriority ORDER BY day)),
         |st AS (SELECT *, ($zn) * 1000 // ($zd) AS z_milli,
         |    CASE WHEN ($gd) > 0 THEN ($gn) * 1000 // ($gd) ELSE 0 END AS p_milli
         |  FROM l),
         |ff AS (SELECT *, CASE WHEN p_milli > 0
         |    THEN z_milli * 1000000 // p_milli ELSE 0 END AS f_ppm FROM st)
         |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_demand_days,
         |  MAX_BY(z_milli, day) AS z_milli, MAX_BY(p_milli, day) AS p_milli,
         |  MAX_BY(f_ppm, day) AS f_ppm
         |FROM ff GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    }),

    // User-agent parse — REAL regexp extraction (family + version + OS)
    // over deterministic UA strings assembled from literal templates:
    // the classic log-sessionization fn, graded on the parsed rollup.
    // One scan, broadcast-free, codegen regexps.
    Op("fn_user_agent_parse", (s, d) => {
      val ua =
        s"""CASE ${md5Bits("ua", "c_custkey", 8)} % 5
          |  WHEN 0 THEN concat('Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/', 100 + c_custkey % 30, '.0.0.0 Safari/537.36')
          |  WHEN 1 THEN concat('Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/', 14 + c_custkey % 4, '.1 Safari/605.1.15')
          |  WHEN 2 THEN concat('Mozilla/5.0 (X11; Linux x86_64; rv:', 90 + c_custkey % 20, '.0) Gecko/20100101 Firefox/', 90 + c_custkey % 20, '.0')
          |  WHEN 3 THEN concat('Mozilla/5.0 (iPhone; CPU iPhone OS 16_', c_custkey % 7, ' like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148')
          |  ELSE concat('curl/', 7 + c_custkey % 2, '.', c_custkey % 80, '.0') END""".stripMargin
      Tables.customer(s, d)
        .withColumn("ua", expr(ua))
        .withColumn("family", expr(
          """CASE WHEN ua RLIKE 'Chrome/' THEN 'Chrome'
            |  WHEN ua RLIKE 'Firefox/' THEN 'Firefox'
            |  WHEN ua RLIKE 'Version/.*Safari' THEN 'Safari'
            |  WHEN ua RLIKE '^curl/' THEN 'curl'
            |  ELSE 'Other' END""".stripMargin))
        .withColumn("os", expr(
          """CASE WHEN ua RLIKE 'Windows NT' THEN 'Windows'
            |  WHEN ua RLIKE 'iPhone OS' THEN 'iOS'
            |  WHEN ua RLIKE 'Mac OS X' THEN 'macOS'
            |  WHEN ua RLIKE 'Linux' THEN 'Linux'
            |  ELSE 'Other' END""".stripMargin))
        .withColumn("major", expr(
          "TRY_CAST(nullif(regexp_extract(ua, '(Chrome|Firefox|Version|curl)/([0-9]+)', 2), '') AS BIGINT)"))
        .groupBy("family", "os")
        .agg(count(lit(1)).as("n_ua"),
          min("major").as("min_major"), max("major").as("max_major"))
        .orderBy("family", "os")
    },
      // Same literal templates, same classification regexps, same major
      // extraction (TRY_CAST(NULLIF …) mirrors Spark's lax '' → NULL).
      s"""WITH ua AS (SELECT c_custkey,
        |    CASE ${duckMd5Bits("ua", "c_custkey", 8)} % 5
        |      WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/' || CAST(100 + c_custkey % 30 AS VARCHAR) || '.0.0.0 Safari/537.36'
        |      WHEN 1 THEN 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/' || CAST(14 + c_custkey % 4 AS VARCHAR) || '.1 Safari/605.1.15'
        |      WHEN 2 THEN 'Mozilla/5.0 (X11; Linux x86_64; rv:' || CAST(90 + c_custkey % 20 AS VARCHAR) || '.0) Gecko/20100101 Firefox/' || CAST(90 + c_custkey % 20 AS VARCHAR) || '.0'
        |      WHEN 3 THEN 'Mozilla/5.0 (iPhone; CPU iPhone OS 16_' || CAST(c_custkey % 7 AS VARCHAR) || ' like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148'
        |      ELSE 'curl/' || CAST(7 + c_custkey % 2 AS VARCHAR) || '.' || CAST(c_custkey % 80 AS VARCHAR) || '.0' END AS ua
        |  FROM customer),
        |cls AS (SELECT ua,
        |    CASE WHEN regexp_matches(ua, 'Chrome/') THEN 'Chrome'
        |      WHEN regexp_matches(ua, 'Firefox/') THEN 'Firefox'
        |      WHEN regexp_matches(ua, 'Version/.*Safari') THEN 'Safari'
        |      WHEN regexp_matches(ua, '^curl/') THEN 'curl'
        |      ELSE 'Other' END AS family,
        |    CASE WHEN regexp_matches(ua, 'Windows NT') THEN 'Windows'
        |      WHEN regexp_matches(ua, 'iPhone OS') THEN 'iOS'
        |      WHEN regexp_matches(ua, 'Mac OS X') THEN 'macOS'
        |      WHEN regexp_matches(ua, 'Linux') THEN 'Linux'
        |      ELSE 'Other' END AS os,
        |    TRY_CAST(NULLIF(regexp_extract(ua,
        |      '(Chrome|Firefox|Version|curl)/([0-9]+)', 2), '') AS BIGINT) AS major
        |  FROM ua)
        |SELECT family, os, COUNT(*) AS n_ua,
        |  MIN(major) AS min_major, MAX(major) AS max_major
        |FROM cls GROUP BY 1, 2 ORDER BY family, os""".stripMargin),

    // Cron next-fire resolver — REAL field matching (*, */n, a-b, plain)
    // over the 5-field expressions, scanned against the next 21 days of
    // minutes from a literal base; day-of-week from the epoch-day
    // formula (never the engines' divergent dow conventions). The
    // minute grid is a bounded 10080-row generate, crossed with 5
    // expressions (30240×5) — constant work regardless of data scale.
    Op("fn_cron_next_fire", (s, d) => {
      s.createDataFrame(Seq(
        Tuple1("*/15 * * * *"), Tuple1("0 9 * * 1-5"), Tuple1("30 2 1 * *"),
        Tuple1("0 0 * * 0"), Tuple1("45 18 15 * *"))).toDF("expr")
        .createOrReplaceTempView("graft_cron_exprs")
      s.sql(
        """WITH mins AS (SELECT explode(sequence(1, 30240)) AS m),
          |grid AS (SELECT m,
          |    TIMESTAMP '1995-06-01 00:00:00' + make_interval(0, 0, 0, 0, 0, m, 0) AS ts
          |  FROM mins),
          |f AS (SELECT m, ts, minute(ts) AS mi, hour(ts) AS hh, day(ts) AS dom,
          |    month(ts) AS mo,
          |    (datediff(CAST(ts AS DATE), DATE '1970-01-01') + 4) % 7 AS dow
          |  FROM grid),
          |e AS (SELECT expr,
          |    split(expr, ' ')[0] AS f_mi, split(expr, ' ')[1] AS f_hh,
          |    split(expr, ' ')[2] AS f_dom, split(expr, ' ')[3] AS f_mo,
          |    split(expr, ' ')[4] AS f_dow
          |  FROM graft_cron_exprs),
          |j AS (SELECT e.expr, f.m, f.ts FROM e CROSS JOIN f
          |  WHERE (f_mi = '*' OR (f_mi LIKE '*/%' AND f.mi % CAST(substring(f_mi, 3) AS INT) = 0)
          |      OR (f_mi RLIKE '^[0-9]+-[0-9]+$' AND f.mi BETWEEN CAST(split(f_mi, '-')[0] AS INT) AND CAST(split(f_mi, '-')[1] AS INT))
          |      OR f_mi = CAST(f.mi AS STRING))
          |    AND (f_hh = '*' OR (f_hh LIKE '*/%' AND f.hh % CAST(substring(f_hh, 3) AS INT) = 0)
          |      OR (f_hh RLIKE '^[0-9]+-[0-9]+$' AND f.hh BETWEEN CAST(split(f_hh, '-')[0] AS INT) AND CAST(split(f_hh, '-')[1] AS INT))
          |      OR f_hh = CAST(f.hh AS STRING))
          |    AND (f_dom = '*' OR (f_dom LIKE '*/%' AND f.dom % CAST(substring(f_dom, 3) AS INT) = 0)
          |      OR (f_dom RLIKE '^[0-9]+-[0-9]+$' AND f.dom BETWEEN CAST(split(f_dom, '-')[0] AS INT) AND CAST(split(f_dom, '-')[1] AS INT))
          |      OR f_dom = CAST(f.dom AS STRING))
          |    AND (f_mo = '*' OR (f_mo LIKE '*/%' AND f.mo % CAST(substring(f_mo, 3) AS INT) = 0)
          |      OR (f_mo RLIKE '^[0-9]+-[0-9]+$' AND f.mo BETWEEN CAST(split(f_mo, '-')[0] AS INT) AND CAST(split(f_mo, '-')[1] AS INT))
          |      OR f_mo = CAST(f.mo AS STRING))
          |    AND (f_dow = '*' OR (f_dow LIKE '*/%' AND f.dow % CAST(substring(f_dow, 3) AS INT) = 0)
          |      OR (f_dow RLIKE '^[0-9]+-[0-9]+$' AND f.dow BETWEEN CAST(split(f_dow, '-')[0] AS INT) AND CAST(split(f_dow, '-')[1] AS INT))
          |      OR f_dow = CAST(f.dow AS STRING)))
          |SELECT expr, CAST(MIN(m) AS BIGINT) AS minutes_ahead,
          |  CAST(MIN(ts) AS STRING) AS next_fire
          |FROM j GROUP BY expr ORDER BY expr""".stripMargin)
    },
      // Same minute grid, same field matcher (string_split is 1-based in
      // DuckDB), same epoch-day dow formula.
      {
      def m(fld: String, v: String) =
        s"""($fld = '*' OR ($fld LIKE '*/%' AND $v % TRY_CAST(substring($fld, 3) AS INT) = 0)
           |      OR (regexp_matches($fld, '^[0-9]+-[0-9]+$$') AND $v BETWEEN TRY_CAST(string_split($fld, '-')[1] AS INT) AND TRY_CAST(string_split($fld, '-')[2] AS INT))
           |      OR $fld = CAST($v AS VARCHAR))""".stripMargin
      s"""WITH ex AS (SELECT * FROM (VALUES ('*/15 * * * *'), ('0 9 * * 1-5'),
         |    ('30 2 1 * *'), ('0 0 * * 0'), ('45 18 15 * *')) AS t(expr)),
         |e AS (SELECT expr,
         |    string_split(expr, ' ')[1] AS f_mi, string_split(expr, ' ')[2] AS f_hh,
         |    string_split(expr, ' ')[3] AS f_dom, string_split(expr, ' ')[4] AS f_mo,
         |    string_split(expr, ' ')[5] AS f_dow
         |  FROM ex),
         |grid AS (SELECT CAST(g AS BIGINT) AS m,
         |    TIMESTAMP '1995-06-01 00:00:00' + to_minutes(CAST(g AS BIGINT)) AS ts
         |  FROM generate_series(1, 30240) t(g)),
         |f AS (SELECT m, ts, minute(ts) AS mi, hour(ts) AS hh, day(ts) AS dom,
         |    month(ts) AS mo,
         |    (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 AS dow
         |  FROM grid),
         |j AS (SELECT e.expr, f.m, f.ts FROM e CROSS JOIN f
         |  WHERE ${m("f_mi", "f.mi")}
         |    AND ${m("f_hh", "f.hh")}
         |    AND ${m("f_dom", "f.dom")}
         |    AND ${m("f_mo", "f.mo")}
         |    AND ${m("f_dow", "f.dow")})
         |SELECT expr, CAST(MIN(m) AS BIGINT) AS minutes_ahead,
         |  CAST(MIN(ts) AS VARCHAR) AS next_fire
         |FROM j GROUP BY expr ORDER BY expr""".stripMargin
    }),

    // Heikin-Ashi candles — the recursive smoothing transform:
    // ha_close = (o+h+l+c) DIV 4 per bar, ha_open = truncating midpoint
    // chain seeded at the first bar, computed per row as a bounded fold
    // over the window's collected hc prefix (Spark side — no recursion);
    // ha_high/low close over the synthetic extremes. Daily bars with
    // open/close by composite min_by/max_by.
    Op("win_heikin_ashi", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
      priceTicks(Tables.events(s, d))
        .groupBy("event_type", "day")
        .agg(expr("min_by(cents, struct(ts_us, event_id))").as("o"),
          max("cents").as("h"), min("cents").as("l"),
          expr("max_by(cents, struct(ts_us, event_id))").as("c"))
        .withColumn("hc", expr("(o + h + l + c) DIV 4"))
        .withColumn("seed", first(expr("(o + c) DIV 2")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("hc_prev", coalesce(collect_list("hc").over(wPrev),
          expr("CAST(array() AS ARRAY<BIGINT>)")))
        .withColumn("ho", expr(
          "aggregate(hc_prev, seed, (acc, v) -> (acc + v) DIV 2)"))
        .withColumn("ha_high", greatest(col("h"), col("ho"), col("hc")))
        .withColumn("ha_low", least(col("l"), col("ho"), col("hc")))
        .withColumn("candle", expr(
          "CASE WHEN hc > ho THEN 'BULL' WHEN hc < ho THEN 'BEAR' ELSE 'DOJI' END"))
        .select("event_type", "day", "ho", "hc", "ha_high", "ha_low", "candle")
        .orderBy("event_type", "day")
    },
      // Same bars, same truncating midpoint chain (recursion replaces the
      // Spark-side prefix fold).
      s"""WITH RECURSIVE $TicksCte,
        |bar AS (SELECT event_type, day,
        |    MIN_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS o,
        |    MAX(cents) AS h, MIN(cents) AS l,
        |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS c
        |  FROM e GROUP BY 1, 2),
        |br AS (SELECT *, (o + h + l + c) // 4 AS hc,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        |  FROM bar),
        |f(et, frn, ho) AS (
        |  SELECT event_type, CAST(1 AS BIGINT), (o + c) // 2
        |  FROM br WHERE rn = 1
        |  UNION ALL
        |  SELECT f.et, f.frn + 1, (f.ho + br.hc) // 2
        |  FROM f JOIN br ON br.event_type = f.et AND br.rn = f.frn
        |  WHERE f.frn < br.nb
        |)
        |SELECT br.event_type, br.day, f.ho, br.hc,
        |  GREATEST(br.h, f.ho, br.hc) AS ha_high,
        |  LEAST(br.l, f.ho, br.hc) AS ha_low,
        |  CASE WHEN br.hc > f.ho THEN 'BULL' WHEN br.hc < f.ho THEN 'BEAR'
        |    ELSE 'DOJI' END AS candle
        |FROM br JOIN f ON f.et = br.event_type AND f.frn = br.rn
        |ORDER BY br.event_type, br.day""".stripMargin),

    // TRIX — triple-smoothed close momentum: three CHAINED finite-lag
    // integer EWMAs (each stage re-folds the previous stage's output,
    // truncating per the weight-vector law), then the 1-bar rate of
    // change of the third stage in ppm. 21 lag probes on ONE sort.
    Op("win_trix", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      def fold(src: String, dst: String)(df: DataFrame): DataFrame = {
        val terms = KeltnerW.zipWithIndex.map { case (wt, i) =>
          coalesce(lag(col(src), i).over(ord) * wt, lit(0L)) }
        val denom = KeltnerW.zipWithIndex.map { case (wt, i) =>
          when(lag(col(src), i).over(ord).isNotNull, wt).otherwise(0L) }
        df.withColumn(s"${dst}_num", terms.reduce(_ + _))
          .withColumn(s"${dst}_den", denom.reduce(_ + _))
          .withColumn(dst, expr(s"${dst}_num DIV ${dst}_den"))
      }
      val bars = closeBars(priceTicks(Tables.events(s, d)))
      fold("e2", "e3")(fold("e1", "e2")(fold("c", "e1")(bars)))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("pe3", lag("e3", 1).over(ord))
        .where(col("rn") >= 22)
        .withColumn("trix_ppm", expr("(e3 - pe3) * 1000000 DIV pe3"))
        .select("event_type", "day", "c", "e3", "trix_ppm")
        .orderBy("event_type", "day")
    },
      // Same three chained weight-vector stages (i = 0 reads the source
      // column directly; lag OVER the same sort otherwise).
      {
      def stage(src: String, dst: String) = {
        val num = KeltnerW.zipWithIndex.map { case (w, i) =>
          if (i == 0) s"$w * $src" else s"COALESCE($w * lag($src, $i) OVER o, 0)"
        }.mkString(" + ")
        val den = KeltnerW.zipWithIndex.map { case (w, i) =>
          if (i == 0) s"$w" else s"CASE WHEN lag($src, $i) OVER o IS NULL THEN 0 ELSE $w END"
        }.mkString(" + ")
        s"SELECT *, ($num) // ($den) AS $dst"
      }
      s"""WITH $TicksCte,
         |$CloseBarsCte,
         |s1 AS (${stage("c", "e1")} FROM bar
         |  WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |s2 AS (${stage("e1", "e2")} FROM s1
         |  WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |s3 AS (${stage("e2", "e3")} FROM s2
         |  WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn,
         |    LAG(e3) OVER o AS pe3
         |  FROM s3 WINDOW o AS (PARTITION BY event_type ORDER BY day))
         |SELECT event_type, day, c, e3,
         |  (e3 - pe3) * 1000000 // pe3 AS trix_ppm
         |FROM r WHERE rn >= 22 ORDER BY event_type, day""".stripMargin
    }),

    // Hilbert curve index roundtrip (order 8, 256×256) — the locality-
    // preserving layout key that beats Z-order on axis-aligned range
    // scans: xy→d and d→xy as EIGHT UNROLLED rotation rounds emitted by
    // ONE generator for both engines (no loops, pure bit algebra);
    // graded on the full roundtrip per key.
    Op("fn_hilbert_curve", (s, d) => {
      val enc = hilbertEncodeSteps((a, b) => s"($a ^ $b)")
      val dec = hilbertDecodeSteps((a, b) => s"($a ^ $b)", "DIV")
      val base = Tables.part(s, d)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .where(col("pk") % 11 === 4)
        .withColumn("x0", expr("CAST(pk % 256 AS INT)"))
        .withColumn("y0", expr("CAST(pk DIV 256 % 256 AS INT)"))
        .withColumn("d0", lit(0))
      val encoded = enc.flatten.foldLeft(base) { case (df, (n, e)) =>
        df.withColumn(n, expr(e)) }
      val withT = encoded.withColumn("t0", col("d8"))
        .withColumn("a0", lit(0)).withColumn("b0", lit(0))
      val decoded = dec.flatten.foldLeft(withT) { case (df, (n, e)) =>
        df.withColumn(n, expr(e)) }
      decoded
        .select(col("pk"), col("x0").cast("bigint").as("x"),
          col("y0").cast("bigint").as("y"), col("d8").cast("bigint").as("hd"),
          col("a8").cast("bigint").as("xd"), col("b8").cast("bigint").as("yd"))
        .orderBy("pk")
    },
      // Same generator, DuckDB dialect (xor(), //, lateral aliases).
      {
      val enc = hilbertEncodeSteps((a, b) => s"xor($a, $b)").flatten
        .map { case (n, e) => s"$e AS $n" }.mkString(",\n|    ")
      val dec = hilbertDecodeSteps((a, b) => s"xor($a, $b)", "//").flatten
        .map { case (n, e) => s"$e AS $n" }.mkString(",\n|    ")
      s"""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS pk FROM part
         |  WHERE p_partkey % 11 = 4),
         |base AS (SELECT pk, CAST(pk % 256 AS INT) AS x0,
         |    CAST(pk // 256 % 256 AS INT) AS y0, 0 AS d0 FROM p),
         |enc AS (SELECT pk, x0, y0, d0,
         |    $enc
         |  FROM base),
         |dec AS (SELECT *, d8 AS t0, 0 AS a0, 0 AS b0,
         |    $dec
         |  FROM enc)
         |SELECT pk, CAST(x0 AS BIGINT) AS x, CAST(y0 AS BIGINT) AS y,
         |  CAST(d8 AS BIGINT) AS hd, CAST(a8 AS BIGINT) AS xd,
         |  CAST(b8 AS BIGINT) AS yd
         |FROM dec ORDER BY pk""".stripMargin
    })
  )
}
