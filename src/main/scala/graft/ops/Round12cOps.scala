package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 operators, third compilation unit (Round12bOps.scala crossed
  * 2k lines; a fresh small file keeps the incremental recompile at ~1 s).
  * Same paired impl/oracle style, same engine-exactness laws — NOTE the
  * negative-numerator DIV law is load-bearing twice here (Chaikin money
  * flow and the AD-line EWMAs): Spark `DIV` truncates toward zero while
  * DuckDB `//` floors, so every division whose numerator can go negative
  * is written sign-split (magnitude DIV, then negate) in BOTH dialects.
  */
object Round12cOps extends Family {
  /** Finite-lag integer EWMA weights (α≈1/2): fast 4-lag and slow 7-lag
    * probes for the Chaikin oscillator pair — the win_ewma law. */
  private val FastW = Seq(8L, 4L, 2L, 1L)
  private val SlowW = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L)

  /** Bitcoin base58 alphabet (no 0/O/I/l) — shared by both dialects as a
    * string literal; digit i ↔ substr(alphabet, i+1, 1). */
  private val B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

  /** 58^k powers for the 6 unrolled base58 digit extractions. */
  private val B58Pow = Seq(1L, 58L, 3364L, 195112L, 11316496L, 656356768L)

  /** The Damm anti-symmetric quasigroup (10 rows of 10, zero diagonal)
    * as one 100-char literal shared by both dialects. */
  private val DammTbl =
    "0317598642" + "7092154863" + "4206871359" + "1750983426" +
      "6123045978" + "3674209581" + "5869720134" + "8945362017" +
      "9438617205" + "2581436790"

  /** Verhoeff D5 dihedral multiplication table (10 rows of 10), the
    * eight position permutations, and the inverse row — shared string
    * literals for both dialects. */
  private val VerhoeffD =
    "0123456789" + "1234067895" + "2340178956" + "3401289567" +
      "4012395678" + "5987604321" + "6598710432" + "7659821043" +
      "8765932104" + "9876543210"

  private val VerhoeffP = Seq("0123456789", "1576283094", "5803796142",
    "8916043527", "9453126870", "4286573109", "2793806415", "7046198532")

  private val VerhoeffInv = "0432156789"

  /** Hexagon vertices for fn_point_in_polygon — no horizontal edges. */
  private val HexPoly = Seq((100, 20), (180, 60), (180, 140), (100, 180),
    (20, 140), (20, 60))

  val ops: Seq[Op] = Seq(
    // Chaikin Accumulation/Distribution — per daily bar the money-flow
    // multiplier ((c-l)-(h-c))/(h-l) scaled ×1000 by bar volume
    // (sign-split DIV), AD = running sum, oscillator = fast − slow
    // finite-lag EWMA of AD (sign-split folds). One sort, 11 lag probes.
    Op("win_chaikin_ad", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def fold(w: Seq[Long], dst: String)(df: DataFrame): DataFrame = {
        val num = w.zipWithIndex.map { case (wt, i) =>
          coalesce(lag(col("ad"), i).over(ord) * wt, lit(0L)) }.reduce(_ + _)
        val den = w.zipWithIndex.map { case (wt, i) =>
          when(lag(col("ad"), i).over(ord).isNotNull, wt).otherwise(0L) }
          .reduce(_ + _)
        df.withColumn(s"${dst}_n", num).withColumn(s"${dst}_d", den)
          .withColumn(dst, expr(
            s"CASE WHEN ${dst}_n < 0 THEN -((-${dst}_n) DIV ${dst}_d) " +
              s"ELSE ${dst}_n DIV ${dst}_d END"))
      }
      val bars = priceTicks(Tables.events(s, d))
        .groupBy("event_type", "day")
        .agg(max("cents").as("h"), min("cents").as("l"),
          expr("max_by(cents, struct(ts_us, event_id))").as("c"),
          count(lit(1)).as("vol"))
        .withColumn("mfv", expr(
          """CASE WHEN h = l THEN 0L
            |  WHEN 2 * c - l - h < 0
            |    THEN -(((l + h - 2 * c) * vol * 1000) DIV (h - l))
            |  ELSE ((2 * c - l - h) * vol * 1000) DIV (h - l) END"""
            .stripMargin))
        .withColumn("ad", sum("mfv").over(cum))
      fold(SlowW, "ema_slow")(fold(FastW, "ema_fast")(bars))
        .withColumn("osc", col("ema_fast") - col("ema_slow"))
        .withColumn("signal", expr(
          "CASE WHEN osc > 0 THEN 'ACCUM' WHEN osc < 0 THEN 'DISTRIB' " +
            "ELSE 'FLAT' END"))
        .select("event_type", "day", "ad", "ema_fast", "ema_slow", "osc",
          "signal")
        .orderBy("event_type", "day")
    },
      // Same bars, same sign-split money flow, same two weight-vector
      // folds (DuckDB // floors, hence the mirrored magnitude form).
      {
      def stage(w: Seq[Long], dst: String) = {
        val num = w.zipWithIndex.map { case (wt, i) =>
          if (i == 0) s"$wt * ad"
          else s"COALESCE($wt * lag(ad, $i) OVER o, 0)" }.mkString(" + ")
        val den = w.zipWithIndex.map { case (wt, i) =>
          if (i == 0) s"$wt"
          else s"CASE WHEN lag(ad, $i) OVER o IS NULL THEN 0 ELSE $wt END" }
          .mkString(" + ")
        s"""SELECT *, CASE WHEN ($num) < 0
           |    THEN -((-($num)) // ($den)) ELSE ($num) // ($den) END AS $dst"""
          .stripMargin
      }
      s"""WITH $TicksCte,
         |bar AS (SELECT event_type, day, MAX(cents) AS h, MIN(cents) AS l,
         |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS c,
         |    CAST(COUNT(*) AS BIGINT) AS vol
         |  FROM e GROUP BY 1, 2),
         |mf AS (SELECT *, CASE WHEN h = l THEN 0
         |    WHEN 2 * c - l - h < 0
         |      THEN -(((l + h - 2 * c) * vol * 1000) // (h - l))
         |    ELSE ((2 * c - l - h) * vol * 1000) // (h - l) END AS mfv
         |  FROM bar),
         |adl AS (SELECT *, CAST(SUM(mfv) OVER (PARTITION BY event_type
         |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ad
         |  FROM mf),
         |s1 AS (${stage(FastW, "ema_fast")} FROM adl
         |  WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |s2 AS (${stage(SlowW, "ema_slow")} FROM s1
         |  WINDOW o AS (PARTITION BY event_type ORDER BY day))
         |SELECT event_type, day, ad, ema_fast, ema_slow,
         |  ema_fast - ema_slow AS osc,
         |  CASE WHEN ema_fast - ema_slow > 0 THEN 'ACCUM'
         |    WHEN ema_fast - ema_slow < 0 THEN 'DISTRIB'
         |    ELSE 'FLAT' END AS signal
         |FROM s2 ORDER BY event_type, day""".stripMargin
    }),

    // Snowflake-ID compose/decompose roundtrip — 41-bit millis, 10-bit
    // worker, 12-bit sequence packed by pure multiplication (no dialect
    // shift operators), unpacked by DIV/%; k-sortability graded via the
    // rank identity rank(id) == rank(ts, worker, seq). All fields
    // non-negative, so truncating and flooring division agree.
    Op("fn_snowflake_id", (s, d) => {
      val t = Tables.orders(s, d)
        .where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("okey"),
          // o_orderdate ships as TIMESTAMP_NTZ; session TZ is UTC, so the
          // cast is wall-clock-identity and matches DuckDB's epoch_ms.
          expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))").as("ts_ms"),
          expr("o_custkey % 1024").as("worker"),
          expr("o_orderkey % 4096").as("seq"))
        .withColumn("id", expr("ts_ms * 4194304 + worker * 4096 + seq"))
        // ONE day band serves both ranks (the agg_ks_test banded law):
        // id DIV (2²²·86400000) = ts_ms DIV 86400000 because the
        // worker/seq payload never reaches the day bit — so both total
        // orders agree band-wise, offsets ride one bounded (≤ the date
        // domain) serial window, and each rank is band offset +
        // within-band partitioned row_number. No global sort at any scale.
        .withColumn("bkt", expr("ts_ms DIV 86400000"))
      val off = t.groupBy("bkt").agg(count(lit(1)).as("bc"))
        .withColumn("off", coalesce(sum("bc").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      t.join(broadcast(off), "bkt")
        .withColumn("ts_back", expr("id DIV 4194304"))
        .withColumn("worker_back", expr("(id DIV 4096) % 1024"))
        .withColumn("seq_back", expr("id % 4096"))
        .withColumn("rank_by_id", col("off") + row_number().over(
          Window.partitionBy("bkt").orderBy("id", "okey")).cast("bigint"))
        .withColumn("rank_by_fields", col("off") + row_number().over(
          Window.partitionBy("bkt").orderBy("ts_ms", "worker", "seq", "okey")).cast("bigint"))
        .select("okey", "id", "ts_ms", "worker", "seq", "ts_back",
          "worker_back", "seq_back", "rank_by_id", "rank_by_fields")
        .orderBy("okey")
    },
      // Same pack/unpack arithmetic, same rank identity.
      """WITH base AS (SELECT o_orderkey AS okey,
        |    epoch_ms(o_orderdate) AS ts_ms,
        |    o_custkey % 1024 AS worker, o_orderkey % 4096 AS seq
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |packed AS (SELECT *,
        |    ts_ms * 4194304 + worker * 4096 + seq AS id FROM base)
        |SELECT okey, id, ts_ms, worker, seq,
        |  id // 4194304 AS ts_back, (id // 4096) % 1024 AS worker_back,
        |  id % 4096 AS seq_back,
        |  CAST(ROW_NUMBER() OVER (ORDER BY id, okey) AS BIGINT)
        |    AS rank_by_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY ts_ms, worker, seq, okey)
        |    AS BIGINT) AS rank_by_fields
        |FROM packed ORDER BY okey""".stripMargin),

    // Iterative proportional fitting (raking) — the survey-weighting
    // workhorse: a (mktsegment × region) count table raked to uniform
    // row/col targets, TWO unrolled rounds (row-scale, col-scale) × 2 in
    // exact milli weights. All numerators non-negative; margins via
    // window sums so the whole fit is one shuffle + four window passes.
    Op("agg_ipf_raking", (s, d) => {
      val all = Window.partitionBy(lit(1))
      val bySeg = Window.partitionBy("seg")
      val byReg = Window.partitionBy("reg")
      def rowScale(src: String, dst: String)(df: DataFrame): DataFrame =
        df.withColumn(s"${dst}_m", sum(col(src)).over(bySeg))
          .withColumn(dst, expr(s"($src * tr * 1000) DIV ${dst}_m"))
      def colScale(src: String, dst: String)(df: DataFrame): DataFrame =
        df.withColumn(s"${dst}_m", sum(col(src)).over(byReg))
          .withColumn(dst, expr(s"($src * tc * 1000) DIV ${dst}_m"))
      val cells = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          col("n_regionkey").cast("bigint").as("reg"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum("n").over(all))
        .withColumn("ns", size(collect_set("seg").over(all)).cast("bigint"))
        .withColumn("nr", size(collect_set("reg").over(all)).cast("bigint"))
        .withColumn("tr", expr("total DIV ns"))
        .withColumn("tc", expr("total DIV nr"))
        .withColumn("w0", col("n") * 1000L)
      val fitted = (rowScale("w0", "w1") _)
        .andThen(colScale("w1", "w2"))
        .andThen(rowScale("w2", "w3"))
        .andThen(colScale("w3", "w4"))(cells)
      fitted
        .withColumn("col_margin", sum("w4").over(byReg))
        .select(col("seg"), col("reg"), col("n"), col("w4").as("w_milli"),
          col("col_margin"))
        .orderBy("seg", "reg")
    },
      // Same four unrolled scalings over the same margins.
      """WITH cell AS (SELECT c_mktsegment AS seg,
        |    CAST(n_regionkey AS BIGINT) AS reg, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(COUNT(DISTINCT seg) AS BIGINT) AS ns,
        |    CAST(COUNT(DISTINCT reg) AS BIGINT) AS nr FROM cell),
        |c1 AS (SELECT cell.*, n * 1000 AS w0,
        |    tot.total // tot.ns AS tr, tot.total // tot.nr AS tc
        |  FROM cell, tot),
        |r1 AS (SELECT *, (w0 * tr * 1000) //
        |    CAST(SUM(w0) OVER (PARTITION BY seg) AS BIGINT) AS w1 FROM c1),
        |r2 AS (SELECT *, (w1 * tc * 1000) //
        |    CAST(SUM(w1) OVER (PARTITION BY reg) AS BIGINT) AS w2 FROM r1),
        |r3 AS (SELECT *, (w2 * tr * 1000) //
        |    CAST(SUM(w2) OVER (PARTITION BY seg) AS BIGINT) AS w3 FROM r2),
        |r4 AS (SELECT *, (w3 * tc * 1000) //
        |    CAST(SUM(w3) OVER (PARTITION BY reg) AS BIGINT) AS w4 FROM r3)
        |SELECT seg, reg, n, w4 AS w_milli,
        |  CAST(SUM(w4) OVER (PARTITION BY reg) AS BIGINT) AS col_margin
        |FROM r4 ORDER BY seg, reg""".stripMargin),

    // Progressive marginal tax — slab algebra over a synthetic income
    // (positive-shifted acctbal cents ×9 so all four slabs populate):
    // per-slab clamp(income−lo, 0, width) × marginal rate, summed exact,
    // effective rate ppm, rolled up per top bracket.
    Op("fn_tax_brackets", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          ((floor(col("c_acctbal") * 100).cast("bigint") + 100000L) * 9L)
            .as("income"))
        .withColumn("a1", expr("LEAST(GREATEST(income - 0, 0L), 1000000L)"))
        .withColumn("a2", expr(
          "LEAST(GREATEST(income - 1000000, 0L), 2000000L)"))
        .withColumn("a3", expr(
          "LEAST(GREATEST(income - 3000000, 0L), 5000000L)"))
        .withColumn("a4", expr("GREATEST(income - 8000000, 0L)"))
        .withColumn("tax", expr(
          "(a1 * 10 + a2 * 20 + a3 * 30 + a4 * 40) DIV 100"))
        .withColumn("eff_ppm", expr("tax * 1000000 DIV income"))
        .withColumn("bracket", expr(
          """CASE WHEN income > 8000000 THEN '40pct'
            |  WHEN income > 3000000 THEN '30pct'
            |  WHEN income > 1000000 THEN '20pct'
            |  ELSE '10pct' END""".stripMargin))
        .groupBy("bracket")
        .agg(count(lit(1)).as("payers"),
          sum("income").as("sum_income"), sum("tax").as("sum_tax"),
          min("eff_ppm").as("min_eff_ppm"), max("eff_ppm").as("max_eff_ppm"))
        .withColumn("avg_eff_ppm", expr("sum_tax * 1000000 DIV sum_income"))
        .orderBy("bracket")
    },
      // Same slabs, same clamp algebra, same ppm identities.
      """WITH inc AS (SELECT c_custkey,
        |    (CAST(FLOOR(c_acctbal * 100) AS BIGINT) + 100000) * 9 AS income
        |  FROM customer),
        |slab AS (SELECT *,
        |    LEAST(GREATEST(income - 0, 0), 1000000) AS a1,
        |    LEAST(GREATEST(income - 1000000, 0), 2000000) AS a2,
        |    LEAST(GREATEST(income - 3000000, 0), 5000000) AS a3,
        |    GREATEST(income - 8000000, 0) AS a4
        |  FROM inc),
        |taxed AS (SELECT *,
        |    (a1 * 10 + a2 * 20 + a3 * 30 + a4 * 40) // 100 AS tax,
        |    CASE WHEN income > 8000000 THEN '40pct'
        |      WHEN income > 3000000 THEN '30pct'
        |      WHEN income > 1000000 THEN '20pct'
        |      ELSE '10pct' END AS bracket
        |  FROM slab)
        |SELECT bracket, CAST(COUNT(*) AS BIGINT) AS payers,
        |  CAST(SUM(income) AS BIGINT) AS sum_income,
        |  CAST(SUM(tax) AS BIGINT) AS sum_tax,
        |  MIN(tax * 1000000 // income) AS min_eff_ppm,
        |  MAX(tax * 1000000 // income) AS max_eff_ppm,
        |  CAST(SUM(tax) AS BIGINT) * 1000000 // CAST(SUM(income) AS BIGINT)
        |    AS avg_eff_ppm
        |FROM taxed GROUP BY bracket ORDER BY bracket""".stripMargin),

    // Base58 encode/decode roundtrip (Bitcoin alphabet) — six unrolled
    // digit extractions DIV 58^k % 58 mapped through ONE shared alphabet
    // literal, canonical form strips leading '1' (digit 0); decode
    // re-parses the STRING via per-position alphabet lookup + Horner.
    // Pure per-row expressions — embarrassingly parallel at any scale.
    Op("fn_base58_roundtrip", (s, d) => {
      val digits = B58Pow.indices.reverse.map { k =>
        s"SUBSTRING('$B58', CAST(v DIV ${B58Pow(k)} % 58 AS INT) + 1, 1)" }
        .mkString(", ")
      val horner = (1 to 6).map { i =>
        s"(INSTR('$B58', SUBSTRING(padded, $i, 1)) - 1) * ${B58Pow(6 - i)}" }
        .mkString(" + ")
      Tables.part(s, d)
        .where(col("p_partkey") % 13 === 5)
        .select(col("p_partkey").cast("bigint").as("pk"),
          (col("p_partkey").cast("bigint") * 977L + 11L).as("v"))
        .withColumn("b58", expr(
          s"regexp_replace(CONCAT($digits), '^1+', '')"))
        .withColumn("padded", expr("LPAD(b58, 6, '1')"))
        .withColumn("v_back", expr(s"CAST($horner AS BIGINT)"))
        .select("pk", "v", "b58", "v_back")
        .orderBy("pk")
    },
      // Same alphabet, same six digit extractions, same Horner re-parse.
      {
      val digits = B58Pow.indices.reverse.map { k =>
        s"SUBSTRING('$B58', CAST(v // ${B58Pow(k)} % 58 AS INT) + 1, 1)" }
        .mkString(", ")
      val horner = (1 to 6).map { i =>
        s"(INSTR('$B58', SUBSTRING(padded, $i, 1)) - 1) * ${B58Pow(6 - i)}" }
        .mkString(" + ")
      s"""WITH base AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
         |    CAST(p_partkey AS BIGINT) * 977 + 11 AS v
         |  FROM part WHERE p_partkey % 13 = 5),
         |enc AS (SELECT pk, v,
         |    regexp_replace(CONCAT($digits), '^1+', '') AS b58 FROM base),
         |pad AS (SELECT *, LPAD(b58, 6, '1') AS padded FROM enc)
         |SELECT pk, v, b58, CAST($horner AS BIGINT) AS v_back
         |FROM pad ORDER BY pk""".stripMargin
    }),

    // 1-D Wasserstein distance (earth mover's) between the O- and
    // F-status order-price distributions per priority — the exact
    // breakpoint form W1 = Σ |F−G|·gap over the sorted union, kept
    // rational at denominator n·m (no floats): one sort, two running
    // counts, one lead probe. The distribution-drift metric that, unlike
    // KS, weighs HOW FAR mass must move.
    Op("agg_wasserstein_1d", (s, d) => {
      val ord = Window.partitionBy("pri").orderBy("cents")
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy("pri")
      Tables.orders(s, d)
        .where(col("o_orderstatus").isin("O", "F"))
        .select(col("o_orderpriority").as("pri"),
          col("o_orderstatus").as("st"),
          floor(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .groupBy("pri", "cents")
        .agg(sum(when(col("st") === "O", 1L).otherwise(0L)).as("a"),
          sum(when(col("st") === "F", 1L).otherwise(0L)).as("b"))
        .withColumn("ca", sum("a").over(cum))
        .withColumn("cb", sum("b").over(cum))
        .withColumn("n", sum("a").over(all))
        .withColumn("m", sum("b").over(all))
        .withColumn("gap",
          coalesce(lead("cents", 1).over(ord) - col("cents"), lit(0L)))
        .withColumn("contrib", expr("abs(ca * m - cb * n) * gap"))
        .groupBy("pri")
        .agg(max("n").as("n"), max("m").as("m"),
          sum("contrib").as("w1_scaled"))
        .withColumn("w1_milli", expr("w1_scaled * 1000 DIV (n * m)"))
        .orderBy("pri")
    },
      // Same breakpoint form, same n·m rational denominator.
      """WITH o AS (SELECT o_orderpriority AS pri, o_orderstatus AS st,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
        |cell AS (SELECT pri, cents,
        |    CAST(SUM(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM o GROUP BY 1, 2),
        |cum AS (SELECT *,
        |    CAST(SUM(a) OVER (PARTITION BY pri ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
        |    CAST(SUM(b) OVER (PARTITION BY pri ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
        |    CAST(SUM(a) OVER (PARTITION BY pri) AS BIGINT) AS n,
        |    CAST(SUM(b) OVER (PARTITION BY pri) AS BIGINT) AS m,
        |    COALESCE(LEAD(cents) OVER (PARTITION BY pri ORDER BY cents)
        |      - cents, 0) AS gap
        |  FROM cell)
        |SELECT pri, MAX(n) AS n, MAX(m) AS m,
        |  CAST(SUM(ABS(ca * m - cb * n) * gap) AS BIGINT) AS w1_scaled,
        |  CAST(SUM(ABS(ca * m - cb * n) * gap) AS BIGINT) * 1000
        |    // (MAX(n) * MAX(m)) AS w1_milli
        |FROM cum GROUP BY pri ORDER BY pri""".stripMargin),

    // Relative Vigor Index — symmetric-weighted MA (1,2,2,1) of close−open
    // over the same SWMA of high−low, ppm sign-split ratio, then the same
    // SWMA as a signal line and a crossover flag. Full-window rows only
    // (rn-gated) so both engines share exact weights; one sort.
    Op("win_rvi", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      def swma(src: String, dst: String)(df: DataFrame): DataFrame =
        df.withColumn(dst,
          coalesce(col(src), lit(0L)) +
            coalesce(lag(col(src), 1).over(ord) * 2, lit(0L)) +
            coalesce(lag(col(src), 2).over(ord) * 2, lit(0L)) +
            coalesce(lag(col(src), 3).over(ord), lit(0L)))
      val bars = priceTicks(Tables.events(s, d))
        .groupBy("event_type", "day")
        .agg(expr("min_by(cents, struct(ts_us, event_id))").as("o"),
          max("cents").as("h"), min("cents").as("l"),
          expr("max_by(cents, struct(ts_us, event_id))").as("c"))
        .withColumn("co", col("c") - col("o"))
        .withColumn("hl", col("h") - col("l"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
      swma("hl", "sd")(swma("co", "sn")(bars))
        .withColumn("rvi_ppm", expr(
          """CASE WHEN sd = 0 THEN 0L
            |  WHEN sn < 0 THEN -((-sn) * 1000000 DIV sd)
            |  ELSE sn * 1000000 DIV sd END""".stripMargin))
        .withColumn("sig_raw",
          col("rvi_ppm") + lag("rvi_ppm", 1).over(ord) * 2 +
            lag("rvi_ppm", 2).over(ord) * 2 + lag("rvi_ppm", 3).over(ord))
        .where(col("rn") >= 7)
        .withColumn("signal_ppm", expr(
          "CASE WHEN sig_raw < 0 THEN -((-sig_raw) DIV 6) " +
            "ELSE sig_raw DIV 6 END"))
        .withColumn("cross", expr(
          "CASE WHEN rvi_ppm > signal_ppm THEN 'ABOVE' " +
            "WHEN rvi_ppm < signal_ppm THEN 'BELOW' ELSE 'AT' END"))
        .select("event_type", "day", "rvi_ppm", "signal_ppm", "cross")
        .orderBy("event_type", "day")
    },
      // Same SWMA weights, same sign-split ppm ratio, same rn gate.
      s"""WITH $TicksCte,
        |bar AS (SELECT event_type, day,
        |    MIN_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS o,
        |    MAX(cents) AS h, MIN(cents) AS l,
        |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS c
        |  FROM e GROUP BY 1, 2),
        |sw AS (SELECT event_type, day, c - o AS co, h - l AS hl,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn
        |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day)),
        |sm AS (SELECT *,
        |    COALESCE(co, 0) + COALESCE(lag(co, 1) OVER o * 2, 0)
        |      + COALESCE(lag(co, 2) OVER o * 2, 0)
        |      + COALESCE(lag(co, 3) OVER o, 0) AS sn,
        |    COALESCE(hl, 0) + COALESCE(lag(hl, 1) OVER o * 2, 0)
        |      + COALESCE(lag(hl, 2) OVER o * 2, 0)
        |      + COALESCE(lag(hl, 3) OVER o, 0) AS sd
        |  FROM sw WINDOW o AS (PARTITION BY event_type ORDER BY day)),
        |rv AS (SELECT *, CASE WHEN sd = 0 THEN 0
        |    WHEN sn < 0 THEN -((-sn) * 1000000 // sd)
        |    ELSE sn * 1000000 // sd END AS rvi_ppm
        |  FROM sm),
        |sg AS (SELECT *, rvi_ppm + lag(rvi_ppm, 1) OVER o * 2
        |    + lag(rvi_ppm, 2) OVER o * 2 + lag(rvi_ppm, 3) OVER o AS sig_raw
        |  FROM rv WINDOW o AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, day, rvi_ppm,
        |  CASE WHEN sig_raw < 0 THEN -((-sig_raw) // 6)
        |    ELSE sig_raw // 6 END AS signal_ppm,
        |  CASE WHEN rvi_ppm > (CASE WHEN sig_raw < 0 THEN -((-sig_raw) // 6)
        |      ELSE sig_raw // 6 END) THEN 'ABOVE'
        |    WHEN rvi_ppm < (CASE WHEN sig_raw < 0 THEN -((-sig_raw) // 6)
        |      ELSE sig_raw // 6 END) THEN 'BELOW' ELSE 'AT' END AS cross
        |FROM sg WHERE rn >= 7 ORDER BY event_type, day""".stripMargin),

    // Bing-maps quadkey roundtrip (level 8) — digit i interleaves the
    // i-th MSB of y over x (0..3), string concat; decode re-parses each
    // character with positional powers of two. Tile-prefix containment
    // (parent = level-7 prefix) ships as a graded column.
    Op("fn_quadkey", (s, d) => {
      val digits = (1 to 8).map { i =>
        val w = 1 << (8 - i)
        s"CAST((y DIV $w % 2) * 2 + (x DIV $w % 2) AS STRING)" }
        .mkString(", ")
      Tables.part(s, d)
        .where(col("p_partkey") % 13 === 7)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("x", expr("pk % 256"))
        .withColumn("y", expr("pk DIV 256 % 256"))
        .withColumn("qk", expr(s"CONCAT($digits)"))
        .withColumn("x_back", expr(
          (1 to 8).map { i =>
            val w = 1 << (8 - i)
            s"(CAST(SUBSTRING(qk, $i, 1) AS BIGINT) % 2) * $w" }
            .mkString(" + ")))
        .withColumn("y_back", expr(
          (1 to 8).map { i =>
            val w = 1 << (8 - i)
            s"(CAST(SUBSTRING(qk, $i, 1) AS BIGINT) DIV 2) * $w" }
            .mkString(" + ")))
        .withColumn("parent", expr("SUBSTRING(qk, 1, 7)"))
        .select("pk", "x", "y", "qk", "x_back", "y_back", "parent")
        .orderBy("pk")
    },
      // Same interleave digits, same positional re-parse, same prefix.
      {
      val digits = (1 to 8).map { i =>
        val w = 1 << (8 - i)
        s"CAST((y // $w % 2) * 2 + (x // $w % 2) AS STRING)" }
        .mkString(", ")
      val xb = (1 to 8).map { i =>
        val w = 1 << (8 - i)
        s"(CAST(SUBSTRING(qk, $i, 1) AS BIGINT) % 2) * $w" }.mkString(" + ")
      val yb = (1 to 8).map { i =>
        val w = 1 << (8 - i)
        s"(CAST(SUBSTRING(qk, $i, 1) AS BIGINT) // 2) * $w" }.mkString(" + ")
      s"""WITH base AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
         |    CAST(p_partkey AS BIGINT) % 256 AS x,
         |    CAST(p_partkey AS BIGINT) // 256 % 256 AS y
         |  FROM part WHERE p_partkey % 13 = 7),
         |enc AS (SELECT pk, x, y, CONCAT($digits) AS qk FROM base)
         |SELECT pk, x, y, qk, $xb AS x_back, $yb AS y_back,
         |  SUBSTRING(qk, 1, 7) AS parent
         |FROM enc ORDER BY pk""".stripMargin
    }),

    // Simpson's diversity index per region over customer market
    // segments — D = 1 − Σnᵢ(nᵢ−1)/(N(N−1)) kept exact in ppm (the
    // log-free diversity metric, unlike Shannon), plus richness and
    // dominance (max share ppm). Two-level groupBy, no floats anywhere.
    Op("agg_simpson_diversity", (s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey").cast("bigint").as("reg"),
          col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"))
        .groupBy("reg")
        .agg(sum("n").as("total"), count(lit(1)).as("richness"),
          sum(expr("n * (n - 1)")).as("same_pairs"), max("n").as("max_n"))
        .withColumn("simpson_ppm", expr(
          "(total * (total - 1) - same_pairs) * 1000000 " +
            "DIV (total * (total - 1))"))
        .withColumn("dominance_ppm", expr("max_n * 1000000 DIV total"))
        .select("reg", "total", "richness", "simpson_ppm", "dominance_ppm")
        .orderBy("reg")
    },
      // Same pair algebra, same ppm identities.
      """WITH cell AS (SELECT CAST(n_regionkey AS BIGINT) AS reg,
        |    c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |agg AS (SELECT reg, CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS richness,
        |    CAST(SUM(n * (n - 1)) AS BIGINT) AS same_pairs,
        |    MAX(n) AS max_n
        |  FROM cell GROUP BY reg)
        |SELECT reg, total, richness,
        |  (total * (total - 1) - same_pairs) * 1000000
        |    // (total * (total - 1)) AS simpson_ppm,
        |  max_n * 1000000 // total AS dominance_ppm
        |FROM agg ORDER BY reg""".stripMargin),

    // Maidenhead grid locator (6-char, field/square/subsquare) — synthetic
    // coordinates in QUARTER-ARCMINUTES (1/240°) so every level divides
    // exactly: lon field 4800u / square 480u / subsquare 20u, lat half
    // widths. Encode via three place-value extractions per axis through
    // shared alphabet literals; decode back to the subsquare SW corner and
    // grade containment. Pure per-row bit/place algebra.
    Op("fn_maidenhead", (s, d) => {
      Tables.part(s, d)
        .where(col("p_partkey") % 17 === 3)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("lon_q", expr("pk * 7919 % 86400"))
        .withColumn("lat_q", expr("pk * 104729 % 43200"))
        .withColumn("loc", expr(
          "CONCAT(" +
            "SUBSTRING('ABCDEFGHIJKLMNOPQR', CAST(lon_q DIV 4800 AS INT) + 1, 1)," +
            "SUBSTRING('ABCDEFGHIJKLMNOPQR', CAST(lat_q DIV 2400 AS INT) + 1, 1)," +
            "CAST(lon_q % 4800 DIV 480 AS STRING)," +
            "CAST(lat_q % 2400 DIV 240 AS STRING)," +
            "SUBSTRING('abcdefghijklmnopqrstuvwx', CAST(lon_q % 480 DIV 20 AS INT) + 1, 1)," +
            "SUBSTRING('abcdefghijklmnopqrstuvwx', CAST(lat_q % 240 DIV 10 AS INT) + 1, 1))"))
        .withColumn("lon_sw", expr(
          "(INSTR('ABCDEFGHIJKLMNOPQR', SUBSTRING(loc, 1, 1)) - 1) * 4800 " +
            "+ CAST(SUBSTRING(loc, 3, 1) AS BIGINT) * 480 " +
            "+ (INSTR('abcdefghijklmnopqrstuvwx', SUBSTRING(loc, 5, 1)) - 1) * 20"))
        .withColumn("lat_sw", expr(
          "(INSTR('ABCDEFGHIJKLMNOPQR', SUBSTRING(loc, 2, 1)) - 1) * 2400 " +
            "+ CAST(SUBSTRING(loc, 4, 1) AS BIGINT) * 240 " +
            "+ (INSTR('abcdefghijklmnopqrstuvwx', SUBSTRING(loc, 6, 1)) - 1) * 10"))
        .withColumn("contained", expr(
          "lon_q >= lon_sw AND lon_q < lon_sw + 20 " +
            "AND lat_q >= lat_sw AND lat_q < lat_sw + 10"))
        .select("pk", "lon_q", "lat_q", "loc", "lon_sw", "lat_sw",
          "contained")
        .orderBy("pk")
    },
      // Same quarter-arcminute place values, same alphabets, same corner.
      """WITH base AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
        |    CAST(p_partkey AS BIGINT) * 7919 % 86400 AS lon_q,
        |    CAST(p_partkey AS BIGINT) * 104729 % 43200 AS lat_q
        |  FROM part WHERE p_partkey % 17 = 3),
        |enc AS (SELECT *, CONCAT(
        |    SUBSTRING('ABCDEFGHIJKLMNOPQR', CAST(lon_q // 4800 AS INT) + 1, 1),
        |    SUBSTRING('ABCDEFGHIJKLMNOPQR', CAST(lat_q // 2400 AS INT) + 1, 1),
        |    CAST(lon_q % 4800 // 480 AS STRING),
        |    CAST(lat_q % 2400 // 240 AS STRING),
        |    SUBSTRING('abcdefghijklmnopqrstuvwx', CAST(lon_q % 480 // 20 AS INT) + 1, 1),
        |    SUBSTRING('abcdefghijklmnopqrstuvwx', CAST(lat_q % 240 // 10 AS INT) + 1, 1)
        |  ) AS loc FROM base),
        |dec AS (SELECT *,
        |    (INSTR('ABCDEFGHIJKLMNOPQR', SUBSTRING(loc, 1, 1)) - 1) * 4800
        |      + CAST(SUBSTRING(loc, 3, 1) AS BIGINT) * 480
        |      + (INSTR('abcdefghijklmnopqrstuvwx', SUBSTRING(loc, 5, 1)) - 1) * 20
        |      AS lon_sw,
        |    (INSTR('ABCDEFGHIJKLMNOPQR', SUBSTRING(loc, 2, 1)) - 1) * 2400
        |      + CAST(SUBSTRING(loc, 4, 1) AS BIGINT) * 240
        |      + (INSTR('abcdefghijklmnopqrstuvwx', SUBSTRING(loc, 6, 1)) - 1) * 10
        |      AS lat_sw
        |  FROM enc)
        |SELECT pk, lon_q, lat_q, loc, lon_sw, lat_sw,
        |  lon_q >= lon_sw AND lon_q < lon_sw + 20
        |    AND lat_q >= lat_sw AND lat_q < lat_sw + 10 AS contained
        |FROM dec ORDER BY pk""".stripMargin),

    // PAA + SAX symbolization — 5-bar piecewise-aggregate means in exact
    // milli (sum×1000 DIV count; trailing partial segment kept), then
    // rank-exact SAX letters a–d by ntile(4) over segment means per
    // series (the quantile-breakpoint variant — no gaussian floats).
    // One sort for the bars, one for the symbolization.
    Op("win_sax_paa", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val byMean = Window.partitionBy("event_type")
        .orderBy("paa_milli", "seg_idx")
      closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("seg_idx", expr("(rn - 1) DIV 5"))
        .groupBy("event_type", "seg_idx")
        .agg(count(lit(1)).as("n_bars"), sum("c").as("seg_sum"))
        .withColumn("paa_milli", expr(
          """CASE WHEN seg_sum < 0 THEN -((-seg_sum) * 1000 DIV n_bars)
            |  ELSE seg_sum * 1000 DIV n_bars END""".stripMargin))
        .withColumn("q", ntile(4).over(byMean).cast("bigint"))
        .withColumn("sax", expr("SUBSTRING('abcd', CAST(q AS INT), 1)"))
        .select("event_type", "seg_idx", "n_bars", "paa_milli", "sax")
        .orderBy("event_type", "seg_idx")
    },
      // Same 5-bar segments, same milli means, same ntile symbolization.
      s"""WITH $TicksCte,
        |$CloseBarsCte,
        |seg AS (SELECT event_type,
        |    (CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) - 1) // 5 AS seg_idx, c
        |  FROM bar),
        |paa AS (SELECT event_type, seg_idx,
        |    CAST(COUNT(*) AS BIGINT) AS n_bars,
        |    CAST(SUM(c) AS BIGINT) AS seg_sum
        |  FROM seg GROUP BY 1, 2),
        |m AS (SELECT *, CASE WHEN seg_sum < 0
        |    THEN -((-seg_sum) * 1000 // n_bars)
        |    ELSE seg_sum * 1000 // n_bars END AS paa_milli FROM paa)
        |SELECT event_type, seg_idx, n_bars, paa_milli,
        |  SUBSTRING('abcd', CAST(NTILE(4) OVER (PARTITION BY event_type
        |    ORDER BY paa_milli, seg_idx) AS INT), 1) AS sax
        |FROM m ORDER BY event_type, seg_idx""".stripMargin),

    // Autocorrelation at lags 1–3 — exact rational ACF with the mean
    // cleared by n-scaling (dev = n·x − S), numerators/denominator as
    // BIGINT sums, ratio ppm via DECIMAL(38,0) widening (HUGEINT twin on
    // the oracle side) with sign-split division. One sort, 3 lag probes,
    // one aggregate.
    Op("agg_autocorr_lags", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val all = Window.partitionBy("event_type")
      def ratio(num: String): String =
        s"""CAST(CASE WHEN $num < 0
           |  THEN -((CAST(-$num AS DECIMAL(38,0)) * 1000000)
           |    DIV CAST(den AS DECIMAL(38,0)))
           |  ELSE (CAST($num AS DECIMAL(38,0)) * 1000000)
           |    DIV CAST(den AS DECIMAL(38,0)) END AS BIGINT)""".stripMargin
      closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("nb", count(lit(1)).over(all))
        .withColumn("sm", sum("c").over(all))
        .withColumn("dev", expr("nb * c - sm"))
        .withColumn("d1", lag("dev", 1).over(ord))
        .withColumn("d2", lag("dev", 2).over(ord))
        .withColumn("d3", lag("dev", 3).over(ord))
        .groupBy("event_type")
        .agg(max("nb").as("n"), sum(expr("dev * dev")).as("den"),
          sum(expr("dev * d1")).as("num1"),
          sum(expr("dev * d2")).as("num2"),
          sum(expr("dev * d3")).as("num3"))
        .withColumn("r1_ppm", expr(ratio("num1")))
        .withColumn("r2_ppm", expr(ratio("num2")))
        .withColumn("r3_ppm", expr(ratio("num3")))
        .select("event_type", "n", "den", "num1", "num2", "num3",
          "r1_ppm", "r2_ppm", "r3_ppm")
        .orderBy("event_type")
    },
      // Same n-scaled deviations, same HUGEINT-widened sign-split ratios.
      {
      def ratio(num: String) =
        s"""CAST(CASE WHEN $num < 0
           |  THEN -((CAST(-$num AS HUGEINT) * 1000000) // den)
           |  ELSE (CAST($num AS HUGEINT) * 1000000) // den END AS BIGINT)"""
          .stripMargin
      s"""WITH $TicksCte,
         |$CloseBarsCte,
         |dv AS (SELECT event_type, day,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nb,
         |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS sm, c
         |  FROM bar),
         |lagged AS (SELECT *, nb * c - sm AS dev,
         |    lag(nb * c - sm, 1) OVER o AS d1,
         |    lag(nb * c - sm, 2) OVER o AS d2,
         |    lag(nb * c - sm, 3) OVER o AS d3
         |  FROM dv WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |agg AS (SELECT event_type, MAX(nb) AS n,
         |    CAST(SUM(dev * dev) AS BIGINT) AS den,
         |    CAST(SUM(dev * d1) AS BIGINT) AS num1,
         |    CAST(SUM(dev * d2) AS BIGINT) AS num2,
         |    CAST(SUM(dev * d3) AS BIGINT) AS num3
         |  FROM lagged GROUP BY event_type)
         |SELECT event_type, n, den, num1, num2, num3,
         |  ${ratio("num1")} AS r1_ppm, ${ratio("num2")} AS r2_ppm,
         |  ${ratio("num3")} AS r3_ppm
         |FROM agg ORDER BY event_type""".stripMargin
    }),

    // EAN-13 check digit — alternating 1/3 weights over 12 unrolled
    // digit probes, complement mod 10; a planted single-digit corruption
    // (+5 on position 7, which always changes the checksum) is graded
    // invalid. Pure per-row string/digit algebra.
    Op("fn_ean13_check", (s, d) => {
      def wsum(src: String) = (1 to 12).map { i =>
        val w = if (i % 2 == 1) 1 else 3
        s"CAST(SUBSTRING($src, $i, 1) AS BIGINT) * $w" }.mkString(" + ")
      Tables.orders(s, d)
        .where(col("o_orderkey") % 23 === 11)
        .select(col("o_orderkey").as("okey"))
        .withColumn("code12", expr(
          "LPAD(CAST(okey * 37 + 5 AS STRING), 12, '0')"))
        .withColumn("chk", expr(s"(10 - (${wsum("code12")}) % 10) % 10"))
        .withColumn("ean13", expr("CONCAT(code12, CAST(chk AS STRING))"))
        .withColumn("bad12", expr(
          "CONCAT(SUBSTRING(code12, 1, 6), " +
            "CAST((CAST(SUBSTRING(code12, 7, 1) AS BIGINT) + 5) % 10 " +
            "AS STRING), SUBSTRING(code12, 8, 6))"))
        .withColumn("bad_valid", expr(
          s"(10 - (${wsum("bad12")}) % 10) % 10 = chk"))
        .select("okey", "code12", "chk", "ean13", "bad_valid")
        .orderBy("okey")
    },
      // Same weights, same complement, same planted corruption.
      {
      def wsum(src: String) = (1 to 12).map { i =>
        val w = if (i % 2 == 1) 1 else 3
        s"CAST(SUBSTRING($src, $i, 1) AS BIGINT) * $w" }.mkString(" + ")
      s"""WITH base AS (SELECT o_orderkey AS okey,
         |    LPAD(CAST(o_orderkey * 37 + 5 AS STRING), 12, '0') AS code12
         |  FROM orders WHERE o_orderkey % 23 = 11),
         |ck AS (SELECT *, (10 - (${wsum("code12")}) % 10) % 10 AS chk
         |  FROM base),
         |bad AS (SELECT *, CONCAT(SUBSTRING(code12, 1, 6),
         |    CAST((CAST(SUBSTRING(code12, 7, 1) AS BIGINT) + 5) % 10
         |      AS STRING), SUBSTRING(code12, 8, 6)) AS bad12 FROM ck)
         |SELECT okey, code12, chk,
         |  CONCAT(code12, CAST(chk AS STRING)) AS ean13,
         |  (10 - (${wsum("bad12")}) % 10) % 10 = chk AS bad_valid
         |FROM bad ORDER BY okey""".stripMargin
    }),

    // Ultimate oscillator (7/14/28) — buying pressure c−min(l,prev_c)
    // over true range, the three horizon averages combined 4:2:1 as ONE
    // exact rational (cross-multiplied, DECIMAL(38,0)/HUGEINT widened —
    // the T7·T14·T28 product passes int64). All terms non-negative.
    Op("win_ultimate_osc", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      def span(k: Int, src: String, dst: String)(df: DataFrame): DataFrame =
        df.withColumn(dst,
          sum(col(src)).over(ord.rowsBetween(-(k - 1), 0)))
      val bars = priceTicks(Tables.events(s, d))
        .groupBy("event_type", "day")
        .agg(max("cents").as("h"), min("cents").as("l"),
          expr("max_by(cents, struct(ts_us, event_id))").as("c"))
        .withColumn("pc", lag("c", 1).over(ord))
        .where(col("pc").isNotNull)
        .withColumn("bp", expr("c - LEAST(l, pc)"))
        .withColumn("tr", expr("GREATEST(h, pc) - LEAST(l, pc)"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
      val summed = span(28, "tr", "t28")(span(28, "bp", "b28")(
        span(14, "tr", "t14")(span(14, "bp", "b14")(
          span(7, "tr", "t7")(span(7, "bp", "b7")(bars))))))
      summed
        .where(col("rn") >= 28)
        .withColumn("uo_ppm", expr(
          """CASE WHEN t7 = 0 OR t14 = 0 OR t28 = 0 THEN 0L
            |ELSE CAST((CAST(4 * b7 AS DECIMAL(38,0)) * t14 * t28
            |    + CAST(2 * b14 AS DECIMAL(38,0)) * t7 * t28
            |    + CAST(b28 AS DECIMAL(38,0)) * t7 * t14) * 1000000
            |  DIV (CAST(7 AS DECIMAL(38,0)) * t7 * t14 * t28) AS BIGINT)
            |END""".stripMargin))
        .select("event_type", "day", "b7", "t7", "b14", "t14", "b28",
          "t28", "uo_ppm")
        .orderBy("event_type", "day")
    },
      // Same bars, same horizon sums, same HUGEINT cross-multiplied blend.
      s"""WITH $TicksCte,
        |bar AS (SELECT event_type, day, MAX(cents) AS h, MIN(cents) AS l,
        |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS c
        |  FROM e GROUP BY 1, 2),
        |pcs AS (SELECT *, lag(c, 1) OVER o AS pc
        |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day)),
        |bt AS (SELECT event_type, day, c - LEAST(l, pc) AS bp,
        |    GREATEST(h, pc) - LEAST(l, pc) AS tr,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn
        |  FROM pcs WHERE pc IS NOT NULL
        |  WINDOW o AS (PARTITION BY event_type ORDER BY day)),
        |sums AS (SELECT *,
        |    CAST(SUM(bp) OVER (o ROWS 6 PRECEDING) AS BIGINT) AS b7,
        |    CAST(SUM(tr) OVER (o ROWS 6 PRECEDING) AS BIGINT) AS t7,
        |    CAST(SUM(bp) OVER (o ROWS 13 PRECEDING) AS BIGINT) AS b14,
        |    CAST(SUM(tr) OVER (o ROWS 13 PRECEDING) AS BIGINT) AS t14,
        |    CAST(SUM(bp) OVER (o ROWS 27 PRECEDING) AS BIGINT) AS b28,
        |    CAST(SUM(tr) OVER (o ROWS 27 PRECEDING) AS BIGINT) AS t28
        |  FROM bt WINDOW o AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, day, b7, t7, b14, t14, b28, t28,
        |  CASE WHEN t7 = 0 OR t14 = 0 OR t28 = 0 THEN 0
        |    ELSE CAST((CAST(4 * b7 AS HUGEINT) * t14 * t28
        |        + CAST(2 * b14 AS HUGEINT) * t7 * t28
        |        + CAST(b28 AS HUGEINT) * t7 * t14) * 1000000
        |      // (CAST(7 AS HUGEINT) * t7 * t14 * t28) AS BIGINT)
        |  END AS uo_ppm
        |FROM sums WHERE rn >= 28 ORDER BY event_type, day""".stripMargin),

    // Ordinal-pattern census — each bar's (c, lag1, lag2) triple reduced
    // to its three pairwise comparison signs (ties kept as '0', so the
    // census is exact under ties); per-series pattern counts. The
    // permutation-entropy front end without the log.
    Op("win_ordinal_patterns", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("c1", lag("c", 1).over(ord))
        .withColumn("c2", lag("c", 2).over(ord))
        .where(col("c2").isNotNull)
        .withColumn("pattern", expr(
          """CONCAT(
            |  CASE WHEN c > c1 THEN '+' WHEN c < c1 THEN '-' ELSE '0' END,
            |  CASE WHEN c > c2 THEN '+' WHEN c < c2 THEN '-' ELSE '0' END,
            |  CASE WHEN c1 > c2 THEN '+' WHEN c1 < c2 THEN '-' ELSE '0'
            |    END)""".stripMargin))
        .groupBy("event_type", "pattern")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type", "pattern")
    },
      // Same triple signs under ties.
      s"""WITH $TicksCte,
        |$CloseBarsCte,
        |lg AS (SELECT *, lag(c, 1) OVER o AS c1, lag(c, 2) OVER o AS c2
        |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day)),
        |pat AS (SELECT event_type, CONCAT(
        |    CASE WHEN c > c1 THEN '+' WHEN c < c1 THEN '-' ELSE '0' END,
        |    CASE WHEN c > c2 THEN '+' WHEN c < c2 THEN '-' ELSE '0' END,
        |    CASE WHEN c1 > c2 THEN '+' WHEN c1 < c2 THEN '-' ELSE '0' END
        |  ) AS pattern FROM lg WHERE c2 IS NOT NULL)
        |SELECT event_type, pattern, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM pat GROUP BY 1, 2 ORDER BY event_type, pattern""".stripMargin),

    // Return periods from weekly block maxima — Weibull plotting
    // positions kept rational: T = (n+1)/rank exact milli, exceedance
    // rank/(n+1) ppm; deterministic dense ordering by (max desc, block).
    // The extreme-value front end without distribution fitting.
    Op("agg_return_period", (s, d) => {
      val byType = Window.partitionBy("event_type")
      val rankW = Window.partitionBy("event_type")
        .orderBy(col("wmax").desc, col("week"))
      Tables.events(s, d)
        .select(col("event_type"),
          expr("ts_us DIV 86400000000 DIV 7").as("week"),
          floor(col("value") * 100).cast("bigint").as("cents"))
        .groupBy("event_type", "week")
        .agg(max("cents").as("wmax"))
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("rank", row_number().over(rankW).cast("bigint"))
        .withColumn("t_milli", expr("(n + 1) * 1000 DIV rank"))
        .withColumn("exceed_ppm", expr("rank * 1000000 DIV (n + 1)"))
        .select("event_type", "week", "wmax", "n", "rank", "t_milli",
          "exceed_ppm")
        .orderBy("event_type", "week")
    },
      // Same weekly maxima, same Weibull positions, same dense ordering.
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 // 7 AS week,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        |blk AS (SELECT event_type, week, MAX(cents) AS wmax
        |  FROM e GROUP BY 1, 2),
        |rk AS (SELECT *,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY wmax DESC, week) AS BIGINT) AS rank
        |  FROM blk)
        |SELECT event_type, week, wmax, n, rank,
        |  (n + 1) * 1000 // rank AS t_milli,
        |  rank * 1000000 // (n + 1) AS exceed_ppm
        |FROM rk ORDER BY event_type, week""".stripMargin),

    // Edit distance — built-in Levenshtein on BOTH engines (one of the
    // few string kernels they share bit-exactly): consecutive part names
    // in key order plus a fixed probe, normalized milli by max length.
    Op("fn_edit_distance", (s, d) => {
      val ord = Window.orderBy("pk")
      Tables.part(s, d)
        .where(col("p_partkey") % 19 === 2)
        .select(col("p_partkey").cast("bigint").as("pk"),
          col("p_name").as("name"))
        .withColumn("prev_name", lag("name", 1).over(ord))
        .where(col("prev_name").isNotNull)
        .withColumn("lev_prev",
          expr("CAST(levenshtein(name, prev_name) AS BIGINT)"))
        .withColumn("lev_probe",
          expr("CAST(levenshtein(name, 'lemon chocolate steel') AS BIGINT)"))
        .withColumn("norm_milli", expr(
          "lev_prev * 1000 DIV GREATEST(length(name), length(prev_name))"))
        .select("pk", "name", "prev_name", "lev_prev", "lev_probe",
          "norm_milli")
        .orderBy("pk")
    },
      // Same built-in Levenshtein kernel, same probe and normalization.
      """WITH base AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
        |    p_name AS name FROM part WHERE p_partkey % 19 = 2),
        |lg AS (SELECT *, lag(name, 1) OVER (ORDER BY pk) AS prev_name
        |  FROM base)
        |SELECT pk, name, prev_name,
        |  CAST(levenshtein(name, prev_name) AS BIGINT) AS lev_prev,
        |  CAST(levenshtein(name, 'lemon chocolate steel') AS BIGINT)
        |    AS lev_probe,
        |  CAST(levenshtein(name, prev_name) AS BIGINT) * 1000
        |    // GREATEST(length(name), length(prev_name)) AS norm_milli
        |FROM lg WHERE prev_name IS NOT NULL ORDER BY pk""".stripMargin),

    // Shoelace doubled area of 5 lattice polylines (vertices in key
    // order, closed by wrapping to the first vertex) — 2A = Σ(xᵢy₊ −
    // x₊yᵢ) signed + abs, plus the exact Manhattan perimeter. Signed
    // area is well-defined even if the path self-intersects, so no hull
    // is needed; one sort per group, two window probes.
    Op("fn_shoelace_area", (s, d) => {
      val ord = Window.partitionBy("grp").orderBy("pk")
      val full = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.part(s, d)
        .where(col("p_partkey") % 7 === 1)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("grp", expr("pk % 5"))
        .withColumn("x", expr("pk * 31 % 512"))
        .withColumn("y", expr("pk * 17 % 512"))
        .withColumn("xn", coalesce(lead("x", 1).over(ord),
          first("x").over(full)))
        .withColumn("yn", coalesce(lead("y", 1).over(ord),
          first("y").over(full)))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_vertices"),
          sum(expr("x * yn - xn * y")).as("area2_signed"),
          sum(expr("abs(xn - x) + abs(yn - y)")).as("perim_manhattan"))
        .withColumn("area2_abs", abs(col("area2_signed")))
        .select("grp", "n_vertices", "area2_signed", "area2_abs",
          "perim_manhattan")
        .orderBy("grp")
    },
      // Same wrap-to-first closure, same signed shoelace terms.
      """WITH v AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
        |    CAST(p_partkey AS BIGINT) % 5 AS grp,
        |    CAST(p_partkey AS BIGINT) * 31 % 512 AS x,
        |    CAST(p_partkey AS BIGINT) * 17 % 512 AS y
        |  FROM part WHERE p_partkey % 7 = 1),
        |nx AS (SELECT *,
        |    COALESCE(lead(x) OVER o, FIRST_VALUE(x) OVER (PARTITION BY grp
        |      ORDER BY pk ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
        |      FOLLOWING)) AS xn,
        |    COALESCE(lead(y) OVER o, FIRST_VALUE(y) OVER (PARTITION BY grp
        |      ORDER BY pk ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
        |      FOLLOWING)) AS yn
        |  FROM v WINDOW o AS (PARTITION BY grp ORDER BY pk))
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_vertices,
        |  CAST(SUM(x * yn - xn * y) AS BIGINT) AS area2_signed,
        |  ABS(CAST(SUM(x * yn - xn * y) AS BIGINT)) AS area2_abs,
        |  CAST(SUM(ABS(xn - x) + ABS(yn - y)) AS BIGINT) AS perim_manhattan
        |FROM nx GROUP BY grp ORDER BY grp""".stripMargin),

    // Ray-casting point-in-polygon against a literal hexagon — the
    // crossing test kept DIVISION-FREE by the cross-product sign form
    // ((x₂−x₁)(py−y₁) − (px−x₁)(y₂−y₁))·sgn(y₂−y₁) > 0, six unrolled
    // edges from ONE generator (the SQL is dialect-identical: only *,
    // −, > and CASE). No horizontal edges by construction.
    Op("fn_point_in_polygon", (s, d) => {
      Tables.part(s, d)
        .where(col("p_partkey") % 11 === 6)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("px", expr("pk * 13 % 200"))
        .withColumn("py", expr("pk * 29 % 200"))
        .withColumn("crossings", expr(s"CAST($pipCrossings AS BIGINT)"))
        .withColumn("inside", expr("crossings % 2 = 1"))
        .select("pk", "px", "py", "crossings", "inside")
        .orderBy("pk")
    },
      // Same hexagon, same division-free crossing tests (shared generator).
      s"""WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
         |    CAST(p_partkey AS BIGINT) * 13 % 200 AS px,
         |    CAST(p_partkey AS BIGINT) * 29 % 200 AS py
         |  FROM part WHERE p_partkey % 11 = 6),
         |c AS (SELECT *, $pipCrossings AS crossings FROM p)
         |SELECT pk, px, py, CAST(crossings AS BIGINT) AS crossings,
         |  crossings % 2 = 1 AS inside
         |FROM c ORDER BY pk""".stripMargin),

    // Brute-force k-NN on a lattice — 5 probe points (one per region)
    // broadcast against the sampled point set, Manhattan distance,
    // top-3 by (dist, id) per probe. The exact-small-probe shape: the
    // fact side stays distributed, the probe side is a broadcast dim.
    Op("fn_grid_knn", (s, d) => {
      val byProbe = Window.partitionBy("rk").orderBy("dist", "id")
      val pts = Tables.part(s, d)
        .where(col("p_partkey") % 11 === 4)
        .select(col("p_partkey").cast("bigint").as("id"))
        .withColumn("x", expr("id * 13 % 1000"))
        .withColumn("y", expr("id * 37 % 1000"))
      val probes = Tables.region(s, d)
        .select(col("r_regionkey").cast("bigint").as("rk"))
        .withColumn("qx", expr("100 + rk * 150"))
        .withColumn("qy", expr("900 - rk * 130"))
      pts.crossJoin(broadcast(probes))
        .withColumn("dist", expr("abs(x - qx) + abs(y - qy)"))
        .withColumn("rank", row_number().over(byProbe).cast("bigint"))
        .where(col("rank") <= 3)
        .select("rk", "rank", "id", "dist")
        .orderBy("rk", "rank")
    },
      // Same probes, same Manhattan metric, same (dist, id) tie-break.
      """WITH pts AS (SELECT CAST(p_partkey AS BIGINT) AS id,
        |    CAST(p_partkey AS BIGINT) * 13 % 1000 AS x,
        |    CAST(p_partkey AS BIGINT) * 37 % 1000 AS y
        |  FROM part WHERE p_partkey % 11 = 4),
        |probes AS (SELECT CAST(r_regionkey AS BIGINT) AS rk,
        |    100 + CAST(r_regionkey AS BIGINT) * 150 AS qx,
        |    900 - CAST(r_regionkey AS BIGINT) * 130 AS qy FROM region),
        |d AS (SELECT rk, id, ABS(x - qx) + ABS(y - qy) AS dist
        |  FROM pts CROSS JOIN probes),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY rk
        |    ORDER BY dist, id) AS BIGINT) AS rank FROM d)
        |SELECT rk, rank, id, dist FROM r WHERE rank <= 3
        |ORDER BY rk, rank""".stripMargin),

    // Bresenham/DDA line rasterization (first octant by construction:
    // dx ≥ 50 > dy) — y(t) = y0 + (2·t·dy + dx) DIV (2·dx), the exact
    // integer rounding form, stepped by a CONSTANT 0..99 series filtered
    // to t ≤ dx (the dialect-safe generate_series shape). All
    // non-negative, embarrassingly parallel.
    Op("fn_bresenham_line", (s, d) => {
      Tables.part(s, d)
        .where(col("p_partkey") % 41 === 9)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("x0", expr("pk % 100"))
        .withColumn("y0", expr("pk * 7 % 100"))
        .withColumn("dx", expr("50 + pk % 49"))
        .withColumn("dy", expr("pk % 50"))
        .withColumn("t", explode(expr("sequence(0L, 99L)")))
        .where(col("t") <= col("dx"))
        .withColumn("x", expr("x0 + t"))
        .withColumn("y", expr("y0 + (2 * t * dy + dx) DIV (2 * dx)"))
        .select("pk", "t", "x", "y", "dx", "dy")
        .orderBy("pk", "t")
    },
      // Same rounding form, same constant series + filter.
      """WITH l AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
        |    CAST(p_partkey AS BIGINT) % 100 AS x0,
        |    CAST(p_partkey AS BIGINT) * 7 % 100 AS y0,
        |    50 + CAST(p_partkey AS BIGINT) % 49 AS dx,
        |    CAST(p_partkey AS BIGINT) % 50 AS dy
        |  FROM part WHERE p_partkey % 41 = 9),
        |s AS (SELECT CAST(g AS BIGINT) AS t
        |  FROM generate_series(0, 99) AS gs(g)),
        |r AS (SELECT l.*, s.t FROM l CROSS JOIN s WHERE s.t <= l.dx)
        |SELECT pk, t, x0 + t AS x,
        |  y0 + (2 * t * dy + dx) // (2 * dx) AS y, dx, dy
        |FROM r ORDER BY pk, t""".stripMargin),

    // Aspect-ratio bucketing for multimodal batch assembly — each synth
    // image (w,h from doc_id) assigned the closest of five literal
    // ratios by the EXACT cross-multiplied misfit |w·bh − h·bw|·(144/bh)
    // (144 = lcm of the bh set, so the comparison is division-free);
    // argmin via (misfit, bucket) row_number, per-bucket rollup.
    Op("mm_aspect_bucket", (s, d) => {
      val byImg = Window.partitionBy("doc_id").orderBy("cmp", "bname")
      Tables.documents(s, d)
        .select(col("doc_id"))
        .withColumn("w", expr("256 + doc_id * 7 % 1792"))
        .withColumn("h", expr("256 + doc_id * 11 % 1792"))
        .withColumn("b", explode(expr(
          """array(named_struct('bname', '1x1',  'bw', 1L,  'bh', 1L),
            |      named_struct('bname', '4x3',  'bw', 4L,  'bh', 3L),
            |      named_struct('bname', '3x4',  'bw', 3L,  'bh', 4L),
            |      named_struct('bname', '16x9', 'bw', 16L, 'bh', 9L),
            |      named_struct('bname', '9x16', 'bw', 9L, 'bh', 16L))"""
            .stripMargin)))
        .select(col("doc_id"), col("w"), col("h"), col("b.bname").as("bname"),
          col("b.bw").as("bw"), col("b.bh").as("bh"))
        .withColumn("cmp", expr("abs(w * bh - h * bw) * (144 DIV bh)"))
        .withColumn("rk", row_number().over(byImg))
        .where(col("rk") === 1)
        .groupBy("bname")
        .agg(count(lit(1)).as("n_images"), min("cmp").as("min_misfit"),
          max("cmp").as("max_misfit"))
        .orderBy("bname")
    },
      // Same literal ratio set, same lcm-normalized misfit, same argmin.
      """WITH img AS (SELECT doc_id, 256 + doc_id * 7 % 1792 AS w,
        |    256 + doc_id * 11 % 1792 AS h FROM documents),
        |b(bname, bw, bh) AS (VALUES ('1x1', 1, 1), ('4x3', 4, 3),
        |  ('3x4', 3, 4), ('16x9', 16, 9), ('9x16', 9, 16)),
        |m AS (SELECT img.doc_id, img.w, img.h, b.bname,
        |    ABS(w * bh - h * bw) * (144 // bh) AS cmp
        |  FROM img CROSS JOIN b),
        |pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY cmp, bname) AS rk FROM m)
        |SELECT bname, CAST(COUNT(*) AS BIGINT) AS n_images,
        |  MIN(cmp) AS min_misfit, MAX(cmp) AS max_misfit
        |FROM pick WHERE rk = 1 GROUP BY bname ORDER BY bname""".stripMargin),

    // Moran's I spatial autocorrelation on the observed 16×16 lattice
    // cells (rook adjacency, count-valued) — exact rational with the
    // mean cleared by N-scaling (dev = N·x − S); adjacency by EQUI-join
    // on exploded neighbor offsets (no cross join), the scale-correct
    // shape. Ratio via DECIMAL(38,0)/HUGEINT widening, sign-split.
    Op("agg_morans_i", (s, d) => {
      val all = Window.partitionBy(lit(1))
      val cells = Tables.part(s, d)
        .where(col("p_partkey") % 7 === 1)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("cx", expr("pk * 31 % 512 DIV 32"))
        .withColumn("cy", expr("pk * 17 % 512 DIV 32"))
        .groupBy("cx", "cy").agg(count(lit(1)).as("cnt"))
        .withColumn("nc", count(lit(1)).over(all))
        .withColumn("sm", sum("cnt").over(all))
        .withColumn("dev", expr("nc * cnt - sm"))
      val nbr = cells
        .withColumn("o", explode(expr(
          "array(named_struct('dx', 1L, 'dy', 0L)," +
            "named_struct('dx', -1L, 'dy', 0L)," +
            "named_struct('dx', 0L, 'dy', 1L)," +
            "named_struct('dx', 0L, 'dy', -1L))")))
        .select(expr("cx + o.dx").as("nx"), expr("cy + o.dy").as("ny"),
          col("dev").as("dev_a"))
      val pairs = nbr.join(
        cells.select(col("cx").as("nx"), col("cy").as("ny"),
          col("dev").as("dev_b")),
        Seq("nx", "ny"))
      val agg1 = pairs.agg(count(lit(1)).as("w_pairs"),
        sum(expr("dev_a * dev_b")).as("num"))
      val agg2 = cells.groupBy().agg(max("nc").as("n_cells"),
        sum(expr("dev * dev")).as("den"))
      agg2.crossJoin(broadcast(agg1))
        .withColumn("i_ppm", expr(
          """CAST(CASE WHEN den = 0 OR w_pairs = 0 THEN 0
            |  WHEN num < 0
            |  THEN -((CAST(n_cells AS DECIMAL(38,0)) * (-num) * 1000000)
            |    DIV (CAST(w_pairs AS DECIMAL(38,0)) * den))
            |  ELSE (CAST(n_cells AS DECIMAL(38,0)) * num * 1000000)
            |    DIV (CAST(w_pairs AS DECIMAL(38,0)) * den)
            |END AS BIGINT)""".stripMargin))
        .withColumn("ei_ppm", expr("-(1000000 DIV (n_cells - 1))"))
        .select("n_cells", "w_pairs", "den", "num", "i_ppm", "ei_ppm")
    },
      // Same observed cells, same rook pairs, same HUGEINT-widened ratio.
      """WITH pts AS (SELECT CAST(p_partkey AS BIGINT) AS pk
        |  FROM part WHERE p_partkey % 7 = 1),
        |cell AS (SELECT pk * 31 % 512 // 32 AS cx,
        |    pk * 17 % 512 // 32 AS cy, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pts GROUP BY 1, 2),
        |dv AS (SELECT *, CAST(COUNT(*) OVER () AS BIGINT) AS nc,
        |    CAST(SUM(cnt) OVER () AS BIGINT) AS sm FROM cell),
        |dev AS (SELECT *, nc * cnt - sm AS dev FROM dv),
        |pairs AS (SELECT a.dev AS dev_a, b.dev AS dev_b
        |  FROM dev a JOIN dev b
        |    ON ABS(a.cx - b.cx) + ABS(a.cy - b.cy) = 1),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
        |    CAST(SUM(dev_a * dev_b) AS BIGINT) AS num FROM pairs),
        |tot AS (SELECT MAX(nc) AS n_cells,
        |    CAST(SUM(dev * dev) AS BIGINT) AS den FROM dev)
        |SELECT n_cells, w_pairs, den, num,
        |  CAST(CASE WHEN den = 0 OR w_pairs = 0 THEN 0
        |    WHEN num < 0
        |    THEN -((CAST(n_cells AS HUGEINT) * (-num) * 1000000)
        |      // (CAST(w_pairs AS HUGEINT) * den))
        |    ELSE (CAST(n_cells AS HUGEINT) * num * 1000000)
        |      // (CAST(w_pairs AS HUGEINT) * den) END AS BIGINT) AS i_ppm,
        |  -(1000000 // (n_cells - 1)) AS ei_ppm
        |FROM tot, agg""".stripMargin),

    // Incremental materialized-view maintenance — the base aggregate
    // (orders before the cutoff) merged with the delta batch by the
    // partial-aggregate combine laws (cnt: +, sum: +, min: LEAST with
    // null passthrough, max: GREATEST) equals the full recompute, which
    // is exactly what the oracle runs. The MV-refresh-without-rescan
    // shape that matters at 100 TB.
    Op("warehouse_mv_incremental", (s, d) => {
      def slab(pred: String) = Tables.orders(s, d)
        .where(expr(pred))
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("o_totalprice") * 100).cast("bigint")).as("sum_cents"),
          min(floor(col("o_totalprice") * 100).cast("bigint")).as("min_cents"),
          max(floor(col("o_totalprice") * 100).cast("bigint")).as("max_cents"))
      val base = slab("CAST(o_orderdate AS DATE) < DATE '1997-01-01'")
      val delta = slab("CAST(o_orderdate AS DATE) >= DATE '1997-01-01'")
      base.as("b").join(delta.as("x"), Seq("pri"), "full_outer")
        .select(col("pri"),
          (coalesce(col("b.cnt"), lit(0L)) +
            coalesce(col("x.cnt"), lit(0L))).as("cnt"),
          (coalesce(col("b.sum_cents"), lit(0L)) +
            coalesce(col("x.sum_cents"), lit(0L))).as("sum_cents"),
          least(coalesce(col("b.min_cents"), col("x.min_cents")),
            coalesce(col("x.min_cents"), col("b.min_cents"))).as("min_cents"),
          greatest(coalesce(col("b.max_cents"), col("x.max_cents")),
            coalesce(col("x.max_cents"), col("b.max_cents"))).as("max_cents"))
        .orderBy("pri")
    },
      // The oracle IS the full recompute — the merge must equal it.
      """SELECT o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  MIN(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS min_cents,
        |  MAX(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS max_cents
        |FROM orders GROUP BY 1 ORDER BY pri""".stripMargin),

    // Concat-and-split sequence packing plan — documents in id order
    // concatenated into 2048-token bins (tokens = n_chars DIV 4 + 1,
    // the char proxy); each doc's [start, end) span yields its bin range
    // and a straddle flag. One running sum, no shuffle beyond the sort —
    // the dataloader packing ledger in exact integers.
    Op("llm_concat_packing", (s, d) => {
      val ord = Window.partitionBy(lit(1)).orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), expr("n_chars DIV 4 + 1").as("tokens"))
        .withColumn("cum_end", sum("tokens").over(ord))
        .withColumn("start", expr("cum_end - tokens"))
        .withColumn("start_bin", expr("start DIV 2048"))
        .withColumn("end_bin", expr("(cum_end - 1) DIV 2048"))
        .withColumn("straddle", expr("end_bin > start_bin"))
        .select("doc_id", "tokens", "start", "start_bin", "end_bin",
          "straddle")
        .orderBy("doc_id")
    },
      // Same id order, same char-proxy tokens, same bin arithmetic.
      """WITH t AS (SELECT doc_id, n_chars // 4 + 1 AS tokens
        |  FROM documents),
        |c AS (SELECT *, CAST(SUM(tokens) OVER (ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end FROM t)
        |SELECT doc_id, tokens, cum_end - tokens AS start,
        |  (cum_end - tokens) // 2048 AS start_bin,
        |  (cum_end - 1) // 2048 AS end_bin,
        |  (cum_end - 1) // 2048 > (cum_end - tokens) // 2048 AS straddle
        |FROM c ORDER BY doc_id""".stripMargin),

    // Knox space-time interaction test — pairs close in BOTH space
    // (Manhattan ≤ 4 on the user lattice) and time (|Δday| ≤ 2) vs the
    // independence expectation S·T/N. Pair generation is BUCKETED
    // (4-cells + 3-day buckets, exploded ±1 neighborhoods, equi-join)
    // — the scale-correct shape; the oracle brute-forces all pairs to
    // prove the buckets lose nothing. Exact milli ratio.
    Op("agg_knox_test", (s, d) => {
      val base = Tables.events(s, d)
        .where(col("event_id") % 37 === 0)
        .select(col("event_id").as("id"),
          expr("user_id * 13 % 64").as("sx"),
          expr("user_id * 29 % 64").as("sy"),
          expr("ts_us DIV 86400000000").as("day"))
      val nRow = base.agg(count(lit(1)).as("n"))
      def bucketPairs(bx: String, by: String, offs: Seq[(Int, Int)],
                      keep: String) = {
        val a = base
          .withColumn("bx", expr(bx)).withColumn("by", expr(by))
          .withColumn("o", explode(expr(
            offs.map { case (dx, dy) =>
              s"named_struct('dx', ${dx}L, 'dy', ${dy}L)" }
              .mkString("array(", ", ", ")"))))
          .select(col("id").as("id_a"), col("sx").as("sx_a"),
            col("sy").as("sy_a"), col("day").as("day_a"),
            expr("bx + o.dx").as("jx"), expr("by + o.dy").as("jy"))
        val b = base
          .select(col("id").as("id_b"), col("sx").as("sx_b"),
            col("sy").as("sy_b"), col("day").as("day_b"),
            expr(bx).as("jx"), expr(by).as("jy"))
        a.join(b, Seq("jx", "jy"))
          .where(col("id_a") < col("id_b"))
          .where(expr(keep))
      }
      val grid9 = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
      val sPairs = bucketPairs("sx DIV 4", "sy DIV 4", grid9,
        "abs(sx_a - sx_b) + abs(sy_a - sy_b) <= 4")
      val sAgg = sPairs.agg(count(lit(1)).as("s_pairs"),
        sum(expr("CASE WHEN abs(day_a - day_b) <= 2 THEN 1L ELSE 0L END"))
          .as("x_pairs"))
      val tAgg = bucketPairs("day DIV 3", "CAST(0 AS BIGINT)",
        Seq((-1, 0), (0, 0), (1, 0)), "abs(day_a - day_b) <= 2")
        .agg(count(lit(1)).as("t_pairs"))
      nRow.crossJoin(broadcast(sAgg)).crossJoin(broadcast(tAgg))
        .withColumn("npairs", expr("n * (n - 1) DIV 2"))
        .withColumn("knox_milli", expr(
          """CASE WHEN s_pairs = 0 OR t_pairs = 0 THEN 0L
            |  ELSE x_pairs * npairs * 1000 DIV (s_pairs * t_pairs)
            |END""".stripMargin))
        .select("n", "npairs", "s_pairs", "t_pairs", "x_pairs",
          "knox_milli")
    },
      // The oracle brute-forces ALL pairs — proving the engine's bucketed
      // pair generation loses nothing.
      """WITH e AS (SELECT event_id AS id, user_id * 13 % 64 AS sx,
        |    user_id * 29 % 64 AS sy,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE event_id % 37 = 0),
        |p AS (SELECT
        |    CASE WHEN ABS(a.sx - b.sx) + ABS(a.sy - b.sy) <= 4
        |      THEN 1 ELSE 0 END AS sc,
        |    CASE WHEN ABS(a.day - b.day) <= 2 THEN 1 ELSE 0 END AS tc
        |  FROM e a JOIN e b ON a.id < b.id),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS npairs,
        |    CAST(SUM(sc) AS BIGINT) AS s_pairs,
        |    CAST(SUM(tc) AS BIGINT) AS t_pairs,
        |    CAST(SUM(sc * tc) AS BIGINT) AS x_pairs FROM p),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e)
        |SELECT n, npairs, s_pairs, t_pairs, x_pairs,
        |  CASE WHEN s_pairs = 0 OR t_pairs = 0 THEN 0
        |    ELSE x_pairs * npairs * 1000 // (s_pairs * t_pairs)
        |  END AS knox_milli
        |FROM nn, agg""".stripMargin),

    // Damm check digit — the anti-symmetric quasigroup walked as 12
    // unrolled table lookups through ONE 100-char literal (substring at
    // interim·10 + digit + 1); the zero diagonal makes the final interim
    // the check digit, and re-walking code‖check must land on 0 (graded).
    Op("fn_damm_check", (s, d) => {
      val chain = (1 to 12).foldLeft("0") { (acc, i) =>
        s"CAST(SUBSTRING('$DammTbl', CAST(($acc) * 10 + " +
          s"CAST(SUBSTRING(code12, $i, 1) AS BIGINT) + 1 AS INT), 1) AS BIGINT)"
      }
      Tables.orders(s, d)
        .where(col("o_orderkey") % 29 === 7)
        .select(col("o_orderkey").as("okey"))
        .withColumn("code12", expr(
          "LPAD(CAST(okey * 53 + 9 AS STRING), 12, '0')"))
        .withColumn("chk", expr(chain))
        .withColumn("revalid", expr(
          s"CAST(SUBSTRING('$DammTbl', CAST(chk * 10 + chk + 1 AS INT), 1) " +
            "AS BIGINT) = 0"))
        .select("okey", "code12", "chk", "revalid")
        .orderBy("okey")
    },
      // Same quasigroup literal, same 12 unrolled lookups.
      {
      val chain = (1 to 12).foldLeft("0") { (acc, i) =>
        s"CAST(SUBSTRING('$DammTbl', CAST(($acc) * 10 + " +
          s"CAST(SUBSTRING(code12, $i, 1) AS BIGINT) + 1 AS INT), 1) AS BIGINT)"
      }
      s"""WITH base AS (SELECT o_orderkey AS okey,
         |    LPAD(CAST(o_orderkey * 53 + 9 AS STRING), 12, '0') AS code12
         |  FROM orders WHERE o_orderkey % 29 = 7),
         |ck AS (SELECT *, $chain AS chk FROM base)
         |SELECT okey, code12, chk,
         |  CAST(SUBSTRING('$DammTbl', CAST(chk * 10 + chk + 1 AS INT), 1)
         |    AS BIGINT) = 0 AS revalid
         |FROM ck ORDER BY okey""".stripMargin
    }),

    // Palma ratio per market segment — top-decile wealth share over the
    // bottom four deciles, deciles rank-exact via ntile(10) with a
    // deterministic (cents, custkey) ordering; shares ppm, ratio milli.
    Op("agg_palma_ratio", (s, d) => {
      val bySeg = Window.partitionBy("seg").orderBy("cents", "c_custkey")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          (floor(col("c_acctbal") * 100).cast("bigint") + 100000L)
            .as("cents"))
        .withColumn("decile", ntile(10).over(bySeg).cast("bigint"))
        .groupBy("seg")
        .agg(sum("cents").as("total"),
          sum(when(col("decile") === 10, col("cents")).otherwise(0L))
            .as("top10"),
          sum(when(col("decile") <= 4, col("cents")).otherwise(0L))
            .as("bot40"))
        .withColumn("top_ppm", expr("top10 * 1000000 DIV total"))
        .withColumn("bot_ppm", expr("bot40 * 1000000 DIV total"))
        .withColumn("palma_milli", expr("top10 * 1000 DIV bot40"))
        .select("seg", "total", "top10", "bot40", "top_ppm", "bot_ppm",
          "palma_milli")
        .orderBy("seg")
    },
      // Same deterministic deciles, same shares.
      """WITH c AS (SELECT c_custkey, c_mktsegment AS seg,
        |    CAST(FLOOR(c_acctbal * 100) AS BIGINT) + 100000 AS cents
        |  FROM customer),
        |d AS (SELECT *, CAST(NTILE(10) OVER (PARTITION BY seg
        |    ORDER BY cents, c_custkey) AS BIGINT) AS decile FROM c),
        |agg AS (SELECT seg, CAST(SUM(cents) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN decile = 10 THEN cents ELSE 0 END)
        |      AS BIGINT) AS top10,
        |    CAST(SUM(CASE WHEN decile <= 4 THEN cents ELSE 0 END)
        |      AS BIGINT) AS bot40
        |  FROM d GROUP BY seg)
        |SELECT seg, total, top10, bot40,
        |  top10 * 1000000 // total AS top_ppm,
        |  bot40 * 1000000 // total AS bot_ppm,
        |  top10 * 1000 // bot40 AS palma_milli
        |FROM agg ORDER BY seg""".stripMargin),

    // TD Setup count — consecutive closes below the close 4 bars back,
    // the streak computed shuffle-free by the reset pattern (break flags
    // → running group id → running flag sum inside the group); a 9-bar
    // streak flags SETUP. One sort, two window passes.
    Op("win_td_setup", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inGrp = Window.partitionBy("event_type", "grp").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("c4", lag("c", 4).over(ord))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("flag", expr(
          "CASE WHEN c4 IS NOT NULL AND c < c4 THEN 1L ELSE 0L END"))
        .withColumn("grp", sum(expr("1 - flag")).over(cum))
        .withColumn("streak", sum("flag").over(inGrp))
        .where(col("rn") > 4)
        .withColumn("setup", col("streak") >= 9)
        .select("event_type", "day", "c", "streak", "setup")
        .orderBy("event_type", "day")
    },
      // Same reset pattern, same 4-bar reference.
      s"""WITH $TicksCte,
        |$CloseBarsCte,
        |f AS (SELECT *, lag(c, 4) OVER o AS c4,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn
        |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day)),
        |g AS (SELECT *, CASE WHEN c4 IS NOT NULL AND c < c4
        |    THEN 1 ELSE 0 END AS flag FROM f),
        |h AS (SELECT *, CAST(SUM(1 - flag) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
        |  FROM g),
        |i AS (SELECT *, CAST(SUM(flag) OVER (PARTITION BY event_type, grp
        |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS streak
        |  FROM h)
        |SELECT event_type, day, c, streak, streak >= 9 AS setup
        |FROM i WHERE rn > 4 ORDER BY event_type, day""".stripMargin),

    // EXACT integer square root as a native codegen'd Catalyst
    // expression (IntSqrt.scala: double sqrt + ±1 correction, proven
    // exact for every non-negative long) — injected into every session by
    // GraftExtensions; perfect-square flag and the gap to
    // the next square graded alongside. The oracle mirrors with DuckDB's
    // CASE-corrected FLOOR(SQRT(x)).
    Op("fn_isqrt_native", (s, d) => {
      Tables.orders(s, d)
        .where(col("o_orderkey") % 13 === 3)
        .select(col("o_orderkey").as("okey"))
        .withColumn("v", expr("okey * 977 + 13"))
        .withColumn("isq", call_function("isqrt", col("v")))
        .withColumn("perfect", expr("isq * isq = v"))
        .withColumn("gap_up", expr("(isq + 1) * (isq + 1) - v"))
        .select("okey", "v", "isq", "perfect", "gap_up")
        .orderBy("okey")
    },
      // DuckDB's corrected FLOOR(SQRT) — the ±1 guards make it exact, the
      // same algorithm the native expression runs.
      s"""WITH base AS (SELECT o_orderkey AS okey,
         |    o_orderkey * 977 + 13 AS v
         |  FROM orders WHERE o_orderkey % 13 = 3),
         |r AS (SELECT *, ${duckIsqrt("v")} AS isq FROM base)
         |SELECT okey, v, isq, isq * isq = v AS perfect,
         |  (isq + 1) * (isq + 1) - v AS gap_up
         |FROM r ORDER BY okey""".stripMargin),

    // EXACT integer population stddev floor per segment — σ·n =
    // √(n·Σx²−S²), so floor(σ) = isqrt(n·Σx²−S²) DIV n with the native
    // IntSqrt doing the root: a stddev that reaches a graded column with
    // NO float anywhere (the usual stddev is transcendental-banned).
    Op("agg_integer_stddev", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          (floor(col("c_acctbal")).cast("bigint") + 1000L).as("dollars"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("dollars").as("total"),
          sum(expr("dollars * dollars")).as("ssq"))
        .withColumn("var_num", expr("n * ssq - total * total"))
        .withColumn("sd_floor",
          expr("isqrt(var_num) DIV n"))
        .select("seg", "n", "total", "ssq", "var_num", "sd_floor")
        .orderBy("seg")
    },
      // Same n-scaled variance numerator, same corrected-root floor.
      s"""WITH c AS (SELECT c_mktsegment AS seg,
         |    CAST(FLOOR(c_acctbal) AS BIGINT) + 1000 AS dollars
         |  FROM customer),
         |a AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(dollars) AS BIGINT) AS total,
         |    CAST(SUM(dollars * dollars) AS BIGINT) AS ssq
         |  FROM c GROUP BY seg),
         |v AS (SELECT *, n * ssq - total * total AS var_num FROM a)
         |SELECT seg, n, total, ssq, var_num,
         |  ${duckIsqrt("var_num")} // n AS sd_floor
         |FROM v ORDER BY seg""".stripMargin),

    // Laspeyres & Paasche price indices over matched parts (1996 base →
    // 1997), unit prices in exact cents (extendedprice·100 DIV quantity),
    // basket sums cross-graded; Fisher² = L·P in micro (the geometric
    // mean itself would need a root — its SQUARE is exact).
    Op("agg_price_index", (s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("yr", year(col("l_shipdate")))
        .where(col("yr").isin(1996, 1997))
        .groupBy(col("l_partkey").as("pk"), col("yr"))
        .agg(sum(col("l_quantity").cast("bigint")).as("q"),
          sum(floor(col("l_extendedprice") * 100).cast("bigint")).as("spend"))
        .withColumn("p", expr("spend DIV q"))
      val matched = li.groupBy("pk")
        .agg(max(when(col("yr") === 1996, col("p"))).as("p0"),
          max(when(col("yr") === 1996, col("q"))).as("q0"),
          max(when(col("yr") === 1997, col("p"))).as("p1"),
          max(when(col("yr") === 1997, col("q"))).as("q1"))
        .where(col("p0").isNotNull && col("p1").isNotNull)
      matched.agg(count(lit(1)).as("n_items"),
        sum(expr("p1 * q0")).as("l_num"), sum(expr("p0 * q0")).as("l_den"),
        sum(expr("p1 * q1")).as("p_num"), sum(expr("p0 * q1")).as("p_den"))
        .withColumn("laspeyres_milli", expr("l_num * 1000 DIV l_den"))
        .withColumn("paasche_milli", expr("p_num * 1000 DIV p_den"))
        .withColumn("fisher_sq_micro",
          expr("laspeyres_milli * paasche_milli"))
        .select("n_items", "laspeyres_milli", "paasche_milli",
          "fisher_sq_micro")
    },
      // Same matched basket, same cents unit prices, same cross sums.
      """WITH li AS (SELECT l_partkey AS pk,
        |    EXTRACT(year FROM l_shipdate) AS yr,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS spend
        |  FROM lineitem WHERE EXTRACT(year FROM l_shipdate) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |pr AS (SELECT *, spend // q AS p FROM li),
        |m AS (SELECT pk,
        |    MAX(CASE WHEN yr = 1996 THEN p END) AS p0,
        |    MAX(CASE WHEN yr = 1996 THEN q END) AS q0,
        |    MAX(CASE WHEN yr = 1997 THEN p END) AS p1,
        |    MAX(CASE WHEN yr = 1997 THEN q END) AS q1
        |  FROM pr GROUP BY pk),
        |f AS (SELECT * FROM m WHERE p0 IS NOT NULL AND p1 IS NOT NULL),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(p1 * q0) AS BIGINT) AS l_num,
        |    CAST(SUM(p0 * q0) AS BIGINT) AS l_den,
        |    CAST(SUM(p1 * q1) AS BIGINT) AS p_num,
        |    CAST(SUM(p0 * q1) AS BIGINT) AS p_den FROM f)
        |SELECT n_items, l_num * 1000 // l_den AS laspeyres_milli,
        |  p_num * 1000 // p_den AS paasche_milli,
        |  (l_num * 1000 // l_den) * (p_num * 1000 // p_den)
        |    AS fisher_sq_micro
        |FROM agg""".stripMargin),

    // Fibonacci retracement — trailing-20-bar swing high/low, the five
    // classic ratios as exact milli interpolations lo + (hi−lo)·r DIV
    // 1000, current close snapped to its nearest level (ties to the
    // lower ratio). One sort, two extreme probes.
    Op("win_fib_retracement", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val trail = ord.rowsBetween(-19, 0)
      val ratios = Seq(236, 382, 500, 618, 786)
      val bars = closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("hi20", max("c").over(trail))
        .withColumn("lo20", min("c").over(trail))
        .where(col("rn") >= 20)
      val leveled = ratios.zipWithIndex.foldLeft(bars) {
        case (df, (r, i)) => df.withColumn(s"lv${i + 1}",
          expr(s"lo20 + (hi20 - lo20) * $r DIV 1000"))
      }
      val nearest = (1 to 5).map { i =>
        s"named_struct('d', abs(c - lv$i), 'i', ${i}L)" }
        .mkString("array(", ", ", ")")
      leveled
        .withColumn("nearest", expr(
          s"array_min($nearest).i"))
        .withColumn("dist", expr(
          s"array_min(transform($nearest, s -> s.d))"))
        .select("event_type", "day", "c", "hi20", "lo20", "lv1", "lv3",
          "lv5", "nearest", "dist")
        .orderBy("event_type", "day")
    },
      // Same trailing extremes, same milli interpolation, same LEAST-of-
      // structs argmin (tie to the lower ratio).
      {
      val lvls = Seq(236, 382, 500, 618, 786).zipWithIndex.map {
        case (r, i) => s"lo20 + (hi20 - lo20) * $r // 1000 AS lv${i + 1}" }
        .mkString(",\n|    ")
      val dists = (1 to 5).map(i => s"ABS(c - lv$i)").mkString(", ")
      val caseNearest = (1 to 5).map { i =>
        s"WHEN ABS(c - lv$i) = mind THEN CAST($i AS BIGINT)" }
        .mkString("CASE ", " ", " END")
      s"""WITH $TicksCte,
         |$CloseBarsCte,
         |w AS (SELECT *, CAST(ROW_NUMBER() OVER o AS BIGINT) AS rn,
         |    MAX(c) OVER (o ROWS 19 PRECEDING) AS hi20,
         |    MIN(c) OVER (o ROWS 19 PRECEDING) AS lo20
         |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |lv AS (SELECT *,
         |    $lvls
         |  FROM w WHERE rn >= 20),
         |pick AS (SELECT *, LEAST($dists) AS mind FROM lv)
         |SELECT event_type, day, c, hi20, lo20, lv1, lv3, lv5,
         |  $caseNearest AS nearest, mind AS dist
         |FROM pick ORDER BY event_type, day""".stripMargin
    }),

    // Sharpe ratio with NO float: daily close-to-close returns in cents,
    // µ/σ = S/√(n·Σr²−S²) — the n-scaling cancels, so one native
    // IntSqrt of the variance numerator and a sign-split milli ratio
    // grade the whole statistic exactly. Per series, one sort.
    Op("agg_sharpe_ratio", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("r", col("c") - lag("c", 1).over(ord))
        .where(col("r").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("r").as("sr"),
          sum(expr("r * r")).as("ssq"))
        .withColumn("var_num", expr("n * ssq - sr * sr"))
        .withColumn("sd_n", expr("isqrt(var_num)"))
        .withColumn("sharpe_milli", expr(
          """CASE WHEN sd_n = 0 THEN 0L
            |  WHEN sr < 0 THEN -((-sr) * n * 1000 DIV sd_n)
            |  ELSE sr * n * 1000 DIV sd_n END""".stripMargin))
        .select("event_type", "n", "sr", "ssq", "var_num", "sd_n",
          "sharpe_milli")
        .orderBy("event_type")
    },
      // Same returns, same corrected-root σ·n, same sign-split milli.
      s"""WITH $TicksCte,
         |$CloseBarsCte,
         |r AS (SELECT event_type, c - lag(c, 1) OVER o AS r
         |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(r) AS BIGINT) AS sr,
         |    CAST(SUM(r * r) AS BIGINT) AS ssq
         |  FROM r WHERE r IS NOT NULL GROUP BY event_type),
         |v AS (SELECT *, n * ssq - sr * sr AS var_num FROM a),
         |sq AS (SELECT *, ${duckIsqrt("var_num")} AS sd_n FROM v)
         |SELECT event_type, n, sr, ssq, var_num, sd_n,
         |  CASE WHEN sd_n = 0 THEN 0
         |    WHEN sr < 0 THEN -((-sr) * n * 1000 // sd_n)
         |    ELSE sr * n * 1000 // sd_n END AS sharpe_milli
         |FROM sq ORDER BY event_type""".stripMargin),

    // Toy RSA roundtrip (n=3233=61·53, e=17, d=2753) — modpow by
    // UNROLLED square-and-multiply (e: 4 squarings + 1 multiply; d in
    // binary 101011000001: 11 squarings, 4 multiplies), every step a
    // `% 3233` so nothing exceeds n² < 2³². decrypt(encrypt(m)) == m
    // graded for every message < n. Pure per-row modular algebra.
    Op("fn_rsa_modpow", (s, d) => {
      val enc = modPowSteps("m", 17, "a")
      val dec = modPowSteps("cipher", 2753, "b")
      val base = Tables.customer(s, d)
        .where(col("c_custkey") % 3 === 1)
        .select(col("c_custkey").as("ck"))
        .withColumn("m", expr("ck % 3233"))
      val encd = enc.foldLeft(base) { case (df, (n, e2)) =>
        df.withColumn(n, expr(e2)) }
        .withColumn("cipher", col(enc.last._1))
      val decd = dec.foldLeft(encd) { case (df, (n, e2)) =>
        df.withColumn(n, expr(e2)) }
        .withColumn("plain", col(dec.last._1))
      decd
        .withColumn("roundtrip", expr("plain = m"))
        .select("ck", "m", "cipher", "plain", "roundtrip")
        .orderBy("ck")
    },
      // Same step chain (one generator), nested one SELECT per step.
      {
      val enc = modPowSteps("m", 17, "a")
      val dec = modPowSteps("cipher", 2753, "b")
      val encSql = enc.foldLeft(
        "(SELECT c_custkey AS ck, c_custkey % 3233 AS m FROM customer " +
          "WHERE c_custkey % 3 = 1)") { case (prev, (n, e2)) =>
        s"(SELECT *, $e2 AS $n FROM $prev)" }
      val withCipher =
        s"(SELECT *, ${enc.last._1} AS cipher FROM $encSql)"
      val decSql = dec.foldLeft(withCipher) { case (prev, (n, e2)) =>
        s"(SELECT *, $e2 AS $n FROM $prev)" }
      s"""SELECT ck, m, cipher, ${dec.last._1} AS plain,
         |  ${dec.last._1} = m AS roundtrip
         |FROM $decSql ORDER BY ck""".stripMargin
    }),

    // Fletcher-16 checksum over the 12 ASCII digit bytes — the running
    // double sum collapsed to its CLOSED FORM (s1 = Σbᵢ mod 255,
    // s2 = Σ(13−i)·bᵢ mod 255), so both engines compute it in one
    // expression with no iteration at all.
    Op("fn_fletcher16", (s, d) => {
      val s1 = (1 to 12).map(i =>
        s"(CAST(SUBSTRING(code12, $i, 1) AS BIGINT) + 48)").mkString(" + ")
      val s2 = (1 to 12).map(i =>
        s"${13 - i} * (CAST(SUBSTRING(code12, $i, 1) AS BIGINT) + 48)")
        .mkString(" + ")
      Tables.orders(s, d)
        .where(col("o_orderkey") % 31 === 4)
        .select(col("o_orderkey").as("okey"))
        .withColumn("code12", expr(
          "LPAD(CAST(okey * 41 + 3 AS STRING), 12, '0')"))
        .withColumn("s1", expr(s"($s1) % 255"))
        .withColumn("s2", expr(s"($s2) % 255"))
        .withColumn("fletcher", expr("s2 * 256 + s1"))
        .select("okey", "code12", "s1", "s2", "fletcher")
        .orderBy("okey")
    },
      // Same closed-form double sums.
      {
      val s1 = (1 to 12).map(i =>
        s"(CAST(SUBSTRING(code12, $i, 1) AS BIGINT) + 48)").mkString(" + ")
      val s2 = (1 to 12).map(i =>
        s"${13 - i} * (CAST(SUBSTRING(code12, $i, 1) AS BIGINT) + 48)")
        .mkString(" + ")
      s"""WITH base AS (SELECT o_orderkey AS okey,
         |    LPAD(CAST(o_orderkey * 41 + 3 AS STRING), 12, '0') AS code12
         |  FROM orders WHERE o_orderkey % 31 = 4),
         |f AS (SELECT *, ($s1) % 255 AS s1, ($s2) % 255 AS s2 FROM base)
         |SELECT okey, code12, s1, s2, s2 * 256 + s1 AS fletcher
         |FROM f ORDER BY okey""".stripMargin
    }),

    // Information ratio of each series against the pooled benchmark
    // (the 'view' series) — active return per day via an equi-join on
    // day, IR = S_active/√(n·Σa²−S²) through the native IntSqrt,
    // sign-split milli. The tracking-error statistic with no float.
    Op("win_information_ratio", (s, d) => {
      val ord = Window.partitionBy("event_type").orderBy("day")
      val bars = closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("r", col("c") - lag("c", 1).over(ord))
        .where(col("r").isNotNull)
      val bench = bars.where(col("event_type") === "view")
        .select(col("day"), col("r").as("rb"))
      bars.where(col("event_type") =!= "view")
        .join(broadcast(bench), Seq("day"))
        .withColumn("a", col("r") - col("rb"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("a").as("sa"),
          sum(expr("a * a")).as("ssq"))
        .withColumn("te_n", expr("isqrt(n * ssq - sa * sa)"))
        .withColumn("ir_milli", expr(
          """CASE WHEN te_n = 0 THEN 0L
            |  WHEN sa < 0 THEN -((-sa) * n * 1000 DIV te_n)
            |  ELSE sa * n * 1000 DIV te_n END""".stripMargin))
        .select("event_type", "n", "sa", "ssq", "te_n", "ir_milli")
        .orderBy("event_type")
    },
      // Same benchmark join, same tracking-error root, same milli ratio.
      s"""WITH $TicksCte,
         |$CloseBarsCte,
         |r AS (SELECT event_type, day, c - lag(c, 1) OVER o AS r
         |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |b AS (SELECT day, r AS rb FROM r
         |  WHERE event_type = 'view' AND r IS NOT NULL),
         |j AS (SELECT r.event_type, r.r - b.rb AS a
         |  FROM r JOIN b ON r.day = b.day
         |  WHERE r.event_type <> 'view' AND r.r IS NOT NULL),
         |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(a) AS BIGINT) AS sa,
         |    CAST(SUM(a * a) AS BIGINT) AS ssq
         |  FROM j GROUP BY event_type),
         |sq AS (SELECT *, ${duckIsqrt("n * ssq - sa * sa")} AS te_n
         |  FROM agg)
         |SELECT event_type, n, sa, ssq, te_n,
         |  CASE WHEN te_n = 0 THEN 0
         |    WHEN sa < 0 THEN -((-sa) * n * 1000 // te_n)
         |    ELSE sa * n * 1000 // te_n END AS ir_milli
         |FROM sq ORDER BY event_type""".stripMargin),

    // Verhoeff check digit — the D5 dihedral multiplication, position
    // permutations and inverse as THREE shared string literals; the
    // reversed-digit walk unrolled to named step columns by one
    // generator (the p-row rotates with position i mod 8). Catches all
    // single substitutions AND adjacent transpositions (spec-proved).
    Op("fn_verhoeff_check", (s, d) => {
      val steps = verhoeffSteps
      val base = Tables.orders(s, d)
        .where(col("o_orderkey") % 37 === 2)
        .select(col("o_orderkey").as("okey"))
        .withColumn("code12", expr(
          "LPAD(CAST(okey * 59 + 7 AS STRING), 12, '0')"))
        .withColumn("v0", lit(0L))
      val walked = steps.foldLeft(base) { case (df, (n, e2)) =>
        df.withColumn(n, expr(e2)) }
      walked
        .withColumn("chk", expr(
          s"CAST(SUBSTRING('$VerhoeffInv', CAST(${steps.last._1} AS INT) + 1, 1) AS BIGINT)"))
        .select("okey", "code12", "chk")
        .orderBy("okey")
    },
      // Same tables, same reversed walk (dialect-identical step SQL).
      {
      val walked = verhoeffSteps.foldLeft(
        "(SELECT o_orderkey AS okey, " +
          "LPAD(CAST(o_orderkey * 59 + 7 AS STRING), 12, '0') AS code12, " +
          "CAST(0 AS BIGINT) AS v0 FROM orders WHERE o_orderkey % 37 = 2)"
      ) { case (prev, (n, e2)) => s"(SELECT *, $e2 AS $n FROM $prev)" }
      s"""SELECT okey, code12,
         |  CAST(SUBSTRING('$VerhoeffInv',
         |    CAST(${verhoeffSteps.last._1} AS INT) + 1, 1) AS BIGINT) AS chk
         |FROM $walked ORDER BY okey""".stripMargin
    }),

    // Josephus survivor (k=2) — the closed form J(n) = 2(n−2^⌊log₂n⌋)+1,
    // the power-of-two found by a generated 14-rung CASE ladder (no log,
    // no loop). Pure per-row bit algebra.
    Op("fn_josephus", (s, d) => {
      val ladder = (13 to 0 by -1).map(k =>
        s"WHEN n >= ${1 << k} THEN ${1 << k}L").mkString(
        "CASE ", " ", " ELSE 1L END")
      Tables.part(s, d)
        .where(col("p_partkey") % 23 === 5)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("n", expr("pk % 10000 + 1"))
        .withColumn("p2", expr(ladder))
        .withColumn("survivor", expr("2 * (n - p2) + 1"))
        .select("pk", "n", "p2", "survivor")
        .orderBy("pk")
    },
      // Same CASE ladder, same closed form.
      {
      val ladder = (13 to 0 by -1).map(k =>
        s"WHEN n >= ${1 << k} THEN ${1 << k}").mkString(
        "CASE ", " ", " ELSE 1 END")
      s"""WITH base AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
         |    CAST(p_partkey AS BIGINT) % 10000 + 1 AS n
         |  FROM part WHERE p_partkey % 23 = 5),
         |p AS (SELECT *, CAST($ladder AS BIGINT) AS p2 FROM base)
         |SELECT pk, n, p2, 2 * (n - p2) + 1 AS survivor
         |FROM p ORDER BY pk""".stripMargin
    }),

    // McClellan-style breadth oscillator — cross-SECTIONAL: per day the
    // advance/decline census across the five series, breadth = adv−dec
    // ×1000, then the fast/slow finite-lag EWMA pair (sign-split folds)
    // and their difference. One pivot-free rollup + one sort.
    Op("win_mcclellan_osc", (s, d) => {
      val ord = Window.orderBy("day")
      def fold(w: Seq[Long], dst: String)(df: DataFrame): DataFrame = {
        val num = w.zipWithIndex.map { case (wt, i) =>
          coalesce(lag(col("breadth"), i).over(ord) * wt, lit(0L)) }
          .reduce(_ + _)
        val den = w.zipWithIndex.map { case (wt, i) =>
          when(lag(col("breadth"), i).over(ord).isNotNull, wt)
            .otherwise(0L) }.reduce(_ + _)
        df.withColumn(s"${dst}_n", num).withColumn(s"${dst}_d", den)
          .withColumn(dst, expr(
            s"CASE WHEN ${dst}_n < 0 THEN -((-${dst}_n) DIV ${dst}_d) " +
              s"ELSE ${dst}_n DIV ${dst}_d END"))
      }
      val ordT = Window.partitionBy("event_type").orderBy("day")
      val breadth = closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("r", col("c") - lag("c", 1).over(ordT))
        .where(col("r").isNotNull)
        .groupBy("day")
        .agg(sum(when(col("r") > 0, 1L).otherwise(0L)).as("adv"),
          sum(when(col("r") < 0, 1L).otherwise(0L)).as("dec"))
        .withColumn("breadth", expr("(adv - dec) * 1000"))
      fold(SlowW, "ema_slow")(fold(FastW, "ema_fast")(breadth))
        .withColumn("osc", col("ema_fast") - col("ema_slow"))
        .select("day", "adv", "dec", "breadth", "ema_fast", "ema_slow",
          "osc")
        .orderBy("day")
    },
      // Same breadth census, same sign-split weight-vector folds.
      {
      def stage(w: Seq[Long], dst: String) = {
        val num = w.zipWithIndex.map { case (wt, i) =>
          if (i == 0) s"$wt * breadth"
          else s"COALESCE($wt * lag(breadth, $i) OVER o, 0)" }
          .mkString(" + ")
        val den = w.zipWithIndex.map { case (wt, i) =>
          if (i == 0) s"$wt"
          else s"CASE WHEN lag(breadth, $i) OVER o IS NULL THEN 0 " +
            s"ELSE $wt END" }.mkString(" + ")
        s"""SELECT *, CASE WHEN ($num) < 0
           |    THEN -((-($num)) // ($den)) ELSE ($num) // ($den) END AS $dst"""
          .stripMargin
      }
      s"""WITH $TicksCte,
         |$CloseBarsCte,
         |r AS (SELECT event_type, day, c - lag(c, 1) OVER o AS r
         |  FROM bar WINDOW o AS (PARTITION BY event_type ORDER BY day)),
         |br AS (SELECT day,
         |    CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS adv,
         |    CAST(SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT) AS dec,
         |    CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END)
         |      - SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000
         |      AS breadth
         |  FROM r WHERE r IS NOT NULL GROUP BY day),
         |s1 AS (${stage(FastW, "ema_fast")} FROM br
         |  WINDOW o AS (ORDER BY day)),
         |s2 AS (${stage(SlowW, "ema_slow")} FROM s1
         |  WINDOW o AS (ORDER BY day))
         |SELECT day, adv, dec, breadth, ema_fast, ema_slow,
         |  ema_fast - ema_slow AS osc
         |FROM s2 ORDER BY day""".stripMargin
    }),

    // MAD outlier census — lower-median of closes and of absolute
    // deviations by EXACT rank selection (rn = (n+1) DIV 2 under a
    // deterministic (value, day) order), outliers at |x−med| > 5·MAD.
    // The robust-statistics twin of win_zscore_outlier, float-free.
    Op("agg_mad_outliers", (s, d) => {
      val byC = Window.partitionBy("event_type").orderBy("c", "day")
      val byT = Window.partitionBy("event_type")
      val byD = Window.partitionBy("event_type").orderBy("absdev", "day")
      closeBars(priceTicks(Tables.events(s, d)))
        .withColumn("n", count(lit(1)).over(byT))
        .withColumn("rc", row_number().over(byC).cast("bigint"))
        .withColumn("med", max(when(
          col("rc") === expr("(n + 1) DIV 2"), col("c"))).over(byT))
        .withColumn("absdev", abs(col("c") - col("med")))
        .withColumn("rd", row_number().over(byD).cast("bigint"))
        .withColumn("mad", max(when(
          col("rd") === expr("(n + 1) DIV 2"), col("absdev"))).over(byT))
        .groupBy("event_type")
        .agg(max("n").as("n"), max("med").as("med"), max("mad").as("mad"),
          sum(when(col("absdev") > col("mad") * 5, 1L).otherwise(0L))
            .as("n_outliers"),
          max("absdev").as("max_absdev"))
        .orderBy("event_type")
    },
      // Same rank selections, same 5·MAD fence.
      s"""WITH $TicksCte,
        |$CloseBarsCte,
        |rk AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY event_type)
        |      AS BIGINT) AS n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY c, day) AS BIGINT) AS rc
        |  FROM bar),
        |md AS (SELECT *, MAX(CASE WHEN rc = (n + 1) // 2 THEN c END)
        |    OVER (PARTITION BY event_type) AS med FROM rk),
        |ad AS (SELECT *, ABS(c - med) AS absdev,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ABS(c - med), day) AS BIGINT) AS rd
        |  FROM md),
        |mm AS (SELECT *, MAX(CASE WHEN rd = (n + 1) // 2 THEN absdev END)
        |    OVER (PARTITION BY event_type) AS mad FROM ad)
        |SELECT event_type, MAX(n) AS n, MAX(med) AS med, MAX(mad) AS mad,
        |  CAST(SUM(CASE WHEN absdev > mad * 5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  MAX(absdev) AS max_absdev
        |FROM mm GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Cantor pairing roundtrip — z = (x+y)(x+y+1)/2 + y, inverted with
    // the native IntSqrt: w = (isqrt(8z+1)−1) DIV 2, then t, y, x fall
    // out. The bijection ℕ²→ℕ graded both directions, float-free.
    Op("fn_cantor_pairing", (s, d) => {
      Tables.part(s, d)
        .where(col("p_partkey") % 29 === 11)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("x", expr("pk * 3 % 1000"))
        .withColumn("y", expr("pk * 7 % 1000"))
        .withColumn("z", expr("(x + y) * (x + y + 1) DIV 2 + y"))
        .withColumn("w", expr("(isqrt(8 * z + 1) - 1) DIV 2"))
        .withColumn("y_back", expr("z - w * (w + 1) DIV 2"))
        .withColumn("x_back", expr("w - y_back"))
        .select("pk", "x", "y", "z", "w", "x_back", "y_back")
        .orderBy("pk")
    },
      // Same pairing algebra, same corrected-root inversion.
      s"""WITH base AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
         |    CAST(p_partkey AS BIGINT) * 3 % 1000 AS x,
         |    CAST(p_partkey AS BIGINT) * 7 % 1000 AS y
         |  FROM part WHERE p_partkey % 29 = 11),
         |z AS (SELECT *, (x + y) * (x + y + 1) // 2 + y AS z FROM base),
         |w AS (SELECT *, (${duckIsqrt("8 * z + 1")} - 1) // 2 AS w FROM z)
         |SELECT pk, x, y, z, w, w - (z - w * (w + 1) // 2) AS x_back,
         |  z - w * (w + 1) // 2 AS y_back
         |FROM w ORDER BY pk""".stripMargin),

    // Ulam square-spiral coordinates — the closed form: ring k =
    // (isqrt(n−1)+1) DIV 2, offset t = n−(2k−1)²−1, side t DIV 2k, all
    // through the native IntSqrt; the declared convention is ring k
    // entering at (k, 1−k) going up. Spec replays an imperative walker.
    Op("fn_ulam_spiral", (s, d) => {
      Tables.part(s, d)
        .where(col("p_partkey") % 19 === 8)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("n", expr("pk % 2000 + 1"))
        .withColumn("k", expr("(isqrt(n - 1) + 1) DIV 2"))
        .withColumn("t", expr(
          "CASE WHEN k = 0 THEN 0L ELSE n - (2 * k - 1) * (2 * k - 1) - 1 END"))
        .withColumn("side", expr(
          "CASE WHEN k = 0 THEN 0L ELSE t DIV (2 * k) END"))
        .withColumn("pos", expr(
          "CASE WHEN k = 0 THEN 0L ELSE t % (2 * k) END"))
        .withColumn("x", expr(
          """CASE WHEN k = 0 THEN 0L
            |  WHEN side = 0 THEN k
            |  WHEN side = 1 THEN k - 1 - pos
            |  WHEN side = 2 THEN -k
            |  ELSE -k + 1 + pos END""".stripMargin))
        .withColumn("y", expr(
          """CASE WHEN k = 0 THEN 0L
            |  WHEN side = 0 THEN -k + 1 + pos
            |  WHEN side = 1 THEN k
            |  WHEN side = 2 THEN k - 1 - pos
            |  ELSE -k END""".stripMargin))
        .select("pk", "n", "k", "side", "x", "y")
        .orderBy("pk")
    },
      // Same ring/side/pos closed form, same convention.
      s"""WITH base AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
         |    CAST(p_partkey AS BIGINT) % 2000 + 1 AS n
         |  FROM part WHERE p_partkey % 19 = 8),
         |k AS (SELECT *, (${duckIsqrt("n - 1")} + 1) // 2 AS k FROM base),
         |t AS (SELECT *, CASE WHEN k = 0 THEN 0
         |    ELSE n - (2 * k - 1) * (2 * k - 1) - 1 END AS t FROM k),
         |sp AS (SELECT *, CASE WHEN k = 0 THEN 0 ELSE t // (2 * k) END
         |    AS side,
         |    CASE WHEN k = 0 THEN 0 ELSE t % (2 * k) END AS pos FROM t)
         |SELECT pk, n, k, side,
         |  CASE WHEN k = 0 THEN 0
         |    WHEN side = 0 THEN k
         |    WHEN side = 1 THEN k - 1 - pos
         |    WHEN side = 2 THEN -k
         |    ELSE -k + 1 + pos END AS x,
         |  CASE WHEN k = 0 THEN 0
         |    WHEN side = 0 THEN -k + 1 + pos
         |    WHEN side = 1 THEN k
         |    WHEN side = 2 THEN k - 1 - pos
         |    ELSE -k END AS y
         |FROM sp ORDER BY pk""".stripMargin),

    // Binary↔Gray roundtrip — g = n⊕(n DIV 2); decode by log-doubling
    // xor-shift (5 steps cover 14 bits), xor emitted per dialect by one
    // lambda (Spark parenthesized `^`, DuckDB xor()); the single-bit
    // adjacency property graded via a lead probe + bit_count.
    Op("fn_gray_code", (s, d) => {
      val x = (a: String, b: String) => s"($a ^ $b)"
      Tables.part(s, d)
        .where(col("p_partkey") % 17 === 9)
        .select(col("p_partkey").cast("bigint").as("pk"))
        .withColumn("n", expr("pk % 16384"))
        .withColumn("g", expr(x("n", "(n DIV 2)")))
        .withColumn("b1", expr(x("g", "(g DIV 2)")))
        .withColumn("b2", expr(x("b1", "(b1 DIV 4)")))
        .withColumn("b3", expr(x("b2", "(b2 DIV 16)")))
        .withColumn("b4", expr(x("b3", "(b3 DIV 256)")))
        .withColumn("n_back", expr(x("b4", "(b4 DIV 65536)")))
        .withColumn("g_next", expr(x("(n + 1)", "((n + 1) DIV 2)")))
        .withColumn("adj_bits", expr(
          s"CAST(bit_count(${x("g", "g_next")}) AS BIGINT)"))
        .select("pk", "n", "g", "n_back", "adj_bits")
        .orderBy("pk")
    },
      // Same xor-shift chain through the dialect lambda.
      {
      val x = (a: String, b: String) => s"xor($a, $b)"
      s"""WITH base AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
         |    CAST(p_partkey AS BIGINT) % 16384 AS n
         |  FROM part WHERE p_partkey % 17 = 9),
         |g AS (SELECT *, ${x("n", "(n // 2)")} AS g FROM base),
         |b1 AS (SELECT *, ${x("g", "(g // 2)")} AS b1 FROM g),
         |b2 AS (SELECT *, ${x("b1", "(b1 // 4)")} AS b2 FROM b1),
         |b3 AS (SELECT *, ${x("b2", "(b2 // 16)")} AS b3 FROM b2),
         |b4 AS (SELECT *, ${x("b3", "(b3 // 256)")} AS b4 FROM b3),
         |f AS (SELECT *, ${x("b4", "(b4 // 65536)")} AS n_back,
         |    ${x("(n + 1)", "((n + 1) // 2)")} AS g_next FROM b4)
         |SELECT pk, n, g, n_back,
         |  CAST(bit_count(${x("g", "g_next")}) AS BIGINT) AS adj_bits
         |FROM f ORDER BY pk""".stripMargin
    }),

    // Kish design effect — survey-weighting efficiency: deff =
    // n·Σw²/(Σw)² and n_eff = (Σw)²/Σw² exact milli per segment; the
    // companion diagnostic to agg_ipf_raking.
    Op("agg_kish_deff", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          expr("c_custkey % 7 + 1").as("w"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("w").as("sw"),
          sum(expr("w * w")).as("sww"))
        .withColumn("deff_milli", expr("n * sww * 1000 DIV (sw * sw)"))
        .withColumn("neff_milli", expr("sw * sw * 1000 DIV sww"))
        .select("seg", "n", "sw", "sww", "deff_milli", "neff_milli")
        .orderBy("seg")
    },
      // Same weights, same milli ratios.
      """WITH c AS (SELECT c_mktsegment AS seg, c_custkey % 7 + 1 AS w
        |  FROM customer),
        |a AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(w) AS BIGINT) AS sw,
        |    CAST(SUM(w * w) AS BIGINT) AS sww
        |  FROM c GROUP BY seg)
        |SELECT seg, n, sw, sww,
        |  n * sww * 1000 // (sw * sw) AS deff_milli,
        |  sw * sw * 1000 // sww AS neff_milli
        |FROM a ORDER BY seg""".stripMargin)
  )

  /** Unrolled square-and-multiply `base^e mod 3233` as NAMED step
    * assignments (linear size — a single inlined expression would double
    * per squaring), one generator for both dialects (only * and %). */
  private def modPowSteps(base: String, e: Int,
                          pfx: String): Seq[(String, String)] = {
    val bits = e.toBinaryString.map(_ == '1')
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)]()
    steps += (s"${pfx}0" -> s"$base % 3233")
    var cur = s"${pfx}0"; var idx = 0
    bits.tail.foreach { bit =>
      idx += 1
      steps += (s"$pfx$idx" -> s"$cur * $cur % 3233")
      cur = s"$pfx$idx"
      if (bit) {
        idx += 1
        steps += (s"$pfx$idx" -> s"$cur * ${pfx}0 % 3233")
        cur = s"$pfx$idx"
      }
    }
    steps.toSeq
  }

  /** The reversed-digit Verhoeff walk over code12 as named step columns
    * (v1..v12); position i uses permutation row i mod 8. The emitted SQL
    * is dialect-identical (SUBSTRING/CAST only). */
  private def verhoeffSteps: Seq[(String, String)] =
    (1 to 12).map { i =>
      val prow = VerhoeffP(i % 8)
      val g = s"CAST(SUBSTRING(code12, ${13 - i}, 1) AS INT)"
      val pg = s"CAST(SUBSTRING('$prow', $g + 1, 1) AS INT)"
      s"v$i" -> (s"CAST(SUBSTRING('$VerhoeffD', " +
        s"CAST(v${i - 1} AS INT) * 10 + $pg + 1, 1) AS BIGINT)")
    }

  /** Unrolled ray-casting crossing count — dialect-identical SQL (only
    * *, −, > and CASE), emitted once for both engines. */
  private def pipCrossings: String =
    HexPoly.indices.map { i =>
      val (x1, y1) = HexPoly(i)
      val (x2, y2) = HexPoly((i + 1) % HexPoly.size)
      val sgn = if (y2 > y1) 1 else -1
      s"""(CASE WHEN (CASE WHEN $y1 > py THEN 1 ELSE 0 END) <>
         |  (CASE WHEN $y2 > py THEN 1 ELSE 0 END)
         |  AND ((${x2 - x1}) * (py - $y1) - (px - $x1) * (${y2 - y1}))
         |    * $sgn > 0 THEN 1 ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  /** DuckDB exact isqrt: corrected FLOOR(SQRT(x)) — double sqrt is within
    * one ulp, so the two ±1 guards land on the true integer root. */
  private[ops] def duckIsqrt(x: String): String =
    s"""(CASE WHEN $x <= 0 THEN 0 ELSE (
       |  CASE
       |    WHEN (CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) + 1)
       |      * (CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) + 1) <= $x
       |      THEN CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) + 1
       |    WHEN CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT)
       |      * CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) > $x
       |      THEN CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT) - 1
       |    ELSE CAST(FLOOR(SQRT(CAST($x AS DOUBLE))) AS BIGINT)
       |  END) END)""".stripMargin
}
