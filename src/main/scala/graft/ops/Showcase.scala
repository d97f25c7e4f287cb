package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Composite showcase queries — classic TPC-H shapes adapted to the
  * synthetic schema (it carries most but not all TPC-H columns): the
  * multi-join + aggregate + top-k plans an analytics service actually
  * serves, exercising join ordering, broadcast selection, partial
  * aggregation, and ordered limits in one plan each.
  *
  * Determinism: revenue is an exact decimal sum emitted as double
  * (agg_group law), every ORDER BY ends in a unique key so the LIMIT
  * cut is a total order, and dates are emitted as fixed-width strings
  * (lexicographic == chronological).
  */
object Showcase extends Family {
  private def rev(c1: org.apache.spark.sql.Column, c2: org.apache.spark.sql.Column) =
    sum(dec(c1 * (lit(1) - c2))).cast("double")

  val ops: Seq[Op] = Seq(
    // TPC-H Q3 (shipping priority): segment-filtered customers' orders
    // placed before a date with lineitems shipped after it, top-10 by
    // revenue. Customer side is broadcast (segment filter keeps it small
    // relative to the fact); lineitem-orders is the one real shuffle.
    Op("tpch_q3", (s, d) =>
      Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < lit("1996-03-15").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(rev(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10),
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin),

    // TPC-H Q5 (local-supplier volume): six-table star join where the
    // customer's and the supplier's nation must coincide, restricted to
    // one region and one order year. region/nation broadcast; the join
    // graph forces the c_nationkey = s_nationkey equi-condition through
    // the fact.
    Op("tpch_q5", (s, d) => {
      val asia = Tables.region(s, d).where(col("r_name") === "ASIA")
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(rev(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // TPC-H Q10 (returned-item reporting): customers who returned items
    // in a quarter, ranked by lost revenue, top 20 with their nation.
    Op("tpch_q10", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") >= lit("1996-10-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_returnflag") === "R")
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(rev(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q1 (pricing summary report): THE canonical scan-heavy
    // aggregate — one pass over the fact, partial aggregation map-side,
    // six measures per (returnflag, linestatus). Money laws: quantity is
    // integer-valued (exact BIGINT), 2dp×2dp products at decimal(18,4),
    // the 6dp triple product at decimal(18,6); averages are one double
    // division over exact sums (identical IEEE tree both engines).
    Op("tpch_q1", (s, d) => {
      val li = Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).as("sbp"),
          sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sdp"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).cast("decimal(18,6)")).as("sc"),
          sum(dec(col("l_discount"))).as("sd"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty"),
          col("sbp").cast("double").as("sum_base_price"),
          col("sdp").cast("double").as("sum_disc_price"),
          col("sc").cast("double").as("sum_charge"),
          (col("sum_qty").cast("double") / col("count_order").cast("double"))
            .as("avg_qty"),
          (col("sbp").cast("double") / col("count_order").cast("double"))
            .as("avg_price"),
          (col("sd").cast("double") / col("count_order").cast("double"))
            .as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // TPC-H Q6 (forecast revenue change): the pushdown showcase — every
    // filter reaches the parquet scan (PushedFilters), the aggregate is
    // a single exact-decimal sum, and the whole plan is one codegen'd
    // scan stage with no shuffle beyond the final partial-sum merge.
    Op("tpch_q6", (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice") * col("l_discount")))
          .cast("double").as("revenue")),
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // TPC-H Q18 (large-volume customers): the HAVING-on-fact-rollup
    // shape — order keys whose total quantity clears a scale-stable
    // per-order threshold (bounded by line count × max qty, so the
    // predicate is size-independent), then joined back through orders to
    // customers. The qty rollup shuffles on l_orderkey; the survivor set
    // is tiny and broadcast into the join.
    Op("tpch_q18", (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("bigint")).as("total_qty"))
        .where(col("total_qty") > 300)
      Tables.orders(s, d)
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // TPC-H Q7 (volume shipping): bilateral trade between two nations —
    // the double-dimension join (nation keyed once through the supplier,
    // once through the customer) with a symmetric pair predicate and a
    // per-(nation pair, year) revenue rollup. Both nation sides broadcast;
    // the lineitem-orders shuffle is the only big exchange.
    Op("tpch_q7", (s, d) => {
      val n1 = Tables.nation(s, d).select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      Tables.supplier(s, d)
        .join(Tables.lineitem(s, d), col("s_suppkey") === col("l_suppkey"))
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7")
          || (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(rev(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q8 (national market share): one nation's share of a
    // region-filtered, part-type-filtered market per order year — the
    // conditional-sum-over-total shape. Numerator and denominator are
    // exact decimal sums; the share is one double division both engines
    // evaluate on identical inputs.
    Op("tpch_q8", (s, d) => {
      val europe = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val sn = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).where(col("p_type") === "STANDARD")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(europe), col("c_nationkey") === col("cn_key"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_5",
            dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .otherwise(dec(lit(0)))).as("nat"),
          sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("tot"))
        .select(col("o_year"),
          col("nat").cast("double").as("nation_rev"),
          col("tot").cast("double").as("total_rev"),
          (col("nat").cast("double") / col("tot").cast("double")).as("mkt_share"))
        .orderBy("o_year")
    },
      """WITH g AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    SUM(CASE WHEN n2.n_name = 'NATION_5'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS nat,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS tot
        |  FROM lineitem
        |    JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |    JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT o_year, CAST(nat AS DOUBLE) AS nation_rev,
        |  CAST(tot AS DOUBLE) AS total_rev,
        |  CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE) AS mkt_share
        |FROM g ORDER BY o_year""".stripMargin),

    // TPC-H Q14 (promotion effect): promo revenue share of one ship
    // month — conditional exact-decimal sum over total, one shared
    // double division, lineitem⋈part with the part side broadcast.
    Op("tpch_q14", (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1996-09-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .otherwise(dec(lit(0)))).as("promo"),
          sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("tot"))
        .select(
          col("promo").cast("double").as("promo_rev"),
          col("tot").cast("double").as("total_rev"),
          (lit(100.0) * col("promo").cast("double") / col("tot").cast("double"))
            .as("promo_share")),
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_rev,
        |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin),

    // TPC-H Q4 (order priority checking), adapted: the synthetic schema
    // has no commit/receipt dates, so "late" is a lineitem shipped more
    // than 60 days after its order date. The EXISTS decorrelates to a
    // left-semi hash join on the order key with the date comparison as
    // the join residual — one pass over each table, no per-row subquery.
    Op("tpch_q4", (s, d) => {
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      o.join(Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q12 (shipping-mode / late-lines), adapted: l_returnflag plays
    // the ship-mode role and "late" is shipped ≥90 days after the order
    // date. The shape is the point: fact-to-fact equi join, residual
    // range predicate, conditional counts split by priority class.
    Op("tpch_q12", (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_returnflag").isin("A", "R")
          && col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAY")
          && col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A','R')
        |  AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // TPC-H Q13 (customer distribution): orders per customer, then
    // customers per order count; the ON-clause priority filter stands in
    // for the comment pattern. The fact is pre-aggregated to one row per
    // custkey BEFORE the outer join (map-side partial count + one narrow
    // shuffle) — joining raw orders to customers first would shuffle the
    // whole fact wide. Customers with zero surviving orders appear as
    // c_count=0 via the outer join + coalesce.
    Op("tpch_q13", (s, d) => {
      val perCust = Tables.orders(s, d)
        .where(col("o_orderpriority") =!= "5-LOW")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_ord"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n_ord"), lit(0L)).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """WITH c_orders AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    // max. Revenue stays DECIMAL through the max-equality join so the
    // tie test is exact (no IEEE max-vs-sum mismatch); the 1-row max
    // relation is broadcast.
    Op("tpch_q15", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("tr"))
      val top = rev.agg(max(col("tr")).as("max_tr"))
      Tables.supplier(s, d)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(top), col("tr") === col("max_tr"))
        .select(col("s_suppkey"), col("s_name"),
          col("tr").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS tr
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(tr AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE tr = (SELECT MAX(tr) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q17 (small-quantity-order revenue): the correlated-average
    // shape — rows below 20% of their part's mean quantity. The per-part
    // mean is a window over the ALREADY part-filtered fact (a part's mean
    // is unchanged by dropping other parts), so the one window shuffle
    // runs on the small side of the broadcast join, not the full fact.
    // DOMAIN ASSUMPTION (fixture contract): l_quantity is integral
    // (∈ [1, 50]) — the BIGINT cast of the quantity sum truncates in
    // Spark but rounds in DuckDB, and the two agree only on whole
    // numbers. Fractional quantities would need an explicit ROUND before
    // the cast in both engines.
    Op("tpch_q17", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .where(col("p_brand") === "Brand#3" && col("p_size") <= 10)),
          col("l_partkey") === col("p_partkey"))
        .withColumn("qlim", lit(0.2)
          * (sum(col("l_quantity").cast("bigint")).over(w).cast("double")
            / count(lit(1)).over(w).cast("double")))
        .where(col("l_quantity") < col("qlim"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
          .as("avg_yearly"))
    },
      """WITH pa AS (
        |  SELECT l_partkey,
        |    0.2 * (CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE)) AS qlim
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN pa ON pa.l_partkey = lineitem.l_partkey
        |WHERE p_brand = 'Brand#3' AND p_size <= 10 AND l_quantity < qlim""".stripMargin),

    // TPC-H Q19 (discounted revenue): three OR'd predicate groups that
    // each mix part and lineitem columns — the disjunctive-pushdown
    // showcase. One broadcast hash join on the part key; the OR residual
    // is evaluated post-join inside the same codegen stage.
    Op("tpch_q19", (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5)
            && col("l_quantity").between(1, 11))
          || (col("p_brand") === "Brand#2" && col("p_size").between(1, 10)
            && col("l_quantity").between(10, 20))
          || (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)
            && col("l_quantity").between(20, 30)))
        .agg(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("revenue")),
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // TPC-H Q22 (global sales opportunity), adapted: nation keys play the
    // phone country codes and "never ordered" becomes "no order since
    // 2000-07-01" (the synthetic keyspace gives every customer at least
    // one order). Scalar-subquery threshold broadcast, NOT EXISTS as a
    // left-anti join on the recent-orders projection.
    Op("tpch_q22", (s, d) => {
      val cust = Tables.customer(s, d).where(col("c_nationkey").isin(1, 3, 5, 7, 9))
      val avgBal = cust.where(col("c_acctbal") > 0)
        .agg((sum(dec(col("c_acctbal"))).cast("double")
          / count(lit(1)).cast("double")).as("avgbal"))
      val recent = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("2000-07-01").cast("timestamp"))
        .select("o_custkey")
      cust.join(broadcast(avgBal)).where(col("c_acctbal") > col("avgbal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy("cntrycode")
    },
      """SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_nationkey IN (1,3,5,7,9)
        |  AND c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE)
        |    FROM customer WHERE c_acctbal > 0 AND c_nationkey IN (1,3,5,7,9))
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // TPC-H Q9 (product type profit), adapted: no partsupp table, so
    // supply cost is proxied at 60% of retail price. The shape is intact:
    // five-table join through the fact, LIKE-filtered part side
    // broadcast, per-(nation, year) exact-decimal profit rollup.
    Op("tpch_q9", (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).where(col("p_name").like("%red%"))),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))
          - dec(lit(0.6) * col("p_retailprice") * col("l_quantity")))
          .cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc),
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |         - CAST(0.6 * p_retailprice * l_quantity AS DECIMAL(18,4)))
        |    AS DOUBLE) AS profit
        |FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    // TPC-H Q21 (suppliers who kept orders waiting), adapted: "late" is
    // shipped >90 days after the order date (no commit/receipt dates).
    // The textbook form double-correlates EXISTS / NOT EXISTS against the
    // SAME fact, which Catalyst decorrelates into a semi + anti join pair
    // — three lineitem shuffles on the order key. Both correlations are
    // per-order set predicates, so this plan folds them into ONE rollup:
    // per (order, supplier) late-row counts (the join and both rollups all
    // hash on the order key, so lineitem is shuffled exactly once — the
    // groupBys reuse the join exchange), then per-order filters
    // n_supps >= 2 (the EXISTS: some other supplier in the order) and
    // n_late_supps == 1 (the NOT EXISTS: no OTHER supplier late; l1's own
    // supplier is late by construction). Each waiting supplier contributes
    // its late ROW count, matching the original COUNT(*) over l1 rows.
    Op("tpch_q21", (s, d) => {
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY")
      val perSupp = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables.orders(s, d).where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(count(when(late, 1)).as("late_rows"))
      val waits = perSupp.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supps"),
          count(when(col("late_rows") > 0, 1)).as("n_late_supps"),
          max(when(col("late_rows") > 0,
            struct(col("l_suppkey"), col("late_rows")))).as("lw"))
        .where(col("n_supps") >= 2 && col("n_late_supps") === 1)
      waits
        .join(broadcast(Tables.supplier(s, d)),
          col("lw.l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum(col("lw.late_rows")).as("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(10)
    },
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |  JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |  JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin),

    // TPC-H Q2 (minimum-cost supplier), adapted: the part-supplier
    // relation is derived from observed lineitem pairs and "cost" is the
    // supplier's account balance (no partsupp). The correlated scalar
    // min decorrelates by hand into a groupBy + equality join — raw
    // stored doubles compared without arithmetic, so the tie test is
    // exact. The region-dim side is broadcast; the pair relation is the
    // one real shuffle.
    Op("tpch_q2", (s, d) => {
      // Only p_size<=5 parts (~10% of the dimension) can reach the output
      // and the per-part MIN is keyed by partkey alone, so the part filter
      // prunes the lineitem pair set BEFORE the distinct's exchange
      // (§2.3 — the broadcast semi join cuts ~90% of the shuffled rows);
      // the qualified (part, supplier) relation is checkpointed once and
      // feeds both the min-bal rollup and the final equality join (the
      // tpch_q11 lesson — otherwise the distinct + joins rebuild twice).
      val pFil = Tables.part(s, d).where(col("p_size") <= 5)
        .select(col("p_partkey"), col("p_name"))
      val ps = Tables.lineitem(s, d)
        .select(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"))
        .join(broadcast(pFil.select("p_partkey")),
          col("p_partkey") === col("partkey"), "leftsemi")
        .distinct()
      val eu = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val pseu = ps.join(eu, col("suppkey") === col("s_suppkey")).localCheckpoint()
      val minBal = pseu.groupBy("partkey").agg(min("s_acctbal").as("min_bal"))
      pseu
        .join(broadcast(pFil), col("p_partkey") === col("partkey"))
        .join(minBal, Seq("partkey"))
        .where(col("s_acctbal") === col("min_bal"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy("s_acctbal", "n_name", "s_name", "p_partkey")
        .limit(20)
    },
      """WITH ps AS (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
        |            FROM lineitem),
        |eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM part JOIN ps ON p_partkey = partkey JOIN eu ON s_suppkey = suppkey
        |WHERE p_size <= 5
        |  AND s_acctbal = (SELECT MIN(eu2.s_acctbal)
        |                   FROM ps ps2 JOIN eu eu2 ON eu2.s_suppkey = ps2.suppkey
        |                   WHERE ps2.partkey = p_partkey)
        |ORDER BY s_acctbal, n_name, s_name, p_partkey LIMIT 20""".stripMargin),

    // TPC-H Q11 (important stock identification), adapted: no partsupp,
    // so a part's "stock value" is the observed supply value — the sum of
    // extended prices its nation-3/19 suppliers shipped. The original's
    // fraction threshold is scale-DEPENDENT (0.0001/SF); here the cut is
    // scale-free: keep parts above 1.5× the average part value, expressed
    // as the cross-multiplied integer-exact decimal comparison
    // val·np·2 > tot·3 (no division, no doubles — both engines compare
    // exact decimals). The per-part rollup shuffles the filtered fact
    // once on l_partkey; the (total, count) threshold is one broadcast
    // row, so the filter is map-side — the same shape the original's
    // HAVING-subquery plan decorrelates to.
    Op("tpch_q11", (s, d) => {
      // localCheckpoint: the rollup feeds BOTH the threshold aggregate and
      // the filter join — without it Spark rebuilds it from the fact twice
      // (two scans + two l_partkey exchanges; PlanShapeSpec guards this)
      val v = Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)
          .where(col("s_nationkey").isin(3, 19))), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("val"))
        .localCheckpoint()
      val t = v.agg(sum(col("val")).as("tot"), count(lit(1)).as("np"))
      v.join(broadcast(t))
        .where(col("val") * col("np") * 2 > col("tot") * 3)
        .select(col("l_partkey"), col("val").cast("double").as("value"))
        .orderBy(desc("value"), col("l_partkey"))
    },
      """WITH v AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS val
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE s_nationkey IN (3, 19) GROUP BY 1),
        |t AS (SELECT SUM(val) AS tot, COUNT(*) AS np FROM v)
        |SELECT l_partkey, CAST(val AS DOUBLE) AS value
        |FROM v, t WHERE val * np * 2 > tot * 3
        |ORDER BY value DESC, l_partkey""".stripMargin),

    // TPC-H Q16 (parts/supplier relationship), adapted: the part-supplier
    // relation is the DISTINCT (l_partkey, l_suppkey) pairs observed in
    // the fact, and "customer complaints" becomes a negative account
    // balance. Shape intact: brand/type/size exclusion filters on the
    // broadcast part side, complaining suppliers removed by a broadcast
    // anti join BEFORE the distinct-supplier rollup, grouped counts
    // ordered by (cnt desc, attrs). The distinct and the count-distinct
    // both hash on the same part-attribute keys.
    Op("tpch_q16", (s, d) => {
      val ps = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey").distinct()
      val complainers = Tables.supplier(s, d)
        .where(col("s_acctbal") < 0).select("s_suppkey")
      ps.join(broadcast(Tables.part(s, d)
          .where(col("p_brand") =!= "Brand#1" && !col("p_type").like("PROMO%")
            && col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(complainers),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    },
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q20 (potential part promotion), adapted: no ps_availqty, so
    // "excess stock" becomes a relative share — a supplier qualifies for
    // a part if its 1997 shipped quantity exceeds half the per-supplier
    // average for that part, i.e. 2·qty·nsup > tot in exact BIGINTs
    // (cross-multiplied; quantities are integral). The correlated inner
    // subquery decorrelates into a per-part rollup joined back on the
    // part key; name-filtered parts are broadcast into the fact scan, the
    // nation filter is a broadcast semi at the end — one fact shuffle on
    // (partkey, suppkey) total.
    Op("tpch_q20", (s, d) => {
      // year(l_shipdate)=1997 as an explicit timestamp range so the
      // predicate REACHES the parquet scan (PushedFilters + row-group
      // min/max skipping, guide §6); year() over a column never pushes.
      // Equivalent under the UTC session zone: year = 1997 ⟺ ts ∈
      // [1997-01-01, 1998-01-01).
      val q = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(broadcast(Tables.part(s, d).where(col("p_name").like("%a%"))
          .select("p_partkey")), col("p_partkey") === col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("bigint")).as("qty"))
      // per-part rollup as a WINDOW over the (partkey, suppkey) aggregate
      // instead of a groupBy + self-join back (guide §2.4: two operations
      // keyed the same way share one exchange): the old shape re-shuffled
      // q twice (agg by l_partkey, join on l_partkey) and sort-merge-
      // joined it with itself; sum/count over the full partition frame
      // compute the identical tot/nsup.
      val wPart = Window.partitionBy("l_partkey")
      q.withColumn("tot", sum("qty").over(wPart))
        .withColumn("nsup", count(lit(1)).over(wPart))
        .where(col("qty") * col("nsup") * 2 > col("tot"))
        .select("l_suppkey").distinct()
        .join(Tables.supplier(s, d).where(col("s_nationkey").isin(7, 11, 19)),
          col("s_suppkey") === col("l_suppkey"))
        .select(col("s_name"), col("s_acctbal"))
        .orderBy("s_name")
    },
      """WITH q AS (
        |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE '%a%' AND year(l_shipdate) = 1997
        |  GROUP BY 1, 2),
        |pp AS (SELECT l_partkey, SUM(qty) AS tot, COUNT(*) AS nsup
        |       FROM q GROUP BY 1)
        |SELECT s_name, s_acctbal
        |FROM (SELECT DISTINCT l_suppkey FROM q JOIN pp USING (l_partkey)
        |      WHERE 2 * qty * nsup > tot) w
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE s_nationkey IN (7, 11, 19)
        |ORDER BY s_name""".stripMargin)
  )
}
