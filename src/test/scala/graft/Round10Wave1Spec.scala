package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-10 wave-1 surfaces beyond the oracle
  * gate: the embedded SQL serving endpoint (wire-protocol equivalence +
  * cross-connection session isolation) and the graph_hits rewrite.
  */
class Round10Wave1Spec extends AnyFunSuite with SparkFixture {

  test("service_sql_endpoint: JDBC rollup equals the library rollup; sessions isolated") {
    val rows = SparkEntry.queries("service_sql_endpoint")(spark, sf).collect()
    assert(rows.nonEmpty, "endpoint returned no rows")
    // the isolation probe ran two concurrent connections with same-named
    // temp views; any cross-talk flips this column (or fails the op)
    assert(rows.forall(_.getBoolean(3)), "session isolation not proven")
    // wire-protocol equivalence: the JDBC result must match the same
    // rollup computed in-process off the source scan
    val direct = Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
      .orderBy("o_orderstatus").collect()
    assert(rows.length == direct.length)
    rows.zip(direct).foreach { case (j, d) =>
      assert(j.getString(0) == d.getString(0))
      assert(j.getLong(1) == d.getLong(1))
      assert(j.getDouble(2) == d.getDouble(2), s"wire altered the total: $j vs $d")
    }
  }

  test("service_sql_endpoint: the Thrift server binds this JVM's pid-salted port") {
    SparkEntry.queries("service_sql_endpoint")(spark, sf).collect()
    val salted = 10416 + (ProcessHandle.current().pid() % 483).toInt
    assert(graft.ops.Service.thriftPort == salted)
    assert(graft.ops.Service.ensureServer(spark) == salted,
      "the server is not on the port the session asked for")
    val sock = new java.net.Socket()
    try sock.connect(new java.net.InetSocketAddress(
      java.net.InetAddress.getLoopbackAddress, salted), 1000)
    finally sock.close()
  }

  test("graph_hits: normalization invariants hold after the window-max rewrite") {
    val rows = SparkEntry.queries("graph_hits")(spark, SparkFixture.sf001).collect()
    assert(rows.length == 25, "one row per nation")
    // each vector is max-normalized to 1e6 micro-units: max is exactly 1e6,
    // everything in [0, 1e6]
    assert(rows.map(_.getLong(1)).max == 1000000L, "hub max must be 1e6")
    assert(rows.map(_.getLong(2)).max == 1000000L, "auth max must be 1e6")
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 1000000L, s"hub out of range: $r")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000L, s"auth out of range: $r")
    }
  }

  test("source_iceberg_read: tombstone skipped, time-travel consistent, counts conserve") {
    val root = graft.ops.IcebergRead.ensureTable(spark, sf)
    val live1 = graft.ops.IcebergRead.liveFiles(root, Some(1001L))
    val live2 = graft.ops.IcebergRead.liveFiles(root, Some(1002L))
    assert(live1.size == 2 && live2.size == 2)
    // A persists across snapshots; B only in snapshot 1; C only in 2
    assert(live1.exists(_.endsWith("A.parquet")) && live1.exists(_.endsWith("B.parquet")))
    assert(live2.exists(_.endsWith("A.parquet")) && live2.exists(_.endsWith("C.parquet")))
    assert(!live2.exists(_.endsWith("B.parquet")), "DELETED tombstone was served")
    // each snapshot's row count equals its mod-class population
    val rows = SparkEntry.queries("source_iceberg_read")(spark, sf).collect()
    val n = Tables.orders(spark, sf).count()
    val bySnap = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum)
    val c0 = Tables.orders(spark, sf).where(col("o_orderkey") % 3 === 0).count()
    val c1 = Tables.orders(spark, sf).where(col("o_orderkey") % 3 === 1).count()
    assert(bySnap(1001L) == c0 + c1)
    assert(bySnap(1002L) == n - c1)
  }
}
