package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-11 wave-2 surface: the Spark Connect
  * serving endpoint (beyond the oracle's wire-invisibility check).
  */
class Round11Wave2Spec extends AnyFunSuite with SparkFixture {

  test("service_connect_endpoint: isolation attested and rollup conserves") {
    val rows = SparkEntry.queries("service_connect_endpoint")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the isolation probe's verdict rides every row and must be TRUE
    rows.foreach(r => assert(r.getBoolean(3), "session isolation not attested"))
    // the rollup through the gRPC wire must conserve the order count
    val total = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total,
      "orders lost or duplicated crossing the Connect wire")
    // statuses are distinct and sorted (ORDER BY survived the wire)
    val statuses = rows.map(_.getString(0)).toSeq
    assert(statuses == statuses.distinct.sorted)
  }

  test("service_connect_endpoint: repeated invocation restarts cleanly") {
    // the op stops the gRPC server after grading — a second call must
    // rebind and re-attest rather than reuse a dead port
    val again = SparkEntry.queries("service_connect_endpoint")(spark, sf).collect()
    assert(again.nonEmpty && again.forall(_.getBoolean(3)))
  }
}
