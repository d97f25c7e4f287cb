package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for round-11 wave 3: Iceberg write-side commit and the
  * grant-catalog access layer.
  */
class Round11Wave3Spec extends AnyFunSuite with SparkFixture {

  test("sink_iceberg_append: time travel stable, head serves full corpus") {
    val rows = SparkEntry.queries("sink_iceberg_append")(spark, sf).collect()
    val total = Tables.orders(spark, sf).count()
    val bySnap = rows.groupBy(_.getLong(0))
    assert(bySnap.keySet == Set(1002L, 1003L))
    // pre-append snapshot still tombstones the %3=1 slice
    assert(bySnap(1002L).map(_.getLong(2)).sum < total)
    // appended head restores it: every order served exactly once
    assert(bySnap(1003L).map(_.getLong(2)).sum == total)
  }

  test("sink_iceberg_append: CAS re-entry is idempotent (no double-commit)") {
    val a = SparkEntry.queries("sink_iceberg_append")(spark, sf).collect()
    val b = SparkEntry.queries("sink_iceberg_append")(spark, sf).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted),
      "a second run must replay the committed snapshot, not re-append")
  }

  test("warehouse_grants: denials serve zero, grants serve the policy rollup") {
    val rows = SparkEntry.queries("warehouse_grants")(spark, sf).collect()
    assert(rows.length == 12, "4 principals x 3 objects")
    val byKey = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // intern holds no grants: all denied, all zero
    Seq("rls_admin", "rls_analyst", "rls_regional").foreach { o =>
      val r = byKey(("intern", o))
      assert(!r.getBoolean(2) && r.getLong(3) == 0L && r.getLong(4) == 0L)
    }
    // admin sees everything; the admin object serves the full corpus
    assert(byKey(("admin", "rls_admin")).getBoolean(2))
    assert(byKey(("admin", "rls_admin")).getLong(3) ==
      Tables.orders(spark, sf).count())
    // regional_user reaches ONLY its object
    assert(byKey(("regional_user", "rls_regional")).getBoolean(2))
    assert(!byKey(("regional_user", "rls_admin")).getBoolean(2))
    assert(!byKey(("regional_user", "rls_analyst")).getBoolean(2))
    // a granted rollup equals the same principal-independent policy rollup
    assert(byKey(("admin", "rls_regional")).getLong(4) ==
      byKey(("regional_user", "rls_regional")).getLong(4))
  }
}
