package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave 12 (Round15Ops): archive/container ingest — WebDataset
  * tar shards, zip shards, Hadoop SequenceFile.
  */
class Round15Wave12Spec extends AnyFunSuite with SparkFixture {

  test("source_webdataset_shard: samples regroup, payload bytes conserve") {
    val rows = SparkEntry.queries("source_webdataset_shard")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.expr("doc_id % 5 = 0"))
    assert(rows.map(_.getLong(1)).sum == docs.count())
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * 2) // txt + cls per sample
      assert(r.getLong(3) > 0L)
      assert(r.getString(4).startsWith("sample_"))
    }
    // exact byte conservation against the relational source
    val expectBytes = docs
      .selectExpr("CAST(SUM(octet_length(text)) AS BIGINT)").collect()(0).getLong(0)
    assert(rows.map(_.getLong(3)).sum == expectBytes)
  }

  test("source_zip_shard: member paths carry the metadata, bytes conserve") {
    val rows = SparkEntry.queries("source_zip_shard")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.expr("doc_id % 4 = 1"))
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val expectBytes = docs
      .selectExpr("CAST(SUM(octet_length(text)) AS BIGINT)").collect()(0).getLong(0)
    assert(rows.map(_.getLong(2)).sum == expectBytes)
    rows.foreach(r => assert(r.getString(0).nonEmpty))
  }

  test("source_sequencefile_roundtrip: the K/V container reproduces the rollup") {
    val rows = SparkEntry.queries("source_sequencefile_roundtrip")(spark, sf).collect()
    assert(rows.nonEmpty)
    val expect = Tables.orders(spark, sf)
      .where(org.apache.spark.sql.functions.expr("o_orderkey % 13 = 0"))
    assert(rows.map(_.getLong(1)).sum == expect.count())
    // cents mass conserves through the Writable encode/decode
    val cents = expect
      .selectExpr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
      .collect()(0).getLong(0)
    assert(rows.map(_.getLong(2)).sum == cents)
  }
}
