package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-22 semantics: aspect argmin optimality, Moran bounds,
  * partial-aggregate merge laws, packing ledger invariants. */
class Round12Wave22Spec extends AnyFunSuite with SparkFixture {

  test("mm_aspect_bucket: every image lands in its true argmin bucket") {
    val rows = SparkEntry.queries("mm_aspect_bucket")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(total === nDocs, "partition: every image in exactly one bucket")
    // independent argmin replay on a sample of doc ids
    val buckets = Seq(("1x1", 1L, 1L), ("4x3", 4L, 3L), ("3x4", 3L, 4L),
      ("16x9", 16L, 9L), ("9x16", 9L, 16L))
    val docs = graft.Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).take(50)
    val wantCounts = docs.map { id =>
      val (w, h) = (256 + id * 7 % 1792, 256 + id * 11 % 1792)
      buckets.map { case (n, bw, bh) =>
        ((w * bh - h * bw).abs * (144 / bh), n) }.min._2
    }
    assert(wantCounts.toSet.subsetOf(rows.map(_.getString(0)).toSet))
  }

  test("agg_morans_i: |I| bounded, E[I] identity, W even (symmetric rook)") {
    val r = SparkEntry.queries("agg_morans_i")(spark, sf)
      .collect().head
    val (n, w, den, i, ei) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))
    assert(n > 1 && w > 0 && den >= 0)
    assert(w % 2 === 0, "directed rook pairs come in symmetric twos")
    // sf0.001 is degenerate (every cell count 1 => den 0 => guarded 0)
    if (den == 0) assert(i === 0L)
    else assert(i.abs <= 2000000L, "Moran's I is O(1)-bounded")
    assert(ei === -(1000000L / (n - 1)))
  }

  test("warehouse_mv_incremental: merge equals a direct full aggregate") {
    val got = SparkEntry.queries("warehouse_mv_incremental")(
      spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = graft.Tables.orders(spark, sf)
      .selectExpr("o_orderpriority AS pri",
        "CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents")
      .groupBy("pri")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.sum("cents").as("s"),
        org.apache.spark.sql.functions.min("cents").as("mn"),
        org.apache.spark.sql.functions.max("cents").as("mx"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === want)
  }

  test("llm_concat_packing: spans tile the token stream, straddle law") {
    val rows = SparkEntry.queries("llm_concat_packing")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    var expectStart = 0L
    rows.foreach { r =>
      val (tokens, start, sb, eb, straddle) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5))
      assert(start === expectStart, "spans are contiguous")
      expectStart = start + tokens
      assert(sb === start / 2048)
      assert(eb === (start + tokens - 1) / 2048)
      assert(straddle === (eb > sb))
      assert(tokens >= 1)
    }
  }
}
