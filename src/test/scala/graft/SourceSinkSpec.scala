package graft

import org.scalatest.funsuite.AnyFunSuite

/** §2.1 sink/source capabilities: parquet round-trip fidelity and CSV/JSON
  * schema inference (the two non-oracle scan ops).
  */
class SourceSinkSpec extends AnyFunSuite with SparkFixture {

  test("parquet write→read round-trip preserves schema and data") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rt_test").toString
    val n = Tables.nation(spark, sf)
    n.write.mode("overwrite").parquet(s"$tmp/n")
    val back = spark.read.parquet(s"$tmp/n")
    assert(back.schema == n.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
  }

  test("csv inferSchema recovers integer columns; json preserves values") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_src_test").toString
    val n = Tables.nation(spark, sf)
    n.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    n.write.mode("overwrite").json(s"$tmp/json")
    val csv = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$tmp/csv")
    val json = spark.read.json(s"$tmp/json")
    assert(csv.count() == 25 && json.count() == 25)
    // inference: keys come back numeric, not string
    assert(csv.schema("n_nationkey").dataType.typeName == "integer")
    assert(json.schema("n_nationkey").dataType.typeName == "long")
    val names = json.orderBy("n_nationkey").collect().map(_.getAs[String]("n_name")).toSeq
    assert(names == n.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq)
  }

  test("orc write→read round-trip preserves schema and data") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_test").toString
    val n = Tables.nation(spark, sf)
    n.write.mode("overwrite").orc(s"$tmp/n")
    val back = spark.read.orc(s"$tmp/n")
    assert(back.schema == n.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
  }

  test("text source reads lines; csv with explicit schema skips inference") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_txt_test").toString
    val n = Tables.nation(spark, sf)
    n.select(org.apache.spark.sql.functions.col("n_name")).write.mode("overwrite").text(s"$tmp/t")
    val lines = spark.read.text(s"$tmp/t")
    assert(lines.count() == 25 && lines.schema.fieldNames.toSeq == Seq("value"))
    n.write.mode("overwrite").option("header", "true").csv(s"$tmp/c")
    val schemed = spark.read.option("header", "true").schema(n.schema).csv(s"$tmp/c")
    assert(schemed.schema == n.schema)
    assert(schemed.count() == 25)
  }

  test("source_csv_badrecords: PERMISSIVE parse semantics, line by line") {
    // run the op once so the corrupt corpus is staged
    val agg = SparkEntry.queries("source_csv_badrecords")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(agg == Set(("clean", 3L, 100L, 3L, 3L), ("corrupt", 3L, 30L, 2L, 2L)))
    // pin the per-line behavior the golden constants derive from (full
    // schema required -> full-parse corruption semantics)
    val rows = spark.read
      .schema("id INT, name STRING, val INT, _corrupt_record STRING")
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(s"${graft.ops.Scratch.dir}/badcsv")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)))).toSet
    assert(rows.size == 6)
    // type error: id+name parse, val nulls, raw line preserved
    assert(rows.contains((Some(1), Some("beta"), None, Some("1,beta,notanint"))))
    // arity-short junk: nothing parses, raw line preserved
    assert(rows.contains((None, None, None, Some("junk-line-no-commas"))))
    // arity-LONG: prefix fields parse but the row IS corrupt under a
    // full-schema read; a PRUNED read that skips `name` calls it clean -
    // the required-schema dependence the op defends against
    assert(rows.contains((Some(2), Some("gamma"), Some(30), Some("2,gamma,30,extra"))))
    val pruned = spark.read
      .schema("id INT, name STRING, val INT, _corrupt_record STRING")
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(s"${graft.ops.Scratch.dir}/badcsv")
      .select("id", "val", "_corrupt_record")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(pruned.contains((Some(2), Some(30), None)),
      "pruned read should miss the arity-long corruption (documented gotcha)")
    // DROPMALFORMED on the same file keeps only the 3 fully-parseable rows
    // (collect(), not count(): count()'s empty required schema parses no
    // columns, detects no malformation, and drops nothing - same
    // required-schema dependence as above)
    val dropped = spark.read.schema("id INT, name STRING, val INT")
      .option("header", "true").option("mode", "DROPMALFORMED")
      .csv(s"${graft.ops.Scratch.dir}/badcsv")
      .collect()
    assert(dropped.map(_.getInt(0)).sorted.toSeq == Seq(0, 3, 4), dropped.mkString("; "))
  }

  test("dedup is idempotent (property)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).withColumn("h", md5(col("text")))
    val once = docs.dropDuplicates("h")
    val twice = once.dropDuplicates("h")
    assert(once.count() == twice.count())
  }

  test("union_distinct == union_all.distinct (property)") {
    val a = Tables.customer(spark, sf).select("c_nationkey")
    val b = Tables.supplier(spark, sf).select("s_nationkey")
    assert(a.union(b).distinct().count() == a.unionAll(b).distinct().count())
  }

  test("sink_parquet_bloom really embeds a bloom filter on o_custkey, and only there") {
    // run the op so the files exist, and sanity the read-back rows
    val rows = SparkEntry.queries("sink_parquet_bloom")(spark, sf).collect()
    assert(rows.nonEmpty)
    val dir = new java.io.File(graft.ops.Scratch.opDir("pqbloom", sf))
    val pf = dir.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(pf.getAbsolutePath), conf))
    try {
      import scala.jdk.CollectionConverters._
      val cols = reader.getFooter.getBlocks.asScala.head.getColumns.asScala
      val byName = cols.map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
      assert(byName("o_custkey") >= 0, s"no bloom on o_custkey: $byName")
      assert(byName("o_orderkey") < 0, "bloom must be scoped to the requested column")
    } finally reader.close()
  }

  test("llm_kmeans_embed: clusters partition the corpus, deterministic across runs") {
    val rows = SparkEntry.queries("llm_kmeans_embed")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val nTotal = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nTotal, "every vector assigned exactly once")
    assert(rows.forall(_.getLong(2) >= 0L))
    // determinism: a second run reproduces the same report
    val again = SparkEntry.queries("llm_kmeans_embed")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}
