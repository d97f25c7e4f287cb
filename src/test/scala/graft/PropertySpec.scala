package graft

import graft.ops.{duckMd5Bits, md5Bits}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests (SURVEY §5.2, ScalaCheck 1.18): generated inputs,
  * each property checked over one batched DataFrame evaluation (a Spark job
  * per ScalaCheck case would be prohibitively slow, so cases are sampled
  * from Gen with a fixed seed and asserted in bulk).
  */
class PropertySpec extends AnyFunSuite with SparkFixture {

  private def sample[T](g: Gen[T], n: Int): Seq[T] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => g.apply(params, rng.Seed(42L + i)))
  }

  test("DotProduct equals the plain-Scala fold for generated vectors") {
    val vec = Gen.listOfN(16, Gen.choose(-10.0, 10.0))
    val pairs = sample(Gen.zip(vec, vec), 40)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      pairs.map { case (a, b) => Row(a, b) }.asJava,
      StructType(Seq(StructField("a", ArrayType(DoubleType)),
        StructField("b", ArrayType(DoubleType)))))
    val got = df.select(call_function("dot_product", col("a"), col("b")))
      .collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      val ref = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      assert(g == ref, s"dot($a, $b)")
    }
  }

  test("saltedJoin is row-identical to the plain inner join on generated tables") {
    import scala.jdk.CollectionConverters._
    // skewed key space so salting actually has hot keys to spread
    val keyGen = Gen.frequency(7 -> Gen.const(1L), 3 -> Gen.choose(1L, 20L))
    val bigRows = sample(Gen.zip(keyGen, Gen.choose(0L, 1000L)), 300)
    val smallRows = (1L to 20L).map(k => (k, k * 100))
    val bigSchema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val smallSchema = StructType(Seq(StructField("sk", LongType), StructField("sv", LongType)))
    val big = spark.createDataFrame(bigRows.map { case (k, v) => Row(k, v) }.asJava, bigSchema)
    val small = spark.createDataFrame(smallRows.map { case (k, v) => Row(k, v) }.asJava, smallSchema)
    for (salt <- Seq(1, 3, 8)) {
      val salted = graft.ops.Scale.saltedJoin(big, small, col("k"), col("sk"), salt)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      val plain = big.join(small, col("k") === col("sk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      assert(salted.toSeq == plain.toSeq, s"salt=$salt")
    }
  }

  test("closeBars(priceTicks) closes each day on the last tick by (ts_us, event_id), ties included") {
    import scala.jdk.CollectionConverters._
    val dayUs = 86400000000L
    // five one-second slots per day, so many ticks share a ts_us and the
    // event_id tie-break decides the close
    val drawn = sample(Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 3L),
      Gen.choose(0L, 4L), Gen.choose(-50000L, 50000L)), 300)
    val ids = new scala.util.Random(7).shuffle(drawn.indices.map(_.toLong))
    val ticks = drawn.zip(ids).map { case ((t, day, slot, c), id) =>
      (t, id, day * dayUs + slot * 1000000L, c / 100.0) }
    val df = spark.createDataFrame(
      ticks.map { case (t, id, ts, v) => Row(t, id, ts, v) }.asJava,
      StructType(Seq(StructField("event_type", StringType), StructField("event_id", LongType),
        StructField("ts_us", LongType), StructField("value", DoubleType))))
    val got = graft.ops.closeBars(graft.ops.priceTicks(df)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byDay = ticks.groupBy { case (t, _, ts, _) => (t, ts / dayUs) }
    val want = byDay.map { case (k, g) =>
      k -> math.floor(g.maxBy { case (_, id, ts, _) => (ts, id) }._4 * 100).toLong }
    assert(got == want)
    val tiedCloses = byDay.values.count { g =>
      val last = g.map(_._3).max
      g.count(_._3 == last) > 1
    }
    assert(tiedCloses > 0, "no day closes on a tied ts_us")
  }

  test("conv(substring(md5)) 60-bit hash matches a JVM reference for generated strings") {
    import scala.jdk.CollectionConverters._
    val strGen = Gen.listOfN(12, Gen.alphaNumChar).map(_.mkString)
    val strs = sample(strGen, 40).distinct
    val df = spark.createDataFrame(
      strs.map(Row(_)).asJava,
      StructType(Seq(StructField("s", org.apache.spark.sql.types.StringType))))
    // every width an operator draws, plus one draw that starts at digit 2
    val draws = Seq(1, 2, 4, 6, 8, 10, 12, 15).map(w => (w, 1)) :+ ((15, 2))
    val got = df.select(draws.map { case (w, from) => expr(md5Bits("s", w, from)) }: _*)
      .collect()
    val mdRef = java.security.MessageDigest.getInstance("MD5")
    strs.zip(got).foreach { case (s, row) =>
      val hex = mdRef.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      draws.zipWithIndex.foreach { case ((w, from), i) =>
        val want = java.lang.Long.parseLong(hex.substring(from - 1, from - 1 + w), 16)
        assert(row.getLong(i) == want, s"md5Bits($s, $w, $from)")
      }
    }
    // a draw must fit a signed BIGINT and stay inside the 32-digit hash
    assertThrows[IllegalArgumentException](md5Bits("s", 0))
    assertThrows[IllegalArgumentException](md5Bits("s", 16))
    assertThrows[IllegalArgumentException](duckMd5Bits("s", 16))
    assertThrows[IllegalArgumentException](md5Bits("s", 15, 19))
  }
}
