package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Tables` resolves each fixture table's schema from its parquet
  * footer: the schema equals what `spark.read.parquet` infers, no loader
  * call runs a Spark job, and only a TIMESTAMP(NANOS) footer touches the
  * session conf.
  */
class TablesSpec extends AnyFunSuite with SparkFixture {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val MarkerKey = "graft.tables.spec.marker"

  private val loaders = Seq[(String, (SparkSession, String) => DataFrame)](
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
  private val scales = Seq(SparkFixture.sf0001, SparkFixture.sf001,
    s"${new java.io.File(SparkFixture.sf001).getParent}/sf0.1")

  /** The result of `body` and the Spark jobs started while it ran.
    * Listener events arrive in order, so once the start of a marker job
    * submitted after `body` is seen, every job `body` started is counted. */
  private def jobsDuring[T](s: SparkSession)(body: => T): (T, Int) = {
    val starts = new LinkedBlockingQueue[java.lang.Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(
        e.properties != null && e.properties.getProperty(MarkerKey) != null)
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      (result, Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map(m => { assert(m != null, "marker job start never delivered"); m.booleanValue })
        .takeWhile(!_).size)
    } finally sc.removeSparkListener(listener)
  }

  for (d <- scales; (name, load) <- loaders) {
    test(s"$name at ${d.split('/').last}: footer schema equals inference, loader runs no job") {
      val inferred = spark.read.parquet(s"$d/$name.parquet").schema
      assert(Tables.schema(spark, d, name) == inferred)
      val (df, jobs) = jobsDuring(spark)(load(spark, d))
      assert(jobs == 0)
      if (name == "events")
        assert(df.schema.fieldNames.toSeq == inferred.fieldNames.toSeq :+ "ts_us")
      else assert(df.schema == inferred)
    }
  }

  test("a table Spark wrote as a directory resolves from its first data file") {
    val dir = Files.createTempDirectory("tables-dir").toString
    spark.read.parquet(s"$sf/orders.parquet").repartition(3)
      .write.parquet(s"$dir/orders.parquet")
    val (df, jobs) = jobsDuring(spark)(Tables.orders(spark, dir))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(df.count() == spark.read.parquet(s"$sf/orders.parquet").count())
  }

  test("a TIMESTAMP(NANOS) events footer reads ts as raw ns; only it sets nanosAsLong") {
    val dir = Files.createTempDirectory("tables-ns")
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .named("events")
    val ns = Seq(1704067200123456789L, 1704153600000000999L, 1706572799999999999L)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), new Configuration())).withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      ns.zipWithIndex.foreach { case (v, i) =>
        writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", v))
      }
    } finally writer.close()

    val s = spark.newSession()
    val confs = s.conf.getAll
    Tables.events(s, SparkFixture.sf0001)
    assert(s.conf.getAll == confs, "a µs footer must leave the session conf untouched")
    val (ev, jobs) = jobsDuring(s)(Tables.events(s, dir.toString))
    assert(jobs == 0)
    assert(s.conf.getAll == confs + (NanosAsLong -> "true"))
    assert(ev.schema("ts_us").dataType == LongType && ev.schema("ts").dataType == TimestampType)
    val got = ev.orderBy("event_id").select("ts_us").collect().map(_.getLong(0)).toSeq
    assert(got == ns.map(_ / 1000))
  }
}
