package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session: the engine's own `Sessions.builder` (Hive catalog
  * on embedded Derby, UTC, UI off) at local[4] with 4 shuffle partitions;
  * `GraftExtensions` reaches it through service loading, as it reaches
  * every session. One JVM-wide session keeps the whole test run fast.
  */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  def spark: SparkSession = SparkFixture.spark
  def sf: String = SparkFixture.sf0001
}
