package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The one deployment path: `GraftExtensions` is listed in the class
  * path's `SparkSessionExtensionsProvider` services file, so every session
  * gets the native functions, the whole-operator strategies and the
  * OnePartitionSmallSort runtime rule when it is built, with no conf and
  * no registration call.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkFixture {

  // a child session built from the same extensions, with a fresh function
  // registry and planner: everything asserted below got there at build time
  private lazy val ext: SparkSession = spark.newSession()

  private val ServicesFile = "META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider"

  test("injected functions resolve by name in SQL") {
    val r = ext.sql(
      "SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS c, " +
        "dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 11.0)
  }

  test("every native function resolves on a new session with no extensions conf set") {
    val key = org.apache.spark.sql.internal.StaticSQLConf.SPARK_SESSION_EXTENSIONS.key
    assert(spark.sparkContext.getConf.getOption(key).isEmpty)
    assert(spark.conf.getOption(key).isEmpty)
    assert(System.getProperty(key) == null)
    val r = spark.newSession().sql(
      """SELECT graft_ldot(array(1L, 2L), array(3L, 4L)) AS ldot,
        |  graft_damerau('ca', 'abc') AS dl,
        |  graft_nfc('cafe\u0301') = 'caf\u00e9' AS nfc,
        |  length(graft_nfd('caf\u00e9')) AS nfd_len,
        |  isqrt(99L) AS root,
        |  size(srp_bands(array_repeat(1.0D, 64), 128, 16)) AS bands""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 11L)
    assert(r.getInt(1) == 2)
    assert(r.getBoolean(2))
    assert(r.getInt(3) == 5)
    assert(r.getLong(4) == 9L)
    assert(r.getInt(5) == 8)
  }

  test("srp_bands rejects a plane count that is not a literal, at analysis") {
    val e = intercept[AnalysisException] {
      ext.sql("SELECT srp_bands(array_repeat(1.0D, 64), CAST(id AS INT), 16) FROM range(1)")
    }
    assert(e.getCondition == "NON_FOLDABLE_ARGUMENT", e.getMessage)
    assert(e.getMessage.contains("`planes`"), e.getMessage)
  }

  test("the services file names GraftExtensions and nothing else") {
    val here = classOf[GraftExtensions].getProtectionDomain.getCodeSource.getLocation.toString
    val ours = scala.jdk.CollectionConverters.EnumerationHasAsScala(
      getClass.getClassLoader.getResources(ServicesFile)).asScala
      .filter(_.toString.startsWith(here)).toSeq
    assert(ours.size == 1, ours.mkString(", "))
    val src = scala.io.Source.fromURL(ours.head, "UTF-8")
    val entries = try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    assert(entries == List("graft.GraftExtensions"))
  }

  test("injected strategies are in the session planner") {
    val cls = ext.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val names = cls.sessionState.planner.strategies.map(_.toString)
    assert(names.exists(_.contains("CosineTopKStrategy")), names.mkString(","))
    assert(names.exists(_.contains("AsOfJoinStrategy")))
    assert(names.exists(_.contains("AllPairsCosineStrategy")))
  }
}
