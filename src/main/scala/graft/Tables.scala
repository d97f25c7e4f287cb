package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the ten test tables (TESTDATA.md / FIXTURES.md).
  *
  * Plain parquet scans whose schema is read from the table's parquet
  * footer in the calling JVM (`schema`), so building a loader's DataFrame
  * runs no Spark job: `spark.read.parquet` without a schema launches a one-task
  * inference job per call. Nothing is cached; every call re-reads the footer
  * (a few KB) and every action scans the data. Catalyst provides column
  * pruning and predicate pushdown into the scan automatically (SURVEY.md
  * §4), so every operator that selects/filters downstream gets a minimal
  * read for free.
  */
object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The schema `spark.read.parquet` infers for `$sfDir/$name.parquet`,
    * computed as Spark's own per-file inference step computes it
    * (`ParquetFileFormat.readSchemaFromFooter` with the session's converter
    * settings) from the file's footer. A fixture table is one parquet file
    * (TESTDATA.md); a table Spark wrote (as tests stage them) is a directory,
    * whose first data file in path order is the one Spark's inference reads.
    * A footer with a TIMESTAMP(NANOS) column sets
    * `spark.sql.legacy.parquet.nanosAsLong` first: Spark 4.1 refuses such a
    * column otherwise (SURVEY.md §7.3 rule 3), in the schema and in the
    * scan. Any other footer leaves the session conf untouched.
    */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val hadoopConf = state.newHadoopConf()
    val path = new Path(s"$sfDir/$name.parquet")
    val fs = path.getFileSystem(hadoopConf)
    val file = if (fs.getFileStatus(path).isFile) path else
      fs.listStatus(path).filter(_.isFile).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .minBy(_.toString)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, hadoopConf), SKIP_ROW_GROUPS)
    val nanos = footer.getFileMetaData.getSchema.getColumns.asScala.exists(
      _.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })
    if (nanos) spark.conf.set(NanosAsLong, "true")
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }

  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** events.parquet's `ts` column has shipped in three physical flavors
    * across testdata generations: TIMESTAMP(NANOS) (read as raw Long ns via
    * `nanosAsLong`, which `schema` sets for exactly this footer type),
    * TIMESTAMP(MICROS) isAdjustedToUTC=false (read as TIMESTAMP_NTZ), and
    * TIMESTAMP(MICROS) isAdjustedToUTC=true (TIMESTAMP LTZ). The footer
    * schema picks the branch. All three normalize to the same two columns,
    * so every operator downstream is generation-independent:
    *   - `ts_us`: Long epoch microseconds (ns truncated exactly like
    *     DuckDB's parquet reader truncates TIMESTAMP_NS; NTZ interpreted as
    *     UTC wall-clock, matching DuckDB's naive `epoch_us(ts)`) — used for
    *     all ordering/interval comparisons;
    *   - `ts`: µs-precision TimestampType — used for calendar bucketing and
    *     string formatting (second precision in all emitted output).
    * All session entry points pin spark.sql.session.timeZone=UTC, so the
    * NTZ→LTZ cast below is exact and tz-independent.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    val tsUs = raw.schema("ts").dataType match {
      case LongType         => expr("ts DIV 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case _                => unix_micros(col("ts"))
    }
    raw
      .withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }
}
