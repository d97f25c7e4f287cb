package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Aggregates, Analytics, ApiSurface, DeltaRead, Family, Functions, GraphOps, IcebergRead, Lakehouse, LlmExt, LlmOps, LlmPipeline, LlmPrep, LlmScale, Op, Relational, Round11Ops, Round12Ops, Round12bOps, Round12cOps, Round12dOps, Round13Ops, Round13bOps, Round13cOps, Round14Ops, Round15Ops, Round16Ops, Service, Showcase, StreamingOps, Warehouse, WindowOps}

/** Driver contract — see SURVEY.md §2 (operator inventory) and §7.
  *
  * `queries` and `oracleSql` hold, by name, the build and the DuckDB oracle
  * of every operator that a family in `families` declares.
  */
object SparkEntry {
  /** Flagship query (TPC-H-Q1 pricing summary) on sf0.001; driver
    * smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_group")(spark, "/root/testdata/sf0.001")

  /** Every operator family, each listed once. */
  val families: Seq[Family] = Seq(
    Relational, Aggregates, WindowOps, Functions, StreamingOps, LlmOps, LlmExt, LlmScale,
    LlmPipeline, Showcase, Warehouse, Analytics, LlmPrep, ApiSurface, Lakehouse, GraphOps,
    Service, IcebergRead, DeltaRead, Round11Ops, Round12Ops, Round12bOps, Round12cOps,
    Round12dOps, Round13Ops, Round13bOps, Round13cOps, Round14Ops, Round15Ops, Round16Ops)

  /** Every operator by name. A name taken twice, in one family or in two,
    * throws on first use. */
  private lazy val ops: Map[String, Op] = Family.unique(families.flatMap(_.ops))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map { case (name, op) => name -> op.build }

  /** For each key in `queries`, equivalent SQL runnable by DuckDB on the
    * same parquet tables. */
  lazy val oracleSql: Map[String, String] = ops.map { case (name, op) => name -> op.oracle }
}
