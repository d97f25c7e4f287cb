package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Aggregates, Analytics, ApiSurface, DeltaRead, Family, Functions, GraphOps, IcebergRead, Lakehouse, LlmExt, LlmOps, LlmPipeline, LlmPrep, LlmScale, Relational, Round11Ops, Round12Ops, Round12bOps, Round12cOps, Round12dOps, Round13Ops, Round13bOps, Round13cOps, Round14Ops, Round15Ops, Round16Ops, Service, Showcase, StreamingOps, Warehouse, WindowOps}

/** Driver contract — see /root/repo/SURVEY.md §2 (operator inventory) and §7.
  *
  * `queries` holds one entry per implemented operator; `oracleSql` holds the
  * DuckDB-equivalent SQL for every oracle-verified operator (non-SQL-
  * expressible ops — approximate/streaming/side-effecting — are ScalaTest-
  * verified instead and intentionally absent from `oracleSql`).
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

  /** One entry per implemented operator from SURVEY.md §2. A name taken by
    * two families throws on first use. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Family.unique(families.flatMap(_.queries): _*)

  /** For each oracle-verified key in `queries`, equivalent SQL runnable by
    * DuckDB on the same parquet tables. */
  lazy val oracleSql: Map[String, String] = Family.unique(families.flatMap(_.oracles): _*)
}
