package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Thin bridge to Spark's `private[sql]` `Dataset.ofRows`, so the native
  * whole-operator APIs (as-of join, cosine top-k, all-pairs sweep) can
  * wrap their logical nodes in a DataFrame. It lives under
  * org.apache.spark.sql for that access only. The strategies that plan
  * those nodes, like the native functions, are installed on every session
  * when it is built, by `graft.GraftExtensions`.
  */
object GraftBridge {
  /** Wrap the node built from the children's ALREADY-analyzed plans
    * (re-running the analyzer on an analyzed plan is wasted work) in a
    * DataFrame. */
  def planNative(spark: SparkSession, children: Seq[DataFrame])(
      build: Seq[LogicalPlan] => LogicalPlan): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(
      classic, build(children.map(_.queryExecution.analyzed)))
  }
}
