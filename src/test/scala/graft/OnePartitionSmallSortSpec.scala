package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `OnePartitionSmallSort` finishes a small global sort over materialized
  * stages in one partition, with the rows in the same order as the range
  * sort, and leaves large or unmaterialized sort inputs alone. */
class OnePartitionSmallSortSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper {

  private val Excluded = "spark.sql.adaptive.optimizer.excludedRules"

  /** The rows of `df`, and the range exchanges and single-partition
    * coalesces of the final adaptive plan that produced them. */
  private def run(df: DataFrame): (Seq[Row], Int, Int) = {
    val rows = df.collect().toSeq
    val plan = df.queryExecution.executedPlan
    val range = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    val one = collect(plan) { case c: CoalesceExec if c.numPartitions == 1 => c }
    (rows, range.size, one.size)
  }

  private def small(s: SparkSession): DataFrame =
    s.range(0, 1000).select((col("id") % 10).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))
      .orderBy(col("s").desc)

  test("a small sort after an aggregate runs without a range exchange, rows in order") {
    val (rows, range, one) = run(small(spark))
    assert(range == 0 && one == 1)
    val off = spark.newSession()
    off.conf.set(Excluded, OnePartitionSmallSort.ruleName)
    val (expected, offRange, _) = run(small(off))
    assert(offRange == 1)
    assert(rows == expected && rows.size == 10)
  }

  test("a sort above the single-partition size keeps the range exchange") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    assert(run(small(s))._2 == 1)
    val advisory = spark.newSession()
    advisory.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    advisory.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b")
    assert(run(small(advisory))._2 == 1)
    val big = spark.range(0, 400000, 1, 4).groupBy((col("id") % 200000).as("k"))
      .agg(sum("id").as("s")).orderBy(col("s"))
    val (rows, range, _) = run(big)
    assert(range == 1 && rows.size == 200000)
  }

  test("a sort directly over a scan keeps the range exchange") {
    val (rows, range, one) = run(Tables.nation(spark, sf).orderBy(col("n_name")))
    assert(range == 1 && one == 0 && rows.size == 25)
  }

  test("every new session gets the rule through the ServiceLoader provider") {
    val rules = spark.newSession().asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.adaptiveRulesHolder.runtimeOptimizerRules
    assert(rules.contains(OnePartitionSmallSort))
  }
}
