package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Native as-of join (SURVEY §2.3 `join_asof` scale path): for every left
  * row, the right row with the same key and the greatest timestamp ≤ the
  * left timestamp (ties on timestamp broken by greatest id). Inner
  * semantics — left rows with no prior right row are dropped — matching
  * DuckDB's `ASOF JOIN`. Caveat: the greatest-id tie-break on EQUAL
  * (key, ts) right rows is this operator's (and the composed window
  * formulation's) deterministic choice; DuckDB's ASOF tie choice for
  * duplicate timestamps is unspecified, so oracle comparisons rely on the
  * fixtures' per-user-unique event timestamps.
  *
  * The composed formulation (ranged join + per-key window rank) materializes
  * every (left, earlier-right) PAIR before the rank-1 filter — quadratic per
  * key. This operator instead declares hash distribution on the key and
  * (key, ts, id) ordering for both children, so the planner inserts one
  * co-partitioning exchange + per-partition sorts, and a single forward
  * merge pass emits exactly one row per matched left row: the plan shape
  * that survives a 100 TB event log.
  *
  * Children must produce exactly (id: Long, key: Long, ts: Long) rows.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    output: Seq[Attribute]) extends BinaryNode {
  // the exec consumes both children's columns positionally; declaring the
  // references stops ColumnPruning from emptying the children (see
  // CosineTopK — an empty projection underneath segfaults the merge)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("l_id", LongType, nullable = false)(),
    AttributeReference("k", LongType, nullable = false)(),
    AttributeReference("l_ts", LongType, nullable = false)(),
    AttributeReference("r_id", LongType, nullable = false)(),
    AttributeReference("r_ts", LongType, nullable = false)())
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan, output: Seq[Attribute])
    extends BinaryExecNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  // both sides hash-partitioned on the key and sorted (key, ts, id) — the
  // planner inserts the exchanges/sorts; the merge below is then a single
  // forward pass per partition. The partition COUNT is pinned on both
  // distributions: zipPartitions needs identical partitioning, and without
  // the pin AQE may coalesce the two shuffles asymmetrically.
  override def requiredChildDistribution: Seq[Distribution] = {
    val n = Some(conf.numShufflePartitions)
    Seq(ClusteredDistribution(Seq(left.output(1)), requiredNumPartitions = n),
      ClusteredDistribution(Seq(right.output(1)), requiredNumPartitions = n))
  }
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(left.output(1), Ascending), SortOrder(left.output(2), Ascending),
      SortOrder(left.output(0), Ascending)),
    Seq(SortOrder(right.output(1), Ascending), SortOrder(right.output(2), Ascending),
      SortOrder(right.output(0), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val localOutput = output // don't capture `this` (whole plan tree) in the closure
    left.execute().zipPartitions(right.execute()) { (lit, rit) =>
      val proj = UnsafeProjection.create(localOutput.map(_.dataType).toArray)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(5)
      val rBuf = rit.buffered
      // latest right row consumed for the current key
      var candKey = 0L; var candTs = 0L; var candId = 0L; var hasCand = false
      lit.flatMap { l =>
        val lId = l.getLong(0); val lKey = l.getLong(1); val lTs = l.getLong(2)
        // consume right rows that can never serve a later left row of an
        // earlier key, tracking the best (= last consumed) row of this key
        while (rBuf.hasNext && {
          val h = rBuf.head
          val hKey = h.getLong(1)
          hKey < lKey || (hKey == lKey && h.getLong(2) <= lTs)
        }) {
          val h = rBuf.next()
          val hKey = h.getLong(1)
          if (hKey == lKey) {
            candKey = hKey; candTs = h.getLong(2); candId = h.getLong(0); hasCand = true
          }
        }
        if (hasCand && candKey == lKey) {
          row.update(0, lId); row.update(1, lKey); row.update(2, lTs)
          row.update(3, candId); row.update(4, candTs)
          Some(proj(row).copy(): InternalRow)
        } else None
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, out) => AsOfJoinExec(planLater(l), planLater(r), out) :: Nil
    case _ => Nil
  }
}

object AsOfJoinApi {
  /** `probes asof corpus`, both shaped (id: Long, key: Long, ts: Long). */
  def asof(spark: SparkSession, leftDf: DataFrame, rightDf: DataFrame): DataFrame =
    GraftBridge.planNative(spark, Seq(leftDf, rightDf)) {
      case Seq(l, r) => AsOfJoin(l, r, AsOfJoin.freshOutput())
    }
}
