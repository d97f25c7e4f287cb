package org.apache.spark.sql.graftbridge

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Whole-operator all-pairs cosine threshold sweep (the exact-dedup
  * baseline the LSH family is verified against): emits every unordered pair
  * (a < b) with round(cos, 4) ≥ threshold.
  *
  * Physical algorithm — block-partitioned pair enumeration, fully
  * distributed: each vector is assigned to one of B blocks by id hash, and
  * every row is shuffled to the B block-PAIR partitions its block
  * participates in (pairs (i,j), i ≤ j, laid out triangularly — B(B+1)/2
  * reduce partitions). Each reduce partition then sweeps its one block pair
  * in a tight primitive-array loop: intra-block partitions enumerate
  * unordered pairs once, cross-block partitions the full left×right
  * product. Every unordered pair lands in exactly one partition, so the
  * output is computed exactly once with no join machinery, no row-pair
  * materialization, and — critically for scale — NO driver-side collect and
  * NO corpus broadcast: the child plan executes exactly once, shuffle
  * volume is n·B rows, per-partition memory is O(n/B) vectors, and compute
  * is the unavoidable O(n²·dim) spread evenly over the B(B+1)/2 tasks.
  * Raise `graft.allpairs.blocks` (default ~√(2·parallelism)) to shrink
  * per-task memory on a bigger corpus. The declarative
  * BroadcastNestedLoopJoin formulation (`llm_dedup_embed`) pays per-pair
  * join-row overhead instead. At corpus scale the LSH/banding operators
  * replace the O(n²) sweep; this is the exact baseline, kept fast.
  *
  * Child must produce (id: Long, emb: Array[Double]) rows. Rounding is
  * BigDecimal HALF_UP at 4 dp, matching Spark's `round` and therefore the
  * DuckDB oracle.
  */
case class AllPairsCosine(
    child: LogicalPlan, threshold: Double,
    output: Seq[Attribute]) extends UnaryNode {
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(child.output)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object AllPairsCosine {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("a", LongType, nullable = false)(),
    AttributeReference("b", LongType, nullable = false)(),
    AttributeReference("cos", DoubleType, nullable = false)())
}

case class AllPairsCosineExec(
    child: SparkPlan, threshold: Double, output: Seq[Attribute])
    extends UnaryExecNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val thr = threshold
    val defaultBlocks = {
      // B(B+1)/2 ≈ parallelism → every core gets one block-pair task
      val p = math.max(1, sparkContext.defaultParallelism)
      math.max(2, math.ceil((math.sqrt(8.0 * p + 1) - 1) / 2).toInt)
    }
    val numBlocks = SQLConf.get
      .getConfString("graft.allpairs.blocks", defaultBlocks.toString).toInt
    // fail fast on a bad user conf: 0 would divide-by-zero in executors,
    // negatives break the partitioner, >2048 overflows the triangular count
    require(numBlocks >= 1 && numBlocks <= 2048,
      s"graft.allpairs.blocks must be in [1, 2048], got $numBlocks")
    val numPairParts = numBlocks * (numBlocks + 1) / 2
    val localOutput = output // don't capture `this` (whole plan tree) in closures

    // single pass over the child: extract (id, vec, ||vec||), tag with the
    // B block-pair partitions this row's block participates in
    val tagged: RDD[(Int, (Long, Array[Double], Double))] =
      child.execute().mapPartitions { it =>
        val b = numBlocks
        it.flatMap { r =>
          val id = r.getLong(0)
          val v = r.getArray(1).toDoubleArray()
          var n = 0.0; var k = 0
          while (k < v.length) { n += v(k) * v(k); k += 1 }
          val rec = (id, v, math.sqrt(n))
          val blk = (((id % b) + b) % b).toInt
          (0 until b).iterator.map { other =>
            val i = math.min(blk, other); val j = math.max(blk, other)
            // triangular index of pair (i, j), i <= j
            (i * b - i * (i - 1) / 2 + (j - i), rec)
          }
        }
      }

    val partitioner = new Partitioner {
      override def numPartitions: Int = numPairParts
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }

    tagged.partitionBy(partitioner).mapPartitionsWithIndex { (pidx, it) =>
      val b = numBlocks
      // decode the (i, j) block pair from the triangular partition index
      var i = 0; var rem = pidx
      while (rem >= b - i) { rem -= b - i; i += 1 }
      val j = i + rem

      val proj = UnsafeProjection.create(localOutput.map(_.dataType).toArray)
      val row = new GenericInternalRow(3)

      def cos(x: (Long, Array[Double], Double), y: (Long, Array[Double], Double)): Double = {
        val n = math.min(x._2.length, y._2.length)
        var dot = 0.0; var k = 0
        while (k < n) { dot += x._2(k) * y._2(k); k += 1 }
        val sim0 = if (x._3 == 0.0 || y._3 == 0.0) 0.0 else dot / (x._3 * y._3)
        BigDecimal(sim0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      def emit(x: (Long, Array[Double], Double), y: (Long, Array[Double], Double)): Option[InternalRow] = {
        val sim = cos(x, y)
        if (sim >= thr) {
          val (a, bb) = if (x._1 < y._1) (x._1, y._1) else (y._1, x._1)
          row.update(0, a); row.update(1, bb); row.update(2, sim)
          Some(proj(row).copy(): InternalRow)
        } else None
      }

      if (i == j) {
        // intra-block: every unordered pair once (equal ids never pair,
        // matching the strict id< contract)
        val arr = it.map(_._2).toArray
        (0 until arr.length).iterator.flatMap { p =>
          (p + 1 until arr.length).iterator.flatMap { q =>
            if (arr(p)._1 == arr(q)._1) None else emit(arr(p), arr(q))
          }
        }
      } else {
        // cross-block: full left×right product; ids can't collide across
        // blocks (block is a function of id)
        val left = new ArrayBuffer[(Long, Array[Double], Double)]
        val right = new ArrayBuffer[(Long, Array[Double], Double)]
        it.foreach { case (_, rec) =>
          if ((((rec._1 % b) + b) % b).toInt == i) left += rec else right += rec
        }
        left.iterator.flatMap { x => right.iterator.flatMap { y => emit(x, y) } }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object AllPairsCosineStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AllPairsCosine(c, t, out) => AllPairsCosineExec(planLater(c), t, out) :: Nil
    case _ => Nil
  }
}

object AllPairsCosineApi {
  /** Sweep `vectors` — shaped (id: Long, emb: Array[Double]) — for pairs
    * with cos ≥ threshold. */
  def pairs(spark: SparkSession, vectors: DataFrame, threshold: Double): DataFrame =
    GraftBridge.planNative(spark, Seq(vectors)) {
      case Seq(v) => AllPairsCosine(v, threshold, AllPairsCosine.freshOutput())
    }
}
