package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Whole-operator extension point demo (SURVEY §4 names this exact operator
  * as the first candidate for a custom strategy): top-k-by-cosine as a
  * native LogicalPlan + SparkStrategy + SparkPlan, instead of the
  * cross-join + window-rank composition.
  *
  * Physical algorithm: the (small, bounded) probe set is collected and
  * broadcast; each corpus partition keeps a size-k ordered buffer per probe
  * (partial top-k), and partials merge with a single tiny shuffle keyed by
  * probe — the corpus is scanned exactly once and nothing quadratic is ever
  * materialized. That is the plan one wants against a 100 TB corpus.
  *
  * Determinism matches the composed llm_sim_topk exactly: similarity is
  * rounded to 4 dp BEFORE ranking, ties break on ascending neighbor id.
  *
  * Children are expected to produce (id: Long, emb: Array[Double]) rows.
  */
case class CosineTopK(
    probes: LogicalPlan, corpus: LogicalPlan, k: Int,
    // output attrs are a constructor parameter so tree copies (e.g. during
    // optimizer transforms) keep the same exprIds — regenerating them per
    // copy breaks downstream attribute binding
    output: Seq[Attribute]) extends BinaryNode {
  override def left: LogicalPlan = probes
  override def right: LogicalPlan = corpus
  // the exec consumes both children's (id, emb) columns positionally; without
  // declaring that, ColumnPruning would insert empty projections underneath
  // and the exec would read past zero-field UnsafeRows
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(probes.output ++ corpus.output)
  // this node originates its output attrs (they come from no child)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(probes = newLeft, corpus = newRight)
}

object CosineTopK {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("probe_id", LongType, nullable = false)(),
    AttributeReference("neighbor_id", LongType, nullable = false)(),
    AttributeReference("sim", DoubleType, nullable = false)(),
    AttributeReference("rnk", IntegerType, nullable = false)())
}

case class CosineTopKExec(
    probes: SparkPlan, corpus: SparkPlan, k: Int, output: Seq[Attribute])
    extends BinaryExecNode {
  override def left: SparkPlan = probes
  override def right: SparkPlan = corpus
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  /** (sim desc, neighbor_id asc) ordering on (sim, id) pairs. */
  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  override protected def doExecute(): RDD[InternalRow] = {
    require(k > 0, s"CosineTopK: k must be positive, got $k")
    val kLocal = k
    // the probe set is collected by contract ("small, bounded") — enforce
    // the contract instead of OOMing the driver when a caller passes a
    // corpus-sized frame by mistake
    val maxProbes = SQLConf.get
      .getConfString("graft.topk.maxProbes", "100000").toInt
    val collected = probes.executeCollect()
    require(collected.length <= maxProbes,
      s"CosineTopK: probe side has ${collected.length} rows, over the " +
        s"graft.topk.maxProbes cap of $maxProbes — the probe set is " +
        "broadcast, so pass the bounded side as probes (or raise the cap)")
    // probe norms computed ONCE here, not per (corpus row × probe)
    val probeVecs: Array[(Long, Array[Double], Double)] =
      collected.map { r =>
        val v = r.getArray(1).toDoubleArray()
        var n = 0.0; var i = 0
        while (i < v.length) { n += v(i) * v(i); i += 1 }
        (r.getLong(0), v, math.sqrt(n))
      }
    val bc = sparkContext.broadcast(probeVecs)
    val localOutput = output // don't capture `this` (whole plan tree) in closures

    def topInsert(buf: Array[(Double, Long)], cand: (Double, Long)): Array[(Double, Long)] = {
      // buf kept sorted best-first, length <= k; single binary-search
      // insert instead of a full re-sort per accepted candidate
      if (buf.length >= kLocal && !better(cand, buf(buf.length - 1))) return buf
      var lo = 0; var hi = buf.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (better(buf(mid), cand)) lo = mid + 1 else hi = mid
      }
      val outLen = math.min(buf.length + 1, kLocal)
      val out = new Array[(Double, Long)](outLen)
      System.arraycopy(buf, 0, out, 0, lo)
      out(lo) = cand
      System.arraycopy(buf, lo, out, lo + 1, outLen - lo - 1)
      out
    }

    val partials: RDD[(Long, Array[(Double, Long)])] =
      corpus.execute().mapPartitions { it =>
        val ps = bc.value
        val best = scala.collection.mutable.HashMap.empty[Long, Array[(Double, Long)]]
        it.foreach { row =>
          val id = row.getLong(0)
          val v = row.getArray(1).toDoubleArray()
          // corpus-row norm computed once per row, not once per probe
          var nb = 0.0; var j = 0
          while (j < v.length) { nb += v(j) * v(j); j += 1 }
          val vNorm = math.sqrt(nb)
          var p = 0
          while (p < ps.length) {
            val (pid, pv, pNorm) = ps(p)
            if (pid != id) {
              var dot = 0.0; var i = 0
              val n = math.min(v.length, pv.length)
              while (i < n) { dot += v(i) * pv(i); i += 1 }
              val sim0 = if (pNorm == 0.0 || vNorm == 0.0) 0.0
                         else dot / (pNorm * vNorm)
              // round to 4 dp BEFORE ranking, matching the composed operator
              val sim = BigDecimal(sim0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
              best(pid) = topInsert(best.getOrElse(pid, Array.empty), (sim, id))
            }
            p += 1
          }
        }
        best.iterator
      }

    val merged = partials.reduceByKey { (a, b) =>
      val all = (a ++ b).sortWith(better)
      if (all.length > kLocal) all.take(kLocal) else all
    }

    merged.mapPartitions { it =>
      val proj = UnsafeProjection.create(localOutput.map(_.dataType).toArray)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(4)
      it.flatMap { case (pid, top) =>
        top.iterator.zipWithIndex.map { case ((sim, nid), i) =>
          row.update(0, pid); row.update(1, nid)
          row.update(2, sim); row.update(3, i + 1)
          proj(row).copy()
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(probes = newLeft, corpus = newRight)
}

object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CosineTopK(p, c, k, out) =>
      CosineTopKExec(planLater(p), planLater(c), k, out) :: Nil
    case _ => Nil
  }
}

object CosineTopKApi {
  /** A DataFrame over the native operator (planned by `CosineTopKStrategy`,
    * which `graft.GraftExtensions` installs on every session). */
  def topK(spark: SparkSession, probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"topK: k must be positive, got $k")
    GraftBridge.planNative(spark, Seq(probes, corpus)) {
      case Seq(p, c) => CosineTopK(p, c, k, CosineTopK.freshOutput())
    }
  }
}
