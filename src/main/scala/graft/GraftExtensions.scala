package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.{AllPairsCosineStrategy, AsOfJoinStrategy, CosineSimilarity, CosineTopKStrategy, DamerauLevenshtein, DotProduct, IntSqrt, LongDotProduct, SrpBands, UnicodeNormalize}
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** The one way the engine's native Catalyst code reaches a session. Listed
  * in `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` applies it to every SparkSession built with
  * this library on the class path (and to its `newSession()` children),
  * whatever entry point built it, with no conf to set. Operators never
  * register a function or a strategy themselves: each session gets the
  * native functions, the whole-operator strategies, the domain optimizer
  * rule and the AQE runtime rule once, when it is built.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(e: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("cosine_sim", classOf[CosineSimilarity])(a => CosineSimilarity(a(0), a(1)))
    fn("dot_product", classOf[DotProduct])(a => DotProduct(a(0), a(1)))
    fn("graft_ldot", classOf[LongDotProduct])(a => LongDotProduct(a(0), a(1)))
    fn("isqrt", classOf[IntSqrt])(a => IntSqrt(a(0)))
    fn("graft_damerau", classOf[DamerauLevenshtein])(a => DamerauLevenshtein(a(0), a(1)))
    fn("graft_nfc", classOf[UnicodeNormalize])(a => UnicodeNormalize(a(0), "NFC"))
    fn("graft_nfd", classOf[UnicodeNormalize])(a => UnicodeNormalize(a(0), "NFD"))
    // srp_bands(emb, planes, bits): the plane matrix is a plan constant
    // built on the driver, so its geometry must be known at analysis
    fn("srp_bands", classOf[SrpBands])(a => SrpBands(a(0),
      ops.LlmScale.srpPlanes(intArg("srp_bands", "planes", a(1))),
      intArg("srp_bands", "bits", a(2))))
    e.injectPlannerStrategy(_ => CosineTopKStrategy)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => AllPairsCosineStrategy)
    e.injectOptimizerRule(_ => SelfCosineIdentity)
    e.injectRuntimeOptimizerRule(_ => OnePartitionSmallSort)
  }

  private def intArg(fn: String, param: String, arg: Expression): Int =
    if (arg.foldable && arg.dataType == IntegerType) arg.eval().asInstanceOf[Int]
    else throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
      "funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
}

/** Domain optimizer rule: cosine of an expression with ITSELF is rewritten
  * from the 3n-multiplication similarity to d/d over a single
  * self-dot-product d = dot(x, x) — n multiplications, and every edge
  * case falls out of the division itself: NULL input → d NULL → NULL
  * result; a NaN/±Inf element → d NaN/Inf → NaN (matching the full
  * expression's Inf/Inf); zero vector → guarded to the engine's 0.0
  * convention (CosineSimilarity.scala). For finite nonzero vectors the
  * result is the exact mathematical 1.0 (the unrewritten float
  * computation can land 1 ulp off 1.0 — the rewrite is the MORE accurate
  * value, documented as intentional canonicalization). Self-pairs slip
  * into real plans when a dedup self-join's `a < b` guard is relaxed to
  * `a <= b` or a probe set overlaps the corpus.
  */
object SelfCosineIdentity extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(l, r) if l.deterministic && l.semanticEquals(r) =>
        val d = DotProduct(l, l)
        If(org.apache.spark.sql.catalyst.expressions.EqualTo(
            d, Literal(0.0, DoubleType)),
          Literal(0.0, DoubleType),
          org.apache.spark.sql.catalyst.expressions.Divide(d, d))
    }
}
