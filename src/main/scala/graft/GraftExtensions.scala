package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.{AllPairsCosineStrategy, AsOfJoinStrategy, CosineSimilarity, CosineTopKStrategy, DamerauLevenshtein, DotProduct, IntSqrt, LongDotProduct, SrpBands, UnicodeNormalize}
import org.apache.spark.sql.types.IntegerType

/** The one way the engine's native Catalyst code reaches a session. Listed
  * in `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` applies it to every SparkSession built with
  * this library on the class path (and to its `newSession()` children),
  * whatever entry point built it, with no conf to set. Operators never
  * register a function or a strategy themselves: each session gets the
  * native functions, the whole-operator strategies and the AQE runtime
  * rule once, when it is built.
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
    e.injectRuntimeOptimizerRule(_ => OnePartitionSmallSort)
  }

  private def intArg(fn: String, param: String, arg: Expression): Int =
    if (arg.foldable && arg.dataType == IntegerType) arg.eval().asInstanceOf[Int]
    else throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
      "funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
}
