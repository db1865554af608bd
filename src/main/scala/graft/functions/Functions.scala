package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** Column-API forms of the native [[VectorKernel]]s, and their SQL
  * registration.
  */
object Functions {

  private def kernel(k: Kernel)(a: Column, b: Column): Column =
    Bridge.column(VectorKernel(Bridge.expr(a), Bridge.expr(b), k))

  /** `cosine_sim($"a", $"b")` over two `array<double>` columns. */
  def cosine_sim(a: Column, b: Column): Column = kernel(Kernel.cosineSim)(a, b)

  /** `dot_product($"a", $"b")` over two `array<double>` columns: with
    * norms hoisted, `dot / sqrt(na * nb)` is bit-identical to
    * [[cosine_sim]] (same accumulation order, same final expression).
    */
  def dot_product(a: Column, b: Column): Column = kernel(Kernel.dotProduct)(a, b)

  /** `sq_dist_long($"a", $"b")` over two `array<bigint>` columns. */
  def sq_dist_long(a: Column, b: Column): Column = kernel(Kernel.sqDistLong)(a, b)

  /** `sq_dist_double($"a", $"b")` over two `array<double>` columns. */
  def sq_dist_double(a: Column, b: Column): Column = kernel(Kernel.sqDistDouble)(a, b)

  /** Register the native functions for SQL use in an existing session. */
  def register(spark: SparkSession): Unit =
    Kernel.all.foreach(k => spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      k.name, builder(k), "built-in"))

  /** The SQL function builder of `k`, shared by [[register]] and
    * [[GraftExtensions]]: two arguments, or the built-ins' WRONG_NUM_ARGS
    * analysis error naming the function.
    */
  private[functions] def builder(k: Kernel): Seq[Expression] => Expression = {
    case Seq(a, b) => VectorKernel(a, b, k)
    case args => throw Bridge.wrongNumArgs(k.name, 2, args.length)
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects the
  * function library at session build time (the supported path for user
  * clusters; [[Functions.register]] covers sessions we don't build).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Kernel.all.foreach(k => e.injectFunction((
      FunctionIdentifier(k.name),
      new ExpressionInfo(classOf[VectorKernel].getName, k.name),
      Functions.builder(k))))
    e.injectOptimizerRule(_ => SingleElementOverlapToContains)
  }
}
