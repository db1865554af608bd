package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** What a [[VectorKernel]] folds the element pairs into. */
sealed abstract class Reduction(val terms: Int)

object Reduction {
  /** Σ (xᵢ − yᵢ)². */
  case object SqDist extends Reduction(1)
  /** Σ xᵢ·yᵢ. */
  case object Dot extends Reduction(1)
  /** Σ xᵢ·yᵢ / √(Σ xᵢ² · Σ yᵢ²), the three sums accumulated together. */
  case object Cosine extends Reduction(3)
}

/** One exposed kernel: its SQL name, the element type of both input
  * arrays, and the reduction.
  */
case class Kernel(name: String, elem: DataType, reduction: Reduction)

object Kernel {
  /** Exact integer squared-L2 over quantized embeddings (k-means). */
  val sqDistLong: Kernel = Kernel("sq_dist_long", LongType, Reduction.SqDist)
  /** Squared-L2 over double vectors (PQ assignment and ADC tables). */
  val sqDistDouble: Kernel = Kernel("sq_dist_double", DoubleType, Reduction.SqDist)
  /** The pair-loop kernel when norms are hoisted (s1, Hybrid). */
  val dotProduct: Kernel = Kernel("dot_product", DoubleType, Reduction.Dot)
  val cosineSim: Kernel = Kernel("cosine_sim", DoubleType, Reduction.Cosine)

  /** Every kernel [[Functions.register]] and [[GraftExtensions]] expose. */
  val all: Seq[Kernel] = Seq(sqDistLong, sqDistDouble, dotProduct, cosineSim)
}

/** The native vector kernels: one fused loop over two numeric arrays
  * inside whole-stage codegen. The composed-builtins forms
  * (`aggregate(zip_with(a, b, …), 0, _ + _)`) route every element
  * through higher-order-function lambdas, which evaluate OUTSIDE
  * whole-stage codegen; these are the per-row hot loops of k-means,
  * PQ assignment and similarity scans.
  *
  * One rule set for every kernel, each the composed form's:
  *  - a null element on either side gives null (a null component poisons
  *    the composed fold; `ArrayData.getLong`/`getDouble` would silently
  *    read a null slot as 0, which the per-element check prevents);
  *  - a length mismatch gives null (zip_with pads the short side with
  *    null);
  *  - terms accumulate sequentially, left to right in index order.
  *    Double addition is not associative, so the order is the contract
  *    that makes the result bit-identical to the composed form and to
  *    the DuckDB oracle. Long arithmetic is plain Java (not ANSI-checked):
  *    callers feed quantized embeddings whose component deltas are
  *    ≤ ~2·10⁶, i.e. ~2⁴² per 64-dim sum, 20 bits of headroom;
  *  - cosine of a zero-norm vector is NaN (IEEE 0/0); empty arrays fold
  *    to the seed (0, or NaN for cosine).
  *
  * The plan string and SQL name are the kernel's (`sq_dist_long(a, b)`).
  */
case class VectorKernel(left: Expression, right: Expression, kernel: Kernel)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if l == kernel.elem && r == kernel.elem =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        val t = s"array<${kernel.elem.simpleString}>"
        TypeCheckResult.TypeCheckFailure(
          s"${kernel.name} expects ($t, $t), got ($l, $r)")
    }
  override def dataType: DataType =
    if (kernel.reduction == Reduction.SqDist) kernel.elem else DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // null on a null element or length mismatch
  override def prettyName: String = kernel.name
  override def stringArgs: Iterator[Any] = Iterator(left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (kernel.elem == LongType) fold[Long](a, b, _.getLong(_))
    else fold[Double](a, b, _.getDouble(_))

  private def fold[T](a: Any, b: Any, get: (ArrayData, Int) => T)(
      implicit num: Numeric[T]): Any = {
    import num._
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s0, s1, s2 = num.zero
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = get(x, i)
      val yi = get(y, i)
      kernel.reduction match {
        case Reduction.SqDist => s0 += (xi - yi) * (xi - yi)
        case Reduction.Dot => s0 += xi * yi
        case Reduction.Cosine => s0 += xi * yi; s1 += xi * xi; s2 += yi * yi
      }
      i += 1
    }
    if (kernel.reduction == Reduction.Cosine) s0.toDouble / math.sqrt(s1.toDouble * s2.toDouble)
    else s0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val jt = CodeGenerator.javaType(kernel.elem)
      val get = s"get${CodeGenerator.primitiveTypeName(kernel.elem)}"
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val s = Seq.fill(kernel.reduction.terms)(ctx.freshName("s"))
      val (update, result) = kernel.reduction match {
        case Reduction.SqDist => (s"${s(0)} += ($x - $y) * ($x - $y);", s(0))
        case Reduction.Dot => (s"${s(0)} += $x * $y;", s(0))
        case Reduction.Cosine =>
          (s"${s(0)} += $x * $y; ${s(1)} += $x * $x; ${s(2)} += $y * $y;",
            s"${s(0)} / java.lang.Math.sqrt(${s(1)} * ${s(2)})")
      }
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${s.map(v => s"$jt $v = 0;").mkString(" ")}
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $jt $x = $a.$get($i);
         |    $jt $y = $b.$get($i);
         |    $update
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $result; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorKernel =
    copy(left = newLeft, right = newRight)
}
