package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed-builtins forms of the native vector kernels
  * ([[graft.functions.VectorKernel]]), kept as the semantic spec each
  * kernel is tested bit-identical against (FunctionsSpec): the same
  * sequential left-to-right folds, where a null element or zip_with's
  * null pad (length mismatch) poisons the result to null. Likewise the
  * native aggregate [[graft.functions.VecSum]] against Lloyd's update
  * as it was written before it, one `sum` per component (VecSumSpec).
  */
object ComposedKernels {

  /** Integer squared-L2 over `array<bigint>` (`sq_dist_long`). */
  def sqDistLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Double squared-L2 over `array<double>` (`sq_dist_double`). */
  def sqDistDouble(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Dot product over `array<double>` (`dot_product`). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity over `array<double>` (`cosine_sim`). */
  def cosine(a: Column, b: Column): Column = {
    val na = aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x)
    val nb = aggregate(transform(b, x => x * x), lit(0.0), (acc, x) => acc + x)
    dot(a, b) / sqrt(na * nb)
  }

  /** Weighted component sums (`vec_sum`): `dim` columns of
    * `sum(element_at(v, from + i) * w)`, gathered into one array.
    */
  def vecSum(v: Column, w: Column, from: Column, dim: Int): Column =
    array((1 to dim).map(i => sum(element_at(v, from + i) * w)): _*)
}
