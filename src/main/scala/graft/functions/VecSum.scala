package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Exact element-wise weighted vector sum: `vec_sum(v, w, from, dim)` is
  * the `dim`-long array whose component i is `Σ w · v[from + i]` over the
  * group's rows (0-based positions).
  *
  * Declaratively this is `dim` columns of
  * `sum(element_at(v, from + i + 1) * w)` (the composed form the spec
  * holds it to); as a `TypedImperativeAggregate` the buffer is one
  * `long[dim]`, updated in one pass and merged associatively, so a
  * Lloyd's round generates no per-component Java (the composed form
  * generated hundreds of KB of it per round at 64 components).
  *
  * Component by component it keeps `sum`'s rules:
  *  - a null vector, weight or `from`, and a null element, add nothing;
  *    a component nothing was added to is null (as `sum` of no non-null
  *    input is);
  *  - under ANSI (the setting of the session that runs the query, which
  *    the tasks read from the conf Spark ships with them) an overflowing
  *    product or sum raises ARITHMETIC_OVERFLOW; with ANSI off both wrap,
  *    as `sum` and `*` do;
  *  - a position past the vector's end is `element_at`'s out-of-range
  *    case: it raises under ANSI and adds nothing otherwise.
  */
case class VecSum(
    vec: Expression,
    weight: Expression,
    from: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSum.Buf] {

  override def createAggregationBuffer(): VecSum.Buf =
    new VecSum.Buf(new Array[Long](dim), new Array[Boolean](dim))

  @transient private lazy val ansi: Boolean = SQLConf.get.ansiEnabled

  private def add(a: Long, b: Long): Long = if (ansi) MathUtils.addExact(a, b) else a + b

  override def update(b: VecSum.Buf, input: InternalRow): VecSum.Buf = {
    val v = vec.eval(input)
    val w = weight.eval(input)
    val f = from.eval(input)
    if (v != null && w != null && f != null) {
      val a = v.asInstanceOf[ArrayData]
      val wl = w.asInstanceOf[Long]
      val off = f.asInstanceOf[Int]
      val n = a.numElements()
      var i = 0
      while (i < dim) {
        val p = off + i
        if (p < 0 || p >= n) {
          if (ansi) throw Bridge.elementAtOutOfRange(p + 1, n)
        } else if (!a.isNullAt(p)) {
          val x = a.getLong(p)
          b.sums(i) = add(b.sums(i), if (ansi) MathUtils.multiplyExact(x, wl) else x * wl)
          b.seen(i) = true
        }
        i += 1
      }
    }
    b
  }

  override def merge(b: VecSum.Buf, o: VecSum.Buf): VecSum.Buf = {
    var i = 0
    while (i < dim) {
      if (o.seen(i)) {
        b.sums(i) = add(b.sums(i), o.sums(i))
        b.seen(i) = true
      }
      i += 1
    }
    b
  }

  override def eval(b: VecSum.Buf): Any =
    new GenericArrayData(Array.tabulate[Any](dim)(i =>
      if (b.seen(i)) java.lang.Long.valueOf(b.sums(i)) else null))

  override def serialize(b: VecSum.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(dim * 9)
    b.sums.foreach(bb.putLong)
    b.seen.foreach(s => bb.put(if (s) 1.toByte else 0.toByte))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecSum.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val sums = Array.fill(dim)(bb.getLong())
    new VecSum.Buf(sums, Array.fill(dim)(bb.get() != 0))
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, weight.dataType, from.dataType) match {
      case (ArrayType(LongType, _), LongType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (v, w, f) => TypeCheckResult.TypeCheckFailure(
        s"vec_sum expects (array<bigint>, bigint, int), got ($v, $w, $f)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(vec, weight, from)
  override def prettyName: String = "vec_sum"

  override def withNewMutableAggBufferOffset(offset: Int): VecSum =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VecSum =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSum =
    copy(vec = newChildren(0), weight = newChildren(1), from = newChildren(2))
}

object VecSum {
  /** The per-group state: component sums, and whether anything was added
    * to each (an unseen component evaluates to null).
    */
  final class Buf(val sums: Array[Long], val seen: Array[Boolean])

  /** Column-API form: `vec_sum(v, w, from, dim)` as an aggregate
    * expression over `v: array<bigint>`, `w: bigint`, `from: int`.
    */
  def vecSum(v: Column, w: Column, from: Column, dim: Int): Column =
    Bridge.column(VecSum(Bridge.expr(v), Bridge.expr(w), Bridge.expr(from), dim)
      .toAggregateExpression())
}
