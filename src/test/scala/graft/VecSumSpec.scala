package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VecSum
import graft.ops.{ComposedKernels, Kmeans}

/** `vec_sum` ([[VecSum]]) against its composed form
  * ([[ComposedKernels.vecSum]], Lloyd's per-component `sum` update as it
  * was written before the native aggregate): the aggregate itself, and
  * whole `lloyd` runs whose only difference is the update — centroids
  * and final assignments must be EQUAL, on weighted twins, PQ slicing,
  * null elements and vectors, and overflow with ANSI on and off.
  */
class VecSumSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  private val vecType = ArrayType(LongType, containsNull = true)

  /** A component-sum aggregate: `vec_sum`'s column form or the composed one. */
  private type Update = (Column, Column, Column, Int) => Column

  /** `(id, q)` rows; a null `q` is a null vector, a null element a null
    * component.
    */
  private def corpus(rows: Seq[(Long, Seq[java.lang.Long])]): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, q) => Row(id, q) }.asJava,
      StructType(Seq(StructField("id", LongType), StructField("q", vecType))))

  private def rand(seed: Int, n: Int, len: Int, dup: Int): Seq[(Long, Seq[java.lang.Long])] = {
    val r = new Random(seed)
    val distinct = Seq.fill(n)(Seq.fill(len)(java.lang.Long.valueOf(r.nextLong() % 1000000L)))
    // Copy c of vector i has id c·n + i (1 to `dup` copies by i % 3):
    // ids 0..n-1 are the first copies, so the first k rows seed k
    // distinct centroids.
    for (c <- 0 until dup; (v, i) <- distinct.zipWithIndex if c == 0 || (i % 3) < c)
      yield ((c * n + i).toLong, v)
  }

  private def init(rows: Seq[(Long, Seq[java.lang.Long])], k: Int, dim: Int,
      subs: Int): Seq[(Int, Long, Seq[Long])] =
    (for (b <- 0 until subs; (id, q) <- rows.take(k))
      yield (b, id, q.slice(b * dim, (b + 1) * dim).map(_.longValue))).sortBy(c => (c._1, c._2))

  /** Native and composed `lloyd` over the same input: (centroids, sorted
    * assignment rows) of each.
    */
  private def both(e: DataFrame, in: Seq[(Int, Long, Seq[Long])], dim: Int,
      collapse: Boolean) = {
    def run(vs: Update) = {
      val (a, c) = Kmeans.lloyd(e, in, iters = 3, dim = dim, collapse = collapse, vecSum = vs)
      (c, a.collect().map(_.toString).sorted.toSeq)
    }
    (run(VecSum.vecSum), run(ComposedKernels.vecSum))
  }

  private def overflowed(f: => Any): Boolean =
    try { f; false } catch {
      case t: Throwable =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
          case s: SparkThrowable => s.getCondition == "ARITHMETIC_OVERFLOW"
          case _ => false
        }
    }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("vec_sum ≡ per-component sums, merged across partitions, nulls and short vectors") {
    val rows = rand(7, 40, 6, 3) ++ Seq[(Long, Seq[java.lang.Long])](
      (900L, null), // null vector
      (901L, Seq[java.lang.Long](5L, null, 7L, null, 9L, 1L)), // null elements
      (902L, Seq[java.lang.Long](3L, 4L))) // short: positions past its end
    val df = corpus(rows)
      .select(col("id"), col("q"), (col("id") % 4).as("g"),
        (col("id") % 5 + 1).as("w"), (col("id") % 2).cast("int").as("from"))
      .union(corpus(Seq((903L, Seq[java.lang.Long](1L, 2L, 3L, 4L, 5L, 6L))))
        .select(col("id"), col("q"), lit(0L).as("g"), lit(null).cast("long").as("w"),
          lit(0).as("from"))) // null weight
    def agg(parts: Int, f: Update) =
      df.repartition(parts).groupBy("g")
        .agg(f(col("q"), col("w"), col("from"), 5).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1)).toMap
    withAnsi(on = false) {
      val ref = agg(1, ComposedKernels.vecSum)
      assert(agg(1, VecSum.vecSum) == ref)
      assert(agg(7, VecSum.vecSum) == ref, "partial-buffer merge changed the sums")
    }
    // Under ANSI an out-of-range position raises, as element_at's does.
    withAnsi(on = true) {
      def raises(f: => Any) = intercept[Throwable](f)
      raises(agg(3, VecSum.vecSum))
      raises(agg(3, ComposedKernels.vecSum))
    }
    // A component no non-null element reached is null, as sum's is.
    val onlyNull = corpus(Seq((0L, Seq[java.lang.Long](1L, null)), (1L, null)))
      .agg(VecSum.vecSum(col("q"), lit(2L), lit(0), 2).as("s"))
      .head().getSeq[java.lang.Long](0)
    assert(onlyNull == Seq[java.lang.Long](2L, null))
  }

  test("lloyd: random signed longs with weights above 1 — native ≡ composed") {
    val rows = rand(11, 60, 8, 4)
    val e = corpus(rows)
    for (collapse <- Seq(true, false)) {
      val (n, c) = both(e, init(rows, 4, 8, 1), 8, collapse)
      assert(n == c, s"collapse=$collapse: native and composed lloyd diverged")
    }
  }

  test("lloyd: PQ slicing (4 subspaces × 16) — native ≡ composed") {
    val rows = rand(13, 50, 64, 3)
    val (n, c) = both(corpus(rows), init(rows, 8, 16, 4), 16, collapse = true)
    assert(n._1.map(t => (t._1, t._2)).toSet
      == (for (b <- 0 until 4; k <- 0 until 8) yield (b, k.toLong)).toSet)
    assert(n == c)
  }

  test("lloyd: null elements and null vectors add nothing but count in n; " +
    "an all-null component keeps its centroid's value") {
    // Any null element makes every distance null, and a null distance
    // sorts first, so null-bearing rows all land in the smallest cell:
    // cell 0, seeded far from every row, gets ONLY them.
    val far = Seq(1000000L, 1000000L, 1000000L, 1000000L)
    val rows = Seq[(Long, Seq[java.lang.Long])](
      (1L, Seq[java.lang.Long](1L, 2L, 3L, 4L)),
      (2L, Seq[java.lang.Long](5L, -2L, 0L, 8L)),
      (3L, Seq[java.lang.Long](-3L, 4L, 1L, 2L)),
      (4L, null), (5L, null),
      (6L, Seq[java.lang.Long](7L, null, 9L, 10L)))
    val in = Seq((0, 0L, far), (0, 1L, Seq(1L, 2L, 3L, 4L)))
    for (collapse <- Seq(true, false)) {
      val (n, c) = both(corpus(rows), in, 4, collapse)
      assert(n == c, s"collapse=$collapse")
      // Cell 0 holds the two null vectors and row 6: n = 3, so its
      // components are floorDiv(7, 3), kept (only nulls reached it),
      // floorDiv(9, 3) and floorDiv(10, 3).
      assert(n._1.head == ((0, 0L, Seq(2L, 1000000L, 3L, 3L))), n._1)
    }
  }

  test("lloyd: overflow raises under ANSI and wraps identically with ANSI off") {
    // Every distance is small (the vectors sit together near 2^61), but
    // the sum of any four rows' first components passes Long.MaxValue.
    val big = Long.MaxValue / 3
    val rows = (0 until 8).map(i =>
      (i.toLong, Seq[java.lang.Long](big + i, big - i, big, 3L * i)))
    val e = corpus(rows)
    val in = init(rows, 2, 4, 1)
    withAnsi(on = true) {
      assert(overflowed(Kmeans.lloyd(e, in, iters = 1, dim = 4)))
      assert(overflowed(Kmeans.lloyd(e, in, iters = 1, dim = 4,
        vecSum = ComposedKernels.vecSum)))
    }
    withAnsi(on = false) {
      for (collapse <- Seq(true, false)) {
        val (n, c) = both(e, in, 4, collapse)
        assert(n == c, s"collapse=$collapse")
      }
    }
  }
}
