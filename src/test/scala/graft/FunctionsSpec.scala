package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Functions
import graft.ops.{ComposedKernels, Similarity}

/** The native vector kernels must be bit-identical to the
  * composed-builtins recurrences they replace (oracle results are
  * hash-compared — an ulp of drift is a correctness failure, not noise).
  */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  test("native cosine == composed cosine, bit for bit, over real embeddings") {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(5000)
      .select(
        Functions.cosine_sim(col("a.v"), col("b.v")).as("native"),
        ComposedKernels.cosine(col("a.v"), col("b.v")).as("composed"))
    assert(pairs.filter(col("native") =!= col("composed")).count() == 0)
    assert(pairs.filter(col("native").isNull).count() == 0)
  }

  test("native sq_dist_long == composed integer squared-L2, incl. edge cases") {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), graft.ops.Kmeans.quantize(col("embedding")).as("q"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(5000)
      .select(
        Functions.sq_dist_long(col("a.q"), col("b.q")).as("native"),
        ComposedKernels.sqDistLong(col("a.q"), col("b.q")).as("composed"))
    assert(pairs.filter(col("native") =!= col("composed")).count() == 0)
    assert(pairs.filter(col("native").isNull).count() == 0)
    // identical vectors → 0; length mismatch → null (like the composed
    // zip_with null pad); empty arrays → 0
    val edge = Seq(
      (Seq(1L, 2L), Seq(1L, 2L)),
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
      .select(Functions.sq_dist_long($"a", $"b").as("d"))
      .as[Option[Long]].collect().toSeq
    assert(edge == Seq(Some(0L), Some(0L)))
    val mism = Seq((Seq(1L, 2L), Seq(1L)))
      .toDF("a", "b")
      .select(Functions.sq_dist_long($"a", $"b").as("d"))
      .as[Option[Long]].collect().toSeq
    assert(mism == Seq(None))
    // Null ELEMENTS poison the distance to null, exactly like the
    // composed zip_with fold — ArrayData.getLong would silently read a
    // null slot as 0 without the explicit per-element checks.
    val withNulls = Seq(
      (Seq(Some(1L), None, Some(3L)), Seq(Some(1L), Some(2L), Some(3L))),
      (Seq(Some(1L), Some(2L)), Seq(Some(4L), Some(6L))))
      .toDF("a", "b")
      .select(
        Functions.sq_dist_long($"a", $"b").as("native"),
        ComposedKernels.sqDistLong($"a", $"b").as("composed"))
      .as[(Option[Long], Option[Long])].collect().toSeq
    assert(withNulls == Seq((None, None), (Some(25L), Some(25L))))
  }

  test("native sq_dist_double == composed double squared-L2, incl. edge cases") {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(5000)
      .select(
        Functions.sq_dist_double(col("a.v"), col("b.v")).as("native"),
        ComposedKernels.sqDistDouble(col("a.v"), col("b.v")).as("composed"))
    assert(pairs.filter(col("native") =!= col("composed")).count() == 0)
    assert(pairs.filter(col("native").isNull).count() == 0)
    // identical vectors → 0.0; empty arrays → 0.0 (the fold's seed);
    // length mismatch → null (like the composed zip_with null pad)
    val edge = Seq(
      (Seq(1.5, -2.0), Seq(1.5, -2.0)),
      (Seq.empty[Double], Seq.empty[Double]))
      .toDF("a", "b")
      .select(Functions.sq_dist_double($"a", $"b").as("d"))
      .as[Option[Double]].collect().toSeq
    assert(edge == Seq(Some(0.0), Some(0.0)))
    val mism = Seq((Seq(1.0, 2.0), Seq(1.0)))
      .toDF("a", "b")
      .select(Functions.sq_dist_double($"a", $"b").as("d"))
      .as[Option[Double]].collect().toSeq
    assert(mism == Seq(None))
    // Null ELEMENTS poison the distance to null, exactly like the
    // composed zip_with fold — ArrayData.getDouble would silently read a
    // null slot as 0.0 without the explicit per-element checks.
    val withNulls = Seq(
      (Seq(Some(1.0), None, Some(3.0)), Seq(Some(1.0), Some(2.0), Some(3.0))),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(4.0), Some(6.0))))
      .toDF("a", "b")
      .select(
        Functions.sq_dist_double($"a", $"b").as("native"),
        ComposedKernels.sqDistDouble($"a", $"b").as("composed"))
      .as[(Option[Double], Option[Double])].collect().toSeq
    assert(withNulls == Seq((None, None), (Some(25.0), Some(25.0))))
  }

  test("every native kernel ≡ its composed reference on null elements, " +
    "length mismatch and empty arrays, interpreted and codegen'd") {
    // Rows 0-2 must be null: a null element on either side, then a length
    // mismatch. Over a local relation the optimizer folds the projection
    // with the interpreted loop; after a repartition it runs codegen'd.
    def rows[T](one: T, two: T, three: T, five: T) = Seq(
      (0, Seq(Some(one), None, Some(three)), Seq(Some(one), Some(two), Some(three))),
      (1, Seq(Some(one), Some(two)), Seq(None, Some(two))),
      (2, Seq(Some(one), Some(two), Some(five)), Seq(Some(one), Some(two))),
      (3, Seq.empty[Option[T]], Seq.empty[Option[T]]),
      (4, Seq(Some(one), Some(five)), Seq(Some(three), Some(two))))
    val longs = rows(1L, 2L, 3L, 5L).toDF("i", "a", "b")
    val doubles = rows(1.5, -2.0, 3.25, 5.0).toDF("i", "a", "b")
    val kernels: Seq[(String, org.apache.spark.sql.DataFrame,
        (Column, Column) => Column, (Column, Column) => Column)] = Seq(
      ("sq_dist_long", longs, Functions.sq_dist_long, ComposedKernels.sqDistLong),
      ("sq_dist_double", doubles, Functions.sq_dist_double, ComposedKernels.sqDistDouble),
      ("dot_product", doubles, Functions.dot_product, ComposedKernels.dot),
      ("cosine_sim", doubles, Functions.cosine_sim, ComposedKernels.cosine))
    for ((name, df, native, composed) <- kernels; frame <- Seq(df, df.repartition(1))) {
      // Empty cosine is 0/0: NaN natively (IEEE, as DuckDB), while the
      // composed form's ANSI division raises DIVIDE_BY_ZERO — so NaN is
      // that row's reference.
      val reference =
        if (name == "cosine_sim") when(size($"a") > 0, composed($"a", $"b")).otherwise(Double.NaN)
        else composed($"a", $"b")
      val got = frame
        .select(col("i"), native($"a", $"b").cast("double"), reference.cast("double"))
        .as[(Int, Option[Double], Option[Double])].collect().sortBy(_._1).toSeq
      def bits(d: Option[Double]) = d.map(java.lang.Double.doubleToLongBits)
      got.foreach { case (i, n, c) =>
        assert(bits(n) == bits(c), s"$name row $i: native $n, composed $c")
      }
      assert(got.take(3).forall(_._2.isEmpty), s"$name: null element or mismatch must be null")
      assert(got.drop(3).forall(_._2.nonEmpty), s"$name: $got")
    }
  }

  test("hoisted-norm dot-product cosine == fused cosine, bit for bit") {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("n2", aggregate(transform(col("v"), x => x * x),
        lit(0.0), (acc, x) => acc + x))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(5000)
      .select(
        (Functions.dot_product(col("a.v"), col("b.v")) /
          sqrt(col("a.n2") * col("b.n2"))).as("hoisted"),
        Functions.cosine_sim(col("a.v"), col("b.v")).as("fused"))
    assert(pairs.filter(col("hoisted") =!= col("fused")).count() == 0)
  }

  test("cosine_sim is callable from SQL after registration") {
    Functions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head().getDouble(0)
    assert(r == 1.0)
  }

  test("a kernel called with 1 or 3 arguments raises WRONG_NUM_ARGS naming " +
    "the function, through Functions.register and through GraftExtensions") {
    def check(session: SparkSession): Unit =
      for ((name, args) <- Seq("cosine_sim" -> "array(1.0d)",
          "cosine_sim" -> "array(1.0d), array(1.0d), array(1.0d)",
          "sq_dist_long" -> "array(1L)")) {
        val e = intercept[org.apache.spark.sql.AnalysisException](
          session.sql(s"SELECT $name($args)").collect())
        assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), e.getMessage)
        assert(e.getMessage.contains(s"`$name`"), e.getMessage)
      }
    Functions.register(spark)
    check(spark)
    // The extension path builds its own session on the shared context
    // (ExtensionsSpec's pattern); the shared session is restored after.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try check(SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions()(_)).getOrCreate())
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("edge cases: zero vector → NaN; empty arrays → NaN; null → null") {
    Functions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(0.0d, 0.0d), array(1.0d, 2.0d)) AS zero,
        |       cosine_sim(CAST(array() AS ARRAY<DOUBLE>),
        |                  CAST(array() AS ARRAY<DOUBLE>)) AS empty,
        |       cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS nul""".stripMargin).head()
    assert(r.getDouble(0).isNaN)
    assert(r.getDouble(1).isNaN)
    assert(r.isNullAt(2))
  }

  test("mismatched array lengths → null, same as the composed form") {
    val r = Seq((Seq(1.0, 0.0, 5.0), Seq(1.0, 0.0)))
      .toDF("a", "b")
      .select(
        Functions.cosine_sim(col("a"), col("b")).as("native"),
        Functions.dot_product(col("a"), col("b")).as("dot"),
        ComposedKernels.cosine(col("a"), col("b")).as("composed"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("simhash64 aggregate is partition-invariant (merge path) and pins known bits") {
    import graft.functions.SimHash64Agg.simhash64
    val toks = Seq.tabulate(97)(i => (i % 7L, s"tok$i")).toDF("g", "tok")
      .select(col("g"), concat(md5(concat(lit("0:"), col("tok"))),
        md5(concat(lit("1:"), col("tok")))).as("h"))
    val one = toks.coalesce(1).groupBy("g").agg(simhash64(col("h")).as("sh"))
    val many = toks.repartition(13).groupBy("g").agg(simhash64(col("h")).as("sh"))
    assert(one.exceptAll(many).count() == 0 && many.exceptAll(one).count() == 0)
    // Single-row group: bit i == parity of hex char i of the token hash.
    val h = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = h.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val full = hex("0:solo") + hex("1:solo")
    val expected = (0 until 64).map { i =>
      if ((Character.digit(full.charAt(i), 16) & 1) == 1) 1L << i else 0L
    }.reduce(_ | _)
    val got = Seq("solo").toDF("tok")
      .select(concat(md5(concat(lit("0:"), col("tok"))),
        md5(concat(lit("1:"), col("tok")))).as("h"))
      .agg(simhash64(col("h"))).head().getLong(0)
    assert(got == expected)
  }

  test("optimizer rule rewrites single-element arrays_overlap to array_contains") {
    import graft.functions.SingleElementOverlapToContains
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ SingleElementOverlapToContains
      // Parquet-backed (a local Seq would be constant-folded away before
      // the plan can be inspected).
      val part = Tables.load(spark, dir, "part")
        .select(col("p_partkey"), split(col("p_type"), " ").as("words"))
      val q = part.filter(arrays_overlap(col("words"), array(lit("PROMO"))))
      assert(q.queryExecution.optimizedPlan.toString.contains("array_contains"),
        q.queryExecution.optimizedPlan.toString)
      val viaContains = q.count()
      val expected = part
        .filter(array_contains(col("words"), "PROMO")).count()
      assert(viaContains == expected && viaContains > 0)
      // Multi-element literal must NOT be rewritten.
      val multi = part.filter(
        arrays_overlap(col("words"), array(lit("PROMO"), lit("ECONOMY"))))
      assert(!multi.queryExecution.optimizedPlan.toString.contains("array_contains"))
      assert(multi.count() >= viaContains)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("stored unit-norm vectors: dot(unit_a, unit_b) ≈ cosine(a, b)") {
    val e = Similarity.withUnitNorm(
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")),
      "v")
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(2000)
      .select(
        Functions.dot_product(col("a.unit_vec"), col("b.unit_vec")).as("via_unit"),
        Functions.cosine_sim(col("a.v"), col("b.v")).as("direct"))
    val maxDiff = pairs.agg(max(abs(col("via_unit") - col("direct")))).head().getDouble(0)
    assert(maxDiff < 1e-12, s"unit-norm drift $maxDiff")
  }

  test("orthogonal and opposite vectors") {
    val r = Seq((Seq(1.0, 0.0), Seq(0.0, 3.0)), (Seq(1.0, 1.0), Seq(-1.0, -1.0)))
      .toDF("a", "b")
      .select(Functions.cosine_sim(col("a"), col("b")).as("c"))
      .as[Double].collect()
    assert(r(0) == 0.0 && r(1) == -1.0)
  }

  test("withUnitNorm on a zero-norm vector: no NaN — the zero vector " +
    "stays zero and dots to 0 against everything") {
    val e = Similarity.withUnitNorm(
      Seq((1L, Seq(0.0, 0.0, 0.0)), (2L, Seq(3.0, 4.0, 0.0)))
        .toDF("vec_id", "v"), "v")
    val rows = e.orderBy("vec_id")
      .select(col("norm"), col("unit_vec")).as[(Double, Seq[Double])].collect()
    assert(rows(0)._1 == 0.0 && rows(0)._2 == Seq(0.0, 0.0, 0.0))
    assert(rows.flatMap(_._2).forall(x => !x.isNaN))
    val d = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(Functions.dot_product(col("a.unit_vec"), col("b.unit_vec")))
      .as[Double].head()
    assert(d == 0.0)
  }
}
