package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Kmeans

/** Branch coverage the oracle gate can't give k-means: the fixtures keep
  * all 8 cells populated through every iteration (probed via the oracle's
  * own CTE chain), so the empty-cell keep-centroid branch is dead there —
  * a broken implementation that dropped empty cells would still
  * hash-match. This spec builds the classic duplicate-seed corpus where a
  * cell MUST empty and its kept centroid later captures points.
  * (The other subtle branch — floor vs truncate on negative component
  * sums — IS fixture-exercised: 245 negative non-divisible sums in round
  * 1 at sf0.001 alone, so the oracle gate pins it.)
  */
class KmeansSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  /** Flat k-means is one subspace: `(cell, cv)` centroids in and out. */
  private def flatLloyd(e: DataFrame, init: Seq[(Long, Seq[Long])], iters: Int,
      dim: Int): (DataFrame, Seq[(Long, Seq[Long])]) = {
    val (a, c) = Kmeans.lloyd(e, init.map { case (cell, cv) => (0, cell, cv) }, iters, dim)
    (a, c.map { case (_, cell, cv) => (cell, cv) })
  }

  test("empty cell keeps its centroid and can re-capture points (duplicate seeds)") {
    import spark.implicits._
    // k=2 with identical seeds at the origin: every point ties to cell 0
    // in round 1 (tie-break = smallest cell), so cell 1 empties. The far
    // cluster then drags c0 away while the kept c1 stays at the origin —
    // by round 2 the origin points belong to cell 1. Dropping empty
    // cells instead would leave everything in cell 0 forever.
    val pts = Seq(
      (0L, Seq(0L, 0L, 0L, 0L)),
      (1L, Seq(0L, 0L, 0L, 0L)), // duplicate seed
      (2L, Seq(100L, 0L, 0L, 0L)),
      (3L, Seq(100L, 0L, 0L, 0L)))
    val e = pts.toDF("id", "q")
    val init = pts.take(2)
    val (assigned, cents) = flatLloyd(e, init, iters = 2, dim = 4)
    val byId = assigned.select("id", "cell").as[(Long, Long)].collect().toMap
    assert(byId(0L) == 1L && byId(1L) == 1L,
      s"origin points must land in the kept empty cell: $byId")
    assert(byId(2L) == 0L && byId(3L) == 0L)
    val cmap = cents.toMap
    assert(cmap(1L) == Seq(0L, 0L, 0L, 0L), "emptied cell keeps its seed centroid")
    assert(cmap(0L).head == 100L, s"cell 0 converges onto the far cluster: $cmap")
  }

  test("lloydGrouped ≡ independent per-group lloyd (centroids and assignments)") {
    import spark.implicits._
    // Two deliberately different groups — one with the duplicate-seed
    // empty-cell dynamics, one well-separated — trained jointly must
    // equal each trained alone: the grouped formulation's only change
    // is job fusion, never arithmetic.
    val g0 = Seq(
      (0L, Seq(0L, 0L, 0L, 0L)), (1L, Seq(0L, 0L, 0L, 0L)),
      (2L, Seq(100L, 0L, 0L, 0L)), (3L, Seq(100L, 0L, 0L, 0L)))
    val g1 = Seq(
      (0L, Seq(-5L, 3L, 0L, 0L)), (1L, Seq(40L, -7L, 1L, 0L)),
      (2L, Seq(-6L, 2L, 0L, 0L)), (3L, Seq(41L, -9L, 0L, 0L)))
    // One 8-dim vector per id: group 0's components, then group 1's —
    // two 4-wide subspaces.
    val joint = g0.zip(g1).map { case ((id, q0), (_, q1)) => (id, q0 ++ q1) }
      .toDF("id", "q")
    val init = g0.take(2).map { case (id, q) => (0, id, q) } ++
      g1.take(2).map { case (id, q) => (1, id, q) }
    val (ja, jc) = Kmeans.lloyd(joint, init, iters = 2, dim = 4)
    val jointAssign = ja.select("sub", "id", "cell").as[(Int, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    for ((g, pts) <- Seq(0 -> g0, 1 -> g1)) {
      val (sa, sc) = flatLloyd(pts.toDF("id", "q"), pts.take(2),
        iters = 2, dim = 4)
      assert(jc.collect { case (`g`, cell, cv) => (cell, cv) } == sc,
        s"group $g centroids diverge")
      val soloAssign = sa.select("id", "cell").as[(Long, Long)].collect().toMap
      soloAssign.foreach { case (id, cell) =>
        assert(jointAssign((g, id)) == cell, s"group $g id $id assignment diverges")
      }
    }
  }

  test("zero iterations = assignment to the init centroids, exact integer distances") {
    import spark.implicits._
    val pts = Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(10L, 0L)),
      (2L, Seq(2L, 0L)), (3L, Seq(7L, 1L)))
    val (assigned, cents) = flatLloyd(pts.toDF("id", "q"),
      pts.take(2), iters = 0, dim = 2)
    assert(cents == pts.take(2))
    val got = assigned.select("id", "cell", "dist").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(2L) == ((0L, 4L)))   // 2² vs 8² → cell 0
    assert(got(3L) == ((1L, 10L)))  // 3²+1 vs 7²+1 → cell 1
  }

  test("trainCentroids returns k refined centroids consumable as IVF cells") {
    val cents = Kmeans.trainCentroids(spark, "/root/testdata/sf0.001")
    assert(cents.map(_._1) == (0L until Kmeans.K.toLong))
    assert(cents.forall(_._2.length == Kmeans.Dim))
    // Training moved at least one centroid off its seed vector.
    val init = Kmeans.trainCentroids(spark, "/root/testdata/sf0.001", iters = 0)
    assert(cents != init, "3 Lloyd's rounds must refine the seed centroids")
  }

  test("trained PQ codebooks cut quantization error vs the seed codebook") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Kmeans, Similarity}
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val trained = Kmeans.trainPqCodebooks(s, dir)
    assert(trained.map(t => (t._1, t._2)).toSet
      == (for (b <- 0 until 4; c <- 0L until 8L) yield (b, c)).toSet,
      "8 centroids per subspace, all 4 subspaces")
    assert(trained.forall(_._3.length == 16))
    // Quantization error = Σ over (vector, subspace) of the distance to
    // the nearest codebook entry. Lloyd's can only lower it vs its own
    // seed (each step is a monotone improvement up to integer flooring).
    val subs = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .select(col("vec_id"), posexplode(array((0 until 4).map(b =>
        slice(col("v"), b * 16 + 1, 16)): _*)).as(Seq("sub_idx", "sv")))
    def err(codebook: org.apache.spark.sql.DataFrame): Double = {
      subs.join(broadcast(codebook), col("sub_idx") === col("c_sub"))
        .select(col("vec_id"), col("sub_idx"),
          aggregate(zip_with(col("sv"), col("cv"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x).as("d"))
        .groupBy("vec_id", "sub_idx").agg(min("d").as("d"))
        .agg(sum("d")).as[Double].head()
    }
    val seedBook = subs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("sub_idx").as("c_sub"),
        col("sv").as("cv"))
    val trainedBook = trained
      .map { case (b, c, cv) => (c, b, cv.map(_.toDouble / Kmeans.Scale)) }
      .toDF("cent_id", "c_sub", "cv")
    val (e0, e1) = (err(seedBook), err(trainedBook))
    assert(e1 < e0, s"training must cut quantization error: seed=$e0 trained=$e1")
    // The trained assignment flows through the unchanged operator shape.
    val codes = Similarity.s4PqCodesTrained(s, dir)
    assert(codes.count() == 2000) // 500 vectors × 4 subspaces
    assert(codes.agg(max("code")).head().getLong(0) < 8)
  }

  test("s3 consumes trained centroids: same operator shape, top-k per query") {
    import spark.implicits._
    val out = graft.ops.Similarity.s3IvfAnnTrained(spark, "/root/testdata/sf0.001")
      .select("query_id", "rank").as[(Long, Long)].collect()
    val perQuery = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(perQuery.keySet == (8L to 12L).toSet, s"5 probe queries: ${perQuery.keySet}")
    assert(perQuery.values.forall(r => r == (1L to r.length) && r.length <= 3),
      "dense ranks 1..k per query")
  }
}
