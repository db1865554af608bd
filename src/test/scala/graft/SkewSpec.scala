package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Skew

/** Salted join/agg must be result-identical to the direct forms — the
  * salt only reshapes the shuffle.
  */
class SkewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir = "/root/testdata/sf0.001"

  test("saltedJoin == plain join (orders ⋈ customer, salt 8)") {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_totalprice"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    val plain = o.join(c, Seq("k"))
    val salted = Skew.saltedJoin(o, c, "k", salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("saltedJoin preserves left-join unmatched rows") {
    val o = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_name"))
    val hi = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("k"), col("o_totalprice"))
    val plain = o.join(hi, Seq("k"), "left_outer")
    val salted = Skew.saltedJoin(o, hi, "k", 4, "left_outer")
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("saltedJoin rejects outer-preserving joins of the replicated side") {
    val a = Tables.load(spark, dir, "orders").select(col("o_custkey").as("k"))
    val b = Tables.load(spark, dir, "customer").select(col("c_custkey").as("k"))
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(a, b, "k", 4, "right_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(a, b, "k", 4, "full_outer")
    }
  }

  test("multiband LSH: a degenerate all-in-one-bucket input emits bounded pairs") {
    import spark.implicits._
    import graft.ops.Similarity
    // 40 identical-sign vectors: every band table hashes all of them into
    // ONE bucket — the adversarial corpus that makes uncapped LSH
    // quadratic. With the cap below the population, the bucket must emit
    // ZERO pairs (bounded worst case); with the cap at the population,
    // all C(40,2) pairs appear (the cap is a guard, not a recall cut at
    // sane populations).
    val n = 40
    val e = (0 until n).map(i =>
      (i.toLong, Array.fill(64)(1.0 + i * 1e-9))).toDF("vec_id", "v")
    val capped = Similarity.multibandPairs(e, "vec_id", "v", maxBucket = n - 1)
    assert(capped.count() == 0, "over-cap bucket must contribute no pairs")
    val uncapped = Similarity.multibandPairs(e, "vec_id", "v", maxBucket = n)
    assert(uncapped.count() == n.toLong * (n - 1) / 2)
    // Mixed case: one degenerate positive-sign cluster over the cap plus
    // two negative-sign vectors under it — only the small bucket's single
    // pair survives.
    val mixed = e.unionByName((100 until 102).map(i =>
      (i.toLong, Array.fill(64)(-1.0))).toDF("vec_id", "v"))
    val pairs = Similarity.multibandPairs(mixed, "vec_id", "v", maxBucket = n - 1)
      .select($"vec_id_a", $"vec_id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)))
  }

  test("single-table LSH: cappedSignBuckets bounds a degenerate bucket") {
    import spark.implicits._
    import graft.ops.Similarity
    // Same adversarial shape as the multiband test, on the one-table
    // layout s2/d8 use: 40 identical-sign vectors land in ONE sign
    // bucket. Under the cap the bucket must vanish entirely (zero rows
    // survive → zero pairs downstream); at the population the full
    // bucket passes; singleton buckets are pruned by the ≥2 side.
    val n = 40
    def capped(df: org.apache.spark.sql.DataFrame, maxBucket: Int) =
      Similarity.cappedBands(df.select($"vec_id".as("rep"), $"v", lit(1L).as("mult")),
        "v", Similarity.OneTableBits, 1, maxBucket)
    val e = (0 until n).map(i =>
      (i.toLong, Array.fill(64)(1.0 + i * 1e-9))).toDF("vec_id", "v")
    assert(capped(e, maxBucket = n - 1).count() == 0,
      "over-cap bucket must contribute no rows")
    assert(capped(e, maxBucket = n).count() == n)
    // Mixed: a hot positive bucket over the cap + a 2-vector negative
    // bucket under it + one singleton — only the small bucket survives.
    val mixed = e.unionByName((100 until 102).map(i =>
        (i.toLong, Array.fill(64)(-1.0))).toDF("vec_id", "v"))
      .unionByName(Seq((200L, Array.tabulate(64)(j => if (j % 2 == 0) 1.0 else -1.0)))
        .toDF("vec_id", "v"))
    val kept = capped(mixed, maxBucket = n - 1)
      .select($"rep").as[Long].collect().toSet
    assert(kept == Set(100L, 101L))
  }

  test("AQE splits a skewed sort-merge join partition at runtime (skew=true) — " +
    "the built-in complement to manual salting") {
    // Thresholds lowered because testdata is tiny; at real scale the
    // defaults (256 MB / 5× median) trigger on their own. Salting
    // (above) remains for the shapes AQE can't fix: skewed AGGREGATION
    // keys and broadcast-ineligible skew under stateful operators.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // Isolate the skew rule: partition coalescing would otherwise fold
      // the small partitions first and muddy what is being asserted.
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      import spark.implicits._
      // One hot key carrying 1M rows vs 100 singleton keys. The volume
      // matters: shuffle blocks are lz4-compressed and constant-key
      // sequential-id rows compress brutally well — a "big" partition of
      // 50k rows lands under the 8KB threshold and nothing triggers.
      val fact = spark.range(0, 1000000).select(lit(1L).as("k"), col("id").as("v"))
        .union(spark.range(0, 100).select((col("id") + 2).as("k"), col("id").as("v")))
      val dim = spark.range(0, 200).select(col("id").as("k"), (col("id") * 2).as("w"))
      // Global (not keyed) aggregate downstream: a keyed groupBy would
      // reuse the join's hash partitioning, and AQE declines to split a
      // skewed partition when that breaks co-partitioning for a
      // downstream consumer (it would introduce an extra shuffle).
      val joined = fact.join(dim, "k").agg(sum("w").as("sw"))
      joined.collect() // AQE decisions exist only on the executed plan
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${p.take(1500)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE-split join ≡ salted join on the same hot-key input (order-independent digest)") {
    // The two skew mitigations must be RESULT-interchangeable: AQE's
    // runtime split (variant the engine ships by default) and explicit
    // salting (the tool for keys AQE can't fix) may only reshape the
    // shuffle. The sf1 form of this check is in SCALE.md (skew section).
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val skewKey = "spark.sql.adaptive.skewJoin.enabled"
    val skewPrev = spark.conf.getOption(skewKey)
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.range(0, 1000000).select(lit(1L).as("k"), col("id").as("v"))
        .union(spark.range(0, 100).select((col("id") + 2).as("k"), col("id").as("v")))
      val dim = spark.range(0, 200).select(col("id").as("k"), (col("id") * 2).as("w"))
      def digest(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), sum(hash(df.columns.map(col): _*).cast("long")))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      spark.conf.set(skewKey, "true")
      val split = digest(fact.join(dim, "k"))
      spark.conf.set(skewKey, "false")
      val salted = digest(Skew.saltedJoin(fact, dim, "k", 16))
      assert(split == salted, s"split $split != salted $salted")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      skewPrev match {
        case Some(v) => spark.conf.set(skewKey, v)
        case None => spark.conf.unset(skewKey)
      }
    }
  }

  test("saltedSum == direct groupBy sum") {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("k"), col("l_quantity"), col("l_extendedprice"))
    val direct = li.groupBy("k")
      .agg(sum("l_quantity").as("sum_l_quantity"),
        sum("l_extendedprice").as("sum_l_extendedprice"))
    val salted = Skew.saltedSum(li, "k", 16, Seq("l_quantity", "l_extendedprice"))
    // Compare after rounding: double sums associate differently per shape.
    val r = (d: org.apache.spark.sql.DataFrame) => d.select(col("k"),
      round(col("sum_l_quantity"), 6).as("a"), round(col("sum_l_extendedprice"), 6).as("b"))
    assert(r(salted).exceptAll(r(direct)).count() == 0)
    assert(r(direct).exceptAll(r(salted)).count() == 0)
  }
}
