package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Consolidate
import graft.stream.Melt

/** Property-based invariants (SURVEY §5) over generated inputs through
  * the real operators. Deterministic seeds; small sample counts — each
  * case is a full Spark job.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def one[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val codes = Seq("ALP", "BET", "GMA")
  private val stampGen =
    Gen.oneOf((0 until 4).map(i => f"2025-10-15T10:${5 * i}%02d:00+11:00"))

  test("pivot ∘ melt == identity on deduplicated long tables") {
    val rowGen = for {
      c <- Gen.oneOf(codes)
      t <- stampGen
      p <- Gen.chooseNum(-50.0, 50.0).map(v => math.rint(v * 100) / 100)
      e <- Gen.chooseNum(0.5, 10.0).map(v => math.rint(v * 100) / 100)
    } yield (c, t, p, e)
    for (rows <- samples(Gen.listOfN(10, rowGen), 5) if rows.nonEmpty) {
      // dedup (code, ts): pivot averages duplicate cells (pinned in
      // EtlSpec) — the round-trip identity holds on unique cells. Melt
      // zero-fills absent cells, so compare modulo all-zero rows (the
      // emission generator avoids 0 to keep real rows distinguishable).
      val uniq = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val longDf = uniq.toDF("facility_code", "timestamp", "power", "emission")
      val wide = Consolidate.pivotFacility(longDf, codes)
      val back = Melt.facilityEvents(wide, codes)
        .filter(!(col("power_mw") === 0.0 && col("co2_tonnes") === 0.0))
        .select(col("facility_id").as("facility_code"), col("timestamp"),
          col("power_mw").as("power"), col("co2_tonnes").as("emission"))
      assert(back.exceptAll(longDf).count() == 0)
      assert(longDf.exceptAll(back).count() == 0)
    }
  }

  test("max_by latest-per-key ≡ row_number()=1 on generated events") {
    val evGen = for {
      u <- Gen.chooseNum(1L, 5L)
      ts <- Gen.chooseNum(1L, 20L)
      v <- Gen.chooseNum(0.0, 100.0)
    } yield (u, ts, v)
    for (rows <- samples(Gen.listOfN(30, evGen), 5) if rows.nonEmpty) {
      val df = rows.zipWithIndex
        .map { case ((u, ts, v), i) => (u, ts, v, i.toLong) }
        .toDF("user_id", "ts", "value", "event_id")
      val viaMaxBy = df.groupBy($"user_id")
        .agg(max_by(struct($"event_id", $"value"), struct($"ts", $"event_id")).as("l"))
        .select($"user_id", $"l.event_id", $"l.value")
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val viaWindow = df.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).select($"user_id", $"event_id", $"value")
      assert(viaMaxBy.exceptAll(viaWindow).count() == 0)
      assert(viaWindow.exceptAll(viaMaxBy).count() == 0)
    }
  }

  test("asofJoin ≡ in-memory reference on generated data incl. null keys and null values") {
    val leftGen = for {
      k <- Gen.oneOf[Option[Long]](Some(1L), Some(2L), Some(3L), None)
      ts <- Gen.chooseNum(0L, 40L)
    } yield (k, ts)
    val rightGen = for {
      k <- Gen.oneOf[Option[Long]](Some(1L), Some(2L), None)
      ts <- Gen.chooseNum(0L, 40L)
      // ~1 in 4 right rows carries a NULL value: the matched row must
      // yield null (ASOF semantics), not an older non-null carried past it.
      v <- Gen.frequency(
        3 -> Gen.chooseNum(1.0, 9.0).map(x => Some(math.rint(x * 10) / 10)),
        1 -> Gen.const(Option.empty[Double]))
    } yield (k, ts, v)
    for (seedOff <- 0 until 4) {
      val lefts = one(Gen.listOfN(15, leftGen), 100L + seedOff)
        .distinct.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
      val rights = one(Gen.listOfN(12, rightGen), 200L + seedOff)
        // unique (k, ts) on the right — duplicate instants make the
        // carried value ambiguous by construction
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val leftDf = lefts.toDF("k", "ts", "id")
      val rightDf = rights.toDF("k", "ts", "v")
      val got = graft.ops.AsOf.asofJoin(leftDf, rightDf, "k", "ts", "v")
        .select($"id", $"asof_v").as[(Long, Option[Double])].collect().toMap
      val expected = lefts.map { case (k, ts, id) =>
        id -> k.flatMap(kk => rights
          .filter(r => r._1.contains(kk) && r._2 <= ts)
          .sortBy(_._2).lastOption.flatMap(_._3))
      }.toMap
      assert(got == expected, s"asof mismatch (seed offset $seedOff)")
    }
  }

  test("scd2 ≡ in-memory reference on generated histories incl. same-µs ties and null states") {
    val rowGen = for {
      k <- Gen.oneOf("u1", "u2")
      st <- Gen.frequency(
        4 -> Gen.oneOf("A", "B", "C").map(Option(_)),
        1 -> Gen.const(Option.empty[String]))
      // ts in [0, 20000) ns → µs values 0..19 with frequent collisions:
      // the same-µs tie-break path is exercised, not hoped-for.
      ts <- Gen.chooseNum(0L, 19999L)
    } yield (k, st, ts)
    for (seedOff <- 0 until 4) {
      val rows = one(Gen.listOfN(25, rowGen), 300L + seedOff)
        .zipWithIndex.map { case ((k, st, ts), i) => (k, st, ts, i.toLong) }
      val got = graft.ops.Scd.scd2(
          rows.toDF("k", "st", "ts", "tie"), "k", "st", "ts", "tie")
        .as[(String, Option[String], Long, Option[Long], Int)].collect().toSet
      val expected = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val ordered = rs.map(r => (r._2, r._3 / 1000, r._4)).sortBy(r => (r._2, r._3))
        // SQL keep rule: lag IS NULL (no prev row, or prev state null)
        // OR lag <> state (three-valued: null state drops after non-null).
        val kept = ordered.zipWithIndex.filter { case ((st, _, _), i) =>
          val prev = if (i == 0) None else ordered(i - 1)._1
          prev.isEmpty || (st.isDefined && prev.get != st.get)
        }.map(_._1)
        kept.zipWithIndex.map { case ((st, us, _), i) =>
          (k, st, us, kept.lift(i + 1).map(_._2), i + 1)
        }
      }.toSet
      assert(got == expected, s"scd2 mismatch (seed offset $seedOff)")
    }
  }

  test("weightedPick ≡ in-memory min-ticket reference on generated weights incl. zeros") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rowGen = for {
      src <- Gen.oneOf("s1", "s2", "s3")
      w <- Gen.chooseNum(0L, 4L)
    } yield (src, w)
    for (seedOff <- 0 until 4) {
      val rows = one(Gen.listOfN(20, rowGen), 400L + seedOff)
        .zipWithIndex.map { case ((src, w), i) => (src, i.toLong, w) }
      val got = graft.ops.Sampling.weightedPick(
          rows.toDF("source", "doc_id", "w").repartition(5), "source", "doc_id", col("w"))
        .as[(String, Long)].collect().toSet
      val expected = rows.filter(_._3 >= 1).groupBy(_._1).map { case (src, ds) =>
        src -> ds.flatMap { case (_, id, w) =>
          (1L to w).map(t => (md5hex(s"$id:$t"), id))
        }.min._2
      }.toSet[(String, Long)]
      assert(got == expected, s"weightedPick mismatch (seed offset $seedOff)")
    }
  }

  test("rangeJoin ≡ naive all-pairs filter incl. band boundaries and null keys") {
    // Window [lo, hi] = [0, 10]; band width 10 — timestamps land on and
    // around band edges (0, 9, 10, 11, 20) so both the 1-band and 2-band
    // left duplication paths and inclusive endpoints are exercised.
    // Negative timestamps pin floor-division banding: truncating `div`
    // would give the band containing t=0 width 2w−1 and (worse) band the
    // left window endpoints asymmetrically around zero.
    val sideGen = for {
      k <- Gen.oneOf[Option[Long]](Some(1L), Some(2L), None)
      ts <- Gen.oneOf(-21L, -20L, -11L, -10L, -9L, -1L,
        0L, 1L, 5L, 9L, 10L, 11L, 15L, 19L, 20L, 25L)
    } yield (k, ts)
    for (seedOff <- 0 until 4) {
      val lefts = one(Gen.listOfN(12, sideGen), 300L + seedOff)
        .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
      val rights = one(Gen.listOfN(12, sideGen), 400L + seedOff)
        .zipWithIndex.map { case ((k, ts), i) => (k, ts, 100L + i) }
      val got = graft.ops.RangeJoin.rangeJoin(
          lefts.toDF("k", "ts", "lid"), rights.toDF("k", "ts2", "rid"),
          "k", "ts", "ts2", 0L, 10L)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet
      val expected = (for {
        (lk, lts, lid) <- lefts
        (rk, rts, rid) <- rights
        if lk.isDefined && lk == rk && rts >= lts && rts <= lts + 10L
      } yield (lid, rid)).toSet
      assert(got == expected, s"range join mismatch (seed offset $seedOff)")
    }
  }

  test("multibandPairs ≡ in-memory banding mirror; identical vectors always pair") {
    import graft.ops.Similarity
    val bits = 12; val tables = 4; val cap = 1000
    def mirrorPairs(vecs: Seq[(Long, Array[Double])]): Set[(Long, Long)] = {
      val buckets = for {
        (id, v) <- vecs; t <- 0 until tables
      } yield ((t, (0 until bits).map(i =>
        if (v(t * bits + i) > 0) 1L << i else 0L).sum), id)
      buckets.groupBy(_._1).values
        .filter(g => g.size >= 2 && g.size <= cap)
        .flatMap { g =>
          val ids = g.map(_._2)
          for (a <- ids; b <- ids if a < b) yield (a, b)
        }.toSet
    }
    val vecGen = Gen.listOfN(48, Gen.oneOf(-1.0, -0.25, 0.25, 1.0))
    for (seedOff <- 0 until 3) {
      val base = (0 until 10).map(i =>
        (i.toLong, one(vecGen, 700L + 10 * seedOff + i).toArray))
      // Clone vector 0 as id 99: identical vectors collide in EVERY
      // table, so (0, 99) is a guaranteed pair — the recall floor that
      // makes multiband blocking usable for exact-dup detection too.
      val vecs = base :+ (99L, base.head._2.clone())
      val got = Similarity.multibandPairs(
          vecs.toDF("vec_id", "v"), "vec_id", "v", bits, tables, cap)
        .select($"vec_id_a", $"vec_id_b").as[(Long, Long)].collect().toSet
      assert(got == mirrorPairs(vecs), s"seed offset $seedOff")
      assert(got.contains((0L, 99L)))
    }
  }

  test("connectedComponents ≡ union-find incl. chains needing multiple propagation rounds") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      verts.map(v => v -> find(v)).toMap
    }
    val edgeGen = Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L))
      .suchThat { case (a, b) => a != b }
    // Random graphs + an adversarial descending path (19→18→…→0), whose
    // min label must walk the whole chain — the multi-round case.
    val cases = (0 until 3).map(i => one(Gen.listOfN(12, edgeGen), 500L + i)) :+
      (19L to 1L by -1L).map(i => (i, i - 1)).toSeq
    cases.foreach { edges =>
      val got = graft.ops.Dedup.connectedComponents(
          edges.toDF("a", "b"), maxIter = 32)
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(20, edges), s"components mismatch for $edges")
    }
  }

  test("d15PrefixJaccard ≡ brute-force all-pairs exact Jaccard on fixture " +
    "data — the prefix filter loses no qualifying pair") {
    val dir = "/root/testdata/sf0.001"
    // Independent reference: RAW shingle strings (no md5 keys), every
    // one of the ~125k doc pairs checked directly.
    val sets = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
      .map { case (id, text) =>
        val t = text.split(" ").filter(_.nonEmpty)
        id -> (if (t.length < 3) Set.empty[String]
               else t.sliding(3).map(_.mkString(" ")).toSet)
      }
      .filter(_._2.nonEmpty)
    val expect = (for {
      i <- sets.indices
      j <- i + 1 until sets.length
      sa = sets(i); sb = sets(j)
      lo = if (sa._1 < sb._1) sa else sb
      hi = if (sa._1 < sb._1) sb else sa
      ni = lo._2.intersect(hi._2).size
      if 13L * ni >= 3L * (lo._2.size + hi._2.size)
    } yield ((lo._1, hi._1),
      ni.toDouble / (lo._2.size + hi._2.size - ni))).toMap
    val got = graft.ops.Dedup.d15PrefixJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == expect.keySet)
    assert(expect.nonEmpty) // the gate is not vacuous on fixtures
    // The engine emits round(j, 6); the reference is unrounded.
    expect.foreach { case (k, v) => assert(math.abs(got(k) - v) <= 5e-7) }
  }

  test("d4NgramJaccard on a DUPLICATED corpus: collapse path ≡ direct path " +
    "≡ brute force, and cross-source twins never pair") {
    // 5 base texts × 4 copies, copies split across TWO sources — so the
    // (source, text) groups have 2 members each and the collapse's
    // within-group (J=1.0 twins), cross-group expansion, AND the source
    // blocking key all fire. The driver fixtures are twin-free, so
    // without this corpus the collapse legs would only ever run at the
    // 100× gate.
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tomorrow",
      "partition pruning keeps a hundred terabyte scan honest at the metadata layer",
      "partition pruning keeps a hundred terabyte scan honest at the storage layer",
      "watermarks bound streaming state by event time not by row count")
    val docs = for {
      (t, ti) <- base.zipWithIndex
      c <- 0 until 4
    } yield ((ti * 10 + c).toLong, s"src${c % 2}", t)
    val dir = java.nio.file.Files.createTempDirectory("d4twins").toFile
    try {
      docs.toDF("doc_id", "source", "text").write.mode("overwrite")
        .parquet(s"${dir.getPath}/documents.parquet")
      // Brute force in raw shingle strings: same-source pairs only; on
      // this corpus every shared shingle's posting is within [2, 1000],
      // so n_inter is the plain set intersection.
      val sets = docs.map { case (id, src, text) =>
        (id, src, text.split(" ").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet)
      }
      val expect = (for {
        i <- sets.indices
        j <- i + 1 until sets.length
        if sets(i)._2 == sets(j)._2
        lo = if (sets(i)._1 < sets(j)._1) sets(i) else sets(j)
        hi = if (sets(i)._1 < sets(j)._1) sets(j) else sets(i)
        ni = lo._3.intersect(hi._3).size
        j6 = math.rint(ni.toDouble / (lo._3.size + hi._3.size - ni) * 1e6) / 1e6
        if j6 >= 0.3
      } yield ((lo._1, hi._1), j6)).toMap
      assert(expect.nonEmpty && expect.exists(_._2 == 1.0) && expect.exists(_._2 < 1.0))
      def run(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      // Public entry: the stat probe must read depth 2.0 and collapse.
      val got = run(graft.ops.Dedup.d4NgramJaccard(spark, dir.getPath))
      assert(got.keySet == expect.keySet)
      expect.foreach { case (k, v) => assert(math.abs(got(k) - v) <= 5e-7, k) }
      // Forced per-document path: row-identical on the same corpus.
      val direct = run(graft.ops.Dedup.d4NgramJaccardImpl(spark, dir.getPath,
        collapse = false))
      assert(direct == got)
      // Null ids: each null-id document counts toward a shingle's
      // posting depth on both paths and pairs on neither. Source a holds
      // 999 documents sharing "alpha beta gamma" plus 2 null-id ones
      // (depth 1,001 > MaxPostings); source b holds 1,000 plus a null-id
      // copy of one of them, which must not merge into that copy's group.
      val nullDocs =
        (0 until 999).map(i => (Option(i.toLong), "a", s"alpha beta gamma u$i")) ++
          (0 until 2).map(j => (Option.empty[Long], "a", s"alpha beta gamma n$j")) ++
          (0 until 1000).map(i => (Option(10000L + i), "b", s"delta epsilon zeta t$i")) :+
          ((Option.empty[Long], "b", "delta epsilon zeta t0"))
      nullDocs.toDF("doc_id", "source", "text").write.mode("overwrite")
        .parquet(s"${dir.getPath}/documents.parquet")
      val nullDirect = run(graft.ops.Dedup.d4NgramJaccardImpl(spark, dir.getPath,
        collapse = false))
      val nullCollapse = run(graft.ops.Dedup.d4NgramJaccardImpl(spark, dir.getPath,
        collapse = true))
      assert(nullDirect.isEmpty, s"posting cap must drop the shared shingles: ${nullDirect.size}")
      assert(nullCollapse == nullDirect,
        s"collapse gave ${nullCollapse.size} pairs, direct ${nullDirect.size}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("lloyd on DUPLICATED vectors: weighted collapse ≡ direct — " +
    "identical centroid sequence and final assignment") {
    // 5 distinct quantized vectors × 4 copies. Integer sums make the
    // weighted form exact (w × q_i is the same long as q_i summed w
    // times), so the trained centroids must be EQUAL, not just close.
    import graft.ops.Kmeans
    val base = Seq(
      Seq(1L, 2L, 3L, 4L), Seq(100L, 90L, 80L, 70L),
      Seq(-5L, 0L, 5L, 10L), Seq(40L, 40L, 40L, 40L),
      Seq(7L, -7L, 7L, -7L))
    val e = (for {
      (v, vi) <- base.zipWithIndex
      c <- 0 until 4
    } yield ((vi * 10 + c).toLong, v)).toDF("id", "q")
    val init = Seq((0, 0L, base(0)), (0, 1L, base(1)))
    val (aD, cD) = Kmeans.lloyd(e, init, iters = 3, dim = 4, collapse = false)
    val (aC, cC) = Kmeans.lloyd(e, init, iters = 3, dim = 4, collapse = true)
    assert(cC == cD, "weighted update diverged from the per-copy update")
    assert(aC.collect().map(_.toSeq).toSet == aD.collect().map(_.toSeq).toSet)
    // Grouped (PQ) variant: two subspaces over the same duplicates — one
    // 8-dim vector per id, subspace g holding the base vector plus g.
    val eg = (for {
      (v, vi) <- base.zipWithIndex
      c <- 0 until 4
    } yield ((vi * 10 + c).toLong, v ++ v.map(_ + 1))).toDF("id", "q")
    val initG = Seq((0, 0L, base(0)), (0, 1L, base(1)),
      (1, 0L, base(0).map(_ + 1)), (1, 1L, base(1).map(_ + 1)))
    val (_, gD) = Kmeans.lloyd(eg, initG, iters = 3, dim = 4,
      collapse = false)
    val (_, gC) = Kmeans.lloyd(eg, initG, iters = 3, dim = 4,
      collapse = true)
    assert(gC == gD, "grouped weighted update diverged")
  }

  test("window-hash family on a DUPLICATED corpus: collapse ≡ direct " +
    "for d12, d13, t13, t14, d14 and t10") {
    // Texts share a 72-char boilerplate prefix (cross-TEXT duplicated
    // spans survive the collapse), are duplicated 2-3× (the twin legs
    // fire — depth 2.1 ≥ 1.2 trips the text gate), and the eval text
    // appears verbatim both as eval copies and as a corpus doc plus an
    // embedded substring (t13's tag-split groups: same text, both
    // sides). Null doc_ids: null-id copies of duplicated texts (t0, t3,
    // an eval copy) and a text held only by null ids (tn) — a collapse
    // must neither drop nor expand them. Direct forms are the
    // committed frame-level cores (t10: the row-counting spec form).
    import graft.ops.Dedup
    val b = "this exact boilerplate header sentence repeats verbatim across many documents"
    val ev = "benchmark evaluation question text that must be detected verbatim in the corpus"
    val t0 = b + " alpha continuation with more unique words here"
    val t1 = b + " beta continuation with other unique words here"
    val tu = "entirely unrelated text with no duplicated spans anywhere inside it at all"
    val t3 = "prefix words then " + ev + " and suffix words after"
    val tn = b + " gamma continuation held by documents without ids"
    val rows = Seq[(Option[Long], String, String)](
      (Some(1L), "src1", t0), (Some(2L), "src2", t0), (Some(3L), "src1", t0),
      (Some(4L), "src1", t1), (Some(5L), "src2", t1),
      (Some(6L), "src1", tu),
      (Some(7L), "src1", t3), (Some(8L), "src2", t3),
      (Some(9L), "src1", ev),
      (Some(20L), "src0", ev), (Some(21L), "src0", ev),
      (None, "src2", t0), (None, "src1", t3), (None, "src0", ev),
      (None, "src1", tn), (None, "src2", tn))
    val dir = java.nio.file.Files.createTempDirectory("spanTwins").toFile
    try {
      rows.toDF("doc_id", "source", "text").write.mode("overwrite")
        .parquet(s"${dir.getPath}/documents.parquet")
      val all = spark.read.parquet(s"${dir.getPath}/documents.parquet")
        .select("doc_id", "text")
      val corpus = spark.read.parquet(s"${dir.getPath}/documents.parquet")
        .filter(!(col("source") <=> lit("src0"))).select("doc_id", "text")
      val eval = spark.read.parquet(s"${dir.getPath}/documents.parquet")
        .filter(col("source") <=> lit("src0")).select("doc_id", "text")
      // Multisets, not sets: null-id rows can repeat, and a collapse
      // that drops or duplicates one must show.
      def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
      val withSource = spark.read.parquet(s"${dir.getPath}/documents.parquet")
      val pairs: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
        ("d12", Dedup.d12SubstrSpans(spark, dir.getPath), Dedup.substrSpans(all)),
        ("d13", Dedup.d13SpanScrub(spark, dir.getPath), Dedup.spanScrub(all)),
        ("t13", Dedup.t13ContamSpans(spark, dir.getPath),
          Dedup.contamSpans(corpus, eval)),
        ("t14", Dedup.t14ContamScrub(spark, dir.getPath),
          Dedup.scrubWith(corpus, Dedup.contamSpans(corpus, eval))),
        ("d14", Dedup.d14Winnow(spark, dir.getPath), Dedup.winnow(all)),
        // t10's (ev, text) collapse runs the 5-gram pass per distinct
        // pair, with the whole-shingle posting cap as a mult-weighted
        // sum. src0 is the engine's EvalSource; ev appears as BOTH eval
        // copies and a corpus doc (tag-split), and t3 embeds ev's
        // shingles. Both the public entry and the frame core answer to
        // the row-counting spec form.
        ("t10", graft.ops.TextAnalysis.t10Contamination(spark, dir.getPath),
          graft.ops.DirectForms.contamination(withSource, "src0", 1000)),
        ("t10 core", graft.ops.TextAnalysis.contamination(withSource, "src0", 1000),
          graft.ops.DirectForms.contamination(withSource, "src0", 1000)))
      val diverged = pairs.filter { case (name, got, want) =>
        val g = bag(got)
        assert(g.nonEmpty, s"$name produced no rows — vacuous")
        g != bag(want)
      }.map(_._1)
      assert(diverged.isEmpty, s"collapse diverged from direct: ${diverged.mkString(", ")}")
      // Non-vacuous on null ids: d13 returns every input document once,
      // the null-id ones included, and d12 flags the null-only text.
      assert(bag(Dedup.d13SpanScrub(spark, dir.getPath)).values.sum == all.count())
      assert(Dedup.d12SubstrSpans(spark, dir.getPath).filter(col("doc_id").isNull)
        .count() > 0)
      // The collapse actually engaged (gate depth 16/6 ≥ 1.2).
      assert(graft.ops.Collapse.gate(spark, dir.getPath, "documents", Seq("text")))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("d3/d7 on a DUPLICATED corpus: collapse path ≡ direct path " +
    "(per-text signatures fanned back through membership)") {
    // 3 texts × 3 copies + a singleton + empty + null text: the text hub,
    // the membership expansion and the no-token drop all fire. Driver
    // fixtures are twin-free, so these legs otherwise only execute at
    // the 100× gate. A null-id copy of t1 and a text held only by null
    // ids (t5): the direct groupBy merges every null-id document into
    // one signature row, and the collapse must give that same row.
    // (t6 was measured on this corpus too and its collapse REVERTED —
    // see the negative-result note on t6TfIdf.)
    val t1 = "alpha beta gamma delta alpha beta"
    val t2 = "alpha beta gamma delta epsilon zeta"
    val t3 = "zeta eta theta iota kappa lambda zeta"
    val t4 = "mu nu xi omicron pi rho sigma tau"
    val t5 = "upsilon phi chi psi omega"
    val rows = Seq[(Option[Long], String)](
      (Some(1L), t1), (Some(2L), t1), (Some(3L), t1),
      (Some(4L), t2), (Some(5L), t2), (Some(6L), t2),
      (Some(7L), t3), (Some(8L), t3), (Some(9L), t3),
      (Some(10L), t4), (Some(11L), ""), (Some(12L), null.asInstanceOf[String]),
      (None, t1), (None, t5), (None, t5))
    val dir = java.nio.file.Files.createTempDirectory("sigTwins").toFile
    try {
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("src1"))
        .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
      // The public entries must take the collapse branch on this corpus.
      assert(graft.ops.Collapse.gate(spark, dir.getPath, "documents", Seq("text")))
      def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
      val pairs: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
        ("d3", graft.ops.Dedup.d3Simhash(spark, dir.getPath),
          graft.ops.Dedup.d3SimhashImpl(spark, dir.getPath, collapse = false)),
        ("d7", graft.ops.Dedup.d7Simhash64(spark, dir.getPath),
          graft.ops.Dedup.d7Simhash64Impl(spark, dir.getPath, collapse = false)))
      for ((name, got, want) <- pairs) {
        val (g, w) = (bag(got), bag(want))
        assert(g.nonEmpty, s"$name produced no rows — vacuous")
        assert(g == w, s"$name collapse diverged from direct")
        assert(g.keys.exists(_.head == null), s"$name lost the null-id signature")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("s8_pq_trained on a UNIFORMLY DUPLICATED embeddings corpus: " +
    "collapsed training reproduces the base corpus's codes per copy") {
    // Whole-corpus duplication k×: every Lloyd's update sees sums k·s and
    // counts k·n, and floorDiv(k·s, k·n) = floorDiv(s, n), so the trained
    // codebooks equal the base corpus's; assignment is a pure function of
    // (vector, books) — each copy must land on its base twin's
    // (sub_idx, code, dist) exactly. This pins the round-17 WIRING of the
    // weighted-twin collapse into s8PqTrained's training call (the math
    // itself is pinned by lloyd's direct≡weighted test).
    val baseN = 10
    val copies = 3
    val dim = graft.ops.Kmeans.Dim
    def vec(id: Int): Seq[Float] =
      (0 until dim).map(i => (((id * 31 + i * 7) % 13) - 6) / 10.0f)
    val base = (0 until baseN).map(id => (id.toLong, vec(id)))
    val dup = (0 until copies).flatMap(c =>
      base.map { case (id, v) => (id + c.toLong * baseN, v) })
    val bDir = java.nio.file.Files.createTempDirectory("pqBase").toFile
    val dDir = java.nio.file.Files.createTempDirectory("pqDup").toFile
    try {
      base.toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"${bDir.getPath}/embeddings.parquet")
      dup.toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"${dDir.getPath}/embeddings.parquet")
      assert(!graft.ops.Collapse.gate(spark, bDir.getPath, "embeddings", Seq("embedding")),
        "base corpus must train on the direct path")
      assert(graft.ops.Collapse.gate(spark, dDir.getPath, "embeddings", Seq("embedding")),
        "duplicated corpus must train on the collapsed path")
      val baseOut = graft.ops.Kmeans.s8PqTrained(spark, bDir.getPath)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val dupOut = graft.ops.Kmeans.s8PqTrained(spark, dDir.getPath)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(dupOut.size == copies * baseOut.size, "row count per copy")
      dupOut.foreach { case ((id, sub), got) =>
        val want = baseOut((id % baseN, sub))
        assert(got == want,
          s"copy vec $id sub $sub diverged: got $got, base twin $want")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(bDir); rm(dDir)
    }
  }

  test("twin gates read FALSE on an empty corpus (0 >= 0 is not duplication)") {
    // Regression pin (round 17): with n = nd = 0 the old `n*10 >= nd*12`
    // read TRUE on an empty corpus and routed degenerate inputs onto the
    // collapse plans, whose expanded-id nullability differs from the
    // direct plans' — t10's empty-corpus schema drifted from its
    // sf0.001 schema (DegenerateCorpusSpec caught it at r17 re-entry).
    val dir = java.nio.file.Files.createTempDirectory("emptyGate").toFile
    try {
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(0)
        .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(0)
        .write.mode("overwrite").parquet(s"${dir.getPath}/embeddings.parquet")
      assert(!graft.ops.Collapse.gate(spark, dir.getPath, "documents", Seq("text")),
        "text gate must read false on an empty corpus")
      assert(!graft.ops.Collapse.gate(spark, dir.getPath, "embeddings", Seq("embedding")),
        "embeddings gate must read false on an empty corpus")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("twin gates re-probe a corpus rewritten in place: the memo is keyed " +
    "on the table's file listing, not on the directory") {
    val dir = java.nio.file.Files.createTempDirectory("gateRewrite").toFile
    def write(copies: Int): Unit = {
      val ids = for (i <- 0 until 6; c <- 0 until copies) yield (i, c)
      ids.map { case (i, c) => ((i * copies + c).toLong, "src", s"text number $i") }
        .toDF("doc_id", "source", "text").write.mode("overwrite")
        .parquet(s"${dir.getPath}/documents.parquet")
      ids.map { case (i, c) =>
        ((i * copies + c).toLong, Seq.tabulate(4)(d => (i * 4 + d).toFloat)) }
        .toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"${dir.getPath}/embeddings.parquet")
    }
    def gates = (graft.ops.Collapse.gate(spark, dir.getPath, "documents", Seq("text")),
      graft.ops.Collapse.gate(spark, dir.getPath, "embeddings", Seq("embedding")))
    try {
      write(copies = 1)
      assert(gates == ((false, false)), "twin-free corpus")
      write(copies = 3)
      assert(gates == ((true, true)), "the same dir rewritten with 3 copies of each row")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("minhashPairs on a DUPLICATED corpus: collapse path ≡ direct path, " +
    "and twin pairs emit at est 1.0") {
    // 5 base texts × 4 copies: the within-group constant leg (est 1.0
    // without a join), the cross-group expansion AND the text-keyed
    // stat gate (depth 4.0 ≥ 1.2 → collapse) all fire — the driver
    // fixtures are twin-free, so these legs otherwise only run at the
    // 100× gate. The direct path is the round-2 formulation, already
    // oracle-pinned at sf0.01; row-identity between the two paths is
    // the collapse's entire claim.
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tomorrow",
      "partition pruning keeps a hundred terabyte scan honest at the metadata layer",
      "partition pruning keeps a hundred terabyte scan honest at the storage layer",
      "watermarks bound streaming state by event time not by row count")
    val docs = for {
      (t, ti) <- base.zipWithIndex
      c <- 0 until 4
    } yield ((ti * 10 + c).toLong, t)
    val dir = java.nio.file.Files.createTempDirectory("d2twins").toFile
    try {
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"${dir.getPath}/documents.parquet")
      def run(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val got = run(graft.ops.Dedup.d2MinhashLsh(spark, dir.getPath))
      val direct = run(graft.ops.Dedup.minhashPairs(
        spark.read.parquet(s"${dir.getPath}/documents.parquet")))
      assert(got == direct, "collapse path diverged from the direct path")
      // Every twin pair (same base text) must be present at exactly 1.0.
      for {
        ti <- base.indices
        c1 <- 0 until 4
        c2 <- c1 + 1 until 4
      } assert(got(((ti * 10 + c1).toLong, (ti * 10 + c2).toLong)) == 1.0)
      // The near-dup bases (0/1 and 2/3) collide on some band, so the
      // cross-group expansion is exercised with a sub-1.0 estimate.
      assert(got.exists(_._2 < 1.0), "no cross-group pair surfaced")
      // d9 on the same corpus (its gate also trips): clusters must be
      // the transitive closure of the direct pair graph with min-id
      // labels — the collapsed signature pass may not change adjacency.
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long =
        if (parent.getOrElse(x, x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      for (((a, b), _) <- direct) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expectClusters = direct.keySet.flatMap(p => Seq(p._1, p._2))
        .map(d => d -> find(d)).toMap
      val gotClusters = graft.ops.Dedup.d9DedupClusters(spark, dir.getPath)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotClusters == expectClusters,
        "d9's collapsed signature pass changed the cluster graph")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("bm25 on a DUPLICATED query side ≡ per-query singleton runs — " +
    "the query-set collapse changes the plan, never the output") {
    // 3 base query texts × 3 copies with distinct ids, plus one query
    // whose TEXT differs but whose token SET matches base 0 (the
    // collapse keys on the sorted distinct token array, so it must
    // land in base 0's group), plus an empty-text query (no tokens →
    // no output, uncollapsed behavior). The oracle is bm25 itself on
    // a SINGLE query — a one-member group collapses to itself, so the
    // singleton run is the uncollapsed semantics by construction.
    import graft.ops.TextAnalysis
    val corpus = Seq(
      (1L, "spark shuffles hash partition data across executors"),
      (2L, "broadcast joins avoid the shuffle for small dimension tables"),
      (3L, "watermarks bound streaming state by event time"),
      (4L, "partition pruning skips files the filter can never match"),
      (5L, "executors spill sorted runs to disk under memory pressure"),
      (6L, "the shuffle partition count sizes every exchange")
    ).toDF("doc_id", "text")
    val baseTexts = Seq(
      "shuffle partition executors",
      "broadcast small tables",
      "streaming state watermarks")
    val dup = for {
      (t, ti) <- baseTexts.zipWithIndex
      c <- 0 until 3
    } yield ((100 + ti * 10 + c).toLong, t)
    val queries = (dup :+
      (200L, "executors partition shuffle partition") :+ // set == base 0's
      (201L, "")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2)).toMap
    val full = rows(TextAnalysis.bm25(corpus, queries, 3))
    assert(!full.contains(201L), "empty-text query must emit nothing")
    // Every copy of a base text — and the set-equal different text —
    // reproduces its singleton list verbatim.
    val expect = (baseTexts.zipWithIndex.map { case (t, ti) =>
      ti -> rows(TextAnalysis.bm25(corpus,
        Seq((999L, t)).toDF("doc_id", "text"), 3))(999L)
    }).toMap
    assert(expect.values.forall(_.nonEmpty))
    for {
      (t, ti) <- baseTexts.zipWithIndex
      c <- 0 until 3
    } assert(full((100 + ti * 10 + c).toLong) === expect(ti),
      s"copy $c of base $ti diverged from its singleton run")
    assert(full(200L) === expect(0), "set-equal text missed its group")
    assert(full.keySet === (dup.map(_._1).toSet + 200L))
  }

  test("d15PrefixJaccard on a DUPLICATED corpus ≡ brute force — the " +
    "exact-twin collapse changes the plan, never the output") {
    // Purpose-built corpus: each of 5 base texts duplicated 4× (so the
    // within-group J=1.0 path and the cross-group m_a×m_b expansion
    // both fire, which the driver fixtures — twin-free — never do).
    // Texts 0/1 and 2/3 are near-dups of each other; 4 is unrelated.
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tomorrow",
      "partition pruning keeps a hundred terabyte scan honest at the metadata layer",
      "partition pruning keeps a hundred terabyte scan honest at the storage layer",
      "watermarks bound streaming state by event time not by row count")
    val docs = for {
      (t, ti) <- base.zipWithIndex
      c <- 0 until 4
    } yield ((ti * 10 + c).toLong, t)
    val dir = java.nio.file.Files.createTempDirectory("d15twins").toFile
    try {
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"${dir.getPath}/documents.parquet")
      val sets = docs.map { case (id, text) =>
        id -> text.split(" ").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
      }
      val expect = (for {
        i <- sets.indices
        j <- i + 1 until sets.length
        lo = if (sets(i)._1 < sets(j)._1) sets(i) else sets(j)
        hi = if (sets(i)._1 < sets(j)._1) sets(j) else sets(i)
        ni = lo._2.intersect(hi._2).size
        if 13L * ni >= 3L * (lo._2.size + hi._2.size)
      } yield ((lo._1, hi._1),
        ni.toDouble / (lo._2.size + hi._2.size - ni))).toMap
      val got = graft.ops.Dedup.d15PrefixJaccard(spark, dir.getPath).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got.keySet == expect.keySet)
      // Within-group twins must be present and exactly 1.0.
      assert(got((0L, 1L)) == 1.0)
      assert(expect.count { case (_, v) => v == 1.0 } == 5 * (4 * 3) / 2)
      expect.foreach { case (k, v) => assert(math.abs(got(k) - v) <= 5e-7, k) }
      // The two expansion strategies must be row-identical: force the
      // duplication-heavy SHUFFLE path (thresholds 0) on the same corpus
      // the default (sparse-twin broadcast) path just answered.
      val gotShuffle = graft.ops.Dedup
        .d15PrefixJaccardImpl(spark, dir.getPath, 0L, 0L).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(gotShuffle == got)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("d15PrefixJaccard at 300× duplication depth: row-identity holds AND " +
    "total shuffle traffic stays output-bound — never quadratic in documents") {
    // Adversarial duplication stress (VERDICT r9 item 6): a TINY distinct
    // corpus duplicated to a depth (300) an order past the sf3 gate's 30×.
    // Un-collapsed, the prefix-posting candidate stream alone is
    // ~C(depth·dups,2) ≈ 630k rows PER SHARED PREFIX SHINGLE; collapsed,
    // every quadratic leg runs over 5 representatives and the expansion
    // emits exactly the result rows. The listener-measured shuffle-write
    // record total is the observable: it must stay a small multiple of
    // input+output, far under the document-level quadratic.
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tomorrow",
      "partition pruning keeps a hundred terabyte scan honest at the metadata layer",
      "partition pruning keeps a hundred terabyte scan honest at the storage layer",
      "watermarks bound streaming state by event time not by row count")
    val depth = 300
    val docs = for {
      (t, ti) <- base.zipWithIndex
      c <- 0 until depth
    } yield ((ti * 1000 + c).toLong, t)
    val nDocs = docs.size.toLong // 1500
    // Group-level expected result, expanded count-wise (the brute force
    // over C(1500,2) doc pairs reduces exactly to the 5×5 base matrix).
    val sets = base.map(t =>
      t.split(" ").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet)
    val basePairs = (for {
      i <- sets.indices; j <- i + 1 until sets.length
      ni = sets(i).intersect(sets(j)).size
      if 13L * ni >= 3L * (sets(i).size + sets(j).size)
    } yield ((i, j), ni.toDouble / (sets(i).size + sets(j).size - ni))).toMap
    val expect = scala.collection.mutable.HashMap[(Long, Long), Double]()
    for (ti <- base.indices; a <- 0 until depth; b <- a + 1 until depth)
      expect(((ti * 1000 + a).toLong, (ti * 1000 + b).toLong)) = 1.0
    for (((i, j), v) <- basePairs; a <- 0 until depth; b <- 0 until depth)
      expect(((i * 1000 + a).toLong, (j * 1000 + b).toLong)) = v

    val dir = java.nio.file.Files.createTempDirectory("d15depth").toFile
    val recs = new java.util.concurrent.atomic.AtomicLong(0L)
    // The listener is SparkContext-wide; on the shared test session a
    // concurrently running suite's stages would inflate the counter and
    // flake the output-bound assertion. Tag this test's jobs with a job
    // group (thread-local, so only jobs submitted from this thread) and
    // count shuffle writes ONLY for stages belonging to those jobs.
    val groupId = "d15-depth-shuffle-probe"
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (e.properties != null &&
            groupId == e.properties.getProperty("spark.jobGroup.id"))
          e.stageIds.foreach(groupStages.add(_))
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && groupStages.contains(e.stageInfo.stageId)) {
          recs.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
        }
      }
    }
    try {
      docs.toDF("doc_id", "text").repartition(8).write.mode("overwrite")
        .parquet(s"${dir.getPath}/documents.parquet")
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(groupId, "d15 depth shuffle probe",
        interruptOnCancel = false)
      val got = graft.ops.Dedup.d15PrefixJaccard(spark, dir.getPath).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      spark.sparkContext.clearJobGroup()
      assert(got.size == expect.size)
      assert(got.keySet == expect.keySet)
      expect.foreach { case (k, v) => assert(math.abs(got(k) - v) <= 5e-7, k) }
      // Listener events are delivered async: poll until the total is
      // stable across two consecutive reads before asserting on it.
      var prev = -1L
      var waited = 0
      while (recs.get() != prev && waited < 100) {
        prev = recs.get(); Thread.sleep(100); waited += 1
      }
      val quadratic = nDocs * (nDocs - 1) / 2 // 1,124,250 document pairs
      val bound = 2L * (nDocs + got.size)     // output-bound envelope
      info(s"shuffle-write records=${recs.get()} output=${got.size} " +
        s"bound=$bound doc-quadratic=$quadratic")
      assert(recs.get() < bound,
        s"shuffle traffic ${recs.get()} exceeds the output-bound envelope " +
          s"$bound — a quadratic leg is running at document level")
      assert(recs.get() < quadratic / 4)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("ingest partitions the stream: validated + rejected == input") {
    val goodFac = Gen.zip(Gen.alphaStr.suchThat(_.nonEmpty), Gen.chooseNum(-10.0, 10.0))
      .map { case (id, p) =>
        s"""{"facility_id":"$id","timestamp":"2025-10-15T10:05:00+11:00","power_mw":$p,"co2_tonnes":0}"""
      }
    val goodMkt = Gen.oneOf("NSW1", "VIC1").map(r =>
      s"""{"region_id":"$r","timestamp":"2025-10-15T10:05:00+11:00","price_dmwh":10,"demand_mw":5}""")
    val bad = Gen.oneOf(
      "not json", """{"timestamp":"starting...","price_dmwh":0,"demand_mw":0}""",
      """{"facility_id":"","timestamp":"2025-10-15T10:05:00+11:00"}""",
      """{"facility_id":"X","timestamp":"short"}""")
    val mix = Gen.listOfN(12, Gen.frequency(2 -> goodFac, 1 -> goodMkt, 1 -> bad))
    for (lines <- samples(mix, 5) if lines.nonEmpty) {
      val raw = lines.toDF("value")
      val n = graft.stream.Ingest.facilityEvents(raw).count() +
        graft.stream.Ingest.marketEvents(raw).count() +
        graft.stream.Ingest.rejects(raw).count()
      assert(n == raw.count())
    }
  }

  test("connectedComponents: pointer jumping converges a chain far " +
    "longer than maxIter, and a genuine cap hit throws instead of " +
    "returning an under-merged refinement") {
    // A 64-node descending path needs 63 one-hop rounds — review-caught
    // as silently under-merging at the default cap of 20 before path
    // compression. With compression the reachable distance ~doubles per
    // round, so the DEFAULT cap must converge it to one component.
    val chain = (63L to 1L by -1L).map(i => (i, i - 1)).toDF("a", "b")
    val labels = graft.ops.Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 64 && labels.values.forall(_ == 0L))
    // And when the cap genuinely hits, the contract is a LOUD failure:
    // maxIter=2 covers distance ~4, far short of 63.
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.connectedComponents(chain, maxIter = 2)
        .as[(Long, Long)].collect()
    }
    assert(e.getMessage.contains("iteration cap"))
  }

  test("normalized fingerprint treats the FULL Java whitespace class as " +
    "whitespace — including vertical tab, where `\\s` is engine-specific") {
    // Review-caught: Java regex \s includes \x0B, DuckDB's RE2 \s does
    // not — under '\s+' the two engines fingerprinted a vertical-tab
    // document differently. The explicit class pins the Java semantics
    // in BOTH formulations; this asserts the engine half.
    val tmp = java.nio.file.Files.createTempDirectory("normfp").toString
    Seq((1L, "a\u000Bb", "en", "web"), (2L, "a  \t b", "en", "web"),
        (3L, "a c", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tmp/documents.parquet")
    val groups = graft.ops.Dedup.d6NormDedup(spark, tmp)
      .select("keeper_doc_id", "n_copies").as[(Long, Long)].collect().toSet
    // Docs 1 and 2 normalize to "a b" (one group, keeper 1); doc 3 alone.
    assert(groups == Set((1L, 2L), (3L, 1L)))
  }

  test("capped-band family (s2b/s6/d8b) on DUPLICATED embeddings: " +
    "twin collapse ≡ direct, including ties, self-exclusion and " +
    "singleton-bucket drops") {
    // 48-dim sign-LSH fixture (BandBits 12 × BandTables 4). Groups:
    //   q ×3  — ones with dims 47-48 zeroed: collides with a/b/d in
    //           tables 0-2 but NOT table 3 (multi-table dedup), and
    //           self-collides (s2b/s6 self-exclusion: member 1 IS the
    //           smallest id of its own top group);
    //   a ×2 / b ×1 — differ from q only in dims 47-48, with SWAPPED
    //           magnitudes (1,2)/(2,1): equal norms and equal dots vs
    //           every other vector ⇒ byte-equal cosine TIES, broken by
    //           member id across groups;
    //   c ×3  — all-negative: collides with nothing but itself (pure
    //           within-group leg, negative self-candidates for s2b/s6,
    //           d8b keeps it via cos(c,c)=1.0);
    //   d ×2  — sign flip in dim 1 only (table-0 bucket differs,
    //           tables 1-3 collide);
    //   w ×1  — alternating signs: singleton in every bucket, dropped
    //           by the ≥2 side of the cap in BOTH formulations;
    //   null-id copies: two of q (its bucket populations grow, its
    //           group's members do not) and z ×2 held ONLY by null ids
    //           (all-positive, so it shares a/b's buckets) — they weigh
    //           in every cap and never appear as an id.
    val ones = Seq.tabulate(48)(_ => 1.0f)
    def vWith(over: (Int, Float)*): Seq[Float] =
      over.foldLeft(ones) { case (v, (i, x)) => v.updated(i - 1, x) }
    val q = vWith(47 -> 0.0f, 48 -> 0.0f)
    val a = vWith(47 -> 1.0f, 48 -> 2.0f)
    val b = vWith(47 -> 2.0f, 48 -> 1.0f)
    val c = ones.map(x => -x)
    val d = vWith(1 -> -1.0f)
    val w = Seq.tabulate(48)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val z = vWith(2 -> 0.5f)
    val rows: Seq[(Option[Long], Seq[Float])] = Seq(
      1L -> q, 2L -> q, 3L -> q, 10L -> a, 11L -> a, 20L -> b,
      30L -> c, 31L -> c, 32L -> c, 40L -> d, 41L -> d, 60L -> w)
      .map { case (i, v) => (Option(i), v) } ++
      Seq(None -> q, None -> q, None -> z, None -> z)
    val e = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    def set(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.toList).toSet
    def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
    import graft.ops.{Dedup, Similarity}
    val pairs = Seq(
      ("d8b", Dedup.d8bNearDupMultibandImpl(e, collapse = true),
        Dedup.d8bNearDupMultibandImpl(e, collapse = false)),
      ("s2b", Similarity.s2bAnnMultibandImpl(e, collapse = true),
        Similarity.s2bAnnMultibandImpl(e, collapse = false)),
      ("s6", Similarity.s6AnnRerankImpl(e, collapse = true),
        Similarity.s6AnnRerankImpl(e, collapse = false)))
    for ((name, got, want) <- pairs) {
      val (g, v) = (bag(got), bag(want))
      assert(g.nonEmpty, s"$name produced no rows — vacuous")
      assert(g == v, s"$name collapse diverged from direct")
      assert(!g.keys.exists(_.take(2).contains(null)), s"$name emitted a null id")
    }
    // Non-vacuous shape checks on the direct output the collapse had to
    // reproduce: within-group and cross-group d8b pairs both present;
    // the singleton-bucket vector is absent everywhere; s2b's
    // self-exclusion picked the second member for the group minimum.
    val d8b = set(Dedup.d8bNearDupMultibandImpl(e, collapse = false))
    assert(d8b.exists(r => r.head == 1L && r(1) == 2L))   // within q-group
    assert(d8b.exists(r => r.head == 1L && r(1) == 10L))  // cross q→a
    assert(!d8b.exists(r => r.head == 60L || r(1) == 60L))
    val s2b = Similarity.s2bAnnMultibandImpl(e, collapse = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s2b(1L) == 2L && s2b(2L) == 1L && s2b(3L) == 1L)
  }

  test("d5 on DUPLICATED embeddings with null labels and null ids ≡ " +
    "the brute-force label-blocked self-join, as multisets") {
    // Twin groups within one label (1-3, 4-5), the same vector under two
    // labels (1-3 vs 6) and under a NULL label (7, 8 — never pair), a
    // null-id copy of a twin and a vector held only by null ids (never
    // appear), a label-1 vector below the 0.3 bar against the others,
    // and a label-2 cluster (10-12).
    val u = Seq(1.0f, 0.0f, 0.0f)
    val u2 = Seq(1.0f, 0.1f, 0.0f)
    val rows = Seq[(Option[Long], Option[Int], Seq[Float])](
      (Some(1L), Some(1), u), (Some(2L), Some(1), u), (Some(3L), Some(1), u),
      (None, Some(1), u), (Some(4L), Some(1), u2), (Some(5L), Some(1), u2),
      (Some(6L), Some(2), u), (Some(7L), None, u), (Some(8L), None, u),
      (Some(9L), Some(1), Seq(0.0f, 1.0f, 0.0f)),
      (None, Some(1), Seq(1.0f, 1.0f, 0.0f)), (None, Some(1), Seq(1.0f, 1.0f, 0.0f)),
      (Some(10L), Some(2), Seq(1.0f, 1.0f, 0.0f)), (Some(11L), Some(2), Seq(1.0f, 1.0f, 0.0f)),
      (Some(12L), Some(2), Seq(0.9f, 1.0f, 0.2f)))
    val dir = java.nio.file.Files.createTempDirectory("d5Twins").toFile
    try {
      rows.toDF("vec_id", "label", "embedding").write.mode("overwrite")
        .parquet(s"${dir.getPath}/embeddings.parquet")
      // The engine's cosine: three sequential double sums, one sqrt;
      // Spark's round(x, 6) is HALF_UP on the double's decimal form.
      def cos(x: Seq[Float], y: Seq[Float]): Double = {
        val (xd, yd) = (x.map(_.toDouble), y.map(_.toDouble))
        val (dot, nx, ny) = xd.zip(yd).foldLeft((0.0, 0.0, 0.0)) {
          case ((d, a, b), (p, q)) => (d + p * q, a + p * p, b + q * q)
        }
        BigDecimal(dot / math.sqrt(nx * ny))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val want = (for {
        (Some(a), Some(la), va) <- rows
        (Some(b), Some(lb), vb) <- rows
        if a < b && la == lb && cos(va, vb) >= 0.3
      } yield List[Any](a, b, cos(va, vb)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val got = graft.ops.Dedup.d5EmbeddingNearDup(spark, dir.getPath)
        .select("vec_a", "vec_b", "cos_sim").collect()
        .map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
      // Non-vacuous: within-group (1,2), cross-group (1,4) and the
      // label-2 pairs are all in the reference.
      assert(Seq(List(1L, 2L, 1.0), List(10L, 11L, 1.0)).forall(want.contains))
      assert(want.keys.exists(r => r.take(2) == List(1L, 4L)))
      assert(got == want)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("t15/t16 on a DUPLICATED corpus: twin collapse ≡ direct, " +
    "bit-for-bit on the score doubles") {
    // Texts duplicated 2-4× (avg depth ≥ 1.2 trips both gates), with
    // mixed langs so t16's tgt flag splits one text across hub groups
    // (same text under en AND de — the (tgt, text) key's hard case),
    // shared bigrams across texts (the model counts aggregate across
    // groups), a sub-2-token doc (n_bigrams 0, null score), a null
    // text, a null-id copy of t0 and a text held only by null ids (t2).
    // The reference is the row-counting spec form (DirectForms); scores
    // must match BIT-FOR-BIT (integer-weighted sums, same quotient),
    // not approximately — so compare raw doubles, no rounding.
    val b = "the quick brown fox jumps over the lazy dog again and again"
    val t0 = b + " alpha tail"
    val t1 = b + " beta tail words"
    val t2 = b + " gamma tail held without ids"
    val rows = Seq[(Option[Long], String, String, String)](
      (Some(1L), t0, "en", "src1"), (Some(2L), t0, "en", "src2"),
      (Some(3L), t0, "de", "src1"),
      (Some(4L), t1, "en", "src1"), (Some(5L), t1, "de", "src2"),
      (Some(6L), t1, "de", "src3"), (Some(7L), t1, "de", "src1"),
      (Some(8L), "single", "en", "src1"),
      (Some(9L), null.asInstanceOf[String], "de", "src1"),
      (None, t0, "en", "src2"), (None, t2, "en", "src1"), (None, t2, "de", "src1"))
    val dir = java.nio.file.Files.createTempDirectory("lmTwins").toFile
    try {
      rows.toDF("doc_id", "text", "lang", "source").write.mode("overwrite")
        .parquet(s"${dir.getPath}/documents.parquet")
      val docs = spark.read.parquet(s"${dir.getPath}/documents.parquet")
      // Multisets: the null-id rows repeat.
      def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
      import graft.ops.{DirectForms, TextAnalysis}
      // Gates actually engage on this corpus (12 docs / 5 distinct texts;
      // 8 distinct (lang, text) pairs — 12/8 = 1.5 ≥ 1.2).
      assert(graft.ops.Collapse.gate(spark, dir.getPath, "documents", Seq("text")))
      assert(graft.ops.Collapse.gate(spark, dir.getPath, "documents", Seq("lang", "text")))
      val lmWant = bag(DirectForms.lmScore(docs))
      val lmGot = bag(TextAnalysis.t15LmScore(spark, dir.getPath))
      assert(lmGot.nonEmpty && lmGot == lmWant, "t15 collapse diverged")
      assert(bag(TextAnalysis.lmScore(docs)) == lmWant, "t15 direct diverged")
      val impWant = bag(DirectForms.importanceWeights(docs))
      val impGot = bag(TextAnalysis.t16Importance(spark, dir.getPath))
      assert(impGot.nonEmpty && impGot == impWant, "t16 collapse diverged")
      assert(bag(TextAnalysis.importanceWeights(docs)) == impWant, "t16 direct diverged")
      // Every document comes back once, null ids included.
      assert(lmGot.values.sum == rows.size && impGot.values.sum == rows.size)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(dir)
    }
  }
}
