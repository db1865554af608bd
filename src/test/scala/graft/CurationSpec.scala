package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Curation

/** End-to-end corpus curation: every drop reason fires on a constructed
  * corpus, the audit explains exactly the rejected docs, and the fixture
  * smoke run conserves documents (kept + audited = candidates).
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private val base30 = (1 to 30).map(i => s"w$i").mkString(" ")

  private val corpus = Seq(
    // eval reference doc — its 5-grams define contamination
    (1L, "secret eval question about physics and more padding words", "en", "eval"),
    // contaminated: contains an eval 5-gram, otherwise unique words
    (10L, "intro secret eval question about physics closing remarks here", "en", "web"),
    // gate drops: too short / wrong language
    (20L, "too short", "en", "web"),
    (21L, "ein ganz anderes deutsches dokument mit vielen woertern darin", "de", "web"),
    // exact-normalized duplicates (case/whitespace differ): keeper 30
    (30L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet", "en", "web"),
    (31L, "Alpha  Bravo Charlie   Delta Echo Foxtrot Golf Hotel India Juliet", "en", "web"),
    // near-duplicates (one trailing word differs): keeper 40
    (40L, base30, "en", "web"),
    (41L, base30.replace("w30", "changed"), "en", "web"),
    // clean survivor
    (50L, "unique vocabulary document that sails through every single stage fine", "en", "web")
  ).toDF("doc_id", "text", "lang", "source")

  test("curate: every stage drops exactly its targets; audit explains each") {
    val out = Curation.curate(corpus, evalSource = "eval",
      langs = Seq("en"), minTokens = 5)
    val audit = out.audit.as[(Long, String)].collect().toSet
    assert(audit == Set(
      (20L, "gate"), (21L, "gate"),
      (31L, "duplicate"),
      (41L, "near_duplicate"),
      (10L, "contaminated")))
    val keptDocs = out.chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(keptDocs == Set(30L, 40L, 50L))
    // Eval docs are reference material, never output.
    assert(!keptDocs.contains(1L))
    // Split labels are the q39 rule's domain.
    val splits = out.chunks.select("split").distinct().as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    out.release()
  }

  test("curate -> pack (c3): sequences conserve tokens, stay train-only, offsets contiguous") {
    val out = Curation.curate(corpus, evalSource = "eval",
      langs = Seq("en"), minTokens = 5)
    val train = out.chunks.filter(col("split") === "train")
    val packed = graft.ops.TextAnalysis.pack(train)

    // Every train chunk is packed exactly once, with its token count intact.
    val trainChunks = train.select("doc_id", "chunk_idx", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect().toSet
    val packedChunks = packed.select("doc_id", "chunk_idx", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect().toSet
    assert(packedChunks == trainChunks)

    // Per shard, chunks laid out in (doc_id, chunk_idx) order are
    // contiguous in token space: each start (seq*capacity + seq_off)
    // equals the running sum of prior chunk tokens, and seq_off < capacity.
    val cap = 128L
    packed.collect().groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      var run = 0L
      rows.sortBy(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")))
        .foreach { r =>
          val off = r.getAs[Long]("seq") * cap + r.getAs[Long]("seq_off")
          assert(off == run, s"gap/overlap at $r: expected start $run")
          assert(r.getAs[Long]("seq_off") < cap)
          run += r.getAs[Long]("n_chunk_tokens")
        }
    }
    out.release()
  }

  test("curate: null-source docs are candidates (null-safe compare), zero minTokens rejected") {
    val docs = Seq(
      (1L, "a perfectly fine document with plenty of words", "en", Option("web")),
      (2L, "null source must not silently vanish from the pipeline", "en", Option.empty[String])
    ).toDF("doc_id", "text", "lang", "source")
    val out = Curation.curate(docs, evalSource = "eval", langs = Seq("en"), minTokens = 5)
    val seen = out.chunks.select("doc_id").distinct().as[Long].collect().toSet ++
      out.audit.select("doc_id").as[Long].collect().toSet
    assert(seen == Set(1L, 2L), "every candidate must surface in chunks or audit")
    out.release()
    intercept[IllegalArgumentException] {
      Curation.curate(docs, "eval", Seq("en"), minTokens = 0)
    }
  }

  test("curate: null doc_id is rejected with an invalid_id audit row, not silently lost") {
    // Without the explicit id gate: the dedup keeper filter
    // (doc_id === min(doc_id)) is null for a null id and drops the row,
    // and the audit anti-joins can't name it — violating conservation
    // silently (ADVICE r4). Eval-side null ids stay reference material.
    val docs = Seq(
      (Option(1L), "a perfectly fine document with plenty of words", "en", "web"),
      (Option.empty[Long], "document that lost its identifier somewhere upstream", "en", "web"),
      (Option.empty[Long], "eval reference text rows may lack ids too", "en", "eval")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Curation.curate(docs, evalSource = "eval", langs = Seq("en"), minTokens = 5)
    val audit = out.audit.as[(Option[Long], String)].collect().toSet
    assert(audit == Set((Option.empty[Long], "invalid_id")))
    assert(out.chunks.select("doc_id").distinct().as[Long].collect().toSet == Set(1L))
    out.release()
  }

  test("curate: duplicate candidate doc_ids fail loudly instead of silently conflating rows") {
    // Two rows sharing id 1: the gate-failing row would be removed from
    // the gate audit's anti-join by its passing sibling — appearing in
    // neither chunks nor audit (review-caught). The contract is id
    // uniqueness, enforced with an explicit failure.
    val docs = Seq(
      (1L, "a perfectly fine document with plenty of words", "en", "web"),
      (1L, "zz", "en", "web"),
      (2L, "another fine document with plenty of words here", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val e = intercept[IllegalArgumentException] {
      Curation.curate(docs, evalSource = "eval", langs = Seq("en"), minTokens = 5)
    }
    assert(e.getMessage.contains("duplicate doc_id"))
  }

  test("curate scans the source once: both returned frames read the internal cache") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

    // Every node, descending through AQE wrappers and query stages.
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case x => x }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
        case s: QueryStageExec => s +: nodes(s.plan)
        case x => Seq(x)
      }
    def scans(df: DataFrame): (Seq[SparkPlan], Seq[InMemoryTableScanExec]) = {
      val ns = nodes(df.queryExecution.executedPlan)
      (ns.filter(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]),
        ns.collect { case s: InMemoryTableScanExec => s })
    }

    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = Curation.curate(docs, evalSource = "src0",
      langs = Seq("en", "de", "es", "fr", "zh"), minTokens = 1)
    // Evaluate chunks first (fills the contamination cache), then audit.
    assert(out.chunks.count() > 0 && out.audit.count() > 0)
    val (chunkFiles, chunkMem) = scans(out.chunks)
    val (auditFiles, auditMem) = scans(out.audit)
    // Neither returned frame re-reads parquet: all source access routes
    // through the cache filled by curate's eager pass.
    assert(chunkFiles.isEmpty, s"chunks re-scans the source:\n${chunkFiles.mkString("\n")}")
    assert(auditFiles.isEmpty, s"audit re-scans the source:\n${auditFiles.mkString("\n")}")
    assert(chunkMem.nonEmpty && auditMem.nonEmpty, "expected cached scans")
    // And it IS the same cache — one materialization serves both frames.
    val shared = chunkMem.exists(c => auditMem.exists(_.relation.cacheBuilder eq c.relation.cacheBuilder))
    assert(shared, "chunks and audit do not share the cached input")
    out.release()
  }

  test("c1 over a corpus rewritten in place curates the new corpus, not the memoized run") {
    // The registry's c1 parameters: en is allowed, 25 tokens pass
    // minTokens 20, and "web" is not the eval source.
    def write(path: String, docs: Seq[(Long, String)]): Unit =
      docs.map { case (id, w) => (id, (1 to 25).map(i => s"$w$i").mkString(" "), "en", "web") }
        .toDF("doc_id", "text", "lang", "source").write.parquet(path)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
    }
    val dir = java.nio.file.Files.createTempDirectory("curation-rewrite").toFile
    val table = new java.io.File(dir, "documents.parquet")
    def c1Docs() = SparkEntry.queries("c1_curation")(spark, dir.getPath)
      .select("doc_id").distinct().as[Long].collect().toSet
    try {
      write(table.getPath, Seq(1L -> "a", 2L -> "b"))
      assert(c1Docs() == Set(1L, 2L))
      // Another writer replaces the table's files (a Spark overwrite in
      // this session would also refresh the session's cached plans).
      val next = new java.io.File(dir, "next")
      write(next.getPath, Seq(7L -> "c", 8L -> "d", 9L -> "e"))
      rm(table)
      java.nio.file.Files.move(next.toPath, table.toPath)
      assert(c1Docs() == Set(7L, 8L, 9L), "c1 returned the run of the replaced corpus")
    } finally {
      Harness.reset(spark)
      rm(dir)
    }
  }

  test("curate conserves documents on the fixture corpus: kept + audited = candidates") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = Curation.curate(docs, evalSource = "src0",
      langs = Seq("en", "de", "es", "fr", "zh"), minTokens = 1)
    val kept = out.chunks.select("doc_id").distinct().count()
    val audited = out.audit.select("doc_id").distinct().count()
    val candidates = docs.filter(col("source") =!= "src0").count()
    // Each candidate is dropped at exactly one stage or kept.
    assert(out.audit.count() == audited, "audit must have one row per dropped doc")
    assert(kept + audited == candidates,
      s"conservation: $kept kept + $audited audited != $candidates candidates")
    assert(kept > 0 && audited > 0)
    out.release()
  }

  test("c4: no d9 near-dup pair straddles a split boundary; singletons " +
    "keep exactly q39's label; every doc appears once") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents")
    val c4 = Curation.c4ClusterSplit(spark, dir)
    assert(c4.count() == docs.count() &&
      c4.select("doc_id").distinct().count() == docs.count())
    // The leakage property c4 exists for: both ends of every near-dup
    // candidate pair land in the SAME split.
    val pairs = graft.ops.Dedup.d2MinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val straddling = pairs
      .join(c4.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(c4.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddling == 0, s"$straddling near-dup pairs straddle splits")
    // q39 agreement for unclustered docs (group_id == doc_id and no
    // cluster membership): their split is the per-doc q39 label, so the
    // per-(source, split) histogram restricted to them matches q39's
    // restricted histogram.
    val clustered = graft.ops.Dedup.d9DedupClusters(spark, dir).select("doc_id")
    val single = c4.join(clustered, Seq("doc_id"), "left_anti")
    assert(single.filter(col("group_id") =!= col("doc_id")).count() == 0)
    val q39 = docs.join(clustered, Seq("doc_id"), "left_anti")
      .select(col("source"),
        graft.ops.Sampling.splitLabel(col("doc_id"), col("text")).as("split"))
      .groupBy("source", "split").count()
    val c4h = single.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source", "split").count()
    assert(q39.exceptAll(c4h).isEmpty && c4h.exceptAll(q39).isEmpty)
    // And the operator is not vacuous here: the fixture has clusters
    // whose members' OWN labels disagree, i.e. c4 actually moved docs.
    val moved = c4.join(docs.select("doc_id", "text"), "doc_id")
      .filter(col("split") =!=
        graft.ops.Sampling.splitLabel(col("doc_id"), col("text")))
      .count()
    assert(moved > 0, "fixture exercised no cross-split cluster merge")
  }

  // ---- curate2: surgical decontamination + LM gate ----

  // Two DISTINCT >=40-char eval blocks so the two scrub targets share
  // no tokens with each other (a single shared block would make them
  // near-dup candidates of one another and entangle the stages).
  private val evA = "the quick brown fox jumps over the lazy benchmark dog"
  private val evB = "pack my box with five dozen benchmark liquor jugs today okay"

  private val corpus2 = Seq(
    (1L, s"$evA middle filler $evB", "en", "eval"),
    // surgically scrubbed, SURVIVES: the eval block is excised and 8
    // clean tokens remain
    (10L, s"keep1 keep2 keep3 keep4 keep5 keep6 $evA keep7 keep8", "en", "web"),
    // gutted: scrub leaves 3 tokens < minTokens 5
    (11L, s"zz1 zz2 zz3 $evB", "en", "web"),
    // gate drops: too short / wrong language
    (20L, "too short", "en", "web"),
    (21L, "ein ganz anderes deutsches dokument mit vielen woertern darin", "de", "web"),
    // exact-normalized duplicates: keeper 30
    (30L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet", "en", "web"),
    (31L, "Alpha  Bravo Charlie   Delta Echo Foxtrot Golf Hotel India Juliet", "en", "web"),
    // near-duplicates: keeper 40
    (40L, base30, "en", "web"),
    (41L, base30.replace("w30", "changed"), "en", "web"),
    // LM-gate victim: every bigram is a 1-count continuation of a
    // hot prefix (the fillers below give each of a/c/d/e/f 49 self-
    // bigrams), so its mean bigram probability is 5 * (1/50) / 5 = 0.02
    // < the 0.032 default threshold
    (60L, "a c d e f g", "en", "web")
  ).toDF("doc_id", "text", "lang", "source")
    .unionByName(Seq("a", "c", "d", "e", "f").zipWithIndex.map { case (w, i) =>
      (61L + i, Seq.fill(50)(w).mkString(" "), "en", "web")
    }.toDF("doc_id", "text", "lang", "source"))

  test("curate2: spans are scrubbed surgically, gutted and low-LM docs " +
    "are audited, and partially-contaminated docs SURVIVE") {
    val out = Curation.curate2(corpus2, evalSource = "eval",
      langs = Seq("en"), minTokens = 5)
    val audit = out.audit.as[(Long, String)].collect().toSet
    assert(audit == Set(
      (20L, "gate"), (21L, "gate"),
      (31L, "duplicate"),
      (41L, "near_duplicate"),
      (11L, "decontam_gutted"),
      (60L, "lm_gate")))
    val kept = out.chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(kept == Set(10L, 30L, 40L, 61L, 62L, 63L, 64L, 65L))
    // The surgical point: doc 10 survives WITHOUT the benchmark text.
    // The span covers the block plus its trailing shared space, so the
    // remaining halves join back cleanly here.
    val doc10 = out.chunks.filter(col("doc_id") === 10L)
      .select("chunk_text").as[String].collect()
    assert(doc10.toSeq ==
      Seq("keep1 keep2 keep3 keep4 keep5 keep6 keep7 keep8"))
    assert(!doc10.exists(_.contains("benchmark")))
    // Conservation: every candidate is in chunks or audit, never both.
    val auditedIds = audit.map(_._1)
    assert(kept.intersect(auditedIds).isEmpty)
    assert(kept ++ auditedIds ==
      corpus2.filter(col("source") =!= "eval")
        .select("doc_id").as[Long].collect().toSet)
    out.release()
  }

  test("curate2 vs curate on the same corpus: the v1 flavor can only " +
    "drop a contaminated doc; v2 keeps its clean remainder") {
    // Under t10 (doc-level, 5-token shingles) doc 10 is contaminated
    // and vanishes; under curate2 its clean tokens are training data.
    val v1 = Curation.curate(corpus2, evalSource = "eval",
      langs = Seq("en"), minTokens = 5)
    val v2 = Curation.curate2(corpus2, evalSource = "eval",
      langs = Seq("en"), minTokens = 5)
    val v1kept = v1.chunks.select("doc_id").distinct().as[Long].collect().toSet
    val v2kept = v2.chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(!v1kept.contains(10L) &&
      v1.audit.as[(Long, String)].collect().toSet.contains((10L, "contaminated")))
    assert(v2kept.contains(10L))
    v1.release(); v2.release()
  }

  test("curate2 at minTokens=1: a doc scrubbed down to ONE token (no " +
    "bigrams, NULL lm_score) is audited as lm_gate, not silently lost") {
    // Review-caught conservation hole: lm_score is NULL when the
    // scrubbed text has < 2 tokens, and a NULL failed BOTH the kept
    // filter and the old `lm_score < min` drop filter — the doc
    // vanished from chunks AND audit.
    val docs = Seq(
      (1L, evA, "en", "eval"),
      (10L, s"solo $evA", "en", "web"), // scrub leaves exactly "solo"
      (11L, "w1 w2 w3 w4 w5 w6", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Curation.curate2(docs, evalSource = "eval",
      langs = Seq("en"), minTokens = 1)
    val audit = out.audit.as[(Long, String)].collect().toSet
    val kept = out.chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(audit == Set((10L, "lm_gate")), s"audit was $audit")
    assert(kept == Set(11L))
    // Conservation: every candidate is accounted for exactly once.
    assert(kept ++ audit.map(_._1) == Set(10L, 11L))
    out.release()
  }
}
