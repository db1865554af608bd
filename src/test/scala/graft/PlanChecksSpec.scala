package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression checks — the properties that make these
  * queries scale (pushdown, pruning, broadcast, partial aggregation)
  * asserted on the actual Catalyst output, so a refactor that silently
  * loses one fails the build.
  *
  * Every pin runs against an UNCACHED session: suites sharing the
  * session (QueriesSmokeSpec et al.) leave OpCaches-persisted frames
  * in the CacheManager, which substitutes its InMemoryRelation into any
  * plan-equal subtree here — erasing the very exchange/scan signatures
  * these tests assert (d11's ReusedExchange pin, round-11 regression).
  * The release is the mains' between-query [[Harness.reset]].
  */
class PlanChecksSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTest.session
  val dir = "/root/testdata/sf0.001"

  override def beforeEach(): Unit = {
    Harness.reset(spark)
    super.beforeEach()
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode)

  test("q2: predicates push into the parquet scan; scan reads only needed columns") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("LessThan(l_quantity,24.0)"),
      s"filter not pushed:\n$p")
    // 16-column table; the scan must read exactly the 5 referenced ones.
    val read = p.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(read.split(",").length == 5, s"column pruning lost: $read")
    assert(!read.contains("l_shipdate"))
  }

  test("q3: star joins broadcast the dims — no shuffle join, one agg exchange") {
    val p = plan("q3_join_agg")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p.take(800))
    assert(!p.contains("SortMergeJoin"), "dim join fell back to SMJ")
  }

  test("q1: aggregation is partial+final (map-side combine before the shuffle)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
    // Formatted explain lists each node in the tree and again in the
    // details section — count tree occurrences only.
    assert("- Exchange".r.findAllIn(p).length == 1, "expected exactly one shuffle")
  }

  test("t1: per-row text ops are narrow — no shuffle anywhere") {
    val p = plan("t1_quality_score")
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n${p.take(800)}")
  }

  test("q41/q42: rank filter plans a WindowGroupLimit below the shuffle " +
    "(map tasks forward at most k rows per group — never the full partition)") {
    for (q <- Seq("q41_topk_per_key", "q42_stratified_sample")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q lost the group-limit pushdown:\n${p.take(800)}")
    }
  }

  test("q43: running total is one shuffle + one window — no extra passes") {
    val p = plan("q43_running_total")
    assert("- Exchange".r.findAllIn(p).length == 1, p.take(800))
    assert("- Window".r.findAllIn(p).length == 1, p.take(800))
  }

  test("q46: exact-sum stats stay one partial+final aggregation — one shuffle") {
    val p = plan("q46_stats")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
    assert("- Exchange".r.findAllIn(p).length == 1, "expected exactly one shuffle")
  }

  test("q48: group stats broadcast back onto the rows — no sort-merge join") {
    val p = plan("q48_zscore")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "stats join fell back to SMJ")
  }

  test("s6: re-rank window plans a WindowGroupLimit below the shuffle") {
    val p = plan("s6_ann_rerank")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("d10: incremental dedup is one scan + one shuffle — no anti-join of the corpus") {
    val p = plan("d10_incremental_dedup")
    // "- Scan" counts tree nodes only (formatted mode repeats each node
    // in the details section).
    assert("- Scan parquet".r.findAllIn(p).length == 1, p.take(800))
    assert("- Exchange".r.findAllIn(p).length == 1, p.take(800))
    assert(!p.contains("Join"), "tagged aggregation replaced by a join")
  }

  test("q50: grouping sets plan one Expand + one aggregation exchange") {
    val p = plan("q50_grouping_sets")
    assert(p.contains("Expand"), p.take(800))
    assert("- Exchange".r.findAllIn(p).length == 1, p.take(800))
  }

  test("s1: query set is broadcast against the corpus scan") {
    val p = plan("s1_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
  }

  test("d2: md5-heavy signature pipeline runs once — band self-join reuses one exchange") {
    // The reuse is an AQE runtime decision (stage cache), so assert on
    // the FINAL adaptive plan after execution, not the static one.
    val df = SparkEntry.queries("d2_minhash_lsh")(spark, dir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"), s"band self-join no longer reuses:\n$fin")
    assert("FileScan parquet".r.findAllIn(fin).length == 1,
      s"documents scanned more than once:\n$fin")
  }

  test("d2 collapse path: expansion legs read the twin-hub cache; documents scanned once, inside it") {
    // The r16 collapse shape (d4's cache-topology pin, one hub here):
    // the signature pass and both expansion legs read the persisted
    // distinct-token-array hub — no leg re-derives tokenize/groupBy,
    // and the documents FileScan lives in the one cached lineage.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val lp = graft.ops.Dedup.minhashPairs(
        spark.read.parquet(s"$dir/documents.parquet"), collapse = true)
      .queryExecution.optimizedPlan
    val uncachedScans = lp.collect { case r: LogicalRelation => r }
    assert(uncachedScans.isEmpty,
      s"a leg scans parquet outside the twin hub: $uncachedScans")
    val caches = lp.collect { case r: InMemoryRelation => r.cacheBuilder }.distinct
    assert(caches.size == 1, s"expected the one twin hub, got ${caches.size}")
    assert("FileScan parquet".r.findAllIn(caches.head.cachedPlan.toString).length == 1,
      s"hub must scan documents exactly once:\n${caches.head.cachedPlan.toString.take(1500)}")
  }

  test("d11: one Lloyd's-assignment pass feeds both self-join sides") {
    // The composed d11 plan is truncated by connectedComponents'
    // localCheckpoint, so pin the property on the pre-component pairs
    // stage: the assignment (a corpus scan + row-local argmin against
    // literal centroids) and the twin-collapse groupBy must be planned
    // once and reused across the within-cell self-join — otherwise
    // every component round would re-run them twice. AQE decides reuse
    // at runtime; assert on the final adaptive plan.
    val df = graft.ops.Dedup.d11Pairs(spark, dir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"), s"cell self-join no longer reuses:\n$fin")
    assert("FileScan parquet".r.findAllIn(fin).length == 1,
      s"embeddings scanned more than once:\n$fin")
  }

  test("d4 direct path (twin-free fixture): one documents scan feeds both postings and sizes") {
    // The stat gate must pick the per-document form here (driver
    // fixtures are duplicate-free) — the collapse's extra shuffles are
    // pure overhead on such corpora (measured ~+0.6 s at sf0.1).
    val p = SparkEntry.queries("d4_ngram_jaccard")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("InMemoryTableScan"),
      "stat gate chose the collapse on a twin-free corpus")
    assert("FileScan parquet".r.findAllIn(p).length == 1, p.take(2000))
  }

  test("d4 collapse path: all legs read the twin-collapse hub caches; documents scanned once, inside them") {
    // The r16 collapse shape: every consumer (cross-pair aggregation,
    // two expansion joins, within leg) is an InMemoryRelation over the
    // grp/postings hubs — no leg re-derives the tokenize→shingle→md5
    // pipeline, and the documents FileScan lives in exactly one cached
    // lineage. A regression that drops the persist (or builds a bypass
    // scan) re-runs the heavy pipeline per consumer (measured 4× on
    // d15's identical hub pattern).
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val lp = graft.ops.Dedup.d4NgramJaccardImpl(spark, dir, collapse = true)
      .queryExecution.optimizedPlan
    val uncachedScans = lp.collect { case r: LogicalRelation => r }
    assert(uncachedScans.isEmpty,
      s"a leg scans parquet outside the collapse hub: $uncachedScans")
    val caches = lp.collect { case r: InMemoryRelation => r.cacheBuilder }.distinct
    assert(caches.size == 2, s"expected the grp+postings hubs, got ${caches.size}")
    // Exactly one BASE hub scans parquet (grp, once); the other reads
    // the base through its InMemoryTableScan (whose print NESTS the
    // cached lineage — so count scans only in cache plans that read no
    // other cache).
    val prints = caches.map(_.cachedPlan.toString)
    val (derived, base) = prints.partition(_.contains("InMemoryTableScan"))
    assert(base.size == 1 && derived.size == 1,
      s"expected one base + one derived hub, got base=${base.size}")
    assert("FileScan parquet".r.findAllIn(base.head).length == 1,
      s"base hub must scan documents exactly once:\n${base.head.take(1500)}")
  }

  test("s2b: multiband self-join reuses one exchange — one embeddings scan, cap via window") {
    // Same property as d2: the band explode + bucket math sit below ONE
    // (tbl, bucket) shuffle; the window cap and both self-join sides run
    // on the reused exchange. AQE decides reuse at runtime, so assert on
    // the final adaptive plan.
    val df = SparkEntry.queries("s2b_ann_multiband")(spark, dir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"), s"multiband self-join no longer reuses:\n$fin")
    assert("FileScan parquet".r.findAllIn(fin).length == 1,
      s"embeddings scanned more than once:\n$fin")
  }

  test("s3: probe leg's vec_id range reaches the scan — queries are not scored corpus-wide") {
    // The scale property worth pinning here is pushdown, not reuse: the
    // probes pipeline must score only the query vectors (range filter in
    // the scan), while the assignment leg scores the corpus exactly once
    // through a partial+final max_by agg (no sort).
    val p = plan("s3_ivf_ann")
    assert(p.contains("GreaterThanOrEqual(vec_id,"), s"probe range not pushed:\n$p")
  }

  test("t6: one tokenize+explode pass feeds both tf and doc-frequency") {
    val df = SparkEntry.queries("t6_tfidf")(spark, dir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"), s"terms pass duplicated again:\n$fin")
    // documents scan for terms + count-only scan for n_docs.
    assert("FileScan parquet".r.findAllIn(fin).length <= 2, fin.take(2000))
  }

  test("t12: tf, df and corpus stats share ONE tokenize pass (one corpus scan)") {
    val df = SparkEntry.queries("t12_bm25")(spark, dir)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // df's sum(least(tf,1)) formulation exists exactly so this branch
    // reuses the tf exchange instead of re-scanning (see bm25 docstring).
    assert(fin.contains("ReusedExchange"), s"tf exchange not shared:\n${fin.take(2000)}")
    // The CORPUS (source != src0, the big side at scale) must scan and
    // tokenize exactly once — identified by its pushed filter. The
    // small eval side may scan twice: query terms for the budget, plus
    // the posting-cap semi-join build (see bm25's truncation note).
    val corpusScans = fin.linesIterator.count(l =>
      l.contains("FileScan parquet") &&
        "NOT \\(source#\\d+ <=> src0\\)".r.findFirstIn(l).isDefined)
    assert(corpusScans == 1,
      s"corpus scanned $corpusScans times, expected once:\n${fin.take(2000)}")
    assert("Scan parquet".r.findAllIn(fin).length <= 3, fin.take(2000))
  }

  test("q36: all column profiles come from a single scan") {
    val p = SparkEntry.queries("q36_dq_profile")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert("FileScan parquet".r.findAllIn(p).length == 1, p.take(2000))
  }

  test("whole-stage codegen covers the scan→filter→project hot path") {
    val p = plan("q2_filter_project")
    assert(p.contains("codegen id"), "no WholeStageCodegen spans in q2")
  }

  test("s7: final assignment is a narrow row-local argmin — native kernel " +
    "in codegen, no join, no aggregation, no argmin shuffle") {
    val p = plan("s7_kmeans_assign")
    // The corpus×centroid distance must be the codegen'd expression, not
    // the aggregate(zip_with(…)) lambda chain (HOFs evaluate outside
    // whole-stage codegen — the reason sq_dist_long exists).
    assert(p.contains("sq_dist_long"), s"native kernel missing:\n${p.take(800)}")
    assert(!p.contains("zip_with"), "HOF lambda leaked back into the kernel")
    // Centroids are driver literals, so the argmin is least() over k
    // struct(dist, cell) columns — a per-row map. The whole corpus never
    // shuffles: the ONLY exchange allowed is `spread`'s round-robin,
    // which exists only because the fixture parquet is a single row
    // group (it self-disables on multi-row-group data).
    assert("- Exchange".r.findAllIn(p).length <= 1,
      s"assignment must not shuffle:\n${p.take(800)}")
    assert(!p.contains("Aggregate"), s"argmin must be row-local:\n${p.take(800)}")
    assert(!p.contains("Join"), s"centroids must be literals, not a join:\n${p.take(800)}")
  }

  test("s4/s5: PQ assignment is one projection over the unexploded vector — " +
    "one embeddings scan, no per-subspace Union") {
    val s4 = SparkEntry.queries("s4_pq_codes")(spark, dir)
    s4.collect()
    val p4 = s4.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(p4).length == 1, s"s4 must scan once:\n$p4")
    assert(!p4.contains("Union"), s"s4 must not union per-subspace branches:\n$p4")
    assert(p4.contains("sq_dist_double"), s"native kernel missing:\n$p4")
    val p5 = plan("s5_pq_search")
    assert(!p5.contains("Union"), s"s5 must not union per-subspace branches:\n${p5.take(2000)}")
  }

  test("t10: posting-cap window and shingle aggregation share one exchange " +
    "(no corpus self-join, no second scan for the eval side)") {
    val p = plan("t10_contamination")
    assert("- Scan parquet".r.findAllIn(p).length == 1, s"expected ONE scan:\n${p.take(1000)}")
    assert(p.contains("Window"), "posting cap must be the window count")
    // spread's round-robin + hash(sh) + hash(doc_id) — the window's
    // hash(sh) clustering is REUSED by the shingle aggregation.
    assert("- Exchange".r.findAllIn(p).length <= 3,
      s"cap window must not add its own exchange:\n${p.take(1500)}")
  }

  test("d12/t13: one scan, one hashing pass — flagging is a gk window " +
    "(a join-back formulation re-ran the window-hash pipeline per branch; " +
    "t13 tags eval in the same projection instead of a union of filters)") {
    for (q <- Seq("d12_substr_spans", "t13_contam_spans")) {
      val p = plan(q)
      assert("- Scan parquet".r.findAllIn(p).length == 1, s"$q: expected ONE scan:\n${p.take(1000)}")
      assert("- Window".r.findAllIn(p).length >= 2, s"$q: gk flag + island merge are windows")
      assert(!p.contains("Join"), s"$q: no join in the flag path:\n${p.take(1000)}")
      // spread round-robin + gk + doc_id — the island groupBy reuses the
      // doc window's clustering, so exactly three exchanges.
      assert("- Exchange".r.findAllIn(p).length <= 3,
        s"$q: island agg must ride the doc window's exchange:\n${p.take(1500)}")
    }
  }

  test("t15: both LM counts are windows over ONE exploded bigram frame — " +
    "one tokenize pass, two scans total (full text + doc_id join-back)") {
    val p = plan("t15_lm_score")
    assert("- Generate".r.findAllIn(p).length == 1,
      s"expected ONE bigram explode:\n${p.take(1200)}")
    assert("- Window".r.findAllIn(p).length == 2, "n2 + n1 are stacked windows")
    // Full-text scan for the pipeline + a doc_id-pruned scan for the
    // every-doc join-back; a groupBy model table would add a third.
    assert("- Scan parquet".r.findAllIn(p).length == 2,
      s"expected TWO scans:\n${p.take(1200)}")
  }

  test("q56: AQE broadcasts the small fact-derived cohort dim at runtime " +
    "(no forced hint — a user-cardinality dim must be allowed to outgrow broadcast)") {
    val df = SparkEntry.queries("q56_retention")(spark, dir)
    df.collect() // finalize the adaptive plan — the decision under test is AQE's
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small cohort dim:\n${p.take(800)}")
  }

  test("q57: hop-window assignment is explode into ONE partial+final hash agg") {
    val p = plan("q57_hop_window")
    assert("- HashAggregate".r.findAllIn(p).length == 2, s"expected partial+final:\n${p.take(800)}")
    assert("- Exchange".r.findAllIn(p).length == 1, s"expected one shuffle:\n${p.take(800)}")
  }

  test("EXPLAINS.md has an executed-plan section for EVERY registered query " +
    "(regenerate with `sbt \"runMain graft.Plans\"` after adding one)") {
    // A query absent from EXPLAINS.md has no pinned executed plan, so a
    // silent broadcast→shuffle flip there would surface only as a bench
    // delta (VERDICT r6 item 4). Plans.scala appends every registered
    // name; this pin makes forgetting the regeneration a red build.
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("EXPLAINS.md")))
    val sections = md.linesIterator
      .filter(_.startsWith("## ")).map(_.drop(3).trim).toSet
    val missing = SparkEntry.queries.keySet -- sections
    assert(missing.isEmpty,
      s"queries with no EXPLAINS section: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("q30b: exact and approx distinct aggregate SEPARATELY, joined by broadcast " +
    "(a combined agg routes approx through the Expand rewrite and allocates " +
    "one ~12KB HLL buffer per distinct key tuple — OOM'd sf10, round 15)") {
    val p = plan("q30b_distinct_accuracy")
    assert(p.contains("BroadcastHashJoin"),
      s"q30b lost the two-aggregation broadcast-join shape:\n${p.take(800)}")
    // The Expand (exact count-distinct rewrite) must carry NO approx
    // sketch functions: every approx_count_distinct partial has to sit
    // in the 3-group leg, never keyed per (flag, key, gid) tuple.
    val expandToJoin = p.linesIterator
      .dropWhile(!_.contains("Expand")).takeWhile(!_.contains("BroadcastExchange"))
      .mkString("\n")
    assert(!expandToJoin.contains("approx_count_distinct"),
      s"approx sketches keyed under the Expand rewrite (per-tuple HLL buffers):\n$expandToJoin")
  }
}
