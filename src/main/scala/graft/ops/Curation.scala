package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The full training-corpus curation flow, composed from the engine's
  * already-oracled operators: id-validity gate → quality gate → normalized
  * dedup (d6's fingerprint) → MinHash near-dup clustering (d2 pairs + d9
  * connected components, cluster-min keeper) → benchmark decontamination
  * (t10) → deterministic split assignment (q39's hash rule) →
  * context-window chunking (t8). What a user of this library actually
  * runs end to end; CurationSpec pins the composition on a corpus built
  * so every drop reason fires, and the c1/c2 registry entries hash-match
  * the whole flow against a composed-CTE DuckDB replay.
  *
  * Every stage is the same code the per-operator oracle gate checks —
  * this object wires frames together, adding doc-id anti-joins between
  * stages (hash joins on the key, broadcastable when the dropped set is
  * small, never wider than a doc-id column). The full audit trail comes
  * back beside the output: (doc_id, reason) for every rejected
  * document — curation that can't explain its drops can't be debugged
  * at 100 TB.
  *
  * Execution model, stated honestly: `curate` is EAGER — the near-dup
  * clustering inside (connectedComponents) runs Spark jobs at call time
  * and retains its localCheckpoint blocks for the session (see the
  * retention note on Dedup.connectedComponents), and that first pass
  * also fills the internal caches. The input projection and the
  * contaminated-id set are persisted (MEMORY_AND_DISK) inside `curate`,
  * so evaluating BOTH returned frames scans the source exactly once —
  * call [[Curated.release]] when done with the frames to free the
  * cached blocks (the spec pins single-scan behavior).
  */
object Curation {

  /** Curated output: `chunks` ready for tokenization, `audit` = one row
    * per REJECTED candidate doc with its drop reason. `release()` frees
    * the caches backing both frames — after it, re-evaluating them
    * recomputes from the source.
    */
  final case class Curated(chunks: DataFrame, audit: DataFrame,
      private val cached: Seq[DataFrame] = Nil) {
    def release(): Unit = cached.foreach(_.unpersist(false))
  }

  /** Curate `docs` ((doc_id, text, lang, source) at minimum).
    * Documents from `evalSource` define the contamination reference and
    * are never emitted. `minJaccard` is the estimated-Jaccard cut for
    * near-dup clustering; `maxPostings` caps t10's inverted index.
    */
  /** The shared front half of both curation flavors: persisted base
    * projection, eval/candidate partition, id gates, quality gate,
    * exact-normalized dedup, and near-dup clustering — everything up
    * to the decontamination strategy, where [[curate]] (drop the doc)
    * and [[curate2]] (scrub the spans) diverge.
    */
  private final case class Front(base: DataFrame, evalDocs: DataFrame,
      badId: DataFrame, candidates: DataFrame, gated: DataFrame,
      byFp: DataFrame, nearDupIds: DataFrame, unique: DataFrame) {
    /** The four audit legs every flavor shares. */
    def auditLegs: Seq[DataFrame] = Seq(
      badId.select(col("doc_id"), lit("invalid_id").as("reason")),
      candidates.join(gated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("gate").as("reason")),
      byFp.filter(col("doc_id") =!= col("_keeper"))
        .select(col("doc_id"), lit("duplicate").as("reason")),
      nearDupIds.select(col("doc_id"), lit("near_duplicate").as("reason")))
  }

  private def front(docs: DataFrame, evalSource: String, langs: Seq[String],
      minTokens: Int, minJaccard: Double): Front = {
    // minTokens >= 1: chunk() drops zero-token docs (nothing to emit),
    // and a doc dropped there would appear in neither chunks nor audit —
    // silently violating the conservation contract the spec pins.
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    // ONE source scan feeds every branch below (chunks and audit both):
    // the narrow 4-column projection is cached, filled by the eager
    // clustering pass inside this call. At 100 TB this spills to disk —
    // the price of not scanning the corpus once per returned frame.
    val base = docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Null-SAFE comparison: with =!=, a null source fails BOTH filters
    // (three-valued logic) and the doc would vanish without an audit row.
    val candAll = base.filter(!(col("source") <=> evalSource))
    val evalDocs = base.filter(col("source") <=> evalSource)

    // 0. Id-validity gate. A null doc_id would violate conservation
    // silently: the dedup keeper filter (doc_id === min(doc_id)) is null
    // and drops it, and the audit's anti-joins can't name it either —
    // so reject it EXPLICITLY with its own audit row (the id column is
    // the pipeline's join key everywhere; a doc without one is
    // untrackable by construction). Eval docs keep null ids: they are
    // reference material, never joined by id.
    val badId = candAll.filter(col("doc_id").isNull)
    val candidates = candAll.filter(col("doc_id").isNotNull)
    // Id UNIQUENESS is the other half of that contract, checked loudly
    // (review-caught): with two candidate rows sharing an id, every
    // id-keyed stage conflates them and a row can vanish from both
    // chunks and audit — e.g. a gate-failing row is removed from the
    // gate audit's anti-join by its passing sibling. A silent wrong
    // audit is worse than a failed run; curate is already eager, so
    // this one bounded aggregation job doesn't change the execution
    // model. Deduplicate ids upstream (d1/d6 keep content duplicates —
    // this is about the KEY, not the text).
    val dupId = candidates.groupBy("doc_id").count()
      .filter(col("count") > 1).limit(1).collect()
    require(dupId.isEmpty,
      s"duplicate doc_id among candidates (e.g. ${dupId.head.get(0)}): " +
        "curation keys every stage and audit row on doc_id — " +
        "deduplicate ids upstream")

    // 1. Quality gate (t1's shape, minimal form): real text, wanted
    // language, enough tokens to train on.
    val gated = candidates.filter(col("text").isNotNull &&
      col("lang").isin(langs.map(x => x: Any): _*) &&
      size(TextAnalysis.toks(col("text"))) >= minTokens)

    // 2. Normalized dedup (d6 fingerprint): keeper = min doc_id per
    // fingerprint, via a window on the fingerprint clustering.
    val byFp = gated.withColumn("_fp", Dedup.normFp(col("text")))
      .withColumn("_keeper", min(col("doc_id")).over(Window.partitionBy("_fp")))
    val deduped = byFp.filter(col("doc_id") === col("_keeper")).drop("_fp", "_keeper")

    // 3. Near-dup clusters (d2 → d9): connected components over the
    // banded MinHash pairs; the cluster label IS the min member, so
    // label != id identifies every non-keeper.
    val pairs = Dedup.minhashPairs(deduped.select(col("doc_id"), col("text")))
      .filter(col("est_jaccard") >= minJaccard)
    val nearDupIds = Dedup.connectedComponents(
        pairs.select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val unique = deduped.join(nearDupIds, Seq("doc_id"), "left_anti")
    Front(base, evalDocs, badId, candidates, gated, byFp, nearDupIds, unique)
  }

  def curate(docs: DataFrame, evalSource: String, langs: Seq[String],
      minTokens: Int, minJaccard: Double = 0.5,
      maxPostings: Int = 1000): Curated = {
    val f = front(docs, evalSource, langs, minTokens, minJaccard)

    // 4. Decontamination (t10) against the eval docs. The id set is
    // tiny (flagged docs only) but expensive to derive (a shingle
    // inverted index over the corpus) — cache it so the chunks and
    // audit frames don't each rebuild the index.
    val contaminatedIds = TextAnalysis.contamination(
        f.unique.unionByName(f.evalDocs), evalSource, maxPostings)
      .select(col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val clean = f.unique.join(contaminatedIds, Seq("doc_id"), "left_anti")

    // 5. Deterministic split — the exact q39 rule, shared formulation.
    val withSplit = clean.withColumn("split",
      Sampling.splitLabel(col("doc_id"), col("text")))

    // 6. Context-window chunks (t8); source/split ride the generator so
    // no join back to withSplit is needed (a self-join would execute the
    // whole upstream pipeline twice — the sides prune differently and
    // can't share exchanges).
    val chunks = TextAnalysis.chunk(withSplit, Seq("source", "split"))

    val audit = (f.auditLegs :+
      contaminatedIds.select(col("doc_id"), lit("contaminated").as("reason"))
    ).reduce(_ unionByName _)
    Curated(chunks, audit, Seq(f.base, contaminatedIds))
  }

  /** Curation v2 — SURGICAL decontamination and an LM quality gate.
    * Same front as [[curate]] (id/quality gates, d6 dedup, d2+d9
    * near-dup clustering), then instead of dropping every document
    * that overlaps the benchmark (t10's verdict), the eval-matching
    * character spans are excised in place (t13/t14's machinery) and
    * the document survives with its clean remainder — the right trade
    * at 100 TB, where a popular quote would otherwise cost the whole
    * document. Two new audit outcomes replace `contaminated`:
    * `decontam_gutted` (scrub left fewer than `minTokens` tokens —
    * the doc was substantially benchmark text) and `lm_gate` (the
    * scrubbed text scores below `minLmScore` under t15's bigram-LM
    * quality score, self-trained on the scrubbed survivor corpus —
    * catching gibberish that token counts and language ID miss).
    * Split (q39) and chunking (t8) run on the SCRUBBED text.
    *
    * Conservation contract (spec-pinned, same as curate): every
    * candidate doc lands in chunks or in exactly one audit row.
    */
  def curate2(docs: DataFrame, evalSource: String, langs: Seq[String],
      minTokens: Int, minJaccard: Double = 0.5,
      minLmScore: Double = 0.032): Curated = {
    val f = front(docs, evalSource, langs, minTokens, minJaccard)

    // 4'. Span-level decontamination. The scrubbed frame feeds four
    // consumers (token re-gate, gutted audit, LM scoring — itself a
    // two-use pipeline — and the kept-side join), each of which would
    // otherwise re-run the span machinery AND the whole front:
    // persisted, like curate's contaminated-id set.
    val scrubbed = Dedup.scrubWith(f.unique,
        Dedup.contamSpans(f.unique.select(col("doc_id"), col("text")),
          f.evalDocs.select(col("doc_id"), col("text"))),
        passThrough = Seq("source"))
      .withColumnRenamed("clean_text", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // 5'. Token re-gate on what remains (the SAME formulation as the
    // front gate, so the two thresholds can't drift apart).
    val nTok = size(TextAnalysis.toks(col("text")))
    val regated = scrubbed.filter(nTok >= minTokens)
    val gutted = scrubbed.filter(nTok < minTokens).select(col("doc_id"))

    // 6'. LM quality gate (t15) over the scrubbed survivor corpus.
    // lmScore is total over regated (left-join back over its input) but
    // a single-token doc has NO bigrams and a NULL lm_score — legal
    // whenever minTokens == 1. NULL must land in an audit leg, not
    // vanish through both three-valued filters (review-caught: with
    // `lm_score < min` alone, a 1-token doc passed the regate, then
    // failed BOTH kept and lmDropped — silently violating the
    // conservation contract above). No LM evidence of quality = fails
    // the quality gate: route NULL into lm_gate.
    val lm = TextAnalysis.lmScore(regated.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("lm_score"))
    val kept = regated.join(lm, Seq("doc_id"))
      .filter(col("lm_score") >= minLmScore)
    val lmDropped = lm
      .filter(col("lm_score").isNull || col("lm_score") < minLmScore)
      .select(col("doc_id"))

    // 7'. Split + chunks on the scrubbed text (q39 / t8, shared code).
    val withSplit = kept
      .withColumn("split", Sampling.splitLabel(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"), col("source"), col("split"))
    val chunks = TextAnalysis.chunk(withSplit, Seq("source", "split"))

    val audit = (f.auditLegs ++ Seq(
      gutted.select(col("doc_id"), lit("decontam_gutted").as("reason")),
      lmDropped.select(col("doc_id"), lit("lm_gate").as("reason")))
    ).reduce(_ unionByName _)
    Curated(chunks, audit, Seq(f.base, scrubbed))
  }

  // ---- Oracled registry entries: the composition over the fixture ----
  // Parameters chosen so the fixture corpus exercises real drops: zh is
  // outside the language allowlist and minTokens 20 cuts the short tail
  // (fixture token counts span 10-99), src0 is the eval set (t10's
  // convention).
  private val EvalSource = TextAnalysis.EvalSource // ONE convention (see there)
  private val Langs = Seq("en", "de", "es", "fr")
  private val MinTokens = 20
  private val MinJaccard = 0.5
  private val MaxPostings = 1000

  private val MinLmScore = 0.032

  /** The two registered flavours: c1–c3 read curate(), c5/c6 curate2(). */
  private val flavours: Map[String, DataFrame => Curated] = Map(
    "curate" -> (curate(_, EvalSource, Langs, MinTokens, MinJaccard, MaxPostings)),
    "curate2" -> (curate2(_, EvalSource, Langs, MinTokens, MinJaccard, MinLmScore)))

  /** c1 and c2 (c5 and c6) are two views of ONE curate() (curate2())
    * run: memoized per (session, dir, flavour) so Verify's separate
    * query invocations share the eager clustering pass and the internal
    * caches instead of executing the pipeline twice. The session is part
    * of the key: a dir-only memo would hand frames bound to a STOPPED
    * session to a later caller that built a fresh one (review-caught).
    * Each entry holds the `documents` file listing it was built from
    * ([[graft.Tables.listing]]): a corpus rewritten in place lists
    * differently, so its stale run is released and curated again.
    */
  private val memo = new ConcurrentHashMap[(SparkSession, String, String),
    (Seq[(String, Long, Long)], Curated)]()

  private def curatedFor(s: SparkSession, dir: String, flavour: String): Curated = {
    purgeStopped()
    val now = graft.Tables.listing(s, dir, "documents")
    memo.compute((s, dir, flavour), (_, old) =>
      if (old != null && old._1 == now) old
      else {
        if (old != null) old._2.release()
        (now, flavours(flavour)(graft.Tables.load(s, dir, "documents")))
      })._2
  }

  // Dead entries (stopped sessions) are purged on every access: without
  // this, a long-lived process cycling SparkSessions over the same dirs
  // pins every past session's Curated (and its persisted frames'
  // metadata) in the map forever (review-caught). Entries of LIVE
  // sessions are exactly the sharing the memo exists for and stay.
  private def purgeStopped(): Unit =
    memo.keySet.forEach { k =>
      // No release(): a stopped context already dropped its block
      // manager (and unpersist on a dead session throws) — removing
      // the reference is all the reclamation there is to do.
      if (k._1.sparkContext.isStopped) memo.remove(k)
    }

  /** Drop THIS session's memo entries and release their caches — the
    * dump-harness hook (see `graft.Verify`): a 115-query one-JVM dump
    * at 100× scale otherwise carries every curation run's retained
    * frames (whose lineage pins the eager clustering pass's
    * localCheckpoint blocks) into the heaviest later queries' heap —
    * measured as d11's AGGREGATE_OUT_OF_MEMORY at sf10 in the shared
    * JVM while the same query passes standalone. After release, the
    * next c-query recomputes its curate() run from source (bounded,
    * recompute-safe); c-queries inside ONE caller still share via the
    * memo until the caller releases.
    */
  def releaseAll(s: SparkSession): Unit =
    memo.keySet.forEach { k =>
      if (k._1 eq s) Option(memo.remove(k)).foreach { c =>
        if (!s.sparkContext.isStopped) c._2.release()
      }
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_curation" -> ((s, dir) => curatedFor(s, dir, "curate").chunks),
    "c2_curation_audit" -> ((s, dir) => curatedFor(s, dir, "curate").audit),
    // c3: curate → pack the TRAIN split into fixed-capacity training
    // sequences (t11 over c1's chunks) — the full "corpus in, packed
    // pretraining sequences out" flow. Packing is per-split by
    // construction: sequences never straddle the train/val/test
    // boundary (a sequence mixing train and held-out text would leak).
    "c3_curation_pack" -> ((s, dir) => TextAnalysis.pack(
      curatedFor(s, dir, "curate").chunks.filter(col("split") === "train"))),
    "c4_cluster_split" -> c4ClusterSplit,
    // c5/c6: the surgical (scrub + LM gate) flavor, two views of ONE
    // curate2() run — same memo discipline as c1/c2.
    "c5_curation2" -> ((s, dir) => curatedFor(s, dir, "curate2").chunks),
    "c6_curation2_audit" -> ((s, dir) => curatedFor(s, dir, "curate2").audit))

  /** c4 — leakage-safe split: q39's train/val/test assignment lifted to
    * near-dup-cluster granularity. Per-document hash splits (q39) let
    * two near-duplicate documents land on opposite sides of the
    * train/test boundary — the classic contamination-by-split leak that
    * inflates held-out metrics. Here every d9 cluster moves as one
    * unit: a document's split is its GROUP's split, where the group is
    * its d9 near-dup cluster (singletons are their own group).
    *
    * The group label is defined as the q39 label OF THE KEEPER
    * (cluster_id is the min-id member, i.e. the doc d1/d6/d9 would
    * keep) — so a document that survives dedup keeps exactly the split
    * q39 gave it, whether or not it had near-dup company, and the ONE
    * split formulation ([[Sampling.splitLabel]]) stays shared instead
    * of growing a second group-hash variant.
    *
    * Scale: d9's minhash pipeline dominates; its output (clustered
    * docs only) is the small side of both joins, so the full-corpus
    * label pass is never shuffled — clusters broadcast onto the keeper
    * lookup, and the keeper labels broadcast onto the corpus. The
    * keeper-label leg re-reads (doc_id, text) for clustered keepers —
    * a second scan of two pruned columns, cheaper at any scale than
    * shuffling the corpus to co-locate it with itself.
    */
  def c4ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    def labels = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        Sampling.splitLabel(col("doc_id"), col("text")).as("own_split"))
    val clusters = Dedup.d9DedupClusters(s, dir)
    val keeperSplit = labels
      .select(col("doc_id").as("cluster_id"), col("own_split").as("keeper_split"))
      .join(broadcast(clusters), "cluster_id")
    labels.join(broadcast(keeperSplit), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"),
        coalesce(col("keeper_split"), col("own_split")).as("split"))
  }

  /** The shared composed-CTE replay of every stage, built from the SAME
    * per-stage oracle formulations the individual gates use (d6
    * normFpSql, d2 d2PairsSql, d9's recursive closure, t10
    * contaminationSql, q39 splitCaseSql, t8 chunkSql) — c1 selects the
    * chunk output, c2 the audit union.
    */
  /** The front half (through `cuniq`) shared by both curation flavors'
    * oracles — one formulation, so c1/c2 and c5/c6 cannot diverge on
    * what the gates and dedup keep.
    */
  private def frontSql: String = {
    val langList = Langs.map(l => s"'$l'").mkString(", ")
    s"""WITH RECURSIVE
       |cbase AS (SELECT doc_id, text, lang, source FROM documents),
       |cbadid AS (SELECT doc_id FROM cbase
       |           WHERE source IS DISTINCT FROM '$EvalSource' AND doc_id IS NULL),
       |ccand AS (SELECT * FROM cbase
       |          WHERE source IS DISTINCT FROM '$EvalSource' AND doc_id IS NOT NULL),
       |ceval AS (SELECT * FROM cbase WHERE source IS NOT DISTINCT FROM '$EvalSource'),
       |cgated AS (SELECT * FROM ccand
       |           WHERE text IS NOT NULL AND lang IN ($langList)
       |             AND len(${TextAnalysis.toksSql}) >= $MinTokens),
       |cfp AS (SELECT doc_id, text, lang, source, ${Dedup.normFpSql} AS fp
       |        FROM cgated),
       |ckeep AS (SELECT fp, min(doc_id) AS keeper FROM cfp GROUP BY fp),
       |cdup AS (SELECT f.doc_id FROM cfp f JOIN ckeep k ON k.fp = f.fp
       |         WHERE f.doc_id <> k.keeper),
       |cdeduped AS (SELECT f.doc_id, f.text, f.lang, f.source
       |             FROM cfp f JOIN ckeep k ON k.fp = f.fp AND f.doc_id = k.keeper),
       |cpairs AS (SELECT doc_a, doc_b FROM (${Dedup.d2PairsSql("cdeduped")}) p
       |           WHERE est_jaccard >= $MinJaccard),
       |cedges AS (SELECT doc_a AS a, doc_b AS b FROM cpairs
       |           UNION SELECT doc_b AS a, doc_a AS b FROM cpairs),
       |creach(a, b) AS (
       |  SELECT a, b FROM cedges
       |  UNION
       |  SELECT r.a, e.b FROM creach r JOIN cedges e ON r.b = e.a),
       |cneardup AS (SELECT a AS doc_id FROM creach GROUP BY a
       |             HAVING a <> least(a, min(b))),
       |cuniq AS (SELECT d.* FROM cdeduped d
       |          WHERE d.doc_id NOT IN (SELECT doc_id FROM cneardup))""".stripMargin
  }

  private def prefixSql: String =
    s"""$frontSql,
       |ccontam AS (SELECT doc_id FROM (${TextAnalysis.contaminationSql(
              "(SELECT doc_id, source, text FROM cuniq" +
                " UNION ALL SELECT doc_id, source, text FROM ceval) cu",
              EvalSource, MaxPostings)}) ct),
       |cclean AS (SELECT u.* FROM cuniq u
       |           WHERE u.doc_id NOT IN (SELECT doc_id FROM ccontam)),
       |csplit AS (SELECT doc_id, text, source,
       |             (${Sampling.splitCaseSql}) AS split
       |           FROM cclean)""".stripMargin

  /** The v2 tail: eval-tagged span scrub (t13/t14's shared builders,
    * nested as CTE-local WITH blocks), token re-gate, t15 LM gate,
    * split on the scrubbed text.
    */
  private def prefix2Sql: String =
    s"""$frontSql,
       |ctag AS (SELECT doc_id, text, FALSE AS ev FROM cuniq
       |         UNION ALL SELECT doc_id, text, TRUE AS ev FROM ceval),
       |cspans AS (WITH ${Dedup.contamSpansSql("ctag")}
       |           SELECT doc_id, span_start, span_end, span_len FROM spans),
       |cscrub AS (WITH ${Dedup.scrubSql("cuniq", "cspans")}),
       |cregate AS (SELECT s.doc_id, s.clean_text AS text, u.source
       |            FROM cscrub s JOIN cuniq u ON u.doc_id = s.doc_id),
       |ckeeptok AS (SELECT * FROM cregate
       |             WHERE len(${TextAnalysis.toksSql}) >= $MinTokens),
       |cgutted AS (SELECT doc_id FROM cregate
       |            WHERE len(${TextAnalysis.toksSql}) < $MinTokens),
       |clm AS (WITH ${TextAnalysis.lmSql("ckeeptok")}),
       |ckept AS (SELECT k.* FROM ckeeptok k JOIN clm l ON l.doc_id = k.doc_id
       |          WHERE l.lm_score >= $MinLmScore),
       |clmdrop AS (SELECT doc_id FROM clm
       |            WHERE lm_score IS NULL OR lm_score < $MinLmScore),
       |csplit2 AS (SELECT doc_id, text, source,
       |              (${Sampling.splitCaseSql}) AS split
       |            FROM ckept)""".stripMargin

  def oracle: Map[String, String] = Map(
    "c1_curation" ->
      s"""$prefixSql
         |SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_text, source, split
         |FROM (${TextAnalysis.chunkSql("csplit", Seq("source", "split"))}) ch""".stripMargin,
    "c2_curation_audit" ->
      s"""$prefixSql
         |SELECT doc_id, reason FROM (
         |  SELECT doc_id, 'gate' AS reason FROM ccand
         |  WHERE doc_id NOT IN (SELECT doc_id FROM cgated)
         |  UNION ALL SELECT doc_id, 'duplicate' FROM cdup
         |  UNION ALL SELECT doc_id, 'near_duplicate' FROM cneardup
         |  UNION ALL SELECT doc_id, 'contaminated' FROM ccontam
         |  UNION ALL SELECT doc_id, 'invalid_id' FROM cbadid
         |) a""".stripMargin,
    "c3_curation_pack" ->
      s"""$prefixSql
         |SELECT doc_id, chunk_idx, shard, seq, seq_off, n_chunk_tokens
         |FROM (${TextAnalysis.packSql(
               s"""(SELECT doc_id, chunk_idx, n_chunk_tokens
                  | FROM (${TextAnalysis.chunkSql("csplit", Seq("source", "split"))}) ch
                  | WHERE split = 'train')""".stripMargin)}) p""".stripMargin,
    "c5_curation2" ->
      s"""$prefix2Sql
         |SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_text, source, split
         |FROM (${TextAnalysis.chunkSql("csplit2", Seq("source", "split"))}) ch""".stripMargin,
    "c6_curation2_audit" ->
      s"""$prefix2Sql
         |SELECT doc_id, reason FROM (
         |  SELECT doc_id, 'gate' AS reason FROM ccand
         |  WHERE doc_id NOT IN (SELECT doc_id FROM cgated)
         |  UNION ALL SELECT doc_id, 'duplicate' FROM cdup
         |  UNION ALL SELECT doc_id, 'near_duplicate' FROM cneardup
         |  UNION ALL SELECT doc_id, 'decontam_gutted' FROM cgutted
         |  UNION ALL SELECT doc_id, 'lm_gate' FROM clmdrop
         |  UNION ALL SELECT doc_id, 'invalid_id' FROM cbadid
         |) a""".stripMargin,
    // c4: d9's closure (verbatim formulation) + q39's split rule; the
    // own-label is computed inline in a single-table CTE so a null
    // doc_id row can never be dropped by a label join.
    // (c5/c6 also have a STAGED replay variant — [[oracleStaged]] —
    // for gates where the composed form exceeds the replay's memory.)
    "c4_cluster_split" ->
      s"""WITH RECURSIVE
         |cbase AS (SELECT doc_id, (${Sampling.splitCaseSql}) AS own_split
         |          FROM documents),
         |p AS (SELECT doc_a, doc_b FROM (${Dedup.d2PairsSql("documents")}) dp),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
         |          UNION SELECT doc_b AS a, doc_a AS b FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |             FROM reach GROUP BY a)
         |SELECT b.doc_id,
         |  coalesce(c.cluster_id, b.doc_id) AS group_id,
         |  coalesce(k.own_split, b.own_split) AS split
         |FROM cbase b
         |LEFT JOIN clusters c ON c.doc_id = b.doc_id
         |LEFT JOIN cbase k ON k.doc_id = c.cluster_id""".stripMargin)

  /** STAGED replay of the c5/c6 oracle: the same per-stage
    * formulations as [[oracle]]'s composed CTE tree, but materialized
    * one `CREATE TEMP TABLE` at a time so the replay engine can
    * release (or spill) each stage instead of pinning the whole tree —
    * a composed run at 30x holds the char-position gram stream plus
    * every upstream CTE simultaneously and exhausts a 60 GB cap where
    * the engine under test answers on an 8 GB heap. Stage boundaries
    * change nothing semantically: every predicate/expression string is
    * the SAME builder the composed oracle splices (toksSql, normFpSql,
    * d2PairsSql, scrubSql, lmSql, splitCaseSql, chunkSql), and the one
    * restructured stage — the span chain — is [[Dedup.stagedContamSpans]],
    * which is flagged-row-identical to `contamSpansSql` by
    * construction. The gate uses this ONLY after the composed form
    * dies on a resource ceiling; the result compare is unchanged
    * (exact rows/schema/hash).
    */
  def oracleStaged: Map[String, Seq[String]] = {
    val langList = Langs.map(l => s"'$l'").mkString(", ")
    val front = Seq(
      s"""CREATE TEMP TABLE tcand AS
         |SELECT doc_id, text, lang, source FROM documents
         |WHERE source IS DISTINCT FROM '$EvalSource' AND doc_id IS NOT NULL""".stripMargin,
      s"""CREATE TEMP TABLE tbadid AS
         |SELECT doc_id FROM documents
         |WHERE source IS DISTINCT FROM '$EvalSource' AND doc_id IS NULL""".stripMargin,
      s"""CREATE TEMP TABLE teval AS
         |SELECT doc_id, text, lang, source FROM documents
         |WHERE source IS NOT DISTINCT FROM '$EvalSource'""".stripMargin,
      s"""CREATE TEMP TABLE tgated AS
         |SELECT * FROM tcand
         |WHERE text IS NOT NULL AND lang IN ($langList)
         |  AND len(${TextAnalysis.toksSql}) >= $MinTokens""".stripMargin,
      s"""CREATE TEMP TABLE tfp AS
         |SELECT doc_id, text, lang, source, ${Dedup.normFpSql} AS fp
         |FROM tgated""".stripMargin,
      "CREATE TEMP TABLE tkeep AS SELECT fp, min(doc_id) AS keeper FROM tfp GROUP BY fp",
      """CREATE TEMP TABLE tdup AS
        |SELECT f.doc_id FROM tfp f JOIN tkeep k ON k.fp = f.fp
        |WHERE f.doc_id <> k.keeper""".stripMargin,
      """CREATE TEMP TABLE tdeduped AS
        |SELECT f.doc_id, f.text, f.lang, f.source
        |FROM tfp f JOIN tkeep k ON k.fp = f.fp AND f.doc_id = k.keeper""".stripMargin,
      s"""CREATE TEMP TABLE tpairs AS
         |SELECT doc_a, doc_b FROM (${Dedup.d2PairsSql("tdeduped")}) p
         |WHERE est_jaccard >= $MinJaccard""".stripMargin,
      """CREATE TEMP TABLE tneardup AS
        |WITH RECURSIVE
        |cedges AS (SELECT doc_a AS a, doc_b AS b FROM tpairs
        |           UNION SELECT doc_b AS a, doc_a AS b FROM tpairs),
        |creach(a, b) AS (
        |  SELECT a, b FROM cedges
        |  UNION
        |  SELECT r.a, e.b FROM creach r JOIN cedges e ON r.b = e.a)
        |SELECT a AS doc_id FROM creach GROUP BY a
        |HAVING a <> least(a, min(b))""".stripMargin,
      """CREATE TEMP TABLE tuniq AS
        |SELECT d.* FROM tdeduped d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM tneardup)""".stripMargin)
    val tail = Dedup.stagedContamSpans("teval", "tuniq", "tspans") ++ Seq(
      s"CREATE TEMP TABLE tscrub AS WITH ${Dedup.scrubSql("tuniq", "tspans")}",
      """CREATE TEMP TABLE tregate AS
        |SELECT s.doc_id, s.clean_text AS text, u.source
        |FROM tscrub s JOIN tuniq u ON u.doc_id = s.doc_id""".stripMargin,
      s"""CREATE TEMP TABLE tkeeptok AS
         |SELECT * FROM tregate
         |WHERE len(${TextAnalysis.toksSql}) >= $MinTokens""".stripMargin,
      s"""CREATE TEMP TABLE tgutted AS
         |SELECT doc_id FROM tregate
         |WHERE len(${TextAnalysis.toksSql}) < $MinTokens""".stripMargin,
      s"CREATE TEMP TABLE tlm AS WITH ${TextAnalysis.lmSql("tkeeptok")}",
      s"""CREATE TEMP TABLE tkept AS
         |SELECT k.* FROM tkeeptok k JOIN tlm l ON l.doc_id = k.doc_id
         |WHERE l.lm_score >= $MinLmScore""".stripMargin,
      s"""CREATE TEMP TABLE tlmdrop AS
         |SELECT doc_id FROM tlm
         |WHERE lm_score IS NULL OR lm_score < $MinLmScore""".stripMargin,
      s"""CREATE TEMP TABLE tsplit2 AS
         |SELECT doc_id, text, source, (${Sampling.splitCaseSql}) AS split
         |FROM tkept""".stripMargin)
    val stages = front ++ tail
    Map(
      "c5_curation2" -> (stages :+
        s"""SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_text, source, split
           |FROM (${TextAnalysis.chunkSql("tsplit2", Seq("source", "split"))}) ch""".stripMargin),
      "c6_curation2_audit" -> (stages :+
        """SELECT doc_id, reason FROM (
          |  SELECT doc_id, 'gate' AS reason FROM tcand
          |  WHERE doc_id NOT IN (SELECT doc_id FROM tgated)
          |  UNION ALL SELECT doc_id, 'duplicate' FROM tdup
          |  UNION ALL SELECT doc_id, 'near_duplicate' FROM tneardup
          |  UNION ALL SELECT doc_id, 'decontam_gutted' FROM tgutted
          |  UNION ALL SELECT doc_id, 'lm_gate' FROM tlmdrop
          |  UNION ALL SELECT doc_id, 'invalid_id' FROM tbadid
          |) a""".stripMargin),
      // c4's composed oracle closes over MEMBER-level d2 edges — at
      // sf10 every ~100-copy twin group is a C(m,2) clique and the
      // recursive CTE blows the wall cap. The staged replay is the
      // rep-collapsed closure ([[Dedup.stagedRepClusterStages]], the
      // oracle mirror of d9's engine-side twin collapse) with the SAME
      // final three-way join as the composed form.
      "c4_cluster_split" -> (Dedup.stagedRepClusterStages("documents", "x") ++ Seq(
        s"""CREATE TEMP TABLE xbase AS
           |SELECT doc_id, (${Sampling.splitCaseSql}) AS own_split
           |FROM documents""".stripMargin,
        """SELECT b.doc_id,
          |  coalesce(c.cluster_id, b.doc_id) AS group_id,
          |  coalesce(k.own_split, b.own_split) AS split
          |FROM xbase b
          |LEFT JOIN xclusters c ON c.doc_id = b.doc_id
          |LEFT JOIN xbase k ON k.doc_id = c.cluster_id""".stripMargin)))
  }
}
