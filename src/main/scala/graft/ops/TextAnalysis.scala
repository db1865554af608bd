package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Text-analysis operators for a large-scale training-data pipeline over
  * the `documents` table: token counting, quality scoring, language ID,
  * fingerprinting. All are narrow (per-row) transforms — no shuffle, fully
  * codegen'd column expressions — so they stream through a 100 TB scan at
  * parquet-read speed and any aggregation downstream starts partial.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped (text has trailing spaces). */
  private[ops] def toks(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  private val stopwords = Seq("the", "a", "an", "of", "to", "and", "is", "in")

  /** t1 — quality scoring: token count, stopword ratio, mean token length,
    * and a composite score. Mirrors the reference's validation-gate idea
    * (dashboard.py:312-322) applied to corpus curation.
    */
  def t1QualityScore(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t).cast("long")
    val nStop = size(filter(t, w => w.isin(stopwords.map(x => x: Any): _*))).cast("long")
    val stopRatio = nStop.cast("double") / nTok.cast("double")
    val meanLen = aggregate(t, lit(0L), (acc, w) => acc + length(w).cast("long"))
      .cast("double") / nTok.cast("double")
    load(s, dir, "documents")
      .filter(size(toks(col("text"))) > 0)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        round(stopRatio, 6).as("stopword_ratio"),
        round(meanLen, 6).as("mean_token_len"),
        round((lit(1.0) - stopRatio) * least(lit(1.0), nTok.cast("double") / 50.0), 6)
          .as("quality_score"))
  }

  /** t2 — token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / single digits / other non-space symbols).
    */
  def t2TokenCount(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_seen"))

  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "los"),
    "fr" -> Seq("le", "les", "des", "une"))

  /** t3 — language ID by marker-token counting (n-gram/stopword heuristic);
    * deterministic argmax: first language in alphabetical order among the
    * maxima, `unk` when no marker hits.
    */
  def t3LangId(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val scores = markers.map { case (lang, ws) =>
      lang -> size(filter(t, w => w.isin(ws.map(x => x: Any): _*))).cast("long")
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("unk")) { case ((lang, sc), rest) =>
      when(sc === best && best > 0, lang).otherwise(rest)
    }
    // foldRight keeps evaluation order de→en→es→fr (alphabetical tie-break).
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("lang_labeled"),
        pick.as("lang_pred"),
        scores.map(_._2).reduce(_ + _).as("n_marker_hits"))
  }

  /** t4 — document fingerprint: md5 over whitespace-normalized lowercase
    * text (the batch analog of a rolling-hash content fingerprint).
    * Delegates to [[Dedup.normFp]] — the ONE fingerprint formulation
    * (shared with d6/d10; an inline copy here drifted once it picked up
    * the explicit-whitespace-class fix, review-caught).
    */
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), Dedup.normFp(col("text")).as("fingerprint"))

  private val TopNgrams = 20

  /** t5 — corpus heavy hitters: top bigrams by document frequency.
    * explode → hash-agg → top-k; the partial aggregation makes the
    * shuffle carry one row per (partition, bigram), not per occurrence —
    * the only shape that survives a 100 TB corpus. Deterministic cut:
    * ties broken lexicographically.
    */
  def t5NgramFreq(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    // spread: parallelize the bigram explode over single-row-group input
    // (count partials are order-insensitive — hash-safe).
    graft.Tables.spread(load(s, dir, "documents"))
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(array_distinct(bigrams(col("t"))))
        .as("bigram"))
      .groupBy("bigram")
      // (doc_id, bigram) is already unique (array_distinct per doc), so a
      // plain count IS the document frequency — no distinct expansion.
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("bigram").asc)
      .limit(TopNgrams)
  }

  private val TfIdfTopK = 3

  /** t6 — TF-IDF: top terms per document. tf = term count / doc length,
    * idf = ln(N / doc-freq); two hash aggregations (term-in-doc counts,
    * document frequencies) and a broadcast of the tiny idf side. Rank
    * flips from cross-engine `ln` ulp differences would need two distinct
    * (tf, df) pairs within ~1e-15 relative — ties in practice only occur
    * at identical (tf, df), where scores are bit-equal and the term-name
    * tie-break decides.
    */
  // NEGATIVE RESULT (round 17, recorded so it is not re-attempted): the
  // d3/d7-style text-hub twin collapse was built for t6, measured on the
  // 100× gate corpus as a same-day pair (q1 calibrator flat), and made
  // t6 SLOWER — 10.6 → 15.7 s. Unlike the simhashes (two md5s per
  // token), t6's per-text work is one tokenize + a hash aggregation with
  // map-side partials; the hub's full-text shuffle + membership-expand
  // join cost more than the per-copy tf work they avoid. Reverted per
  // guide §1 (measure, keep only what pays); q35b's r16 revert is the
  // precedent.
  def t6TfIdf(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs")) // lazy scalar, broadcast below
    val terms = graft.Tables.spread(docs)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tfCounts = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("n_term"))
    val tf = tfCounts
      .withColumn("doc_len",
        sum(col("n_term")).over(Window.partitionBy("doc_id")))
    // Document frequency from the tf aggregate, NOT a second
    // explode→distinct pipeline: tf rows are already one per (doc, term),
    // so counting them per term IS the doc frequency — and both
    // consumers sit above the same (doc_id, term) exchange, so the
    // tokenize+explode pass runs once (round-3 scan audit found it
    // running twice; the shared-exchange fix is the d2 lesson).
    val df_ = tfCounts.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round((col("n_term").cast("double") / col("doc_len").cast("double")) *
          log(col("n_docs").cast("double") / col("doc_freq").cast("double")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfIdfTopK)
      .select(col("doc_id"), col("term"),
        col("rank").cast("long").as("rank"), col("tfidf"))
  }

  private val denylist = Seq("table", "value", "row")
  private val RedactMark = "[X]"

  /** t7 — denylist scrub (the shape of PII/boilerplate redaction in a
    * training-data pipeline): replace denylisted tokens, count
    * replacements, fingerprint the scrubbed text. Token-wise (not regex)
    * so both engines share exact semantics — no regex-dialect drift.
    * Narrow per-row transform; no shuffle.
    */
  def t7Scrub(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val scrubbed = transform(t, w =>
      when(w.isin(denylist.map(x => x: Any): _*), RedactMark).otherwise(w))
    load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(filter(t, w => w.isin(denylist.map(x => x: Any): _*))).cast("long")
          .as("n_redacted"),
        // Null text must yield a null fingerprint (as the oracle's
        // array_to_string(NULL) does) — concat_ws alone would skip the
        // null array and emit md5("") instead.
        when(col("text").isNotNull,
          substring(md5(concat_ws(" ", scrubbed)), 1, 16)).as("scrub_fingerprint"))
  }

  private val ChunkSize = 32
  private val ChunkStride = 24

  /** t8 — token-window chunking with overlap (context-length splitting for
    * training): windows of [[ChunkSize]] tokens every [[ChunkStride]],
    * trailing partial chunk kept. One generator per doc — rows scale with
    * corpus size / stride, and chunk rows inherit the scan's partitioning
    * (no shuffle).
    */
  def t8Chunk(s: SparkSession, dir: String): DataFrame =
    chunk(load(s, dir, "documents"))

  /** Frame-based core of t8 over any (doc_id, text) frame — the
    * composition surface ([[Curation]]). `passThrough` columns ride the
    * generator onto every chunk row, so a caller never needs to join the
    * chunk output back to its input (which would execute the whole
    * upstream pipeline twice — the two sides prune different columns, so
    * ReuseExchange can't collapse them).
    */
  def chunk(docs: DataFrame, passThrough: Seq[String] = Nil): DataFrame = {
    val extra = passThrough.map(col)
    docs
      .select(col("doc_id") +: toks(col("text")).as("t") +: extra: _*)
      .filter(size(col("t")) >= 1)
      .select(col("doc_id") +: col("t") +:
        explode(sequence(lit(1), size(col("t")), lit(ChunkStride))).as("s") +: extra: _*)
      .select(
        col("doc_id") +:
        ((col("s") - 1) / ChunkStride).cast("long").as("chunk_idx") +:
        size(slice(col("t"), col("s"), lit(ChunkSize))).cast("long").as("n_chunk_tokens") +:
        concat_ws(" ", slice(col("t"), col("s"), lit(ChunkSize))).as("chunk_text") +:
        extra: _*)
  }

  private[graft] val PackCapacity = 128L
  private[graft] val PackShards = 8L

  /** t11 — sequence packing: lay the t8 chunks out contiguously in token
    * space and cut fixed-capacity training sequences (the concat-then-
    * split packing a pretraining dataloader does), at chunk granularity:
    * each chunk is assigned the sequence its FIRST token lands in, with
    * its offset inside that sequence, so a consumer can materialize
    * sequences by slicing chunks at capacity boundaries.
    *
    * Layout is per md5-shard: chunks are hash-sharded by doc_id, ordered
    * by (doc_id, chunk_idx) within the shard, and the running token
    * offset determines (seq, seq_off). The shard count is the
    * parallelism knob — the fixture's 8 becomes thousands in production;
    * one shuffle by shard plus a within-shard sort is the minimal cost
    * of ANY deterministic packing (the layout IS an order), and shards
    * keep that sort partition-local instead of a single global sort.
    * Global sequence identity is the (shard, seq) pair. Everything is
    * integer arithmetic — no float in sight, hash-stable cross-engine.
    */
  def t11Pack(s: SparkSession, dir: String): DataFrame =
    pack(chunk(load(s, dir, "documents")))

  /** Frame-based core of t11 over any chunk frame (doc_id, chunk_idx,
    * n_chunk_tokens, …) — the composition surface.
    */
  def pack(chunks: DataFrame): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id", "chunk_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    chunks
      .withColumn("shard",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long") % PackShards)
      .withColumn("start_off",
        coalesce(sum(col("n_chunk_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("chunk_idx"), col("shard"),
        expr(s"start_off div $PackCapacity").as("seq"),
        (col("start_off") % PackCapacity).as("seq_off"),
        col("n_chunk_tokens"))
  }

  private val Bm25TopK = 5
  private val Bm25QueryTerms = 16
  /** Per-term posting budget (static index pruning, Carmel et al. 2001):
    * even inside the rarest-M query-term budget, ONE stopword-shaped
    * term (posting list ~ the whole corpus) makes `scored` blow up as
    * |queries sharing it| x |corpus|. Keep only the top
    * [[Bm25MaxPostings]] docs per term, ranked by the INTEGER impact
    * proxy (tf DESC, dlen ASC, doc_id ASC) — within a term, idf is
    * constant and the BM25 term score rises with tf and falls with
    * dlen, so the proxy tracks true impact order while staying
    * bit-deterministic across engines (no float ordering). Mirrored in
    * [[bm25Ctes]]; d4's MaxPostings is the same idea on shingles.
    */
  private val Bm25MaxPostings = 1000

  /** t12 — BM25 retrieval: score the corpus against the eval-set
    * documents as queries (src0, t10's convention) and keep the top-k
    * per query — the retrieval step of a RAG pipeline, or the
    * "find the training docs most similar to this benchmark item"
    * audit that complements t10's exact-shingle decontamination with a
    * ranked lexical-overlap view.
    *
    * Shape at scale: the corpus is tokenized ONCE into term frequencies
    * (t6's pattern); document length and document frequency both
    * aggregate from that tf frame, so no second scan. The query side is
    * small by contract (an eval suite), so query terms broadcast onto
    * the tf posting lists — the big frame is touched by one broadcast
    * hash join at scan parallelism. Each query keeps only its
    * [[Bm25QueryTerms]] RAREST terms (by (df, term) — deterministic),
    * the classic query-term-budget prune: join cost is bounded by
    * M × posting-length per query instead of every stopword's full
    * posting list, and rare terms are where BM25's idf mass lives. (A
    * global df > N/2 cut was measured first and rejected: the
    * fixtures' 31-word synthetic vocabulary puts nearly every term in
    * most documents, which degenerates any corpus-wide ratio rule —
    * the per-query budget keeps the operator meaningful on ANY
    * vocabulary shape while bounding cost the same way.)
    *
    * Float discipline: k1 = 1.2, b = 0.75, and (k1+1) = 2.2 appear as
    * the SAME literals in engine and oracle ((k1+1) precomputed — the
    * double 1.2+1.0 != literal 2.2); idf's `ln` is libm-1-ulp territory
    * like t6's, absorbed by round-6; the per-(query, doc) term-score
    * sum folds in QRANK order on both sides via M pinned max()-slots
    * added left-to-right (q43's association-order rule) — a partial-agg
    * float `sum()` would not be order-reproducible, and the previous
    * collect_list + sort_array fold paid an ObjectHashAggregate + sort
    * for the same guarantee. Ranking is over the ROUNDED score with
    * doc_id tie-break.
    */
  def t12Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    bm25(docs.filter(!(col("source") <=> lit(EvalSource))),
      docs.filter(col("source") <=> lit(EvalSource)), Bm25TopK)
  }

  /** Frame-based BM25 core: top-`k` `corpus` docs per `queries` doc.
    * Both frames need (doc_id, text); zero-token corpus docs can never
    * match and do not count toward N or avgdl (stated: N is the count
    * of docs with at least one token).
    */
  def bm25(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // EXACT QUERY-SET COLLAPSE (round 16): every step downstream of
    // tokenization — the rarest-M budget (ORDER BY (df, term) over the
    // term set), the capped-posting join, the slot-pinned score fold,
    // and the (score DESC, doc_id ASC) ranking over CORPUS doc_ids —
    // is a pure function of the query's distinct-term SET, never of
    // its id, so queries sharing a set share their entire ranked list.
    // Group queries by the sorted distinct token array, run the
    // pipeline once per set under the representative min(doc_id), and
    // fan the ≤ k result rows back out through group membership at the
    // end. This is the engine-side mirror of the staged sf10 oracle's
    // qsig collapse ([[stagedBm25Stages]] change 2, same key, same
    // purity argument) — the two formulations now collapse or not in
    // lockstep. Measured: the 100× gate's source rotation leaves the
    // eval side 6.4× duplicated (25,000 queries, 3,935 sets) and the
    // scored stage is |sets| × M × cap; where queries are unique the
    // extra groupBy touches only the small-by-contract query frame and
    // the fan-out join only the ≤ |queries| × k result rows — cheap
    // enough to skip d4's stat gate. Precondition shared with the
    // staged oracle: one query row per non-NULL doc_id (two rows
    // sharing an id would interleave their qranks in the uncollapsed
    // form but score independently here; NULL-id rows follow the
    // uncollapsed form's null-equality merge only within one group).
    //
    // The query side is small by contract (it broadcasts twice below)
    // but may arrive as an arbitrarily expensive pipeline, and the
    // grouped frame is consumed FOUR times: the partition-sizing
    // count, two broadcast builds (qdf's join build and posted's
    // semi-join build) and the final fan-out. localCheckpoint
    // materializes the collapsed slim frame once so each consumer
    // reads blocks instead of re-running the caller's pipeline
    // (review-caught: the sizing count alone re-scanned the documents
    // table per t12 invocation). Blocks are reclaimed by the
    // ContextCleaner when the returned frame is dropped. The struct
    // wrap in qids keeps NULL member ids (collect_list drops bare
    // NULLs); array_distinct collapses byte-equal duplicate rows once.
    val qg = queries.select(col("doc_id"), col("text"))
      .select(col("doc_id"), array_sort(array_distinct(toks(col("text")))).as("qsig"))
      .groupBy(col("qsig"))
      .agg(min(col("doc_id")).as("doc_id"),
        array_distinct(collect_list(struct(col("doc_id").as("qid")))).as("qids"))
      .localCheckpoint()
    val q = qg.select(col("doc_id"), col("qsig"))
    // ONE tokenize pass: tf's (doc_id, term) exchange feeds everything.
    // Document length rides tf as a window sum (t6's shape — a separate
    // groupBy+join would prune different columns and re-scan the
    // corpus); df counts tf rows per term; the corpus-level stats
    // aggregate tf too (n_docs as distinct doc_id). The extra window
    // exchange carries slim aggregated rows — far cheaper than a
    // second corpus scan.
    val tfc = corpus
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tf = tfc.withColumn("dlen",
      sum(col("tf")).over(Window.partitionBy("doc_id")).cast("long"))
    // df = posting count per term, written as sum(least(tf, 1)) — the
    // value IS count(*) (every tfc row has tf >= 1), but referencing
    // `tf` stops column pruning from rewriting this branch's copy of
    // the tfc aggregate without the count, which would give it a
    // DIFFERENT exchange and re-scan + re-tokenize the corpus
    // (ReuseExchange needs bit-identical subtrees; plan-pinned).
    val dfreq = tfc.groupBy("term")
      .agg(sum(least(col("tf"), lit(1L))).as("df"))
    val stats = tfc.agg(count_distinct(col("doc_id")).as("n_docs"),
      (sum(col("tf")).cast("double") /
        count_distinct(col("doc_id")).cast("double")).as("avgdl"))
    val qterms = q.select(col("doc_id").as("query_id"),
      explode(col("qsig")).as("term"))
    // Per-query rarest-M term budget — small, broadcast onto tf.
    val qsel = Window.partitionBy("query_id")
      .orderBy(col("df").asc, col("term").asc)
    val qdf = dfreq.join(broadcast(qterms), "term")
      .withColumn("qrank", row_number().over(qsel))
      .filter(col("qrank") <= Bm25QueryTerms)
      .crossJoin(broadcast(stats))
    val sc = log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dlen") / col("avgdl")))
    // Posting truncation happens BEFORE the query join so the
    // |queries| x |posting| multiplication only ever sees capped
    // postings. (Two rejected shapes, both measured: a post-join
    // rank-limit window sorts the full blowup before pruning — 4x
    // slower than no cap at all; a semi-join built from the BUDGETED
    // terms drags dfreq in and re-tokenizes the corpus — a third
    // corpus pass, plan-pinned away.) The build side here is the raw
    // eval-side term set — small by the same contract that lets qdf
    // broadcast, corpus-independent, and a SUPERSET of the budgeted
    // terms, which is harmless: per-term ranking doesn't depend on the
    // query, so capped postings for budgeted terms are identical.
    val psel = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("dlen").asc, col("doc_id").asc)
    // Spread the |queries| × posting-cap expansion BEFORE it happens.
    // `posted` leaves the cap window hash-partitioned by `term`, and a
    // small vocabulary (the fixtures have ~31 terms; any natural corpus
    // still has far fewer hot terms than tasks) makes that a
    // few-task stage; the broadcast query join then expands each task
    // by ~|queries| and the partial aggregate below buffers
    // (16 max-slots) × (groups in task) — measured as the sf1 8 GB
    // GC-death. Re-keying the CAPPED postings (a tiny frame:
    // ≤ terms × cap rows) by doc_id co-locates every (query, doc)
    // group in one task, so the partial agg fully reduces and the
    // final merge sees one row per group. The partition count scales
    // with the expanded row count (|distinct query sets| × M × cap),
    // not with cores — the query side is small by the same contract
    // that lets it broadcast, so the count() over the checkpointed
    // blocks is a cheap driver-side bound, and the explicit number
    // keeps AQE from byte-coalescing the tiny pre-expansion shuffle
    // into a handful of post-expansion monsters.
    val nq = q.count()
    val expanded = nq * Bm25QueryTerms * Bm25MaxPostings
    val parts = graft.Tables.expansionParts(corpus.sparkSession, expanded)
    val posted = tf
      .join(broadcast(qterms.select("term").distinct()), "term", "left_semi")
      .withColumn("prank", row_number().over(psel))
      .filter(col("prank") <= Bm25MaxPostings).drop("prank")
      .repartition(parts, col("doc_id"))
    val scored = posted.join(broadcast(qdf), "term")
      .select(col("query_id"), col("doc_id"), col("qrank"), sc.as("sc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    // Per-(query, doc) score = the sum of ≤M per-term scores, folded in
    // a PINNED association order for cross-engine reproducibility
    // (float partial-agg sum is merge-order-sensitive). qrank is a
    // bijection to term within a query, so each (query, doc, slot)
    // holds at most one score: M max()-slots in ONE codegen'd
    // HashAggregate, added left-to-right — replaces a
    // collect_list + sort_array + fold ObjectHashAggregate that
    // buffered and sorted every row of the scored frame (measured:
    // t12 11.6 -> 4.3 s at sf0.1 — the fold dominated, not the join).
    val slots = (1 to Bm25QueryTerms).map(i =>
      max(when(col("qrank") === i, col("sc"))).as(s"_s$i"))
    val pinnedSum = (1 to Bm25QueryTerms)
      .map(i => coalesce(col(s"_s$i"), lit(0.0)))
      .reduce(_ + _)
    val ranked = scored.groupBy("query_id", "doc_id")
      .agg(slots.head, slots.tail: _*)
      .select(col("query_id"), col("doc_id"), round(pinnedSum, 6).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
    // Fan the per-set result back out to every member query: ranked is
    // ≤ |sets| × k rows and fan one row per query — both tiny, joined
    // null-safely (a rep is NULL only when every member id is NULL).
    val fan = qg.select(col("doc_id").as("qrep"), explode(col("qids")).as("q"))
    ranked.join(broadcast(fan), col("query_id") <=> col("qrep"))
      .select(col("q.qid").as("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** t15 — bigram language-model quality score: the CCNet-style
    * perplexity-filter idea (score each document by how predictable its
    * text is under an n-gram model of the corpus; low scores flag
    * gibberish / boilerplate-shredded docs). The model is the corpus's
    * own MLE bigram table — P(w2|w1) = c(w1 w2) / c(w1 ·) — and the
    * score is the MEAN of those per-position probabilities.
    *
    * Two deliberate deviations from the classical formulation, both for
    * cross-engine determinism (NOTES invariants):
    *  - MLE, no smoothing: the model scores its own training corpus, so
    *    every scored bigram has count >= 1 and zero mass never arises.
    *    (A held-out variant needs smoothing — and a vocab-size scalar,
    *    which would cost a second corpus pass.)
    *  - arithmetic mean of probabilities, not mean log-prob: each term
    *    is the exactly-rounded quotient of two window counts — bit-equal
    *    in any IEEE engine — so the score needs NO rounding at all;
    *    `ln` is libm-1-ulp territory (t12's note) and a mean of
    *    hundreds of such terms lands inside a rounding boundary's
    *    danger band often enough to flake a hash gate. The mean folds
    *    in POSITION order (sort_array + sequential aggregate ≡ DuckDB
    *    list_sum over list(ORDER BY pos), t12's pattern) — a float
    *    sum() partial-agg would not be order-reproducible.
    *
    * Plan shape is d12's window formulation: both model counts ride the
    * ONE exploded bigram frame as stacked windows (partitionBy (w1,w2),
    * then w1) — a groupBy+join-back model table would prune different
    * columns per branch and re-scan + re-tokenize per use (see
    * substrSpans). A hot prefix (a stopword w1) serializes its window
    * partition, but a join would co-locate the same rows; cost stays
    * linear. One full-text scan + one doc_id-pruned join-back so docs
    * without a bigram still appear (n_bigrams 0, score null).
    */
  def t15LmScore(s: SparkSession, dir: String): DataFrame =
    lmScore(load(s, dir, "documents"),
      collapse = Collapse.gate(s, dir, "documents", Seq("text")))

  /** Frame-based core over any `(doc_id, text)` corpus. */
  def lmScore(docs: DataFrame): DataFrame = lmScore(docs, collapse = false)

  /** Twin-collapsed through [[Collapse.byKey]] on text: a document's
    * per-position p sequence is a pure function of its text, and both
    * model counts are `mult`-weighted integer sums (`sum(mult)` ≡
    * `count(1)` per copy, Long for Long), so the scores are bit-exact at
    * any duplication depth. The join-back over the same rows keeps
    * documents without a bigram (n_bigrams 0, score null).
    */
  private[graft] def lmScore(docs: DataFrame, collapse: Boolean): DataFrame =
    Collapse.byKey(docs, Seq("text"), collapse) { rows =>
      // toks materialized in its own projection: a lambda body referencing
      // an enclosing expression re-evaluates it per element (t10's lesson).
      val bg = graft.Tables.spread(rows)
        .select(col("doc_id"), col("mult"), toks(col("text")).as("tk"))
        .select(col("doc_id"), col("mult"),
          posexplode(
            when(size(col("tk")) >= 2,
              transform(sequence(lit(1), size(col("tk")) - 1),
                i => struct(element_at(col("tk"), i).as("w1"),
                  element_at(col("tk"), i + 1).as("w2"))))
              .otherwise(array().cast("array<struct<w1:string,w2:string>>"))))
        .select(col("doc_id"), col("mult"), (col("pos") + 1).as("pos"),
          col("col.w1").as("w1"), col("col.w2").as("w2"))
      val p = bg
        .withColumn("n2", sum(col("mult")).over(Window.partitionBy("w1", "w2")))
        .withColumn("n1", sum(col("mult")).over(Window.partitionBy("w1")))
        .select(col("doc_id"), col("pos"),
          (col("n2").cast("double") / col("n1").cast("double")).as("p"))
      val scored = p.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
        .select(col("doc_id"), col("n_bigrams"),
          (aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("p")) /
            col("n_bigrams").cast("double")).as("lm_score"))
      rows.select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("lm_score"))
    }

  private val ImpTargetLang = "en"

  /** t16 — hashed-feature importance weights, the DSIR shape (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling", arXiv:2302.03169): score each document by how much
    * its token distribution looks like a TARGET domain (here the
    * lang='en' slice, t10's eval-slice convention) relative to the raw
    * corpus. Tokens hash into 256 buckets (two md5 hex chars — DSIR's hashed
    * n-gram features — vocabulary-free, so the op scales to any
    * corpus); each token contributes its bucket's target share
    * cnt_target(b)/cnt_raw(b); the document weight is the
    * position-ordered mean (t15's fold).
    *
    * Two documented deviations from the paper, both for cross-engine
    * determinism: (1) the weight omits the constant N_raw/N_target
    * factor of the likelihood ratio — importance RESAMPLING is
    * invariant to a constant factor (q60's normalization-skipped
    * precedent), and keeping it would add two global scalars for zero
    * ranking information; (2) the mean is over raw shares, not
    * log-ratios — each share is ONE exactly-rounded IEEE division of
    * two exact integers, bit-equal in any engine, where ln is
    * libm-1-ulp territory (t15's reasoning, verbatim).
    *
    * Shape at scale: one scan; the two window counts share one bucket
    * exchange (same partition key → one Window operator); the fold
    * rides a doc_id aggregation. No global aggregate, no join against
    * a model table — the "model" IS the window count, computed in
    * place. A hot bucket serializes its window partition like t15's
    * hot w1 — linear cost either way.
    */
  def t16Importance(s: SparkSession, dir: String): DataFrame =
    importanceWeights(load(s, dir, "documents"),
      collapse = Collapse.gate(s, dir, "documents", Seq("lang", "text")))

  /** Frame-based core over any `(doc_id, lang, text)` corpus. */
  def importanceWeights(docs: DataFrame): DataFrame =
    importanceWeights(docs, collapse = false)

  /** Twin-collapsed through [[Collapse.byKey]] on (tgt, text), t15's
    * rule with the target flag in the key (same-text docs collapse across
    * all non-target langs too): both bucket counts are `mult`-weighted
    * integer sums. The gate key is (lang, text): distinct(tgt, text) ≤
    * distinct(lang, text), so the probe can only under-fire.
    */
  private[graft] def importanceWeights(docs: DataFrame, collapse: Boolean): DataFrame =
    Collapse.byKey(
      docs.select(col("doc_id"),
        (col("lang") <=> lit(ImpTargetLang)).cast("int").as("tgt"), col("text")),
      Seq("tgt", "text"), collapse) { rows =>
      val tk = graft.Tables.spread(rows)
        .select(col("doc_id"), col("tgt"), col("mult"), toks(col("text")).as("tk"))
        .select(col("doc_id"), col("tgt"), col("mult"), posexplode(col("tk")))
        .select(col("doc_id"), col("tgt"), col("mult"), (col("pos") + 1).as("pos"),
          conv(substring(md5(col("col")), 1, 2), 16, 10).cast("long").as("b"))
      val r = tk
        .withColumn("cnt_t", sum(col("mult") * col("tgt")).over(Window.partitionBy("b")))
        .withColumn("cnt_r", sum(col("mult")).over(Window.partitionBy("b")))
        .select(col("doc_id"), col("pos"),
          (col("cnt_t").cast("double") / col("cnt_r").cast("double")).as("r"))
      val scored = r.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sort_array(collect_list(struct(col("pos"), col("r")))).as("rs"))
        .select(col("doc_id"), col("n_tokens"),
          (aggregate(col("rs"), lit(0.0), (a, x) => a + x.getField("r")) /
            col("n_tokens").cast("double")).as("imp_weight"))
      rows.select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          col("imp_weight"))
    }

  /** Adjacent-token n-grams ("wᵢ … wᵢ₊ₙ₋₁") in document order — the ONE
    * formulation shared by t5/t9 (bigrams) and t10 (5-gram shingles),
    * mirrored once in [[ngramsSql]]: separator or empty/null behavior
    * changes in one place, not four. Empty below n tokens; null for a
    * null array (null text), matching the oracle's NULL list
    * propagation. (Dedup.shingles is deliberately separate: different
    * contract — guard-less over pre-filtered ≥3-token input.)
    */
  private[ops] def ngrams(t: Column, n: Int): Column =
    when(t.isNull, lit(null).cast("array<string>"))
      .when(size(t) >= n,
        transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(t, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  private[ops] def bigrams(t: Column): Column = ngrams(t, 2)

  /** t9 — within-document repetition stats (the Gopher-style duplicate
    * word / duplicate n-gram signals used to drop low-quality docs):
    * token and bigram cardinalities as exact integers. Ratios are left
    * to the consumer — integer counts are the cross-engine-stable
    * statement (a rounded ratio can land on a decimal tie). Narrow
    * per-row transform, no shuffle; null text propagates null counts.
    */
  def t9Repetition(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    load(s, dir, "documents")
      .select(col("doc_id"), t.as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_words"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct_words"),
        (size(col("t")) - size(array_distinct(col("t")))).cast("long")
          .as("n_dup_words"),
        size(array_distinct(bigrams(col("t")))).cast("long")
          .as("n_distinct_bigrams"))
  }

  /** THE eval-set source convention (t10's): every operator that holds
    * out an eval slice (t10/t12/t13/t17 here, curation's reference set,
    * d12-d14's span sources) references this ONE constant — three
    * independently defined copies could drift and silently decouple
    * e.g. BM25's decontam auditing from the eval set curation actually
    * holds out (review-caught).
    */
  private[ops] val EvalSource = "src0"
  private val MaxContamPostings = 1000

  /** t10 — benchmark decontamination: flag training documents sharing
    * any 5-token shingle with the eval set (here modeled as the 'src0'
    * source partition; in production the eval side is the benchmark
    * suite's strings). The standard pre-training hygiene step: a doc
    * that contains an eval shingle is a leakage risk and gets dropped
    * or audited — n_hit_shingles ranks severity.
    *
    * Shape at scale (d4's inverted-index pattern): ONE tokenize+explode
    * pass, ONE groupBy(shingle) carrying both the eval flag and the
    * non-eval posting list, explode the flagged postings, count per
    * doc. No self-join of the corpus, no second scan for the eval side.
    * Shingles whose posting list exceeds [[MaxContamPostings]] are
    * dropped like d4's cap — a corpus-common phrase is boilerplate, not
    * memorization signal, and an uncapped hot shingle would collect
    * unbounded doc lists. Keys stay RAW SHINGLE STRINGS — see
    * [[contamination]] for the sf1-measured alternatives (md5-prefix
    * keys and a two-pass cap both re-measured and rejected).
    */
  def t10Contamination(s: SparkSession, dir: String): DataFrame =
    contamination(graft.Tables.spread(load(s, dir, "documents")),
      EvalSource, MaxContamPostings,
      collapse = Collapse.gate(s, dir, "documents", Seq("source", "text")))

  /** Core of t10 over any (doc_id, source, text) frame. The posting cap
    * is applied with a window count BEFORE collect_set (the cappedBands
    * pattern, sharing the shingle clustering with the aggregation — no
    * extra exchange): filtering after collection would still build the
    * hot shingle's full doc list inside one aggregation buffer, which is
    * exactly the skewed-key blowup the cap exists to avoid. A window
    * partition spills; an agg buffer doesn't.
    *
    * The sf1 profile (10x duplicated corpus, SCALE.md) drove one fix
    * and two rejections here, all measured:
    *  - ADOPTED: tokens materialized as a column before the n-gram
    *    transform (below) — 6.18 s -> ~1.9 s at sf1, 1.5 -> ~1.3 s at
    *    sf0.1. The round-4 form inlined `ngrams(toks(text))`, and with
    *    no CSE inside expression trees every element_at in every
    *    shingle lambda re-ran the whole tokenizer (~5 re-tokenizations
    *    per shingle, ~350 per document).
    *  - REJECTED: d4's 60-bit md5-prefix shingle keys (re-measured per
    *    the round-4 note's revisit condition): 2.4-2.7 s vs 1.8-2.3 s
    *    raw at sf1 — with tokens materialized, the conv/md5 CPU costs
    *    more than the 30-byte->8-byte shuffle shrink saves, even 10x up.
    *  - REJECTED: a two-pass cap (pre-aggregate over-cap shingles,
    *    anti-join before the wide shuffle): 9.6 s at sf1 — the second
    *    tokenize+shingle pass costs more than the window sort it saves.
    */
  def contamination(docs: DataFrame, evalSource: String,
      maxPostings: Int): DataFrame =
    contamination(docs, evalSource, maxPostings, collapse = false)

  /** Twin-collapsed through [[Collapse.byKey]] on (ev, text): a
    * document's distinct shingle set is a pure function of its text,
    * the only source-dependence is the eval flag, and both per-shingle
    * corpus terms (`_np`, `n_eval`) are `mult`-weighted sums — the
    * posting cap is a whole-shingle filter, so it weights exactly. A
    * text present on both sides splits into two hub rows whose mults
    * land on the correct sides.
    *
    * Null-SAFE source comparison: with ===/=!= a null-source doc would
    * satisfy NEITHER side (three-valued logic), so it would never be
    * counted as a posting and could never be flagged as contaminated —
    * yet Curation deliberately admits null-source docs as candidates.
    * <=> makes null source mean "not the eval set", same as the
    * oracle's IS DISTINCT FROM.
    */
  private[graft] def contamination(docs: DataFrame, evalSource: String,
      maxPostings: Int, collapse: Boolean): DataFrame =
    Collapse.byKey(
      docs.select(col("doc_id"), (col("source") <=> evalSource).as("ev"), col("text")),
      Seq("ev", "text"), collapse)(rows => rows
      // Tokens MATERIALIZED as a column before the n-gram transform:
      // inlining `ngrams(toks(text))` makes every element_at in every
      // shingle lambda re-run the whole split+filter tokenizer (no CSE
      // inside expression trees — ~5 re-tokenizations per shingle, ~350
      // per document, measured 6.2 s -> 1.8 s at sf1). CollapseProject
      // keeps the alias because it is non-cheap and multiply-referenced.
      .select(col("doc_id"), col("ev"), col("mult"), toks(col("text")).as("t"))
      .select(col("doc_id"), col("ev"), col("mult"),
        explode(array_distinct(ngrams(col("t"), 5))).as("sh"))
      .withColumn("_np",
        sum(when(!col("ev"), col("mult")).otherwise(0L)).over(Window.partitionBy("sh")))
      .filter(col("_np") <= maxPostings)
      .groupBy("sh")
      .agg(
        sum(when(col("ev"), col("mult")).otherwise(0L)).as("n_eval"),
        collect_set(when(!col("ev"), col("doc_id"))).as("docs"))
      .filter(col("n_eval") > 0)
      .select(explode(col("docs")).as("doc_id"))
      // (doc_id, shingle) is unique after the per-doc array_distinct, so
      // a plain count IS the distinct contaminated-shingle count.
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_shingles")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t10_contamination" -> t10Contamination,
    "t9_repetition" -> t9Repetition,
    "t1_quality_score" -> t1QualityScore,
    "t2_token_count" -> t2TokenCount,
    "t3_lang_id" -> t3LangId,
    "t4_fingerprint" -> t4Fingerprint,
    "t5_ngram_freq" -> t5NgramFreq,
    "t6_tfidf" -> t6TfIdf,
    "t7_scrub" -> t7Scrub,
    "t8_chunk" -> t8Chunk,
    "t11_pack" -> t11Pack,
    "t12_bm25" -> t12Bm25,
    "t15_lm_score" -> t15LmScore,
    "t16_importance" -> t16Importance)

  private[ops] val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** t15's oracle CTE chain + final select over any `(doc_id, text)`
    * relation `rel` — shared with the curation-v2 composed oracle.
    * Mirrors the engine exactly: window counts over the one bigram
    * relation, position-ordered list_sum fold (≡ the sequential
    * `aggregate`), quotients of integers so no rounding is needed.
    */
  private[ops] def lmSql(rel: String): String =
    s"""lmt AS (SELECT doc_id, $toksSql AS toks FROM $rel),
       |lmbg AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
       |       FROM lmt, unnest(generate_series(1, len(toks) - 1)) u(i)
       |       WHERE len(toks) >= 2),
       |lmp AS (SELECT doc_id, pos,
       |        CAST(count(*) OVER (PARTITION BY w1, w2) AS DOUBLE)
       |        / CAST(count(*) OVER (PARTITION BY w1) AS DOUBLE) AS p
       |      FROM lmbg),
       |lms AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |        list_sum(list(p ORDER BY pos)) / CAST(count(*) AS DOUBLE)
       |          AS lm_score
       |      FROM lmp GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(lms.n_bigrams, 0) AS n_bigrams, lms.lm_score
       |FROM $rel d LEFT JOIN lms ON lms.doc_id = d.doc_id""".stripMargin
  /** t12's oracle CTE chain over `(doc_id, text)` relations `corpusSel`
    * / `querySel` (full SELECT statements), ending in `bmranked`
    * (query_id, doc_id, score, rank) — UNFILTERED by k, so composers
    * pick their own candidate depth. All CTE names are `bm`-prefixed
    * for collision-free composition (shared with the t17 hybrid-RRF
    * oracle, so the lexical legs of the two gates cannot diverge).
    */
  /** The BM25 term-score expression over aliases `q` (bmqkept row:
    * df), `t` (bmposted row: tf, dlen) and `s` (bmstats row: n_docs,
    * avgdl) — ONE string shared by the composed [[bm25Ctes]] and the
    * staged [[stagedBm25Stages]] replay so the two formulations cannot
    * drift. Literals CAST to DOUBLE (bare 1.2 is DECIMAL in DuckDB).
    */
  private val bm25ScoreSql =
    s"""ln(CAST(1.0 AS DOUBLE) +
       |        (s.n_docs - q.df + CAST(0.5 AS DOUBLE)) / (q.df + CAST(0.5 AS DOUBLE))) *
       |      (t.tf * CAST(2.2 AS DOUBLE)) /
       |      (t.tf + CAST(1.2 AS DOUBLE) *
       |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * t.dlen / s.avgdl))""".stripMargin

  /** Slot-pinned term-score sum (per-slot max, slots added
    * left-to-right) — the association-order pin both formulations
    * share; see the engine-side `pinnedSum` note in [[bm25]].
    */
  private val bm25SlotSumSql = (1 to Bm25QueryTerms).map(i =>
    s"coalesce(max(CASE WHEN qrank = $i THEN sc END), CAST(0 AS DOUBLE))")
    .mkString(" + ")

  private[ops] def bm25Ctes(corpusSel: String, querySel: String): String =
    s"""bmcorpus AS ($corpusSel),
       |bmqdocs AS ($querySel),
       |bmtf AS (SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toksSql) AS term FROM bmcorpus) t
       |  GROUP BY 1, 2),
       |bmdfreq AS (SELECT term, count(*) AS df FROM bmtf GROUP BY 1),
       |bmdlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen
       |  FROM bmtf GROUP BY 1),
       |bmstats AS (SELECT count(*) AS n_docs,
       |    CAST(sum(dlen) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM bmdlen),
       |bmqterms AS (SELECT doc_id AS query_id, unnest(list_distinct($toksSql)) AS term
       |  FROM bmqdocs),
       |bmqsel AS (SELECT query_id, term, df,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY df ASC, term ASC) AS qrank
       |  FROM bmqterms JOIN bmdfreq USING (term)),
       |bmqkept AS (SELECT query_id, term, df, qrank FROM bmqsel
       |  WHERE qrank <= $Bm25QueryTerms),
       |bmposted AS (SELECT t.term, t.doc_id, t.tf, l.dlen,
       |    row_number() OVER (PARTITION BY t.term
       |      ORDER BY t.tf DESC, l.dlen ASC, t.doc_id ASC) AS prank
       |  FROM bmtf t
       |  JOIN (SELECT DISTINCT term FROM bmqkept) bt USING (term)
       |  JOIN bmdlen l ON l.doc_id = t.doc_id),
       |bmscored AS (SELECT q.query_id, t.doc_id, q.qrank,
       |    $bm25ScoreSql AS sc
       |  FROM bmqkept q
       |  JOIN bmposted t USING (term)
       |  CROSS JOIN bmstats s
       |  WHERE t.prank <= $Bm25MaxPostings),
       |bmagg AS (SELECT query_id, doc_id,
       |    round($bm25SlotSumSql, 6) AS score
       |  FROM bmscored GROUP BY 1, 2),
       |bmranked AS (SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM bmagg)""".stripMargin

  /** STAGED replay of [[bm25Ctes]] for gates where the composed form
    * exhausts the replay's DISK (sf10: bmscored/bmagg materialize
    * n_queries x QueryTerms x MaxPostings ~ 400M rows — the synthetic
    * corpus has a ~31-term vocabulary, so every kept query term drags
    * a full 1000-posting list into the join and the single-statement
    * pipeline spills >50 GB). Three changes, each exactness-preserving:
    *
    *   1. each CTE lands in its own temp table, so the planner never
    *      holds two heavy pipelines' spill at once (t15's precedent);
    *   2. queries are COLLAPSED to one representative per distinct
    *      term SET before the explosion: every downstream step —
    *      qrank (ORDER BY df, term over the set), the posting join,
    *      the slot sum, the rank window — is a pure function of the
    *      query's distinct-term set, so queries sharing a set share
    *      their entire ranked result, computed once per set id `sid`
    *      and fanned back out by set equality (`${p}qsig` is never
    *      keyed by query_id, so duplicate and NULL ids ride through
    *      unchanged; a NULL token-list set yields zero qkept rows and
    *      therefore zero output rows, exactly the composed behavior
    *      for a NULL-text query). At sf10 the ~100x text duplication
    *      makes this a ~6x collapse (25,000 queries, 3,935 sets);
    *   3. the (already-collapsed) scored->agg->rank suffix runs in 16
    *      disjoint `sid % 16` buckets INSERTed one at a time — every
    *      window and group key in the suffix contains sid, so a
    *      partition of the set ids commutes with it; peak spill is
    *      one bucket's.
    *
    * The term-score expression, slot-pinned sum, window orderings and
    * join shapes are the SAME strings as the composed form
    * ([[bm25ScoreSql]]/[[bm25SlotSumSql]]); `${p}posted` applies the
    * prank cap at CREATE time (the composed form filters the same rows
    * one step later in bmscored). Ends with `${p}qranked`
    * (query_id, doc_id, score, rank) — the staged mirror of bmranked
    * already capped at rank <= `k` (the composer's candidate depth, so
    * the fan-out is n_queries x k rows, not n_queries x candidates).
    *
    * Precondition (holds for every gate corpus, and is what bmqsel's
    * per-query_id window assumes too): one documents row per non-NULL
    * doc_id. Two rows SHARING an id would interleave their qranks in
    * the composed form but score independently here.
    */
  private[ops] def stagedBm25Stages(corpusSel: String, querySel: String,
      p: String, k: Int): Seq[String] = {
    val bucketSels = (0 until 16).map { b =>
      s"""SELECT sid, doc_id, score, rank FROM (
         |  SELECT sid, doc_id, score,
         |      row_number() OVER (PARTITION BY sid
         |        ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM (
         |    SELECT sid, doc_id,
         |        round($bm25SlotSumSql, 6) AS score
         |    FROM (
         |      SELECT q.sid, t.doc_id, q.qrank,
         |          $bm25ScoreSql AS sc
         |      FROM (SELECT * FROM ${p}qkept WHERE sid % 16 = $b) q
         |      JOIN ${p}posted t USING (term)
         |      CROSS JOIN ${p}stats s) bsc
         |    GROUP BY 1, 2) bagg) brk
         |WHERE rank <= $k""".stripMargin
    }
    Seq(
      s"""CREATE TEMP TABLE ${p}tf AS
         |SELECT doc_id, term, count(*) AS tf
         |FROM (SELECT doc_id, unnest($toksSql) AS term FROM ($corpusSel) bmc) t
         |GROUP BY 1, 2""".stripMargin,
      s"CREATE TEMP TABLE ${p}dfreq AS SELECT term, count(*) AS df FROM ${p}tf GROUP BY 1",
      s"""CREATE TEMP TABLE ${p}dlen AS
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen FROM ${p}tf GROUP BY 1""".stripMargin,
      s"""CREATE TEMP TABLE ${p}stats AS
         |SELECT count(*) AS n_docs,
         |    CAST(sum(dlen) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |FROM ${p}dlen""".stripMargin,
      s"""CREATE TEMP TABLE ${p}qsig AS
         |SELECT doc_id AS query_id, list_sort(list_distinct($toksSql)) AS qsig
         |FROM ($querySel) bmq""".stripMargin,
      s"""CREATE TEMP TABLE ${p}qrep AS
         |SELECT qsig, row_number() OVER (ORDER BY qsig) AS sid
         |FROM (SELECT DISTINCT qsig FROM ${p}qsig) bqd""".stripMargin,
      s"""CREATE TEMP TABLE ${p}qkept AS
         |SELECT sid, term, df, qrank FROM (
         |  SELECT sid, term, df,
         |      row_number() OVER (PARTITION BY sid
         |        ORDER BY df ASC, term ASC) AS qrank
         |  FROM (SELECT sid, unnest(qsig) AS term FROM ${p}qrep) bqt
         |  JOIN ${p}dfreq USING (term)) bqs
         |WHERE qrank <= $Bm25QueryTerms""".stripMargin,
      s"""CREATE TEMP TABLE ${p}posted AS
         |SELECT term, doc_id, tf, dlen, prank FROM (
         |  SELECT t.term, t.doc_id, t.tf, l.dlen,
         |      row_number() OVER (PARTITION BY t.term
         |        ORDER BY t.tf DESC, l.dlen ASC, t.doc_id ASC) AS prank
         |  FROM ${p}tf t
         |  JOIN (SELECT DISTINCT term FROM ${p}qkept) bt USING (term)
         |  JOIN ${p}dlen l ON l.doc_id = t.doc_id) bp
         |WHERE prank <= $Bm25MaxPostings""".stripMargin,
      s"CREATE TEMP TABLE ${p}ranked AS\n${bucketSels.head}") ++
      bucketSels.tail.map(sel => s"INSERT INTO ${p}ranked\n$sel") :+
      s"""CREATE TEMP TABLE ${p}qranked AS
         |SELECT s.query_id, r.doc_id, r.score, r.rank
         |FROM ${p}ranked r
         |JOIN ${p}qrep g ON g.sid = r.sid
         |JOIN ${p}qsig s ON s.qsig IS NOT DISTINCT FROM g.qsig""".stripMargin
  }

  private val stopSql = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  private def bigramsSql(arr: String): String = ngramsSql(arr, 2)

  /** Oracle-side mirror of [[ngrams]] over a token-list column `arr`:
    * range excludes its stop, so range(1, len-(n-2)) yields starts
    * 1..len-n+1 ≡ Spark's sequence(1, size-(n-1)); empty below n
    * tokens, NULL list for NULL input.
    */
  private def ngramsSql(arr: String, n: Int): String = {
    val words = (0 until n).map(j => if (j == 0) s"$arr[i]" else s"$arr[i+$j]")
    s"list_transform(range(1, len($arr) - ${n - 2}), i -> ${words.mkString(" || ' ' || ")})"
  }

  /** Oracle-side mirror of [[contamination]] over any relation `from`
    * with (doc_id, source, text) — shared by t10 and the composed
    * curation oracle. IS [NOT] DISTINCT FROM mirrors the engine's
    * null-safe `<=>`: a null-source doc counts as a non-eval posting.
    * Two collect_set subtleties mirrored exactly (review-caught): the
    * emitted doc set is DISTINCT and null-free (collect_set drops
    * nulls and dedups), while the cap `np` counts posting ROWS
    * including null-id rows, like the engine's window count.
    */
  private[ops] def contaminationSql(from: String, evalSource: String,
      maxPostings: Int): String =
    s"""WITH t AS (SELECT doc_id, source, $toksSql AS t FROM $from),
       |sh AS (SELECT doc_id, source,
       |         unnest(list_distinct(${ngramsSql("t", 5)})) AS sh
       |       FROM t WHERE len(t) >= 5),
       |g AS (SELECT sh,
       |        sum(CASE WHEN source IS NOT DISTINCT FROM '$evalSource'
       |            THEN 1 ELSE 0 END) AS n_eval,
       |        count(*) FILTER (source IS DISTINCT FROM '$evalSource') AS np,
       |        list(DISTINCT doc_id)
       |          FILTER (doc_id IS NOT NULL
       |                  AND source IS DISTINCT FROM '$evalSource') AS docs
       |      FROM sh GROUP BY sh),
       |hits AS (SELECT unnest(docs) AS doc_id FROM g
       |         WHERE n_eval > 0 AND np <= $maxPostings)
       |SELECT doc_id, count(*) AS n_hit_shingles
       |FROM hits GROUP BY 1""".stripMargin

  /** Oracle-side mirror of [[chunk]] over any relation `from` with
    * (doc_id, text, passThrough…) — shared by t8 and the composed
    * curation oracle; `passThrough` columns ride onto every chunk row.
    */
  private[ops] def chunkSql(from: String, passThrough: Seq[String]): String = {
    val extraSel = passThrough.map(c => s", $c").mkString
    s"""WITH t AS (SELECT doc_id$extraSel, $toksSql AS t FROM $from),
       |c AS (SELECT doc_id$extraSel, t,
       |        unnest(generate_series(1, len(t), $ChunkStride)) AS s
       |      FROM t WHERE len(t) >= 1)
       |SELECT doc_id,
       |  CAST((s - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
       |  CAST(len(list_slice(t, s, least(s + ${ChunkSize - 1}, len(t)))) AS BIGINT)
       |    AS n_chunk_tokens,
       |  array_to_string(list_slice(t, s, least(s + ${ChunkSize - 1}, len(t))), ' ')
       |    AS chunk_text$extraSel
       |FROM c""".stripMargin
  }

  /** Oracle-side mirror of [[pack]] over any relation `from` with
    * (doc_id, chunk_idx, n_chunk_tokens) — shared by t11 and the composed
    * curation-pack oracle (c3). The windowed SUM must be CAST back to
    * BIGINT (DuckDB widens to HUGEINT, which pandas would read as
    * float64 and hash-diverge).
    */
  private[ops] def packSql(from: String): String =
    s"""WITH sharded AS (SELECT doc_id, chunk_idx, n_chunk_tokens,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT)
       |      % $PackShards AS shard
       |  FROM $from chunks),
       |off AS (SELECT doc_id, chunk_idx, n_chunk_tokens, shard,
       |    CAST(COALESCE(SUM(n_chunk_tokens) OVER (PARTITION BY shard
       |      ORDER BY doc_id, chunk_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM sharded)
       |SELECT doc_id, chunk_idx, shard,
       |  start_off // $PackCapacity AS seq,
       |  start_off % $PackCapacity AS seq_off,
       |  n_chunk_tokens
       |FROM off""".stripMargin

  val oracle: Map[String, String] = Map(
    "t10_contamination" ->
      contaminationSql("documents", EvalSource, MaxContamPostings),
    "t15_lm_score" -> s"WITH ${lmSql("documents")}",
    "t16_importance" ->
      s"""WITH t AS (SELECT doc_id,
         |    CASE WHEN lang IS NOT DISTINCT FROM '$ImpTargetLang'
         |      THEN 1 ELSE 0 END AS tgt,
         |    $toksSql AS toks FROM documents),
         |itk AS (SELECT doc_id, tgt, i AS pos,
         |    CAST(('0x' || substr(md5(toks[i]), 1, 2)) AS BIGINT) AS b
         |  FROM t, unnest(generate_series(1, len(toks))) u(i)),
         |ir AS (SELECT doc_id, pos,
         |    CAST(CAST(sum(tgt) OVER (PARTITION BY b) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) OVER (PARTITION BY b) AS DOUBLE) AS r
         |  FROM itk),
         |isc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    list_sum(list(r ORDER BY pos)) / CAST(count(*) AS DOUBLE)
         |      AS imp_weight
         |  FROM ir GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(isc.n_tokens, 0) AS n_tokens,
         |  isc.imp_weight
         |FROM documents d LEFT JOIN isc ON isc.doc_id = d.doc_id""".stripMargin,
    "t9_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_words,
         |  CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) AS n_dup_words,
         |  CAST(len(list_distinct(${bigramsSql("toks")})) AS BIGINT)
         |    AS n_distinct_bigrams
         |FROM t""".stripMargin,
    "t1_quality_score" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  round(CAST(len(list_filter(toks, w -> w IN $stopSql)) AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
         |  round(CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE), 6) AS mean_token_len,
         |  round((1.0 - CAST(len(list_filter(toks, w -> w IN $stopSql)) AS DOUBLE)
         |               / CAST(len(toks) AS DOUBLE))
         |        * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0), 6) AS quality_score
         |FROM t WHERE len(toks) > 0""".stripMargin,
    "t2_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT)
         |    AS n_bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_seen
         |FROM documents""".stripMargin,
    "t3_lang_id" -> {
      val scoreSql = markers.map { case (lang, ws) =>
        s"CAST(len(list_filter(toks, w -> w IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS s_$lang"
      }.mkString(",\n  ")
      val bestSql = markers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val caseSql = markers.map { case (l, _) =>
        s"WHEN s_$l = $bestSql AND $bestSql > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  $scoreSql
         |FROM t)
         |SELECT doc_id, lang AS lang_labeled,
         |  CASE $caseSql ELSE 'unk' END AS lang_pred,
         |  ${markers.map { case (l, _) => s"s_$l" }.mkString(" + ")} AS n_marker_hits
         |FROM sc""".stripMargin
    },
    "t4_fingerprint" ->
      s"""SELECT doc_id, ${Dedup.normFpSql} AS fingerprint
         |FROM documents""".stripMargin,
    "t6_tfidf" ->
      s"""WITH terms AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS n_term,
         |         sum(count(*)) OVER (PARTITION BY doc_id) AS doc_len
         |       FROM terms GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS doc_freq
         |       FROM terms GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    round((CAST(n_term AS DOUBLE) / CAST(doc_len AS DOUBLE)) *
         |          ln(CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE)), 6) AS tfidf
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
         |ranked AS (SELECT doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, term ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, tfidf
         |FROM ranked WHERE rank <= $TfIdfTopK""".stripMargin,
    "t7_scrub" -> {
      val denySql = denylist.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(toks, w -> w IN $denySql)) AS BIGINT) AS n_redacted,
         |  substr(md5(array_to_string(list_transform(toks,
         |      w -> CASE WHEN w IN $denySql THEN '$RedactMark' ELSE w END), ' ')), 1, 16)
         |    AS scrub_fingerprint
         |FROM t""".stripMargin
    },
    "t8_chunk" -> chunkSql("documents", Nil),
    "t11_pack" -> packSql(s"(${chunkSql("documents", Nil)})"),
    // Literals CAST to DOUBLE (bare 1.2 is DECIMAL in DuckDB); the
    // term-score sum is list_sum over list(... ORDER BY term) — the
    // same left-to-right fold as the engine's sorted sequential
    // `aggregate`; HUGEINT sums cast back before use.
    "t12_bm25" ->
      s"""WITH ${bm25Ctes(
             s"SELECT doc_id, text FROM documents WHERE source IS DISTINCT FROM '$EvalSource'",
             s"SELECT doc_id, text FROM documents WHERE source IS NOT DISTINCT FROM '$EvalSource'")}
         |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
         |FROM bmranked WHERE rank <= $Bm25TopK""".stripMargin,
    "t5_ngram_freq" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bg AS (SELECT doc_id,
         |         unnest(list_distinct(${bigramsSql("t")})) AS bigram
         |       FROM t WHERE len(t) >= 2)
         |SELECT bigram, count(*) AS doc_freq
         |FROM bg GROUP BY bigram
         |ORDER BY doc_freq DESC, bigram ASC LIMIT $TopNgrams""".stripMargin)

  /** STAGED replay of the t15 oracle for gates where the composed form
    * exhausts the replay's memory (sf10: two window functions over the
    * full corpus-wide bigram stream — DuckDB pins both windows' sorted
    * partitions at once and OOMs a 60 GB cap). Stage-at-a-time with the
    * windows rewritten as grouped-count temp tables joined back:
    * `count(*) OVER (PARTITION BY k)` ≡ a GROUP BY k count joined on k
    * — exact integer counts, so every per-position probability and the
    * pos-ordered sequential double sum (`list_sum(list(p ORDER BY
    * pos))`, the same summation order) are bit-identical to the
    * composed form. Expression strings (toksSql, the bigram unnest)
    * are byte-identical to [[lmSql]]'s.
    */
  def oracleStaged: Map[String, Seq[String]] = Map(
    // t12's composed replay fills >50 GB of spill at sf10 (the
    // scored/agg explosion — see [[stagedBm25Stages]]); the staged
    // form replays it temp-table-at-a-time, query-bucket-at-a-time.
    "t12_bm25" -> (stagedBm25Stages(
      s"SELECT doc_id, text FROM documents WHERE source IS DISTINCT FROM '$EvalSource'",
      s"SELECT doc_id, text FROM documents WHERE source IS NOT DISTINCT FROM '$EvalSource'",
      "bx", Bm25TopK) :+
      s"""SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
         |FROM bxqranked""".stripMargin),
    "t15_lm_score" -> Seq(
      s"""CREATE TEMP TABLE lbg AS
         |WITH lmt AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
         |FROM lmt, unnest(generate_series(1, len(toks) - 1)) u(i)
         |WHERE len(toks) >= 2""".stripMargin,
      "CREATE TEMP TABLE lc12 AS SELECT w1, w2, count(*) AS n12 FROM lbg GROUP BY 1, 2",
      "CREATE TEMP TABLE lc1 AS SELECT w1, count(*) AS n1 FROM lbg GROUP BY 1",
      """CREATE TEMP TABLE lp AS
        |SELECT b.doc_id, b.pos, CAST(c12.n12 AS DOUBLE) / CAST(c1.n1 AS DOUBLE) AS p
        |FROM lbg b
        |JOIN lc12 c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
        |JOIN lc1 c1 ON c1.w1 = b.w1""".stripMargin,
      """CREATE TEMP TABLE llms AS
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    list_sum(list(p ORDER BY pos)) / CAST(count(*) AS DOUBLE) AS lm_score
        |FROM lp GROUP BY doc_id""".stripMargin,
      """SELECT d.doc_id, coalesce(l.n_bigrams, 0) AS n_bigrams, l.lm_score
        |FROM documents d LEFT JOIN llms l ON l.doc_id = d.doc_id""".stripMargin))
}
