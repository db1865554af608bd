package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Deduplication operators for corpus curation over `documents` /
  * `embeddings`: exact (hash group-by), MinHash+LSH banding, SimHash,
  * blocked n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is one hash aggregation; MinHash compares only within LSH
  * band buckets; Jaccard and cosine compare only within a blocking key
  * (source / label here; LSH band or IVF cell in production). All hashing
  * is md5-based so the DuckDB oracle reproduces signatures bit-for-bit.
  */
object Dedup {

  private def toks(c: Column): Column = TextAnalysis.toks(c)

  /** Distinct 3-word shingles of the token array (requires ≥3 tokens). */
  private def shingles(t: Column): Column =
    array_distinct(transform(sequence(lit(1), size(t) - 2),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))

  private val shinglesSql =
    """list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))""".stripMargin

  /** d1 — exact dedup: one hash aggregation keyed by content hash; keeper
    * is the smallest doc_id (deterministic survivor policy).
    */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  private val NumHashes = 8
  private val NumBands = 4 // 2 rows per band

  /** MinHash signatures, computed as explode → hash-once → partial-agg
    * mins. Two md5 calls per shingle (seeds 0/1) concatenated to 64 hex
    * chars, split into eight 8-hex (32-bit) pieces — one independent-ish
    * hash family member each; per piece, the min over the document's
    * shingles. String min == unsigned hash min on fixed-width hex (and
    * measured faster than parsing each piece to a long first — conv's
    * per-row cost outweighs the nicer numeric agg buffers).
    *
    * Deliberately row-shaped rather than array-lambda-shaped: nested
    * `transform`s re-evaluate the md5 subtree once per family member
    * (Catalyst doesn't CSE across array lambdas — measured 2× slower),
    * while explode + groupBy hashes each shingle exactly once and
    * map-side partial aggregation reduces to 8 longs per doc before any
    * shuffle.
    */
  private def minhashSigs(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(shingles(col("t"))).as("sh"))
      .select(col("doc_id"),
        concat(md5(concat(lit("0:"), col("sh"))), md5(concat(lit("1:"), col("sh"))))
          .as("h"))
    val mins = (0 until NumHashes).map(j =>
      min(substring(col("h"), 8 * j + 1, 8)).as(s"h$j"))
    hashed.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** d2 — MinHash + LSH near-dup candidate pairs: signature → band keys →
    * explode → self-join per band → distinct pairs, with the estimated
    * Jaccard = fraction of agreeing minhashes. Only band buckets are ever
    * joined — no all-pairs pass — which is the property that survives a
    * 100 TB corpus (bucket sizes are bounded by collision probability,
    * and a skewed bucket is AQE-splittable).
    */
  def d2MinhashLsh(s: SparkSession, dir: String): DataFrame =
    // spread: the md5 signature pass is the cost — single-row-group
    // input would otherwise run it on one core (min() partials are
    // order-insensitive, so the round-robin is hash-safe).
    minhashPairs(graft.Tables.spread(load(s, dir, "documents")),
      collapse = Collapse.gate(s, dir, "documents", Seq("text")))

  /** Frame-based core of d2 over any (doc_id, text) frame — the
    * composition surface ([[Curation]]); all plan properties
    * (ReusedExchange single signature pass, SHUFFLE_HASH pin) live here.
    *
    * EXACT-TWIN COLLAPSE, SEMANTICS-PRESERVING (round 16, d4's pattern
    * with d2-specific simplifications): the signature is a pure
    * function of the token array, band keys and est_jaccard are pure
    * functions of the signatures, and the self-join's `doc_a < doc_b`
    * is the only id-level term — so docs sharing a token array are
    * bit-interchangeable, the md5-heavy signature pass and the band
    * join run over one REPRESENTATIVE per distinct array, and result
    * pairs expand back through group membership: cross-group member
    * pairs inherit their rep pair's est (least/greatest orientation, as
    * d4); within-group pairs are emitted directly at est 1.000 —
    * identical signatures agree on every minhash and collide in every
    * band unconditionally, so no join needs to witness them (d2 has no
    * posting cap, which is what makes the within leg a constant — the
    * expression d4 still has to compute). At the 100× gate the corpus
    * is ~95× text-duplicated: the collapse cuts the signature md5s and
    * the band-bucket populations by that factor while the 2.75M-row
    * output (which the expansion is bounded by) stays identical —
    * proved bit-identical at sf0.01 and sf10, pinned by PropertySpec's
    * duplicated-corpus twin test. Stat-gated like d4 ([[Collapse.gate]] on
    * text — no blocking key here): twin-free corpora (the driver
    * fixtures, where d2 beats the reference engine outright) keep the
    * round-2 two-exchange pipeline and pay nothing.
    */
  def minhashPairs(docs: DataFrame): DataFrame =
    minhashPairs(docs, collapse = false)

  def minhashPairs(docs: DataFrame, collapse: Boolean): DataFrame = {
    val toked = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    val rows = Collapse.groups(toked, Seq("t"), "doc_id", collapse)
    val repPairs = pairsFromSigs(
      minhashSigs(rows.select(col("rep").as("doc_id"), col("t"))))
    // Within-group pairs at est 1.0 — round(1.0, 3) in the original is
    // the double literal 1.0.
    Collapse.pairs(repPairs, rows,
      rows.filter(size(col("members")) >= 2)
        .select(col("members"), lit(1.0).as("est_jaccard")), on = collapse)
  }

  /** Band explode + self-join + per-pair dedup over a signature frame
    * — shared verbatim by the per-document and twin-collapsed paths.
    */
  private def pairsFromSigs(sigs: DataFrame): DataFrame = {
    // Signatures ride along through the band explode so the pair join
    // needs no extra lookups. The self-join is pinned to a shuffled
    // hash join: a broadcast join would hash-exchange only ONE side,
    // so the md5-heavy scan→shingle→signature pipeline would execute
    // once per side (observed in round 2 — broadcast exchanges are
    // never reused against shuffle exchanges). With both sides going
    // through byte-identical shuffle exchanges on (band_idx, band_key),
    // ReuseExchange runs the signature pass exactly once
    // (PlanChecksSpec pins the single-scan plan).
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until NumBands).map(b =>
        concat(element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2))): _*))
        .as(Seq("band_idx", "band_key")))
    // est_jaccard is evaluated per band collision (cheap 8-element zip)
    // so the per-pair dedup groups on two scalars — a distinct over the
    // (doc_a, doc_b, sig_a, sig_b) tuple would hash the arrays instead.
    bands.as("a")
      .join(bands.as("b").hint("SHUFFLE_HASH"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(aggregate(zip_with(col("a.sig"), col("b.sig"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .cast("double") / NumHashes, 3).as("est"))
      .groupBy(col("doc_a"), col("doc_b")) // a pair colliding in >1 band counts once
      .agg(min(col("est")).as("est_jaccard"))
  }

  /** d3 — SimHash (16-bit): per token md5, hex-digit parity at position i
    * votes ±1 on bit i; the signed sums per document give the signature.
    * One explode + one aggregation — linear in corpus size.
    *
    * Twin-collapsed through [[Collapse.byKey]] on text behind
    * [[Collapse.gate]]: the signature is a pure function of the text (no
    * corpus-level statistic), so it runs once per distinct text.
    */
  def d3Simhash(s: SparkSession, dir: String): DataFrame =
    d3SimhashImpl(s, dir, collapse = Collapse.gate(s, dir, "documents", Seq("text")))

  private[graft] def d3SimhashImpl(s: SparkSession, dir: String,
      collapse: Boolean): DataFrame = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    Collapse.byKey(load(s, dir, "documents"), Seq("text"), collapse) { rows =>
      val tokHash = graft.Tables.spread(rows)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .select(col("doc_id"), md5(col("tok")).as("h"))
      val bitSums = (1 to 16).map(i =>
        sum(when(substring(col("h"), i, 1).isin(oddHex.map(x => x: Any): _*), 1)
          .otherwise(-1)).as(s"s_$i"))
      tokHash.groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          (1 to 16).map(i => when(col(s"s_$i") > 0, lit(1L << (i - 1))).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
    }
  }

  /** Inverted-index posting-list cap: shingles appearing in more than
    * this many documents of one block contribute no pairs (ubiquitous
    * boilerplate phrases — quadratic pair blowup for near-zero signal;
    * the standard mitigation in shingle-based dedup). Mirrored in the
    * oracle SQL.
    */
  private val MaxPostings = 1000

  /** d4 — n-gram Jaccard near-dup pairs within a blocking key (source),
    * via the inverted index: group by (block, shingle) to a posting list,
    * emit ordered doc pairs per list, count per pair = |A∩B|, then
    * |A∩B| / (|A|+|B|-|A∩B|).
    *
    * One scan, one shuffle to build the index, one to aggregate pairs —
    * a shingle self-join would shuffle the exploded table twice and
    * stream a join; the posting-list form also gives the natural place
    * to cap quadratic blowup per shingle ([[MaxPostings]]). Each doc's
    * shingle count is just `size` of its (distinct) shingle array, so it
    * is computed per row BEFORE the explode and rides through the
    * posting lists into the pair aggregation — the round-2 version
    * re-derived it with a separate aggregation joined back on each pair
    * leg, scanning the documents 3× (PlanChecksSpec pins the
    * single-scan plan).
    *
    * EXACT-TWIN COLLAPSE, SEMANTICS-PRESERVING (round 16): duplicated
    * corpora make posting lists proportionally deeper and the pair
    * emission quadratically so — at the 100× gate (5 identical copies
    * per source block) the per-doc formulation emitted 685M pair
    * structs into the pair aggregation to produce 1.1M result rows
    * (measured: 117 s of a 132 s wall). As in d15, documents of one
    * block with identical (key set, n) are bit-interchangeable in every
    * downstream expression, so the index and pair legs run over one
    * REPRESENTATIVE per (source, arr, n) group — 685M → 27M emitted
    * pairs at the gate — and result pairs expand back through group
    * membership at the end (output-bound).
    *
    * Unlike d15, the cap keeps its ORIGINAL per-document meaning, which
    * is what makes the collapse exact rather than a semantics trade:
    * each posting carries its groups' member counts, the [2,
    * [[MaxPostings]]] gate tests sum(mult) (the true document depth), and a
    * single-rep posting with mult ≥ 2 is KEPT — it emits no cross pairs
    * but contributes to its group's within-pair intersection count.
    * Within-group pairs share one J value computed from ni_w = the
    * number of the group's shingles surviving the cap (identical twins
    * score below 1.0 exactly when the per-doc formulation would, e.g.
    * when a shared boilerplate shingle blows past MaxPostings); cross-
    * group pairs inherit their rep pair's J. Output is row-identical to
    * the per-document formulation at every duplication depth (proved
    * bit-identical at sf0.01 and the 100× corpus, pinned by
    * PropertySpec's brute-force twin test), so the oracle SQL is
    * UNCHANGED — DuckDB still runs the direct form.
    *
    * STAT-GATED (d15's strategy rule): on a twin-free corpus the
    * collapse buys nothing and costs two extra shuffles + two cache
    * fills (measured ~+0.6 s on the sf0.1 bench fixture, where d4
    * otherwise beats DuckDB), so the public entry probes the exact-copy
    * depth with one bounded driver action — approx_count_distinct over
    * xxhash64(source, text), a single narrow codegen'd scan, rsd 5% is
    * ample for a 1.2× threshold, engine-side only so the hash choice
    * never touches the oracle — and runs the per-document form below
    * that depth. Both paths are row-identical by construction, so a
    * probe misread can only cost time, never correctness. The verdict
    * is memoized on the table's file listing (a property of the data,
    * not of the query): repeated calls — the bench's min-of-3, an
    * embedder's loop — pay the probe scan once, and an in-place corpus
    * rewrite is probed again.
    */
  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    d4NgramJaccardImpl(s, dir, Collapse.gate(s, dir, "documents", Seq("source", "text")))

  private[graft] def d4NgramJaccardImpl(s: SparkSession, dir: String,
      collapse: Boolean): DataFrame = {
    val sh = graft.Tables.spread(load(s, dir, "documents"))
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("source"), shingles(col("t")).as("sh_arr"))
      // explode_outer, NOT explode: InferFiltersFromGenerate turns a plain
      // explode over an aliased array into `size(arr)>0 AND isnotnull(arr)`
      // predicates that get substituted with the WHOLE tokenize+shingle
      // pipeline and pushed below this projection — tripling the per-row
      // shingle cost (measured 4.5× wall). The outer variant infers
      // nothing, and the array is never empty here (≥3 tokens ⇒ ≥1
      // shingle), so the row sets are identical.
      .select(col("doc_id"), col("source"), size(col("sh_arr")).as("n_sh"),
        explode_outer(col("sh_arr")).as("sh"))
      // Shingle identity by 60-bit md5 prefix (15 hex chars — the widest
      // that can't overflow a signed long in either engine): the index
      // shuffle then carries 8-byte keys instead of ~20-byte phrase
      // strings. Collisions would merge two shingles' postings, but at
      // 2^60 key space even a 10^8-shingle block expects ~0.004 of one —
      // and the oracle computes the identical key, so both engines see
      // the same candidates regardless. Hashed AFTER the explode: Spark
      // does no CSE across array lambdas, so hashing inside the shingle
      // transform would re-run per reference (4× measured on d2).
      .select(col("doc_id"), col("source"), col("n_sh"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("shk"))
    // One posting and pair pipeline over `(source, rep, n_sh, mult, shk)`
    // rows: each document as its own rep with mult = 1 on the direct
    // form, one row per twin group on the collapse. Postings keep the
    // non-null reps with their mult; the [2, MaxPostings] gate tests
    // sum(mult), the true document depth, so null-id documents count
    // toward the cap and never pair.
    def postingsOf(rows: DataFrame): DataFrame = rows
      .groupBy(col("source"), col("shk"))
      .agg(sort_array(collect_list(when(col("rep").isNotNull,
          struct(col("rep"), col("n_sh"), col("mult"))))).as("reps"),
        sum(col("mult")).as("n_docs"))
      .filter(col("n_docs").between(2, MaxPostings))
    def repPairsOf(postings: DataFrame): DataFrame = postings
      .select(explode(flatten(transform(col("reps"), a =>
        transform(filter(col("reps"), b => b.getField("rep") > a.getField("rep")),
          b => struct(a.getField("rep").as("rep_a"), a.getField("n_sh").as("n_a"),
            b.getField("rep").as("rep_b"), b.getField("n_sh").as("n_b")))))).as("p"))
      .groupBy(col("p.rep_a").as("doc_a"), col("p.rep_b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"),
        max(col("p.n_a")).as("n_a"), max(col("p.n_b")).as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
    if (!collapse) return repPairsOf(postingsOf(sh.select(col("source"),
      col("doc_id").as("rep"), col("n_sh"), lit(1L).as("mult"), col("shk"))))
    // Twin hub over (source, sorted key array, n_sh). n_sh is part of
    // the key for the same reason as d15: an intra-doc 60-bit collision
    // (n_sh > |arr|) must not merge docs whose true shingle counts
    // differ. Null-id documents of a source merge into one key array in
    // the per-doc grouping, so each shingle occurrence still counts once.
    val hub = Collapse.hub(sh.groupBy("doc_id", "source")
      .agg(first(col("n_sh")).as("n_sh"), sort_array(collect_list(col("shk"))).as("arr")),
      Seq("source", "arr", "n_sh"), "doc_id")
    // Persisted like the hub: the cross-pair and within-pair legs both
    // consume it; capped lists bound the footprint (d15's postings
    // rule).
    val postings = OpCaches.persisted(postingsOf(hub.select(col("source"),
      col("rep"), col("n_sh"), col("mult"), explode(col("arr")).as("shk"))))
    // Within-group pairs: ni_w = how many of the group's shingles
    // survive the doc-depth cap (count of kept postings containing the
    // rep — including single-rep postings, whose n_docs = mult ≥ 2). All
    // member pairs of the group share J = ni_w / (2n − ni_w). Groups are
    // disjoint doc sets, so the legs never overlap.
    val within = postings
      .select(explode(col("reps")).as("r"))
      .filter(col("r.mult") >= 2)
      .groupBy(col("r.rep").as("rep"))
      .agg(count(lit(1)).as("ni_w"), first(col("r.n_sh")).as("n_sh"))
      .select(col("rep"),
        round(col("ni_w").cast("double") /
          (col("n_sh") * 2 - col("ni_w")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .join(hub.select(col("rep"), col("members")), Seq("rep"))
      .select(col("members"), col("jaccard"))
    Collapse.pairs(repPairsOf(postings), hub, within)
  }

  /** d15's Jaccard threshold as an exact rational (3/10, d4's bar):
    * the prefix length and the verify comparison are pure integer
    * arithmetic — no float enters until the reported score.
    */
  private val PTauNum = 3
  private val PTauDen = 10

  /** d15 — prefix-filtered EXACT set-Jaccard self-join (the AllPairs /
    * PPJoin family: Bayardo, Ma & Srikant, WWW 2007; Chaudhuri et al.,
    * ICDE 2006): every document pair whose distinct-3-gram-shingle sets
    * have Jaccard >= τ, with NO blocking key and NO approximation —
    * the exact-match complement to d2's MinHash estimate and d4's
    * source-blocked index. The prefix-filter lemma does the pruning:
    * under one global shingle ordering (here ascending document
    * frequency, rarest first, ties by key), J(A,B) >= τ implies the
    * (n - ceil(τn) + 1)-prefixes of A and B share an element — so
    * indexing ONLY prefixes loses no qualifying pair, and candidates
    * are generated from the rarest shingles, exactly where posting
    * lists are shortest.
    *
    * Shape at scale: the shingle pipeline is evaluated per consumer
    * (df count, rank join, verify arrays — linear scans each) rather
    * than persisted: at corpus scale the exploded key frame dwarfs
    * memory, and scans are the cheap embarrassingly-parallel leg. The
    * quadratic danger is candidate generation, bounded by the d4
    * posting cap on PREFIX postings ([2, MaxPostings]); an over-cap
    * prefix shingle contributes no candidates (recall caveat, m4's
    * honesty rule: exact modulo the cap). Verification touches only
    * candidate pairs' key arrays — |A∩B| as array_intersect, and the
    * τ test as the integer cross-multiplication 13·|A∩B| >= 3·(n_a+n_b).
    *
    * EXACT-TWIN COLLAPSE (round 9, forced by the 30× gate): duplicated
    * corpora are this operator's worst case — at 30× duplication every
    * prefix posting is 30× deeper, so the pair-emission stream grows
    * ~900× (≈10⁹ rows / tens of GB of shuffle before the pair-distinct;
    * measured: disk-filling). Since J(A,B) depends ONLY on the two
    * shingle-key sets, documents with identical (set, n) are
    * interchangeable: group them once, run the whole prefix-filter
    * pipeline over one REPRESENTATIVE per group, and expand result
    * pairs back through group membership (cross-group pairs inherit the
    * rep pair's score; within-group pairs are exactly J = 1.0). The
    * quadratic legs shrink by the SQUARE of the duplication depth — the
    * collapse is what makes exact all-pairs similarity runnable on a
    * corpus where boilerplate is duplicated millions of times.
    *
    * Cap/df semantics under the collapse: document frequency and the
    * [2, MaxPostings] prefix-posting cap count one representative per
    * DISTINCT shingle set — 30 copies of a doc neither make its
    * shingles look common nor exhaust the cap — and within-group
    * exact-duplicate pairs are emitted unconditionally (J is
    * identically 1.0; no candidate generation is needed to prove it).
    * So the output is row-identical to the direct per-document
    * formulation exactly when the cap never fires; when it does, the
    * group-level cap dominates it (strictly higher recall on duplicated
    * corpora). One 2⁻⁶⁰-class caveat for honesty: under an INTRA-doc
    * 60-bit key collision (n > |distinct arr|) the direct formulation's
    * deduping intersect scores two identical docs at ni/(2n−ni) < 1
    * while the collapse states the true J = 1.0 — the collapse is the
    * CORRECT value; the direct form under-scores its own exact twins.
    * The committed oracle mirrors the collapse — group-level df/cap,
    * membership expansion — so engine and oracle agree at every
    * duplication depth.
    *
    * The expansion explodes are output-bound (they emit exactly the
    * result rows), CHUNKED — the exploded product is built one side at
    * a time, so the largest in-memory object is one member list, never
    * an m_a×m_b pair array — and carry explicit pre-expansion partition
    * counts keyed on the exploded member (the round-7 rule: AQE cannot
    * see a generator's multiplication, and a partitioner can't split
    * one row — spreading must happen AFTER the first explode). When the
    * corpus has no exact twins (every group a singleton — the common
    * small-scale case), the rep pairs ARE the answer: the sizing job
    * detects it (within-pair count 0, fused into the candidate-sizing
    * pass) and the expansion machinery is skipped entirely.
    */
  def d15PrefixJaccard(s: SparkSession, dir: String): DataFrame =
    d15PrefixJaccardImpl(s, dir, BcastTwinDocs, BcastMaxGroup)

  /** Sparse-twin broadcast-expansion thresholds (see the strategy note
    * inside the method): ≤200k twin-doc member ids keeps the broadcast
    * build side ~MBs; ≤1000 members/group bounds any single pair's
    * expansion. Past either, the shuffle expansion path takes over.
    */
  private val BcastTwinDocs = 200000L
  private val BcastMaxGroup = 1000L

  /** Implementation with explicit thresholds so tests can force the
    * duplication-heavy shuffle path on a small fixture (pass 0, 0).
    */
  private[graft] def d15PrefixJaccardImpl(s: SparkSession, dir: String,
      bcastTwinDocs: Long, bcastMaxGroup: Long): DataFrame = {
    val sh = graft.Tables.spread(load(s, dir, "documents"))
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingles(col("t")).as("sh_arr"))
      // explode_outer for d4's InferFiltersFromGenerate reason; n is
      // the DISTINCT shingle count (shingles() dedups) — set Jaccard.
      .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"),
        explode_outer(col("sh_arr")).as("sh"))
      .select(col("doc_id"), col("n"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("shk"))
    // Twin collapse: canonical sorted key array per doc, grouped by
    // (arr, n) — n is carried alongside the key set so a rare intra-doc
    // 60-bit key collision (n > |arr|) can never merge docs whose
    // original shingle counts differ; every member of a group is
    // bit-exactly interchangeable in the pair math below. The hub has
    // six consumers (rep keys, postings sizing, verify arrays,
    // membership, group sizes, within-pairs) that would each replay the
    // tokenize→shingle→md5 pipeline — measured 4× the operator's wall
    // at sf0.1.
    val grp = Collapse.hub(sh.groupBy("doc_id")
      .agg(first(col("n")).as("n"), sort_array(collect_list(col("shk"))).as("arr")),
      Seq("arr", "n"), "doc_id")
    val shR = grp.select(col("rep").as("doc_id"), col("n"),
      explode(col("arr")).as("shk"))
    // Document frequency over REPRESENTATIVES: the global ordering only
    // needs to be consistent for the prefix lemma, and rep-level df is
    // the meaningful rarity signal on a duplicated corpus (30 copies of
    // one doc shouldn't make its shingles look "common").
    val dfreq = shR.groupBy("shk").agg(count(lit(1)).as("df"))
    // π(n) = n - ceil(τn) + 1, ceil in exact integer arithmetic. The
    // rank-and-filter is an AGGREGATE, not a window: collect each rep's
    // (df, shk) pairs, sort the ~n-element array in-row, slice the
    // π(n)-prefix. Identical selection to row_number ≤ π(n) (struct
    // order IS (df, shk) order, duplicates preserved), but the window's
    // partition-wide sort exchange is replaced by a partial+final
    // aggregation — one fewer sort, map-side combine for free.
    val pref = shR.join(dfreq, "shk")
      .groupBy("doc_id")
      .agg(first(col("n")).as("n"),
        sort_array(collect_list(struct(col("df"), col("shk")))).as("ranked"))
      .select(col("doc_id"), col("n"),
        explode(slice(col("ranked"), lit(1),
          expr(s"n - (n * $PTauNum + ${PTauDen - 1}) div $PTauDen + 1")))
          .as("p"))
      .select(col("doc_id"), col("n"), col("p.shk").as("shk"))
    // Cached like grp (via OpCaches): consumed by the sizing aggregate
    // AND the candidate explode — capped lists, so the footprint is
    // bounded by MaxPostings × #prefix-shingles, not by pairs.
    val postings = OpCaches.persisted(pref.groupBy("shk")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("docs"))
      .filter(size(col("docs")).between(2, MaxPostings)))
    // Pre-expansion sizing (the round-7 t12/t17 rule, which this
    // operator had NOT applied — found by the sf3 gate, where the
    // whole quadratic pair stream landed on ONE task for 25+ min):
    // AQE's byte-based coalesce sees a ~KB capped posting frame and
    // cannot see that the explode below multiplies each posting of
    // size p into p(p-1)/2 pairs. One linear pass computes the EXACT
    // pair-emission count and sizes the shuffle to it (~200k
    // pairs/task, the t12 density; bounded 16384). FUSED into the same
    // job (round 10): the within-group twin-pair count — zero exactly
    // when every group is a singleton, which triggers the expansion
    // bypass below, and otherwise one of the two terms of the output
    // sizing — so the twin-free path pays ONE driver action, not three.
    val szRow = postings
      .agg(coalesce(
          sum(expr("cast(size(docs) as long) * (size(docs) - 1) div 2")),
          lit(0L)).as("cand"),
        lit(0L).as("within"), lit(0L).as("twin_docs"), lit(0L).as("max_m"),
        lit(0L).as("arr_keys"))
      .unionAll(grp.agg(lit(0L).as("cand"),
        coalesce(sum(
            expr("cast(size(members) as long) * (size(members) - 1) div 2")),
          lit(0L)).as("within"),
        coalesce(sum(expr(
            "case when size(members) >= 2 then cast(size(members) as long) " +
              "else 0L end")),
          lit(0L)).as("twin_docs"),
        coalesce(max(size(col("members")).cast("long")), lit(0L)).as("max_m"),
        coalesce(sum(size(col("arr")).cast("long")), lit(0L)).as("arr_keys")))
      .agg(sum(col("cand")), sum(col("within")), sum(col("twin_docs")),
        max(col("max_m")), sum(col("arr_keys"))).head
    val expanded = szRow.getLong(0)
    val withinPairs = szRow.getLong(1)
    val twinDocs = szRow.getLong(2)
    val maxGroup = szRow.getLong(3)
    val arrKeys = szRow.getLong(4)
    val parts = graft.Tables.expansionParts(s, expanded)
    // Skip the pre-explode spread only under an ABSOLUTE emission
    // bound, not merely parts == default: the cached postings frame's
    // partitioning is whatever AQE finalized, and byte-based coalesce
    // can have collapsed the ~KB frame to one partition — fine to
    // stream ≤800k pair structs from one task into the distinct's
    // shuffle, but at "parts == default" alone the skip could put
    // 200k × numShufflePartitions pairs (40M at a 200-partition
    // session) on that single coalesced task. Past the bound, the
    // explicit repartition (never coalesced by AQE) spreads at the
    // designed ~200k pairs/task.
    val candBase =
      if (expanded <= 800000L) postings
      else postings.repartition(parts, col("shk"))
    val cand = candBase
      .select(explode(flatten(transform(col("docs"), a =>
        // Length filter (PPJoin): J(A,B) >= τ forces min(n) >= τ·max(n)
        // — |A∩B| <= min and J >= τ give i >= τ·union >= τ·max. Pure
        // pruning ahead of the exact verify, so recall-lossless; at
        // duplication-heavy scale it drops cross-size candidates before
        // they cost an array_intersect.
        transform(filter(col("docs"), b => b.getField("doc_id") > a.getField("doc_id")
            && b.getField("n") * lit(PTauNum) <= a.getField("n") * lit(PTauDen)
            && a.getField("n") * lit(PTauNum) <= b.getField("n") * lit(PTauDen)),
          b => struct(a.getField("doc_id").as("doc_a"), a.getField("n").as("n_a"),
            b.getField("doc_id").as("doc_b"), b.getField("n").as("n_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.n_a").as("n_a"),
        col("p.doc_b").as("doc_b"), col("p.n_b").as("n_b"))
      .distinct()
    val arrs = grp.select(col("rep").as("doc_id"), col("arr"))
    // Verify-join strategy, chosen from the MEASURED rep-level key
    // count, not from AQE's estimate: AQE's post-agg sizing flipped
    // this to BROADCAST at sf3 with a >1 GB build side (driver
    // maxResultSize abort, round 9), so an unmeasured broadcast is
    // banned — but when the fused sizing job says the whole key-array
    // frame is small (≤~64 MB at 12 B/key), broadcasting it is the
    // fast shape (two map-side joins, no shuffle of the candidate
    // stream). Past the bound, SHUFFLE_HASH pinned (d2's band-join
    // precedent): per-partition hash build, uniform arrays,
    // doc_id-hashed, no driver involvement at any scale.
    def arrSide(key: String, out: String): DataFrame = {
      val proj = arrs.select(col("doc_id").as(key), col("arr").as(out))
      if (arrKeys * 12L <= (64L << 20)) broadcast(proj)
      else proj.hint("shuffle_hash")
    }
    val repPairs0 = cand
      .join(arrSide("doc_a", "arr_a"), Seq("doc_a"))
      .join(arrSide("doc_b", "arr_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        // array_intersect dedups, so a 60-bit key collision inside one
        // doc can't double-count; the oracle's count(DISTINCT) matches.
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long").as("ni"),
        col("n_a"), col("n_b"))
      .filter(col("ni") * (PTauNum + PTauDen) >= (col("n_a") + col("n_b")) * PTauNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("ni").cast("double") /
          (col("n_a") + col("n_b") - col("ni")).cast("double"), 6).as("jaccard"))
    // TWIN-FREE BYPASS: zero within-group pairs means every group is a
    // singleton — members ≡ [rep], the cross expansion is the identity
    // map (cand already emits doc_a < doc_b), and the within leg is
    // empty. The rep pairs ARE the answer; skip every expansion job.
    if (withinPairs == 0L) return repPairs0

    // Within-group pairs: identical (set, n) means J is EXACTLY 1.0 —
    // the same value the direct formulation computes (ni = n_a = n_b).
    val within = grp.filter(size(col("members")) >= 2)
      .select(col("members"), lit(1.0).as("jaccard"))

    // SPARSE-TWIN PATH (the common shape of a pre-cleaned corpus: a few
    // boilerplate groups in an otherwise distinct corpus — the sf0.1
    // fixture has 8 twin groups among 4,992 documents). Only pairs that
    // TOUCH a multi-member group need membership expansion, and the
    // multi-group frame is bounded by the fused-job stats — so expand
    // through a BROADCAST left-join of just those groups, defaulting the
    // missing side to [doc]: one consumer chain, which removes the
    // localCheckpoint (repPairs' pipeline runs once), the second sizing
    // action, and both shuffle-hash expansion joins against the whole
    // hub. Thresholds keep the broadcast honest: ≤200k member ids (~3 MB
    // build side) and ≤1000 members per group (per-pair expansion ≤10⁶,
    // within the default partitioning's streaming reach). Past either
    // bound — the duplication-HEAVY regime (sf3's 30× is 4.5M twin
    // docs) — the shuffle path below takes over.
    val defaultParts = s.sessionState.conf.numShufflePartitions
    if (twinDocs <= bcastTwinDocs && maxGroup <= bcastMaxGroup) {
      val multiMem = grp.filter(size(col("members")) >= 2)
        .select(col("rep"), col("members"))
      val cross = repPairs0
        .join(broadcast(multiMem.select(col("rep").as("doc_a"),
          col("members").as("ma"))), Seq("doc_a"), "left")
        .join(broadcast(multiMem.select(col("rep").as("doc_b"),
          col("members").as("mb"))), Seq("doc_b"), "left")
        .select(col("doc_b"), col("jaccard"),
          coalesce(col("mb"), array(col("doc_b"))).as("mb"),
          explode(coalesce(col("ma"), array(col("doc_a")))).as("x"))
        .repartition(defaultParts, col("x"), col("doc_b"))
        .select(col("jaccard"), col("x"), explode(col("mb")).as("y"))
        .select(least(col("x"), col("y")).as("doc_a"),
          greatest(col("x"), col("y")).as("doc_b"), col("jaccard"))
      return cross.unionByName(
        Collapse.withinPairs(within, "doc_a", "doc_b", "jaccard", Some(defaultParts)))
    }

    // DUPLICATION-HEAVY PATH. Materialize repPairs ONCE (d9's
    // localCheckpoint precedent): the sizing aggregate below and the
    // expansion both consume it, and without a checkpoint each would
    // replay the full candidate + verify pipeline. Rep-level pairs are
    // small by construction.
    val repPairs = repPairs0.localCheckpoint()
    // Output sizing: the within term is known from the fused sizing job;
    // the cross term is Σ m_a·m_b over rep pairs.
    val gsz = grp.select(col("rep"), col("mult"))
    val outRows = withinPairs + repPairs
      .join(gsz.select(col("rep").as("doc_a"), col("mult").as("ma")), "doc_a")
      .join(gsz.select(col("rep").as("doc_b"), col("mult").as("mb")), "doc_b")
      .agg(coalesce(sum(col("ma") * col("mb")), lit(0L)))
      .head.getLong(0)
    val outParts = graft.Tables.expansionParts(s, outRows)
    // Member joins pinned SHUFFLE_HASH (the hint reaches both through
    // the projections): an unmeasured broadcast of the whole hub is the
    // verify join's sf3 driver abort again. Spread to outParts after
    // each first explode.
    Collapse.pairs(repPairs, grp.hint("shuffle_hash"), within, Some(outParts))
  }

  /** d8 — embedding-cosine near-dup with sign-bit LSH blocking (the
    * production blocking path when no label exists): pairs only within a
    * hash bucket derived from the data itself. Same pair math as d5 —
    * the variants differ exactly in where candidate pairs come from.
    * The one-table layout of [[Similarity.cappedBands]] (≤ 64 buckets)
    * with its population cap, so a hot bucket costs recall, never a
    * quadratic task; [[d8bNearDupMultiband]] is the scale default.
    */
  def d8EmbeddingLshNearDup(s: SparkSession, dir: String): DataFrame = {
    val rows = Collapse.groups(load(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v")),
      Seq("v"), "vec_id", on = false)
    Similarity.groupPairs(rows, "v", Similarity.OneTableBits, 1)
      .select(col("ga").as("vec_a"), col("gb").as("vec_b"), col("bucket"), col("cos_sim"))
      .filter(col("cos_sim") >= 0.3)
  }

  /** d8b — near-dup pairs from multi-table capped LSH
    * ([[Similarity.cappedBands]]: [[Similarity.BandTables]] band tables
    * of [[Similarity.BandBits]] sign bits OR'd for recall, population cap
    * so a degenerate bucket emits zero pairs — worst case stays linear).
    * [[Similarity.groupPairs]] dedups the per-table collisions AFTER
    * scoring, so the dedup shuffle carries an 8-byte cosine, not two
    * 64-dim vectors.
    */
  def d8bNearDupMultiband(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    d8bNearDupMultibandImpl(e,
      collapse = Collapse.gate(s, dir, "embeddings", Seq("embedding")))
  }

  /** One pipeline on both gate paths. Collapsed, the rows are the
    * [[Collapse.hub]] on the vector value: the banding, the cap and the
    * score are pure functions of the vector VALUE plus a weighted bucket
    * population (see [[Similarity.cappedBands]]), so candidate
    * generation and cosine run once per distinct-vector GROUP pair, and
    * [[Collapse.pairs]] expands member pairs back — cross pairs from
    * distinct group pairs, within pairs from self pairs of multi-member
    * groups. Direct, every vector is its own group and the group pairs
    * are the answer.
    */
  private[graft] def d8bNearDupMultibandImpl(e: DataFrame,
      collapse: Boolean): DataFrame = {
    val rows = Collapse.groups(e, Seq("v"), "vec_id", collapse)
    val gp = Similarity.groupPairs(rows, "v")
      .filter(col("cos_sim") >= 0.3)
    Collapse.pairs(
      gp.filter(col("ga") =!= col("gb"))
        .select(col("ga").as("vec_a"), col("gb").as("vec_b"), col("cos_sim")),
      rows,
      gp.filter(col("ga") === col("gb"))
        .join(rows.select(col("rep").as("ga"), col("members")), Seq("ga"))
        .select(col("members"), col("cos_sim")),
      Some(e.sparkSession.sessionState.conf.numShufflePartitions), on = collapse)
  }

  /** d5 — embedding-cosine near-dup pairs within a blocking key (label;
    * an LSH bucket or IVF cell at scale). Cosine in sequential double
    * arithmetic so the oracle matches bit-for-bit.
    *
    * TWIN-COLLAPSED (d11/d9's pattern): the label join and the cosine
    * are functions of (label, v) alone, so vectors sharing both are
    * interchangeable — the quadratic leg runs over one representative
    * per DISTINCT (label, v) and member pairs are expanded back
    * afterwards. Within-block cost drops from O(m²) member pairs to
    * O(g²) group pairs (each evaluated once, reused by every member
    * pair it stands for); the member-pair OUTPUT is unchanged — that
    * expansion is the operator's contract. At sf10's ~100× duplication
    * this is the difference between 448 s and seconds of cosine work.
    * Exactness: a cross-group member pair exists iff its group pair
    * shares the label and passes the SAME round-6 cosine of the SAME
    * double arrays; a multi-member group self-pairs iff its identical
    * vectors pass that predicate (label non-NULL — the composed join's
    * `a.label = b.label` never matches NULL); `least/greatest` restores
    * the composed form's vec_a < vec_b orientation (group member sets
    * are disjoint, so each unordered pair appears exactly once).
    */
  def d5EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), Similarity.asDouble(col("embedding")).as("v"))
    val hub = Collapse.hub(e, Seq("label", "v"), "vec_id")
    val repPairs = hub.as("a")
      .join(hub.as("b").hint("SHUFFLE_HASH"),
        col("a.label") === col("b.label") && col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("vec_a"), col("b.rep").as("vec_b"),
        round(Similarity.cosine(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.3)
    val within = hub
      .filter(col("label").isNotNull && size(col("members")) >= 2)
      .select(col("members"),
        round(Similarity.cosine(col("v"), col("v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.3)
    Collapse.pairs(repPairs, hub, within)
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every vertex's label converges to the
    * smallest id reachable from it, which is the canonical cluster id.
    * This is the step a production dedup pipeline runs AFTER pair
    * generation (d2/d4/d8b emit pairs; transitive duplicates A~B~C must
    * collapse to ONE cluster before choosing a keeper, or the keeper
    * choice flip-flops between overlapping pairs).
    *
    * Scale shape: each round is one equi-join (labels into the edge
    * list) + one min-aggregation — fully distributed, nothing
    * driver-side but the loop counter and a converged? count. Rounds =
    * graph diameter, and near-dup clusters are shallow (a giant
    * diameter-10⁶ duplicate chain would mean the corpus is one
    * document); `maxIter` caps pathological inputs, converging early
    * when a round changes no label.
    *
    * Each round's labels are `localCheckpoint`ed, not merely persisted:
    * an iterative plan nests the whole previous round's lineage, so by
    * round 20 the logical plan is exponentially deep — planning time,
    * plan-string rendering, and failure recovery all blow up (observed
    * as an OOM from AQE's explain rendering). The checkpoint truncates
    * lineage to the materialized partitions, keeping every round's plan
    * constant-size; a production run on unreliable executors would use
    * reliable `checkpoint()` (HDFS-backed) every few rounds instead.
    */
  def connectedComponents(edges: DataFrame, src: String = "a",
      dst: String = "b", maxIter: Int = 20): DataFrame = {
    // Materialize the symmetric edge list ONCE: every propagation round
    // joins `sym`, and an unmaterialized sym re-runs the whole upstream
    // pair-generation plan per round — for d11 that is the full Lloyd's
    // assignment + cosine self-join again each round (measured 11.0 s →
    // 5.1 s at sf0.1 from this checkpoint alone; d9 3.5 s → 2.0 s).
    // Edge lists are pair-bounded (the caps upstream exist exactly so
    // this stays small relative to the corpus), so materializing is
    // always cheaper than one recompute. Reclamation: localCheckpoint
    // blocks are NOT freed by Dataset.unpersist (that only uncaches
    // CacheManager entries) — they are reclaimed by the ContextCleaner
    // once the RDD reference is GC'd, i.e. when this frame (and, for
    // the per-round labels below, each superseded round) goes out of
    // scope. See the retention note at the bottom.
    val sym = edges.select(col(src).as("a"), col(dst).as("b"))
      .unionByName(edges.select(col(dst).as("a"), col(src).as("b")))
      .localCheckpoint()
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val msgs = sym.join(labels, sym("a") === labels("id"))
        .select(col("b").as("id"), col("label"))
      val hop = labels.unionByName(msgs)
        .groupBy("id").agg(min("label").as("label"))
      // Path compression (pointer jumping): follow label → label(label)
      // once per round. Every label value is itself a node id (labels
      // start as the identity and only ever move to another member's
      // id), so the lookup join is total and 1:1. One-hop propagation
      // alone needs O(diameter) rounds — a 21-doc chain of incremental
      // edits under-merged at the old cap of 20 (review-caught);
      // with compression the reachable distance ~doubles per round, so
      // 20 rounds cover diameters around 2^20 and the cap can only hit
      // on adversarial inputs — which now fail loudly below instead of
      // returning an under-merged refinement with a warn log.
      val next = hop
        .join(hop.select(col("id").as("_pid"), col("label").as("_plabel")),
          hop("label") === col("_pid"))
        .select(col("id"), col("_plabel").as("label"))
        .localCheckpoint()
      val changed = next
        .join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") < col("old")).count()
      // No explicit unpersist: Dataset.unpersist is a no-op on a
      // localCheckpoint'd frame (checkpoint blocks live outside the
      // CacheManager). Dropping the reference is what frees it — the
      // ContextCleaner reclaims the superseded round's blocks after GC.
      labels = next
      converged = changed == 0
      iter += 1
    }
    // Exiting via the iteration cap means labels are still propagating:
    // the result would be a valid REFINEMENT of the true components
    // (labels only ever shrink toward the component min) but not the
    // fixpoint — and every caller's contract (d9/d11/c1-c6 oracles are
    // exact transitive closures; curation audits near-dups by these
    // labels) needs the fixpoint. A warn log let a truncated answer
    // masquerade as the exact one in anything that doesn't read driver
    // logs (review-caught), so fail loudly: with pointer jumping above,
    // the default cap covers ~2^20 diameters and a genuine hit means
    // the input needs an explicitly raised maxIter.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: iteration cap $maxIter hit before convergence" +
          " — labels are an under-merged refinement, not the fixpoint;" +
          " raise maxIter for graphs with diameter > ~2^maxIter")
    // Retention note: the returned frame IS the last round's
    // localCheckpoint, and checkpoint blocks (sym's and every round's
    // labels) are reclaimed by the ContextCleaner once their RDD
    // references are GC'd — sym and the superseded rounds go out of
    // scope when this function returns; the result's blocks live as
    // long as the caller holds the frame. Explicit unpersist calls
    // would be no-ops here (Dataset.unpersist only uncaches
    // CacheManager entries, not checkpoints) — and actually deleting
    // the result's blocks would be destructive anyway: a
    // localCheckpoint has no lineage to recompute from. Callers that
    // loop over many graphs should write results out and drop the
    // reference so the cleaner can reclaim blocks between calls.
    labels.select(col("id"), col("label"))
  }

  /** d9 — dedup clusters: the d2 MinHash candidate pairs collapsed to
    * transitive clusters; output is every clustered document with its
    * canonical cluster id (= smallest doc_id in the cluster, which is
    * also the keeper d1/d6 would choose).
    *
    * Twin collapse (d15's rule applied to the GRAPH, not the pairs):
    * documents with identical minhash signatures share every band, so
    * they are pairwise-connected in d2's graph — a duplication-depth-m
    * twin group is an m-clique contributing C(m,2) edges that say
    * nothing the signature identity didn't. At sf10 (~100× duplication)
    * the expanded clique edges are ~hundreds of millions of rows and
    * OOM'd the default heap inside the CC join; collapsed, the rep
    * graph is duplication-free and CC cost depends on DISTINCT content
    * only. Exactness: the signature determines the band keys, so two
    * docs are d2-adjacent iff their signatures collide on a band iff
    * their REPS are adjacent — components of the original graph are
    * exactly the group-expansion of rep-graph components, and min-id
    * labels survive because each rep is its group's min member (the
    * c4/pipeline specs and the unchanged brute-force oracle pin this
    * row-for-row). A multi-member group with no cross edge is a
    * cluster by itself (its members pair with each other at est 1.0);
    * a singleton rep with no cross edge is unclustered and excluded,
    * as before.
    */
  def d9DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val toked = graft.Tables.spread(load(s, dir, "documents"))
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    // Behind the shared text gate, the md5 signature pass runs once per
    // distinct token array (d2's hub) and the signature grouping merges
    // the token hub's member lists — min-of-mins is the global min, and
    // flatten-of-lists is the original membership, so `grp` is
    // value-identical to the direct signature hub and every downstream
    // step (banding, CC, expansion) is untouched.
    val grp = if (Collapse.gate(s, dir, "documents", Seq("text"))) {
      val tg = Collapse.hub(toked, Seq("t"), "doc_id")
        .select(col("rep").as("doc_id"), col("t"), col("members"))
      minhashSigs(tg.select(col("doc_id"), col("t")))
        .join(tg.select(col("doc_id"), col("members")), Seq("doc_id"))
        .groupBy("sig")
        .agg(min(col("doc_id")).as("rep"),
          sort_array(flatten(collect_list(col("members")))).as("members"))
    } else Collapse.hub(minhashSigs(toked), Seq("sig"), "doc_id")
    // Rep-level band collisions — the same banding as minhashPairs,
    // over one row per distinct signature (est_jaccard is not needed:
    // d9 consumes adjacency only).
    val bands = grp.select(col("rep"),
      posexplode(array((0 until NumBands).map(b =>
        concat(element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2))): _*))
        .as(Seq("band_idx", "band_key")))
    val repEdges = bands.as("a")
      .join(bands.as("b").hint("SHUFFLE_HASH"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"))
      .distinct()
    val repLabels = connectedComponents(repEdges, "rep_a", "rep_b")
    grp.join(repLabels, grp("rep") === repLabels("id"), "left")
      .filter(col("label").isNotNull || size(col("members")) >= 2)
      .select(explode(col("members")).as("doc_id"),
        coalesce(col("label"), col("rep")).as("cluster_id"))
  }

  /** d6 — normalized dedup: the middle rung of the dedup ladder (exact
    * bytes → normalized text → near-dup). Keying on the whitespace/case
    * normalized fingerprint catches trivially-reformatted copies that d1
    * misses; same one-aggregation cost.
    */
  /** Whitespace/case-normalized 16-hex content fingerprint — the ONE
    * formulation shared by d6, d10 and t4 (mirrored once by
    * [[normFpSql]]): d10's "absent from the corpus" premise is only
    * sound while its fingerprint is bit-identical to d6's.
    *
    * The whitespace class is spelled out EXPLICITLY rather than `\s`
    * because the two engines disagree on `\s` itself: Java regex reads
    * it as `[ \t\n\x0B\f\r]` while DuckDB's RE2 reads `[\t\n\f\r ]` —
    * no vertical tab. A document containing U+000B would fingerprint
    * differently per engine under `\s` (review-caught; the explicit
    * class below is the Java set, which both engines express exactly).
    */
  private val WsClass = "[ \\t\\n\\x0B\\f\\r]+"
  private[ops] def normFp(text: Column): Column =
    substring(md5(regexp_replace(lower(text), WsClass, " ")), 1, 16)

  private[ops] val normFpSql =
    "substr(md5(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), 1, 16)"

  def d6NormDedup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .groupBy(normFp(col("text")).as("norm_fingerprint"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  /** d10 — incremental dedup: which documents of an incoming batch
    * (source = 'src0' stands in for the delta) are new to the corpus —
    * within-batch deduped (keeper = min id per normalized fingerprint,
    * same normalization as d6) AND absent from the existing corpus.
    * Stated as ONE union-tagged aggregation keyed by fingerprint — one
    * scan, one shuffle, map-side partials — NOT an anti-join: at 100 TB
    * the corpus is the huge side, and a left_anti would shuffle it as
    * the build/stream side anyway without the single-pass agg's partial
    * reduction (an all-corpus fingerprint set never materializes
    * anywhere).
    */
  def d10IncrementalDedup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), normFp(col("text")).as("fp"),
        (col("source") === "src0").as("incoming"))
      .groupBy("fp")
      .agg(
        max(when(!col("incoming"), 1).otherwise(0)).as("in_corpus"),
        min(when(col("incoming"), col("doc_id"))).as("keeper"))
      .filter(col("in_corpus") === 0 && col("keeper").isNotNull)
      .select(col("keeper").as("doc_id"), col("fp"))

  /** Streaming counterpart of [[d10IncrementalDedup]]: novelty of an
    * incoming document STREAM against a static corpus. Per micro-batch a
    * stream-static left-anti join drops known fingerprints (the corpus
    * side is re-broadcast per batch — refresh it out-of-band like
    * [[graft.stream.Ingest.enrichWithRefresh]]); `dropDuplicates` state
    * then suppresses re-arrivals ACROSS batches (at-least-once delivery,
    * same doc in two batches). State grows with distinct novel
    * fingerprints — bound it upstream with a watermark +
    * `dropDuplicatesWithinWatermark` when novelty only matters within a
    * time horizon, or periodically fold emitted fingerprints back into
    * the corpus side and restart (the batch/stream split d10 defines).
    *
    * Keeper semantics DIFFER from d10, deliberately: `dropDuplicates`
    * keeps whichever duplicate a partition encounters first, so the
    * in-batch keeper is arbitrary (d10 guarantees min doc_id). A
    * deterministic streaming keeper needs a per-key aggregation — a
    * different output mode and a changing answer over time. Emitted
    * NOVELTY (the fingerprint set) is deterministic; when keeper
    * identity matters, run d10 over the landed output.
    */
  def incrementalDedupStream(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    // No distinct() on the corpus side: left_anti is insensitive to
    // duplicate right rows and the broadcast build dedups keys anyway —
    // a distinct would just add a corpus shuffle to every micro-batch.
    val fps = corpus.select(normFp(col("text")).as("fp"))
    incoming
      .withColumn("fp", normFp(col("text")))
      .join(fps, Seq("fp"), "left_anti")
      .dropDuplicates("fp")
  }

  /** A (fingerprint, keeper) pair — the streaming keeper row. */
  final case class FpKeeper(fp: String, doc_id: Long)

  /** Per-fingerprint running-min keeper state: emits a revision whenever
    * a smaller doc_id arrives, so the LATEST emission per fingerprint
    * always equals d10's keeper (min doc_id over everything seen). State
    * is one long per fingerprint; `exists()` guards the primitive-state
    * null (a bare `get()` on absent state unboxes null to 0, which would
    * silently beat every real id).
    */
  class MinKeeperProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, FpKeeper, FpKeeper] {
    @transient private var minId: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      minId = getHandle.getValueState[Long]("minId",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[FpKeeper],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[FpKeeper] = {
      val incoming = rows.map(_.doc_id).min
      if (!minId.exists() || incoming < minId.get()) {
        minId.update(incoming)
        Iterator.single(FpKeeper(key, incoming))
      } else Iterator.empty
    }
  }

  /** Deterministic-keeper streaming counterpart of [[d10IncrementalDedup]]
    * (closing the keeper-semantics gap [[incrementalDedupStream]]
    * documents): same per-batch stream-static left-anti against the
    * corpus, then a `transformWithState` per-fingerprint min aggregation
    * in update mode. Emissions only ever revise a keeper DOWNWARD, so the
    * latest (equivalently: smallest) emission per fingerprint equals the
    * batch keeper d10 would choose over the same replayed input,
    * regardless of batch boundaries or arrival order. State: 8 bytes per
    * novel fingerprint (bound it with upstream watermarking, or fold
    * state back via [[foldBackCorpus]] and restart, when novelty has a
    * horizon).
    */
  def incrementalDedupStreamKeyed(incoming: DataFrame,
      corpus: DataFrame): org.apache.spark.sql.Dataset[FpKeeper] = {
    val s = incoming.sparkSession
    import s.implicits._
    val fps = corpus.select(normFp(col("text")).as("fp"))
    incoming
      .withColumn("fp", normFp(col("text")))
      .join(fps, Seq("fp"), "left_anti")
      .select(col("fp"), col("doc_id").cast("long").as("doc_id"))
      .as[FpKeeper]
      .groupByKey(_.fp)
      .transformWithState(new MinKeeperProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  private val SemMinCos = 0.3

  /** d11 — semantic dedup, the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, score
    * pairwise cosine only WITHIN each cluster, and collapse near-dup
    * pairs to components with the min-id keeper. The trained cells are
    * the blocking structure that makes embedding dedup sub-quadratic at
    * corpus scale — a pair is only ever scored when both vectors landed
    * in the same cell, and cell populations are the k-means balance
    * (skew degrades cost per cell, never correctness). Cost within a
    * cell IS quadratic — that is SemDeDup's contract — so k is the
    * scale knob: choose k ≈ corpus / target-cell-size (the fixture's
    * k=8 comes from s7; a 10^9-vector corpus wants k ~ 10^5 so cells
    * stay ~10^4 and per-cell work bounded). A mass-duplicate corpus
    * (sf1's 10× copies) multiplies pair counts by copies² within each
    * cell — raise k or pre-collapse exact dups (d1) first; the cap
    * patterns (d8b) don't apply cleanly because dropping an over-cap
    * CELL would drop exactly the duplicates the operator exists to
    * find.
    *
    * Composed entirely from audited pieces: s7's Lloyd's assignment
    * (exact integer arithmetic, so the cells are bit-reproducible
    * cross-engine), the d2/d9 SHUFFLE_HASH self-join + min-label
    * components, and d5's round-6 cosine threshold. Cosine is scored
    * over the QUANTIZED components mapped back to doubles (q/1e6 —
    * exact long→double, one IEEE division): engine and oracle share
    * one vector formulation with the assignment, and the ~1e-6
    * per-component quantization is noise at any dedup threshold.
    * Output mirrors d9: every clustered vector with its canonical
    * (min-id) cluster — `cluster_id` IS the keeper.
    */
  /** d11 — SemDeDup, twin-collapsed like the committed oracle: cell and
    * cosine are functions of the quantized vector `q` alone, so vectors
    * are grouped to one representative per distinct q BEFORE any
    * quadratic stage (the oracle's `GROUP BY q` mirror — VERDICT r10
    * item 1). A duplication-depth-m twin group is an m-clique of
    * cosine-1.0 edges in the expanded graph; collapsed, the within-cell
    * self-join and the component closure run at DISTINCT-vector scale
    * (the engine previously expanded them at full depth: 798 s
    * standalone at sf10 and AGGREGATE_OUT_OF_MEMORY in a shared JVM —
    * this is d9's graph collapse applied to the semantic family).
    * Exactness: reps are adjacent iff their members are (same cell,
    * same cosine); min-id labels survive because each rep is its
    * group's min member; a multi-member group with no cross edge
    * self-clusters iff its identical vectors pass the same self-cosine
    * predicate (the oracle's `alllbl` leg, byte-for-byte semantics);
    * degenerate singletons stay excluded.
    */
  def d11SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    // One hub row per DISTINCT quantized vector; assignment is
    // q-determined, so keying on (q, cell) is keying on q.
    val grp = d11Vec(Collapse.hub(graft.ops.Kmeans.assignedWithVec(s, dir),
      Seq("q", "cell"), "id"))
    val labels = connectedComponents(
      d11RepPairs(grp), "vec_a", "vec_b")
    grp.join(labels, grp("rep") === labels("id"), "left")
      .filter(col("label").isNotNull ||
        (size(col("members")) >= 2 &&
          round(Similarity.cosine(col("v"), col("v")), 6) >= SemMinCos))
      .select(explode(col("members")).as("vec_id"),
        coalesce(col("label"), col("rep")).as("cluster_id"))
  }

  /** The cosine's vector: the quantized components mapped back to doubles. */
  private def d11Vec(df: DataFrame): DataFrame =
    df.withColumn("v", transform(col("q"), x => x.cast("double") / graft.ops.Kmeans.Scale))

  /** Rep-level within-cell cosine pairs over `(rep, cell, v)` rows.
    * SHUFFLE_HASH pin, same reason as d2: both self-join sides must go
    * through byte-identical exchanges on cell so the upstream pass is
    * planned once and reused.
    */
  private def d11RepPairs(grp: DataFrame): DataFrame = {
    val reps = grp.select(col("rep"), col("cell"), col("v"))
    reps.as("a")
      .join(reps.as("b").hint("SHUFFLE_HASH"),
        col("a.cell") === col("b.cell") && col("a.rep") < col("b.rep"))
      .filter(round(Similarity.cosine(col("a.v"), col("b.v")), 6) >= SemMinCos)
      .select(col("a.rep").as("vec_a"), col("b.rep").as("vec_b"))
  }

  /** The pre-component pairs stage over UNPERSISTED representatives —
    * the PlanChecksSpec surface pinning the load-bearing plan property
    * (one Lloyd's-assignment pass feeding BOTH self-join sides via a
    * `ReusedExchange`), which the composed d11 plan can't show once
    * [[connectedComponents]]' localCheckpoint truncates lineage and the
    * persisted hub hides the lineage in a cache. It needs only each
    * group's rep, so it builds no member lists.
    */
  private[graft] def d11Pairs(s: SparkSession, dir: String): DataFrame =
    d11RepPairs(d11Vec(graft.ops.Kmeans.assignedWithVec(s, dir)
      .groupBy(col("q"), col("cell")).agg(min(col("id")).as("rep"))))

  private val SubstrK = 40

  /** d12 — exact duplicated-substring spans, the ExactSubstr shape of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): flag every maximal character
    * span of a document that also occurs verbatim elsewhere in the
    * corpus (another document, or another position of the same one).
    * Doc-level dedup (d1/d6) misses partially-copied documents — a
    * boilerplate header, a quoted paragraph — which is exactly where
    * memorization risk concentrates; this finds the copied REGION.
    *
    * The suffix-array construction of the paper is inherently global;
    * the distributed equivalent is positional [[SubstrK]]-char window
    * hashing: a character window occurring at >=2 positions corpus-wide
    * is duplicated, and the union of overlapping duplicated windows is
    * precisely every maximal duplicated span of length >= K (a
    * duplicated span of length L >= K contains L-K+1 duplicated
    * windows, all overlapping; a window inside no such span is unique).
    * Windows are hashed to d4's 60-bit md5-prefix keys, so the one
    * gram exchange carries 8-byte keys, never 40-char strings.
    *
    * Shape at scale: one corpus scan; one gk exchange where a window
    * count flags duplicated positions in place (no join back, no
    * second hashing pass); one doc-partitioned window pass merging
    * overlaps into islands. There is deliberately NO d4-style posting
    * cap: nothing here is quadratic — flagging is one row per
    * duplicated position however hot the window — and dropping
    * over-cap windows would unflag exactly the most-duplicated text
    * the operator exists to find. Costs are linear in corpus
    * characters (~L rows per doc), the honest price of exact substring
    * dedup; K is the noise floor, not a budget knob.
    */
  def d12SubstrSpans(s: SparkSession, dir: String): DataFrame =
    substrSpans(load(s, dir, "documents"),
      collapse = Collapse.gate(s, dir, "documents", Seq("text")))

  /** Segment stride for the window-hash pass: documents are first
    * exploded into stride-sized segments (with K-1 chars of overlap so
    * every window lives wholly inside one segment), and the per-row
    * transient hash array is built per SEGMENT. Without this the array
    * is O(document length) — harmless on kilobyte fixtures, a
    * megabytes-per-row allocation on book-length documents. The
    * segment explode itself streams through whole-stage codegen (rows
    * are pipelined, never a materialized per-doc list).
    */
  private val SegStride = 16384

  /** d12's frame-level core over any `(doc_id, text)` frame: maximal
    * duplicated spans as `(doc_id, span_start, span_end, span_len)`,
    * 1-based inclusive character offsets. Spans from one document never
    * overlap and are separated by >=1 unflagged character (the island
    * merge is by running max of covered end, so adjacency collapses).
    *
    * Twin-collapsed through [[Collapse.byKey]] on text (the whole
    * window-hash family — d12, d13, d14, t13, t14 — collapses the same
    * way): every per-position expression is a pure function of the text,
    * and the one corpus-wide term, the window occurrence count, is the
    * `mult`-weighted sum. A text copied m ≥ 2 times flags end to end.
    */
  private[graft] def substrSpans(docs: DataFrame, collapse: Boolean = false): DataFrame =
    Collapse.byKey(docs, Seq("text"), collapse)(dupSpans)

  /** d12's flagged-window pipeline over `(doc_id, text, mult)` rows.
    * Occurrence count as a WINDOW sum over the gk partition (t10's
    * shape): structurally ONE hashing pass — a groupBy+join-back
    * formulation re-ran the scan→window-hash pipeline per branch
    * (column pruning diverges the branches so ReuseExchange can't
    * fire). The price is the window sort on 8-byte keys inside each
    * partition; a boilerplate-hot key serializes its partition either
    * way (the join would co-locate the same rows), and cost stays
    * linear.
    */
  private def dupSpans(rows: DataFrame): DataFrame =
    islands(windowGrams(rows, passthrough = Seq("mult"))
      .withColumn("n_occ", sum(col("mult")).over(Window.partitionBy("gk")))
      .filter(col("n_occ") >= 2))

  /** The segmented window-hash pass: one `(doc_id, off, gk)` row per
    * K-char window position, plus `passthrough` columns carried from
    * the input (tags for [[contamSpans]]).
    */
  private def windowGrams(docs: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val pt = passthrough.map(col)
    // Number of windows in the doc / in this segment (both >= 1 by the
    // length guard; the last segment is short).
    val nWin = length(col("text")) - (SubstrK - 1)
    val segWin = least(lit(SegStride), nWin - col("seg") * SegStride)
    graft.Tables.spread(docs)
      .filter(length(col("text")) >= SubstrK)
      .select(col("doc_id") +: col("text") +:
        // Column./ is double division — truncate back to the integer
        // segment count (non-negative, so cast == floor).
        explode(sequence(lit(0), ((nWin - 1) / SegStride).cast("int"))).as("seg") +:
        pt: _*)
      .select(col("doc_id") +: (col("seg") * SegStride).cast("long").as("base") +:
        // The segment substring: its windows are the doc's windows at
        // offsets base+1 .. base+segWin, each wholly inside it thanks
        // to the K-1 overlap.
        col("text").substr(col("seg") * SegStride + 1,
          segWin + (SubstrK - 1)).as("segtext") +:
        segWin.as("segwin") +: pt: _*)
      // Window keys built per segment as one array, then positionally
      // exploded; _outer for the same InferFiltersFromGenerate reason
      // as d4 (the array is nonempty: segwin >= 1).
      .select(col("doc_id") +: col("base") +:
        posexplode_outer(transform(
          sequence(lit(1), col("segwin")),
          i => conv(substring(md5(col("segtext").substr(i, lit(SubstrK))), 1, 15), 16, 10)
            .cast("long"))) +: pt: _*)
      .select(col("doc_id") +: (col("base") + col("pos") + 1).as("off") +:
        col("col").as("gk") +: pt: _*)
  }

  /** Interval union, gaps-and-islands, over `(doc_id, off, n_occ...)`
    * flagged window positions: a window opens a new island iff no
    * earlier window's covered end reaches (or abuts) its start.
    */
  private def islands(flagged: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("off")
    val prevEnd = max(col("end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .select(col("doc_id"), col("off"),
        (col("off") + (SubstrK - 1)).as("end"))
      .withColumn("brk",
        when(prevEnd.isNull || prevEnd < col("off") - 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      // Same doc_id hash partitioning as the window — no third exchange.
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("off")).as("span_start"), max(col("end")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** d13 — duplicated-span REMOVAL: the transform half of d12 (Lee et
    * al. cut the spans out of the training text; flagging alone is the
    * audit view). Every input document comes back exactly once with its
    * d12 spans excised — text between spans is concatenated in order,
    * a fully-covered document becomes the empty string, a document with
    * no spans (or null text) passes through untouched.
    *
    * The scrub itself is an order-stable `aggregate` fold over the
    * per-doc sorted span array: the accumulator carries (cursor, out),
    * each span appends the text since the cursor and jumps it past the
    * span, the finisher appends the tail. Exact string math — no float
    * discipline needed — so the DuckDB oracle can use a completely
    * different formulation (window-lag segments + ordered string_agg)
    * and still match byte-for-byte, the d9 two-formulations pattern.
    *
    * Two corpus scans by design (gram pipeline + clean rejoin): piping
    * `text` through the gram exchanges to save the rejoin scan would
    * shuffle every document body twice through the hot path; the rejoin
    * scan is the cheap leg and joins only the span-bearing minority.
    */
  def d13SpanScrub(s: SparkSession, dir: String): DataFrame =
    spanScrub(load(s, dir, "documents"),
      collapse = Collapse.gate(s, dir, "documents", Seq("text")))

  /** Twins share their spans and therefore their scrubbed text, so the
    * scrub runs once per representative ([[Collapse.byKey]]): one hub
    * serves the gram pass, the scrub rejoin and the fan-out.
    */
  private[graft] def spanScrub(docs: DataFrame, collapse: Boolean = false): DataFrame =
    Collapse.byKey(docs, Seq("text"), collapse)(rows =>
      scrubWith(rows.select(col("doc_id"), col("text")), dupSpans(rows)))

  /** t13 — contamination SPANS: the decontamination twin of d12. A
    * corpus document's span is flagged when it occurs VERBATIM inside
    * any eval-set document (source = src0, t10's convention) — the
    * span-level complement of t10's doc-level shingle overlap: t10
    * answers "which training docs overlap the benchmark", t13 answers
    * "which exact characters", which is what surgical decontamination
    * (t14) needs. K (40 chars) is the match floor, the same role t10's
    * 5-token shingles play.
    *
    * Same machinery as d12 with one twist: grams carry an is_eval tag
    * and the gk window takes max(tag) instead of count — a corpus
    * position is contaminated iff ANY eval position shares its window
    * key. Still ONE scan, one hashing pass, one gk exchange; eval rows
    * ride the same window and are dropped by the filter.
    */
  def t13ContamSpans(s: SparkSession, dir: String): DataFrame =
    Collapse.byKey(t1314Tagged(s, dir), Seq("text", "ev"),
      Collapse.gate(s, dir, "documents", Seq("text")))(contamSpansTagged)

  /** Both sides live in one table, so tag in a single projection — a
    * corpus/eval filter pair unioned back together would scan (and
    * re-hash) the table once per side. Collapse key (text, ev): an eval
    * and a corpus copy of one text are NOT interchangeable (the tag
    * decides which side flags), copies within a side are.
    */
  private def t1314Tagged(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        when(col("source") <=> lit(EvalSrc), 1).otherwise(0).as("ev"))

  /** t14 — contamination SCRUB: t13's spans excised from the corpus
    * (eval docs are not part of the output). Every corpus document
    * comes back once; a doc wholly contained in the eval set becomes
    * the empty string. Collapsed like t13: one hub feeds the span pass,
    * the scrub rejoin and the fan-out.
    */
  def t14ContamScrub(s: SparkSession, dir: String): DataFrame =
    Collapse.byKey(t1314Tagged(s, dir), Seq("text", "ev"),
      Collapse.gate(s, dir, "documents", Seq("text")))(rows =>
      scrubWith(rows.filter(col("ev") === 0).select(col("doc_id"), col("text")),
        contamSpansTagged(rows)))

  // ONE convention (see TextAnalysis.EvalSource). A `def`, not a `val`:
  // TextAnalysis's oracle strings reference Dedup.normFpSql, so a
  // val here would close an object-initialization cycle between the
  // two objects (deadlock-prone under concurrent first touch).
  private def EvalSrc = TextAnalysis.EvalSource

  /** Frame-level composition surface: contamination spans of `corpus`
    * against `eval` (both `(doc_id, text)`).
    */
  private[graft] def contamSpans(corpus: DataFrame, eval: DataFrame): DataFrame =
    contamSpansTagged(
      corpus.select(col("doc_id"), col("text"), lit(0).as("ev"))
        .unionByName(eval.select(col("doc_id"), col("text"), lit(1).as("ev"))))

  /** t13's flagged-window pipeline over `(doc_id, text, ev)` rows: the
    * verdict reads only max(ev) per window key, so it ignores `mult`.
    */
  private def contamSpansTagged(tagged: DataFrame): DataFrame =
    islands(windowGrams(tagged, passthrough = Seq("ev"))
      .withColumn("hit", max(col("ev")).over(Window.partitionBy("gk")))
      .filter(col("ev") === 0 && col("hit") === 1))

  /** Winnow window width: every run of [[WinnowW]] consecutive window
    * hashes contributes (at least) its minimum to the fingerprint, so
    * any verbatim match of length >= [[SubstrK]] + [[WinnowW]] - 1
    * chars is guaranteed to share a selected fingerprint. Mirrored in
    * the oracle.
    */
  private val WinnowW = 8

  /** d14 — winnowing fingerprint selection (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003 — the MOSS algorithm): from each document's
    * positional [[SubstrK]]-char window hashes (d12's gram pass),
    * select the minimum hash of every [[WinnowW]]-wide run, rightmost
    * on ties, deduplicated. The selected ~2/(W+1) fraction is a
    * position-robust fingerprint: two documents sharing any verbatim
    * block of >= K+W-1 chars are GUARANTEED to share a selected
    * (gk) value — the local-min rule picks the same hash inside the
    * shared region on both sides — so fingerprint-key equality is a
    * sound candidate filter for near-dup detection at ~22% of the
    * full gram volume (d12 keeps every gram; d14 is the budget
    * index for match FINDING rather than exact span RECOVERY).
    *
    * Shape at scale: one corpus scan, one doc_id exchange for the
    * frame pass (W-row running min — linear), and the dedup exchange
    * carries only selected rows. No global structure at all: unlike
    * d12 there is no gk-wide window, so no hot-key partition anywhere
    * — the op is embarrassingly parallel per document. Documents
    * shorter than K+W-1 chars have no full winnow window and yield no
    * fingerprints (the classic guarantee floor; callers needing
    * every-doc coverage take min(gk) per short doc separately).
    */
  def d14Winnow(s: SparkSession, dir: String): DataFrame =
    winnow(load(s, dir, "documents"),
      collapse = Collapse.gate(s, dir, "documents", Seq("text")))

  /** The fingerprint set is per-document with no corpus-global term at
    * all, so [[Collapse.byKey]] on text selects once per distinct text.
    */
  private[graft] def winnow(docs: DataFrame, collapse: Boolean = false): DataFrame =
    Collapse.byKey(docs, Seq("text"), collapse) { rows =>
      // Frames run per (doc_id, text hash), not per doc_id: null-id
      // documents share the id, and one frame sequence over several
      // texts would interleave their tied offsets in whatever order the
      // exchange delivers them. (Copies of one text still share a
      // sequence; their rows are identical, so their order cannot show.)
      val w = Window.partitionBy("doc_id", "th").orderBy("off")
        .rowsBetween(Window.currentRow, WinnowW - 1)
      windowGrams(rows.withColumn("th", xxhash64(col("text"))), Seq("th"))
        // Rightmost-min per window: struct min orders by gk then -off,
        // so ties on gk resolve to the LARGEST offset — the tie rule
        // that makes runs of identical windows (e.g. char repeats)
        // contribute one fingerprint per run, not one per position.
        .withColumn("sel",
          min(struct(col("gk").as("gk"), (-col("off")).as("noff"))).over(w))
        .withColumn("nfull", count(lit(1)).over(w))
        .filter(col("nfull") === WinnowW)
        .select(col("doc_id"), (-col("sel.noff")).as("off"),
          col("sel.gk").as("gk"))
        .distinct()
    }

  /** Excise `spans` from `docs`, `passThrough` columns carried beside
    * the scrubbed text (curation needs source/lang to survive).
    */
  private[graft] def scrubWith(docs: DataFrame, spans: DataFrame,
      passThrough: Seq[String] = Nil): DataFrame = {
    val sp = spans
      .groupBy("doc_id")
      .agg(sort_array(collect_list(
          struct(col("span_start"), col("span_end")))).as("sp"),
        sum(col("span_len")).as("removed"))
    val folded = aggregate(col("sp"),
      struct(lit(1L).as("pos"), lit("").as("acc")),
      (st, x) => struct(
        (x.getField("span_end") + 1L).as("pos"),
        concat(st.getField("acc"),
          col("text").substr(st.getField("pos").cast("int"),
            (x.getField("span_start") - st.getField("pos")).cast("int")))
          .as("acc")),
      st => concat(st.getField("acc"),
        col("text").substr(st.getField("pos").cast("int"),
          greatest(length(col("text")) - st.getField("pos").cast("int") + 1,
            lit(0)))))
    docs.join(sp, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        when(col("sp").isNull, col("text")).otherwise(folded).as("clean_text") +:
        coalesce(col("removed"), lit(0L)).as("n_chars_removed") +:
        passThrough.map(col): _*)
  }

  /** d6 as a frame-level operator: the corpus fingerprint set
    * `(fp, keeper_doc_id)` of any `(doc_id, text)` frame — the input
    * shape [[foldBackCorpus]] maintains.
    */
  def corpusFingerprints(docs: DataFrame): DataFrame =
    docs.groupBy(normFp(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper_doc_id"))

  /** Compaction: fold emitted novel fingerprints back into the corpus
    * fingerprint set — the third leg of the incremental-dedup story
    * (d10 finds novelty against a corpus; the stream suppresses
    * re-arrivals; periodically the landed novelty must BECOME corpus so
    * stream state can be reset instead of growing forever).
    *
    * `corpusFps` is `(fp, keeper_doc_id)` (what [[d6NormDedup]] emits,
    * renamed), `novel` is `(doc_id, fp)` (what [[d10IncrementalDedup]]
    * emits). One union + one min-aggregation — the d10 single-pass shape;
    * min() makes the fold idempotent (re-folding the same novelty, or
    * folding overlapping novelty sets, converges to the same keepers) and
    * keeps d6/d10 keeper semantics (smallest doc_id wins) even if a
    * later fold carries a smaller id for an existing fingerprint.
    */
  def foldBackCorpus(corpusFps: DataFrame, novel: DataFrame): DataFrame =
    corpusFps.select(col("fp"), col("keeper_doc_id"))
      .unionByName(novel.select(col("fp"), col("doc_id").as("keeper_doc_id")))
      .groupBy("fp")
      .agg(min(col("keeper_doc_id")).as("keeper_doc_id"))

  /** d7 — 64-bit SimHash via the custom one-pass mergeable aggregate
    * ([[graft.functions.SimHash64Agg]]): same explode as d3, but the
    * per-document signature folds in a single `TypedImperativeAggregate`
    * whose partial state is 256 bytes per group — instead of 64 separate
    * sum() columns (which is exactly what the oracle SQL says,
    * pinning the aggregate's semantics declaratively).
    */
  def d7Simhash64(s: SparkSession, dir: String): DataFrame =
    d7Simhash64Impl(s, dir, collapse = Collapse.gate(s, dir, "documents", Seq("text")))

  /** d3's twin collapse: the 64-bit signature is a pure per-text
    * function (the two md5s per token dominate the wall).
    */
  private[graft] def d7Simhash64Impl(s: SparkSession, dir: String,
      collapse: Boolean): DataFrame =
    Collapse.byKey(load(s, dir, "documents"), Seq("text"), collapse)(rows =>
      graft.Tables.spread(rows)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .select(col("doc_id"),
          concat(md5(concat(lit("0:"), col("tok"))),
            md5(concat(lit("1:"), col("tok")))).as("h"))
        .groupBy("doc_id")
        .agg(graft.functions.SimHash64Agg.simhash64(col("h")).as("simhash64")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> d1ExactDedup,
    "d6_norm_dedup" -> d6NormDedup,
    "d7_simhash64" -> d7Simhash64,
    "d2_minhash_lsh" -> d2MinhashLsh,
    "d3_simhash" -> d3Simhash,
    "d4_ngram_jaccard" -> d4NgramJaccard,
    "d5_embedding_neardup" -> d5EmbeddingNearDup,
    "d8_embedding_lsh_neardup" -> d8EmbeddingLshNearDup,
    "d8b_neardup_multiband" -> d8bNearDupMultiband,
    "d9_dedup_clusters" -> d9DedupClusters,
    "d10_incremental_dedup" -> d10IncrementalDedup,
    "d11_semantic_dedup" -> d11SemanticDedup,
    "d12_substr_spans" -> d12SubstrSpans,
    "d13_span_scrub" -> d13SpanScrub,
    "d14_winnow" -> d14Winnow,
    "d15_prefix_jaccard" -> d15PrefixJaccard,
    // t-named (decontamination family, t10's siblings) but registered
    // here: they are d12/d13 with an eval tag, sharing every internal.
    "t13_contam_spans" -> t13ContamSpans,
    "t14_contam_scrub" -> t14ContamScrub)

  // The ONE tokenizer formulation, shared with the t-family and
  // curation oracles — a local copy diverging silently would split
  // d2/d9's token semantics from everything downstream of them.
  private def toksSql = TextAnalysis.toksSql

  /** d2's oracle over any (doc_id, text) relation `from`, shared: d9
    * wraps it in a recursive-CTE closure, and the composed curation
    * oracle replays it over the post-dedup survivor set.
    */
  private[ops] def d2PairsSql(from: String): String = {
    val sigSql = (0 until NumHashes).map(j =>
      s"list_min(list_transform(sh, x -> substr(md5('0:' || x) || md5('1:' || x), ${8 * j + 1}, 8)))")
      .mkString("[", ",\n    ", "]")
    val bandSql = (0 until NumBands).map(b =>
      s"sig[${2 * b + 1}] || sig[${2 * b + 2}]").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM $from),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t WHERE len(toks) >= 3),
       |sigs AS (SELECT doc_id, $sigSql AS sig FROM sh),
       |bands AS (SELECT doc_id, i - 1 AS band_idx, ($bandSql)[i] AS band_key
       |          FROM sigs, generate_series(1, $NumBands) g(i)),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b
       |            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |           AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  round(CAST(list_sum(list_transform(generate_series(1, $NumHashes),
       |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
       |    / $NumHashes, 3) AS est_jaccard
       |FROM pairs
       |JOIN sigs sa ON sa.doc_id = doc_a
       |JOIN sigs sb ON sb.doc_id = doc_b""".stripMargin
  }

  private val d2OracleSql: String = d2PairsSql("documents")

  val oracle: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "d6_norm_dedup" ->
      s"""SELECT $normFpSql AS norm_fingerprint,
        |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "d10_incremental_dedup" ->
      s"""WITH t AS (SELECT doc_id, $normFpSql AS fp,
        |    source = 'src0' AS incoming
        |  FROM documents)
        |SELECT min(CASE WHEN incoming THEN doc_id END) AS doc_id, fp
        |FROM t GROUP BY fp
        |HAVING max(CASE WHEN NOT incoming THEN 1 ELSE 0 END) = 0
        |   AND min(CASE WHEN incoming THEN doc_id END) IS NOT NULL""".stripMargin,
    "d7_simhash64" -> {
      val sums = (1 to 64).map(i =>
        s"sum(CASE WHEN substr(h, $i, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s_$i")
        .mkString(",\n    ")
      // Bit 63 is the sign bit of the two's-complement BIGINT: its weight
      // is -(2^63), which IS representable, unlike +2^63.
      val bits = (1 to 64).map { i =>
        val w = if (i == 64) "-9223372036854775808"
          else (1L << (i - 1)).toString
        s"CASE WHEN s_$i > 0 THEN CAST($w AS BIGINT) ELSE 0 END"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |h AS (SELECT doc_id, md5('0:' || tok) || md5('1:' || tok) AS h FROM t),
         |s AS (SELECT doc_id,
         |    $sums
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash64 FROM s""".stripMargin
    },
    "d2_minhash_lsh" -> d2OracleSql,
    "d9_dedup_clusters" ->
      // Independent formulation: transitive closure by recursive CTE
      // (the oracle can afford closure materialization at oracle scale;
      // the engine runs distributed label propagation instead), then the
      // component id is the smallest reachable doc id.
      s"""WITH RECURSIVE
         |p AS (SELECT doc_a, doc_b FROM ($d2OracleSql) dp),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
         |          UNION SELECT doc_b AS a, doc_a AS b FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,
    "d3_simhash" -> {
      val sums = (1 to 16).map(i =>
        s"sum(CASE WHEN substr(h, $i, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s_$i")
        .mkString(",\n    ")
      val bits = (1 to 16).map(i =>
        s"CASE WHEN s_$i > 0 THEN CAST(${1L << (i - 1)} AS BIGINT) ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM t),
         |s AS (SELECT doc_id,
         |    $sums
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash FROM s""".stripMargin
    },
    "d4_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |shx AS (SELECT doc_id, source, unnest($shinglesSql) AS sh0
         |        FROM t WHERE len(toks) >= 3),
         |sh AS (SELECT doc_id, source,
         |         CAST(('0x' || substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
         |       FROM shx),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |capped AS (SELECT source, sh FROM sh GROUP BY source, sh
         |           HAVING count(*) BETWEEN 2 AND $MaxPostings),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
         |          FROM sh a JOIN sh b
         |            ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
         |          JOIN capped c ON c.source = a.source AND c.sh = a.sh
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6)
         |    AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE round(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.3""".stripMargin,
    "d15_prefix_jaccard" ->
      // Mirrors the engine's exact-twin collapse (round-10 divergence
      // fix): document frequency and the [2, MaxPostings] prefix-posting
      // cap are computed over one REPRESENTATIVE per distinct
      // (key-list, n) group — not over all documents — and rep-level
      // result pairs are expanded through group membership, with
      // within-group pairs at exactly J = 1.0. Engine and oracle agree
      // at every duplication depth, including when the cap fires.
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, $shinglesSql AS sh_arr
         |        FROM t WHERE len(toks) >= 3),
         |shu AS (SELECT doc_id, len(sh_arr) AS n, unnest(sh_arr) AS sh
         |        FROM sh0),
         |shk AS (SELECT doc_id, n,
         |         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS shk
         |       FROM shu),
         |dl AS (SELECT doc_id, n, list_sort(list(shk)) AS arr
         |       FROM shk GROUP BY doc_id, n),
         |grp AS (SELECT arr, n, min(doc_id) AS rep,
         |          list_sort(list(doc_id)) AS members
         |        FROM dl GROUP BY arr, n),
         |shr AS (SELECT rep, n, unnest(arr) AS shk FROM grp),
         |dfq AS (SELECT shk, count(*) AS df FROM shr GROUP BY 1),
         |ranked AS (SELECT s.rep, s.n, s.shk,
         |    row_number() OVER (PARTITION BY s.rep
         |      ORDER BY d.df, s.shk) AS rk
         |  FROM shr s JOIN dfq d USING (shk)),
         |pref AS (SELECT rep, n, shk FROM ranked
         |         WHERE rk <= n - ($PTauNum*n + ${PTauDen - 1})//$PTauDen + 1),
         |pcap AS (SELECT shk FROM pref GROUP BY 1
         |         HAVING count(*) BETWEEN 2 AND $MaxPostings),
         |cand AS (SELECT DISTINCT a.rep AS rep_a, a.n AS n_a,
         |    b.rep AS rep_b, b.n AS n_b
         |  FROM pref a JOIN pref b ON a.shk = b.shk AND a.rep < b.rep
         |  JOIN pcap c ON c.shk = a.shk),
         |inter AS (SELECT rep_a, n_a, rep_b, n_b,
         |    len(list_intersect(ga.arr, gb.arr)) AS ni
         |  FROM cand JOIN grp ga ON ga.rep = rep_a
         |  JOIN grp gb ON gb.rep = rep_b),
         |rp AS (SELECT rep_a, rep_b,
         |    round(CAST(ni AS DOUBLE) / CAST(n_a + n_b - ni AS DOUBLE), 6)
         |      AS jaccard
         |  FROM inter
         |  WHERE ${PTauNum + PTauDen} * ni >= $PTauNum * (n_a + n_b)),
         |memx AS (SELECT rep, unnest(members) AS m FROM grp),
         |crossx AS (SELECT least(ma.m, mb.m) AS doc_a,
         |    greatest(ma.m, mb.m) AS doc_b, rp.jaccard
         |  FROM rp JOIN memx ma ON ma.rep = rp.rep_a
         |  JOIN memx mb ON mb.rep = rp.rep_b),
         |withinx AS (SELECT a.m AS doc_a, b.m AS doc_b,
         |    CAST(1.0 AS DOUBLE) AS jaccard
         |  FROM memx a JOIN memx b ON a.rep = b.rep AND a.m < b.m)
         |SELECT doc_a, doc_b, jaccard FROM crossx
         |UNION ALL SELECT doc_a, doc_b, jaccard FROM withinx""".stripMargin,
    "d8b_neardup_multiband" ->
      s"""WITH ${Similarity.bandedCteSql},
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |  FROM banded a
         |  JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.vec_id < b.vec_id
         |  JOIN capped c ON c.tbl = a.tbl AND c.bucket = a.bucket)
         |SELECT vec_a, vec_b, cos_sim FROM cand WHERE cos_sim >= 0.3""".stripMargin,
    "d8_embedding_lsh_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |    ${Similarity.bucketSql("embedding")} AS bucket FROM embeddings),
         |capped AS (SELECT bucket FROM e GROUP BY 1
         |           HAVING count(*) BETWEEN 2 AND ${Similarity.MaxBucket})
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
         |  round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM e a JOIN e b
         |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |JOIN capped c ON c.bucket = a.bucket
         |WHERE round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3""".stripMargin,
    "d5_embedding_neardup" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3""".stripMargin,
    "d11_semantic_dedup" ->
      // s7's Lloyd's replay (identical integer arithmetic) gives the
      // cells; within-cell round-6 cosine over the SAME quantized
      // components (q/1e6, exact both engines) gives the pairs; the d9
      // recursive closure collapses them to min-id clusters.
      //
      // TWIN COLLAPSE in the replay (the d15-oracle precedent): every
      // pair predicate is a function of q alone — the cell is decided
      // by q, and the cosine reads only q/1e6 — so vectors with
      // identical q are interchangeable, and the quadratic legs (the
      // within-cell self-join AND the recursive closure) run over one
      // representative per DISTINCT q, expanded back through group
      // membership afterwards. Identical result at every duplication
      // depth: a cross-group member pair exists iff its rep pair
      // passes the predicate; a multi-member group is internally a
      // clique iff its (identical) vectors pass the SAME predicate
      // against themselves (the self-cosine guard below — degenerate
      // zero-norm vectors stay excluded in both engines); and min-id
      // component labels survive because each rep IS its group's min
      // member. Training stays over the FULL corpus (linear, s7's
      // shape) — only the quadratic stages collapse. Without this the
      // closure replays every edge at full duplication depth (~900x
      // the rep edges at 30x) and blows the replay's wall cap where
      // the engine answers in seconds.
      s"""WITH RECURSIVE
         |${graft.ops.Kmeans.kmeansCtesSql(graft.ops.Kmeans.corpusQCte,
              graft.ops.Kmeans.Dim, sub = false)},
         |${graft.ops.Kmeans.assignCteSql(graft.ops.Kmeans.Iters + 1,
              s"c${graft.ops.Kmeans.Iters}", graft.ops.Kmeans.Dim, sub = false)},
         |cells AS (SELECT vec_id, cell, q
         |  FROM a${graft.ops.Kmeans.Iters + 1} WHERE rn = 1),
         |grp AS (SELECT min(cell) AS cell, min(vec_id) AS rep,
         |    count(*) AS m, list(vec_id) AS members,
         |    list_transform(q, x -> CAST(x AS DOUBLE)
         |      / CAST(${graft.ops.Kmeans.Scale} AS DOUBLE)) AS v
         |  FROM cells GROUP BY q),
         |p AS (SELECT a.rep AS va, b.rep AS vb
         |      FROM grp a JOIN grp b
         |        ON a.cell = b.cell AND a.rep < b.rep
         |      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $SemMinCos),
         |sedges AS (SELECT va AS a, vb AS b FROM p
         |           UNION SELECT vb AS a, va AS b FROM p),
         |sreach(a, b) AS (
         |  SELECT a, b FROM sedges
         |  UNION
         |  SELECT r.a, e.b FROM sreach r JOIN sedges e ON r.b = e.a),
         |rlbl AS (SELECT a AS rep, least(a, min(b)) AS lbl
         |         FROM sreach GROUP BY a),
         |alllbl AS (
         |  SELECT rep, lbl FROM rlbl
         |  UNION ALL
         |  SELECT rep, rep AS lbl FROM grp
         |  WHERE m >= 2
         |    AND round(list_cosine_similarity(v, v), 6) >= $SemMinCos
         |    AND rep NOT IN (SELECT rep FROM rlbl))
         |SELECT unnest(g.members) AS vec_id, l.lbl AS cluster_id
         |FROM alllbl l JOIN grp g ON g.rep = l.rep""".stripMargin,
    "d12_substr_spans" ->
      s"""WITH $d12SpansSql
         |SELECT doc_id, span_start, span_end, span_len FROM spans""".stripMargin,
    "d13_span_scrub" -> s"WITH $d12SpansSql,\n${scrubSql("documents")}",
    "d14_winnow" ->
      // Independent formulation: the engine runs a running frame-min;
      // the oracle EXPLODES each gram into the WinnowW window starts
      // covering it, takes min per start with the rightmost-tie rule
      // as max(off) over the per-start minimum key, and dedups.
      s"""WITH $gramsCteSql,
         |gx AS (SELECT doc_id, off, gk,
         |    max(off) OVER (PARTITION BY doc_id) AS mx FROM grams),
         |wins AS (SELECT doc_id, off, gk,
         |    unnest(generate_series(greatest(1, off - ${WinnowW - 1}),
         |      least(off, mx - ${WinnowW - 1}))) AS p
         |  FROM gx),
         |mins AS (SELECT doc_id, p, min(gk) AS mg FROM wins GROUP BY 1, 2),
         |sel AS (SELECT w.doc_id, max(w.off) AS off, w.gk
         |  FROM wins w JOIN mins m
         |    ON m.doc_id = w.doc_id AND m.p = w.p AND w.gk = m.mg
         |  GROUP BY w.doc_id, w.p, w.gk)
         |SELECT DISTINCT doc_id, off, gk FROM sel""".stripMargin,
    "t13_contam_spans" ->
      s"""WITH $t13SpansSql
         |SELECT doc_id, span_start, span_end, span_len FROM spans""".stripMargin,
    "t14_contam_scrub" ->
      s"""WITH $t13SpansSql,
         |ccorp AS (SELECT doc_id, text FROM documents
         |          WHERE source IS DISTINCT FROM '$EvalSrc'),
         |${scrubSql("ccorp")}""".stripMargin)

  /** The one gram-key formulation (60-bit md5 prefix of the K-char
    * window at offset `i`), shared by every span oracle.
    */
  private[ops] def gkSql: String =
    s"CAST(('0x' || substr(md5(substr(text, i, $SubstrK)), 1, 15)) AS BIGINT)"

  /** Islands CTEs: `flagged(doc_id, off, e)` → `spans(doc_id,
    * span_start, span_end, span_len)` — shared verbatim by all four
    * span gates so they can never diverge on what a span is.
    */
  private def islandsSql: String =
    s"""isl AS (SELECT doc_id, off, e,
       |    CASE WHEN coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY off
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |        >= off - 1
       |      THEN 0 ELSE 1 END AS brk
       |  FROM flagged),
       |isl2 AS (SELECT doc_id, off, e,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY off) AS island
       |  FROM isl),
       |spans AS (SELECT doc_id, min(off) AS span_start, max(e) AS span_end,
       |    max(e) - min(off) + 1 AS span_len
       |  FROM isl2 GROUP BY doc_id, island)""".stripMargin

  /** The gram relation over `documents` — shared by d12 and d14 so the
    * positional window-key formulation can't diverge.
    */
  private def gramsCteSql: String =
    s"""grams AS (
       |  SELECT doc_id, i AS off, $gkSql AS gk
       |  FROM documents,
       |    unnest(generate_series(1, length(text) - ${SubstrK - 1})) AS u(i)
       |  WHERE length(text) >= $SubstrK)""".stripMargin

  /** d12's oracle CTE chain ending in `spans`. */
  private def d12SpansSql: String =
    s"""$gramsCteSql,
       |dup AS (SELECT gk FROM grams GROUP BY gk HAVING count(*) >= 2),
       |flagged AS (SELECT doc_id, off, off + ${SubstrK - 1} AS e
       |  FROM grams WHERE gk IN (SELECT gk FROM dup)),
       |$islandsSql""".stripMargin

  /** t13's oracle CTE chain ending in `spans`: same grams, eval-tagged;
    * a corpus position is flagged when its window key occurs anywhere
    * in the eval side.
    */
  private def t13SpansSql: String = contamSpansSql(
    s"(SELECT doc_id, text, (source IS NOT DISTINCT FROM '$EvalSrc') AS ev " +
      "FROM documents) tg")

  /** The eval-tagged span chain over any `(doc_id, text, ev)` relation
    * `rel` — shared by t13/t14 and the curation-v2 composed oracle.
    */
  private[ops] def contamSpansSql(rel: String): String =
    s"""grams AS (
       |  SELECT doc_id, ev, i AS off, $gkSql AS gk
       |  FROM $rel,
       |    unnest(generate_series(1, length(text) - ${SubstrK - 1})) AS u(i)
       |  WHERE length(text) >= $SubstrK),
       |evk AS (SELECT DISTINCT gk FROM grams WHERE ev),
       |flagged AS (SELECT doc_id, off, off + ${SubstrK - 1} AS e
       |  FROM grams WHERE NOT ev AND gk IN (SELECT gk FROM evk)),
       |$islandsSql""".stripMargin

  /** Staged (temp-table) variant of [[contamSpansSql]] for replays that
    * cannot hold a whole composed CTE tree in memory: the eval-side key
    * set materializes FIRST (small — distinct window keys of the eval
    * docs alone), then the corpus side streams its char-position
    * windows once, probing that table, so only FLAGGED positions and
    * islands ever materialize — the full gram stream of the composed
    * form (one row per corpus character, the 30x replay's OOM) never
    * exists. Same [[gkSql]] keys, same predicates, same [[islandsSql]]
    * merge: spans are byte-identical to the composed formulation.
    * `evalRel` and `corpusRel` must be disjoint `(doc_id, text, ...)`
    * relations (the composed form's `ev` tag encodes exactly that
    * split). Emits `<out>_evk` and `<out>(doc_id, span_start,
    * span_end, span_len)`.
    */
  private[ops] def stagedContamSpans(evalRel: String, corpusRel: String,
      out: String): Seq[String] = Seq(
    s"""CREATE TEMP TABLE ${out}_evk AS
       |SELECT DISTINCT $gkSql AS gk
       |FROM $evalRel,
       |  unnest(generate_series(1, length(text) - ${SubstrK - 1})) AS u(i)
       |WHERE length(text) >= $SubstrK""".stripMargin,
    s"""CREATE TEMP TABLE $out AS
       |WITH flagged AS (
       |  SELECT doc_id, i AS off, i + ${SubstrK - 1} AS e
       |  FROM $corpusRel,
       |    unnest(generate_series(1, length(text) - ${SubstrK - 1})) AS u(i)
       |  WHERE length(text) >= $SubstrK
       |    AND $gkSql IN (SELECT gk FROM ${out}_evk)),
       |$islandsSql
       |SELECT doc_id, span_start, span_end, span_len FROM spans""".stripMargin)

  /** The scrub oracle over a `(doc_id, text)` relation `rel` and a
    * spans relation `spansRel` (default: the in-scope `spans` CTE) —
    * independent formulation from the engine's aggregate-fold: kept
    * segments as window-lag rows + ordered string_agg. Exact string
    * math, so the two formulations must agree byte-for-byte.
    */
  private[ops] def scrubSql(rel: String, spansRel: String = "spans"): String =
    s"""pre AS (SELECT doc_id,
       |    coalesce(lag(span_end) OVER (PARTITION BY doc_id
       |      ORDER BY span_start) + 1, 1) AS a,
       |    span_start - 1 AS b FROM $spansRel),
       |tl AS (SELECT s.doc_id, max(s.span_end) + 1 AS a,
       |    max(length(d.text)) AS b
       |  FROM $spansRel s JOIN $rel d ON d.doc_id = s.doc_id
       |  GROUP BY s.doc_id),
       |segs AS (SELECT * FROM pre UNION ALL SELECT * FROM tl),
       |cleaned AS (SELECT s.doc_id,
       |    string_agg(substr(d.text, CAST(s.a AS INTEGER),
       |      CAST(s.b - s.a + 1 AS INTEGER)), '' ORDER BY s.a) AS clean_text
       |  FROM segs s JOIN $rel d ON d.doc_id = s.doc_id
       |  WHERE s.b >= s.a GROUP BY s.doc_id),
       |removed AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT)
       |    AS n_chars_removed FROM $spansRel GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN r.doc_id IS NULL THEN d.text
       |       ELSE coalesce(c.clean_text, '') END AS clean_text,
       |  coalesce(r.n_chars_removed, 0) AS n_chars_removed
       |FROM $rel d
       |LEFT JOIN cleaned c ON c.doc_id = d.doc_id
       |LEFT JOIN removed r ON r.doc_id = d.doc_id""".stripMargin

  /** STAGED replay of the d11 oracle (the c5/c6 fallback precedent,
    * tried by check.py only after the composed form dies on a resource
    * ceiling). The composed oracle twin-collapses the QUADRATIC stages
    * but still trains Lloyd's over the FULL corpus — four interpreted
    * assignment passes over every vector, which is the leg that OOMs a
    * 24 GB cap and then blows the 900 s wall at sf10 (2M vectors ×
    * K × Dim per pass). This variant collapses to one row per DISTINCT
    * quantized vector BEFORE training and weights the centroid update
    * by group multiplicity `w`:
    *
    *   - assignment is a function of q alone, so per-distinct-q argmin
    *     == per-vector argmin (same dist, same `ORDER BY dist, cell`
    *     tie-break);
    *   - the mean update over a cell's members is Σ_members q[i] =
    *     Σ_distinct-q (w × q[i]) and n = Σ w — EXACT integer equality,
    *     so every round's centroids are bit-identical to the composed
    *     replay's, and therefore the final cells, pairs, closure and
    *     expansion are too.
    *
    * Verified row-identical to the composed oracle at
    * sf0.001/0.01/0.1 AND sf3 (where the composed form still finishes —
    * SF3GATE.log round-12 note); sf10 finishes in well under the wall
    * where the composed form cannot.
    */
  /** Rep-collapsed STAGED replay of the d9 clustering — the oracle-side
    * mirror of [[d9DedupClusters]]' twin collapse, for gates where the
    * member-level closure is infeasible (sf10: ~100× duplication turns
    * every twin group into a C(m,2) clique whose edges say nothing the
    * signature identity didn't; the composed recursive CTE blows the
    * wall cap on them). Temp-table stages producing
    * `${p}clusters(doc_id, cluster_id)` over any (doc_id, text)
    * relation `from`, exact by the same argument as the engine side:
    * the signature determines the band keys, so docs are adjacent iff
    * their reps are; min-id labels survive because each rep is its
    * group's min member; a ≥2-member twin group with no cross edge is
    * a cluster by itself. Every expression string (toksSql,
    * shinglesSql, the minhash/band construction) is byte-identical to
    * [[d2PairsSql]]'s composed form.
    */
  private[ops] def stagedRepClusterStages(from: String, p: String): Seq[String] = {
    val sigSql = (0 until NumHashes).map(j =>
      s"list_min(list_transform(sh, x -> substr(md5('0:' || x) || md5('1:' || x), ${8 * j + 1}, 8)))")
      .mkString("[", ",\n    ", "]")
    val bandSql = (0 until NumBands).map(b =>
      s"sig[${2 * b + 1}] || sig[${2 * b + 2}]").mkString("[", ", ", "]")
    Seq(
      // doc_id IS NOT NULL: the composed form's pair predicate
      // a.doc_id < b.doc_id and the engine's collect_list(doc_id) both
      // drop NULL ids, so a {NULL, d} twin group must NOT read as
      // n=2 here (it would spuriously emit d — and the NULL row — as a
      // cluster). No current corpus has NULL-id docs, but the curation
      // contract admits them (c5's tbadid leg), so the staged mirror
      // must match the composed form's effective exclusion.
      s"""CREATE TEMP TABLE ${p}sig AS
         |WITH t AS (SELECT doc_id, $toksSql AS toks FROM $from
         |           WHERE doc_id IS NOT NULL),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t WHERE len(toks) >= 3)
         |SELECT doc_id, $sigSql AS sig FROM sh""".stripMargin,
      s"""CREATE TEMP TABLE ${p}grp AS
         |SELECT sig, min(doc_id) AS rep, count(*) AS n
         |FROM ${p}sig GROUP BY sig""".stripMargin,
      s"""CREATE TEMP TABLE ${p}bands AS
         |SELECT rep, i - 1 AS band_idx, ($bandSql)[i] AS band_key
         |FROM ${p}grp, generate_series(1, $NumBands) g(i)""".stripMargin,
      s"""CREATE TEMP TABLE ${p}redges AS
         |SELECT DISTINCT a.rep AS doc_a, b.rep AS doc_b
         |FROM ${p}bands a JOIN ${p}bands b
         |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         | AND a.rep < b.rep""".stripMargin,
      s"""CREATE TEMP TABLE ${p}replbl AS
         |WITH RECURSIVE
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM ${p}redges
         |          UNION SELECT doc_b AS a, doc_a AS b FROM ${p}redges),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS rep, least(a, min(b)) AS lbl FROM reach GROUP BY a""".stripMargin,
      s"""CREATE TEMP TABLE ${p}clusters AS
         |SELECT s.doc_id, coalesce(l.lbl, g.rep) AS cluster_id
         |FROM ${p}sig s JOIN ${p}grp g ON g.sig = s.sig
         |LEFT JOIN ${p}replbl l ON l.rep = g.rep
         |WHERE l.lbl IS NOT NULL OR g.n >= 2""".stripMargin)
  }

  def oracleStaged: Map[String, Seq[String]] = {
    import graft.ops.Kmeans.{K, Iters, Dim, Scale}
    val dist = s"list_sum(list_transform(generate_series(1, $Dim), " +
      "i -> (v.q[i] - c.cv[i]) * (v.q[i] - c.cv[i])))"
    val rounds = (1 to Iters).flatMap { t =>
      Seq(
        s"""CREATE TEMP TABLE za$t AS
           |SELECT q, w, cell, dist,
           |    row_number() OVER (PARTITION BY q ORDER BY dist ASC, cell ASC) AS rn
           |FROM (SELECT v.q, v.w, c.cell, $dist AS dist
           |      FROM zdq v CROSS JOIN zc${t - 1} c)""".stripMargin,
        s"""CREATE TEMP TABLE zu$t AS
           |SELECT cell, list(CAST((s - (((s % n) + n) % n)) // n AS BIGINT) ORDER BY i) AS cv
           |FROM (
           |  SELECT a.cell, comp.i,
           |      CAST(sum(a.w * a.q[comp.i]) AS BIGINT) AS s, CAST(sum(a.w) AS BIGINT) AS n
           |  FROM (SELECT cell, q, w FROM za$t WHERE rn = 1) a
           |  CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) comp
           |  GROUP BY a.cell, comp.i)
           |GROUP BY cell""".stripMargin,
        s"""CREATE TEMP TABLE zc$t AS
           |SELECT c.cell, COALESCE(u.cv, c.cv) AS cv
           |FROM zc${t - 1} c LEFT JOIN zu$t u ON u.cell = c.cell""".stripMargin)
    }
    val stages = Seq(
      s"""CREATE TEMP TABLE zq AS
         |SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS q
         |FROM embeddings""".stripMargin,
      """CREATE TEMP TABLE zdq AS
        |SELECT q, count(*) AS w, min(vec_id) AS rep, list(vec_id) AS members
        |FROM zq GROUP BY q""".stripMargin,
      s"CREATE TEMP TABLE zc0 AS SELECT vec_id AS cell, q AS cv FROM zq WHERE vec_id < $K") ++
      rounds ++ Seq(
      s"""CREATE TEMP TABLE zgrp AS
         |SELECT a.cell, d.rep, d.w AS m, d.members,
         |    list_transform(d.q, x -> CAST(x AS DOUBLE) / CAST($Scale AS DOUBLE)) AS v
         |FROM (SELECT q, cell, row_number() OVER (PARTITION BY q ORDER BY dist ASC, cell ASC) AS rn
         |      FROM (SELECT v.q, c.cell, $dist AS dist FROM zdq v CROSS JOIN zc$Iters c)) a
         |JOIN zdq d ON d.q = a.q
         |WHERE a.rn = 1""".stripMargin,
      s"""CREATE TEMP TABLE zlbl AS
         |WITH RECURSIVE
         |p AS (SELECT a.rep AS va, b.rep AS vb
         |      FROM zgrp a JOIN zgrp b ON a.cell = b.cell AND a.rep < b.rep
         |      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $SemMinCos),
         |sedges AS (SELECT va AS a, vb AS b FROM p
         |           UNION SELECT vb AS a, va AS b FROM p),
         |sreach(a, b) AS (
         |  SELECT a, b FROM sedges
         |  UNION
         |  SELECT r.a, e.b FROM sreach r JOIN sedges e ON r.b = e.a)
         |SELECT a AS rep, least(a, min(b)) AS lbl FROM sreach GROUP BY a""".stripMargin)
    Map(
      "d11_semantic_dedup" -> (stages :+
        s"""SELECT unnest(g.members) AS vec_id, l.lbl AS cluster_id
           |FROM (
           |  SELECT rep, lbl FROM zlbl
           |  UNION ALL
           |  SELECT rep, rep AS lbl FROM zgrp
           |  WHERE m >= 2 AND round(list_cosine_similarity(v, v), 6) >= $SemMinCos
           |    AND rep NOT IN (SELECT rep FROM zlbl)) l
           |JOIN zgrp g ON g.rep = l.rep""".stripMargin),
      "d9_dedup_clusters" -> (stagedRepClusterStages("documents", "x") :+
        "SELECT doc_id, cluster_id FROM xclusters"),
      // STAGED replay of the d5 oracle — the SQL mirror of
      // d5EmbeddingNearDup's twin collapse. The composed self-join
      // evaluates the round-6 cosine once per MEMBER pair (quadratic in
      // duplicates: >900 s at sf10's ~100x duplication); both the label
      // join and the cosine are functions of (label, v) alone, so the
      // quadratic leg runs over one representative per DISTINCT
      // (label, v) group (2,000 of 200,000 rows at sf10 — sub-second)
      // and member pairs are expanded back afterwards. Cross-group
      // pairs inherit the group pair's cosine of the SAME double
      // arrays; a multi-member group self-pairs iff its identical
      // vectors pass the same predicate (label non-NULL — the composed
      // join never matches NULL labels); least/greatest restores the
      // composed vec_a < vec_b orientation (member sets are disjoint,
      // so each unordered pair appears exactly once). Row-identical to
      // the composed form at sf0.001/0.01/0.1.
      "d5_embedding_neardup" -> Seq(
        """CREATE TEMP TABLE d5g AS
          |SELECT label, CAST(embedding AS DOUBLE[]) AS v,
          |    min(vec_id) AS rep, list_sort(list(vec_id)) AS members
          |FROM embeddings
          |GROUP BY label, CAST(embedding AS DOUBLE[])""".stripMargin,
        """CREATE TEMP TABLE d5x AS
          |SELECT a.members AS ma, b.members AS mb,
          |    round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
          |FROM d5g a JOIN d5g b ON a.label = b.label AND a.rep < b.rep
          |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3""".stripMargin,
        """SELECT least(x, y) AS vec_a, greatest(x, y) AS vec_b, cos_sim
          |FROM d5x, unnest(ma) AS ua(x), unnest(mb) AS ub(y)
          |UNION ALL
          |SELECT x AS vec_a, y AS vec_b, cos_sim
          |FROM (SELECT members, round(list_cosine_similarity(v, v), 6) AS cos_sim
          |      FROM d5g
          |      WHERE label IS NOT NULL AND len(members) >= 2
          |        AND round(list_cosine_similarity(v, v), 6) >= 0.3) w,
          |  unnest(members) AS ua(x), unnest(members) AS ub(y)
          |WHERE x < y""".stripMargin))
  }
}
