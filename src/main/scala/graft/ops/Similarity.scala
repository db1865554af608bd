package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.load

/** Similarity search over the `embeddings` table (`array<float>` column).
  *
  * Two paths, per the standard ANN playbook:
  *   - s1: brute-force cosine top-k for a small query set — broadcast the
  *     queries against the corpus scan (one pass, no shuffle of the corpus;
  *     at 100 TB this is the exact-answer baseline and stays a map-side
  *     broadcast join + per-partition top-k via window).
  *   - s2: LSH-bucketed ANN — a sign-bit bucket key turns all-pairs into
  *     within-bucket pairs (the IVF/LSH scale path; buckets shard the
  *     shuffle key space).
  *
  * All float math is widened to double and summed sequentially, which is
  * bit-identical to DuckDB's `list_cosine_similarity(CAST … AS DOUBLE[]))`
  * (verified empirically), so the oracle compare is exact.
  */
object Similarity {

  /** Sequential-double cosine similarity — the native codegen'd kernel
    * ([[graft.functions.VectorKernel]]): one fused loop instead of three
    * array-lambda passes, same bits.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Functions.cosine_sim(a, b)

  /** DuckDB-side cosine over float-list columns, widened to double. */
  def cosineSql(a: String, b: String): String =
    s"list_cosine_similarity(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  /** A float vector widened to double, element by element. */
  private[ops] def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  private val NQueries = 3
  private val TopK = 5

  /** Squared norm, same sequential recurrence as the cosine kernel. */
  private[ops] def sqNorm(v: Column): Column =
    aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x)

  /** [[cosine]] with both squared norms ([[sqNorm]]) hoisted out of the
    * pair loop: `dot / sqrt(na · nb)` is the fused kernel's exact
    * expression tree, so the bits are the same and the per-pair work is
    * one native dot product.
    */
  private[ops] def cosineHoisted(a: Column, na: Column, b: Column, nb: Column): Column =
    graft.functions.Functions.dot_product(a, b) / sqrt(na * nb)

  /** s1 — brute-force cosine top-k: query vectors (vec_id < NQueries)
    * against the full corpus, k best by (similarity desc, vec_id asc).
    *
    * Norms are hoisted out of the pair loop: each vector's ‖·‖² is
    * computed once in the scan, and the per-pair kernel is only the
    * native dot product ([[cosineHoisted]]) — for q queries that removes
    * 2/3 of the per-pair flops, with bit-identical results.
    */
  def s1KnnCosine(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("n2", sqNorm(col("v")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineHoisted(col("qv"), col("qn2"), col("v"), col("n2")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos_sim"))
  }

  /** Ingest-side normalization: persist unit vectors (and the norm) once
    * so every query-time similarity is a bare dot product — the storage
    * pattern for corpora queried repeatedly. Not bit-identical to
    * [[cosine]] (division before vs after the dot changes rounding), so
    * results come from one convention end-to-end, never mixed.
    */
  def withUnitNorm(e: DataFrame, vecCol: String): DataFrame = {
    val norm = sqrt(sqNorm(col(vecCol)))
    // Zero-norm guard: an all-zero embedding (upstream encoder failure
    // or padding) would otherwise emit 0.0/0.0 = NaN components and
    // silently poison every downstream dot product (review-caught).
    // The zero vector is kept AS the unit vector — its dot with
    // anything is 0, the "similar to nothing" answer a zero embedding
    // should give.
    e.withColumn("norm", norm)
      .withColumn("unit_vec",
        when(col("norm") === 0.0, col(vecCol))
          .otherwise(transform(col(vecCol), x => x / col("norm"))))
  }

  // --- Sign-LSH blocking: one bucket builder, one cap, one self-join. --
  //
  // Every embedding blocking operator is [[groupPairs]] (the
  // [[bandBuckets]] → [[cappedBands]] → self-join pipeline) over
  // `(rep, v, mult)` rows from [[Collapse.groups]]:
  // one row per vector with mult = 1 on the direct form, one per
  // distinct vector on the twin collapse. Two layouts:
  //   - s2/d8: one table of OneTableBits (6) sign bits ⇒ ≤ 64 buckets,
  //     which keeps recall high on a small corpus;
  //   - s2b/s6/d8b, the scale default: BandTables (4) tables of BandBits
  //     (12) sign bits over disjoint component ranges, OR'd (a pair is a
  //     candidate if it collides in ANY table). 4096 buckets per table
  //     shrink the mean population, and with it the quadratic term, 64×;
  //     the extra tables buy the recall back.
  // MaxBucket caps the population a bucket may have and still emit pairs
  // (mirrors d4's MaxPostings): a degenerate bucket (all-equal region,
  // adversarial corpus) contributes ZERO pairs instead of a quadratic
  // task, so worst-case cost stays linear in corpus size.
  private[graft] val OneTableBits = 6
  private[ops] val BandBits = 12
  private[ops] val BandTables = 4
  private[ops] val MaxBucket = 1000

  /** Per-table sign-bucket keys: element `b` is the bucket of table `b`,
    * bit i set iff component b·bits+i is positive (components
    * [b·bits+1, (b+1)·bits]). Vectors must have ≥ bits·nTables
    * dimensions (48 at the banded defaults) — a shorter vector fails
    * fast with ANSI's INVALID_ARRAY_INDEX; pass smaller (bits, nTables)
    * for low-dimensional embeddings.
    */
  private[ops] def bandBuckets(v: Column, bits: Int, nTables: Int): Column =
    array((0 until nTables).map { b =>
      (1 to bits).map(i =>
        when(element_at(v, b * bits + i) > 0, lit(1L << (i - 1))).otherwise(lit(0L)))
        .reduce(_ + _)
    }: _*)

  /** [[Collapse.groups]] rows `(rep, vecCol, mult)` exploded into
    * `(rep, vecCol, mult, tbl, bucket)` band memberships, keeping only
    * buckets whose population is in [2, maxBucket]. The population is
    * `sum(mult)`, the rows a bucket stands for: a count of the rows on
    * the direct form and exact on the collapse, because the caps are
    * WHOLE-BUCKET filters, never a truncation inside a bucket, and twins
    * share every bucket (banding is a pure function of the vector).
    * Singleton buckets never pair, so the ≥ 2 side only prunes. The cap
    * is a window over (tbl, bucket) — NOT a separate aggregate joined
    * back — so the frame is computed with ONE scan and ONE shuffle: the
    * band explode and bucket math sit below the (tbl, bucket) exchange,
    * the self-join partitions by the same keys (no new exchange), and
    * both join sides reuse the single exchange (the d2 lesson: identical
    * shuffle subtrees dedup; broadcast never does).
    */
  private[graft] def cappedBands(rows: DataFrame, vecCol: String,
      bits: Int = BandBits, nTables: Int = BandTables,
      maxBucket: Int = MaxBucket): DataFrame =
    // posexplode_outer, not posexplode: the plain generator lets
    // InferFiltersFromGenerate substitute the whole bucket-math array
    // into an inferred `size(arr) > 0` filter below this projection,
    // doubling the per-row work (the d4 lesson). The array is a non-null
    // nTables-element literal, so the row sets are identical.
    rows.select(col("rep"), col(vecCol), col("mult"),
        posexplode_outer(bandBuckets(col(vecCol), bits, nTables)).as(Seq("tbl", "bucket")))
      .withColumn("n_bucket", sum(col("mult")).over(Window.partitionBy("tbl", "bucket")))
      .filter(col("n_bucket").between(2, maxBucket))
      .drop("n_bucket")

  /** The band self-join, the only one: candidate pairs of `rows`
    * ([[Collapse.groups]]) that collide in ≥ 1 table of
    * [[cappedBands]], undirected with ga ≤ gb and scored once —
    * `(ga, gb, cos_sim, bucket, va, vb)`.
    *  - A self pair (ga = gb) appears iff the group stands for ≥ 2 rows
    *    and one of its buckets survives the cap, exactly when the
    *    per-row join would pair its members; mult = 1 rows never
    *    self-pair. Null reps match nothing.
    *  - round(cosine, 6) reads only the two vectors and is symmetric bit
    *    for bit (`dot / sqrt(na·nb)`), so it is every member pair's
    *    score and either direction's.
    *  - With several tables a pair can collide in more than one: an
    *    aggregate on (ga, gb) dedups the copies, and min() over
    *    bit-identical scores is pure dedup. One table gives each pair
    *    once, so its join rows are the pairs and no dedup shuffle is
    *    planned.
    *  - `bucket` is the smallest colliding bucket: in the one-table
    *    layout, THE bucket of the pair (s2/d8 report it).
    *  - `va`/`vb` are the two vectors ([[multibandPairs]] returns them).
    * Columns a caller does not read are pruned from the plan.
    */
  private[graft] def groupPairs(rows: DataFrame, vecCol: String,
      bits: Int = BandBits, nTables: Int = BandTables,
      maxBucket: Int = MaxBucket): DataFrame = {
    val c = cappedBands(rows, vecCol, bits, nTables, maxBucket)
    val pairs = c.as("a")
      .join(c.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          (col("a.rep") < col("b.rep") ||
            (col("a.rep") === col("b.rep") && col("a.mult") >= 2)))
      .select(col("a.rep").as("ga"), col("b.rep").as("gb"),
        round(cosine(col(s"a.$vecCol"), col(s"b.$vecCol")), 6).as("cos_sim"),
        col("a.bucket").as("bucket"), col(s"a.$vecCol").as("va"), col(s"b.$vecCol").as("vb"))
    if (nTables == 1) pairs
    else pairs.groupBy(col("ga"), col("gb"))
      .agg(min(col("cos_sim")).as("cos_sim"), min(col("bucket")).as("bucket"),
        first(col("va")).as("va"), first(col("vb")).as("vb"))
  }

  /** [[groupPairs]] in both directions, `(gq, gc, cos_sim, bucket)`:
    * every candidate `gc` of each query group `gq`, a self pair once.
    * One read of the pairs, so the join and its cosines run once (a
    * union of two reads plans two joins: the flip's self-pair filter
    * reaches the join condition, and the two sides stop matching for
    * exchange reuse). explode_outer for d4's reason.
    */
  private def directed(gp: DataFrame): DataFrame = {
    val flip = col("flip")
    gp.select(col("ga"), col("gb"), col("cos_sim"), col("bucket"),
        explode_outer(array(lit(false), lit(true))).as("flip"))
      .filter(!flip || col("ga") =!= col("gb"))
      .select(when(flip, col("gb")).otherwise(col("ga")).as("gq"),
        when(flip, col("ga")).otherwise(col("gb")).as("gc"), col("cos_sim"), col("bucket"))
  }

  /** s2 — LSH-bucketed ANN: nearest neighbor within the same sign-bit
    * bucket for every vector (approximate — bucket boundaries lose some
    * true neighbors, which is the accuracy/cost trade the bucket count
    * tunes), in the one-table layout; the population cap bounds the
    * within-bucket join so a hot bucket degrades recall, never cost.
    * [[s2bAnnMultiband]] remains the scale default. The argmax per query
    * is a max_by (partial+final agg — no sort-window shuffle); the
    * tie-break is the smallest neighbor id, so the order key is
    * (cos_sim, -neighbor_id) maximized.
    */
  def s2AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val rows = Collapse.groups(e, Seq("v"), "vec_id", on = false)
    directed(groupPairs(rows, "v", OneTableBits, 1))
      .groupBy(col("gq").as("query_id"))
      .agg(max_by(
        struct(col("gc").as("neighbor_id"), col("bucket"), col("cos_sim")),
        struct(col("cos_sim"), (-col("gc")).as("neg_id"))).as("best"))
      .select(col("query_id"), col("best.neighbor_id"), col("best.bucket"),
        col("best.cos_sim"))
  }

  /** Unordered candidate pairs (idCol_a < idCol_b) colliding in ≥1 band
    * table, deduped across tables, with both vectors — the
    * library-surface blocking primitive: [[groupPairs]] over every row
    * as its own group (the skew tests pin the population-cap bound on
    * it).
    */
  def multibandPairs(e: DataFrame, idCol: String, vecCol: String,
      bits: Int = BandBits, nTables: Int = BandTables,
      maxBucket: Int = MaxBucket): DataFrame =
    groupPairs(Collapse.groups(e, Seq(vecCol), idCol, on = false),
        vecCol, bits, nTables, maxBucket)
      .select(col("ga").as(s"${idCol}_a"), col("gb").as(s"${idCol}_b"),
        col("va").as(s"${vecCol}_a"), col("vb").as(s"${vecCol}_b"))

  /** Per-query-group top candidate members: the [[directed]] pairs with
    * each candidate group's first `keep` member ids attached (members
    * are sorted asc and ties break by smallest id, so no later member of
    * a group can enter a global top-`keep`), keeping the global top
    * `keep` per query group by (score desc, id asc). Output: one row per
    * query group — `(gq, cand)` with `cand` a rank-sorted array of
    * `(rk, nid, cs)` structs, length ≤ keep.
    */
  private def topCandidates(directed: DataFrame, hub: DataFrame, keep: Int): DataFrame = {
    val nm = directed
      .join(hub.select(col("rep").as("gc"),
        slice(col("members"), 1, keep).as("mc")), Seq("gc"))
      .select(col("gq"), explode(col("mc")).as("nid"), col("cos_sim"))
    val w = Window.partitionBy("gq")
      .orderBy(col("cos_sim").desc, col("nid").asc)
    nm.withColumn("rk", row_number().over(w)).filter(col("rk") <= keep)
      .groupBy("gq")
      .agg(sort_array(collect_list(
        struct(col("rk"), col("nid"), col("cos_sim").as("cs")))).as("cand"))
  }

  /** s2b — multi-table LSH ANN: per vector, the best neighbor among
    * candidates from any band table, by (cos_sim desc, neighbor_id asc).
    * That is [[s6AnnRerank]]'s rank-1 row, so s2b is s6 with the rank
    * column dropped, on both twin-gate paths. Vectors whose every bucket
    * is singleton (or over the cap) have no candidates and are absent —
    * the recall/cost trade the (bits, tables) pair tunes.
    */
  def s2bAnnMultiband(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    s2bAnnMultibandImpl(e, collapse = Collapse.gate(s, dir, "embeddings", Seq("embedding")))
  }

  private[graft] def s2bAnnMultibandImpl(e: DataFrame, collapse: Boolean): DataFrame =
    s6AnnRerankImpl(e, collapse).filter(col("rank") === 1).drop("rank")

  private[ops] val RerankK = 3

  /** s6 — ANN with exact re-rank: the production two-stage retrieval
    * shape. Stage 1 (recall): capped multiband LSH proposes candidates —
    * cost bounded linear by the population cap. Stage 2 (precision):
    * exact cosine over candidates only, top-k per query by a rank window
    * (WindowGroupLimit keeps the per-group sort map-bounded). A pair
    * colliding in several band tables scores identically, but k>1 means
    * duplicates would occupy ranks — [[groupPairs]] dedups the pair
    * BEFORE ranking, a shuffle that carries an 8-byte score rather than
    * two vectors, and the ranking reads it in both directions.
    */
  def s6AnnRerank(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    s6AnnRerankImpl(e, collapse = Collapse.gate(s, dir, "embeddings", Seq("embedding")))
  }

  /** TWIN COLLAPSE ([[cappedBands]]' exactness note): every member of a
    * query group ranks the SAME candidate member list (score desc, id
    * asc) minus itself — so the group-level top-(K+1) determines every
    * member's top-K: drop the member if present (at most one entry can
    * be it), take the first K, re-number. The per-group candidate
    * explode carries only ids and one double, and each candidate group
    * contributes at most K+1 member ids (members are sorted, so no later
    * member of a group can reach the global top-(K+1)).
    */
  private[graft] def s6AnnRerankImpl(e: DataFrame, collapse: Boolean): DataFrame = {
    val rows = Collapse.groups(e, Seq("v"), "vec_id", collapse)
    val cand = directed(groupPairs(rows, "v"))
    if (collapse) {
      val top = topCandidates(cand, rows, keep = RerankK + 1)
      // when(isNotNull, ..) widens nullability back to the direct
      // path's (d4's expansion precedent: analysis-time schema parity).
      return rows.select(col("rep").as("gq"), col("members")).join(top, Seq("gq"))
        .select(explode(col("members")).as("qx"), col("cand"))
        .select(col("qx"),
          slice(filter(col("cand"), x => x.getField("nid") =!= col("qx")),
            1, RerankK).as("ck"))
        .select(col("qx"), posexplode(col("ck")).as(Seq("p", "c")))
        .select(when(col("qx").isNotNull, col("qx")).as("query_id"),
          when(col("c.nid").isNotNull, col("c.nid")).as("neighbor_id"),
          (col("p") + 1).cast("long").as("rank"), col("c.cs").as("cos_sim"))
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cand.select(col("gq").as("query_id"), col("gc").as("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RerankK)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos_sim"))
  }

  private val NCentroids = 8
  private val IvfQueries = 5 // vec_id in [NCentroids, NCentroids+IvfQueries)
  private val IvfTopK = 3

  private val IvfNProbe = 2

  /** s3 — IVF-style ANN: a fixed centroid set partitions the corpus into
    * cells (assignment = argmax cosine to centroid, deterministic
    * tie-break); each query probes its `IvfNProbe` nearest cells. This is
    * the inverted-file scale path: the corpus shuffles once by cell id, a
    * query touches ~nprobe/k of the corpus, and nprobe is the
    * recall-vs-cost knob. Cells are disjoint, so probing several needs no
    * dedup. Centroids here are the first `NCentroids` vectors (a real
    * deployment feeds k-means centroids in — the operator is identical).
    */
  def s3IvfAnn(s: SparkSession, dir: String): DataFrame = {
    // spread: the corpus×centroid scoring is per-row compute above the
    // scan; row_number is comparison-based (order-insensitive), so the
    // round-robin is hash-safe. The centroid collect is k rows — the
    // same bounded driver hop Kmeans.initFrom already makes.
    val e = graft.Tables.spread(load(s, dir, "embeddings"))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val centroids = e.filter(col("vec_id") < NCentroids)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1).toSeq
    s3IvfAnnWith(e, centroids)
  }

  /** s3b — s3 with k-means-trained cells ([[Kmeans.trainCentroids]],
    * scaled longs mapped back to float space) — the self-contained IVF
    * story, oracle-gated end to end: the oracle splices s7's Lloyd's
    * CTE replay in front of s3's IVF SQL, so training AND search
    * hash-match in one statement. The operator is s3's exact shape
    * (plan properties pinned there); only the centroid source differs.
    */
  def s3IvfAnnTrained(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.spread(load(s, dir, "embeddings"))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val trained = Kmeans.trainCentroids(s, dir)
      .map { case (cell, cv) => (cell, cv.map(_.toDouble / Kmeans.Scale)) }
    s3IvfAnnWith(e, trained)
  }

  /** The IVF operator proper, centroid source pluggable: assignment leg
    * scores the full corpus once (max_by partial+final), probe leg's
    * vec_id range pushes to the scan — see [[s3IvfAnn]]'s plan notes.
    */
  private def s3IvfAnnWith(e: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    // Two scored legs, and that is the scale-correct shape (round-3 scan
    // audit verified, then falsified, a recompute here): the assignment
    // leg scores the FULL corpus exactly once — ROW-LOCALLY, centroids
    // being k driver literals: `greatest()` over k struct(cc, -cent_id)
    // columns is the argmax with the same (cc desc, cent_id asc)
    // tie-break the old max_by keyed, and the corpus never shuffles for
    // assignment (the previous crossJoin + max_by-by-id form pushed
    // every vector through an exchange as agg payload). The probes leg's
    // vec_id range pushes into the scan, so it scores only the handful
    // of query vectors; nprobe > 1 keeps it on the window form.
    val cands = cents.map { case (cid, cv) =>
      struct(cosine(col("v"), array(cv.map(lit): _*)).as("cc"),
        lit(-cid).as("n"), lit(cid).as("cell"))
    }
    // Degenerate corpora: no centroids → typed null → zero assignments
    // (the old join form's semantics); one centroid → no greatest().
    val best =
      if (cands.isEmpty) lit(null).cast("struct<cc:double,n:bigint,cell:bigint>")
      else if (cands.sizeIs == 1) cands.head
      else greatest(cands: _*)
    val assigned = e.select(col("vec_id"), col("v"),
      best.getField("cell").as("cell"))
      .filter(col("cell").isNotNull)
    val s = e.sparkSession
    import s.implicits._
    val centDf = broadcast(cents.toDF("cent_id", "cv"))
    val pw = Window.partitionBy("vec_id")
      .orderBy(col("cc").desc, col("cent_id").asc)
    val probes = e
      .filter(col("vec_id") >= NCentroids && col("vec_id") < NCentroids + IvfQueries)
      .crossJoin(centDf)
      .select(col("vec_id"), col("v"), col("cent_id"),
        cosine(col("v"), col("cv")).as("cc"))
      .withColumn("probe_rank", row_number().over(pw))
      .filter(col("probe_rank") <= IvfNProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("cent_id").as("qcell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qcell").as("cell"),
        round(cosine(col("qv"), col("v")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= IvfTopK)
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        col("rank").cast("long").as("rank"), col("cos_sim"))
  }

  private[ops] val PqSubspaces = 4
  private[ops] val PqSubDim = 16 // 64-dim embeddings / 4 subspaces
  private val PqCodes = 8

  /** (vec_id, v): the double-widened corpus the PQ operators read. */
  private def pqCorpus(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings").select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** s4 — product-quantization code assignment: split each vector into
    * `PqSubspaces` subvectors and store, per subspace, the id of the
    * nearest codebook centroid (squared-L2 argmin, tie-break smallest
    * id). 64 dims × 4 bytes become 4 one-byte codes — the compression
    * that makes billion-vector ANN fit in memory; at query time distances
    * are approximated from tiny per-subspace lookup tables. Codebooks
    * here are the first `PqCodes` vectors' subvectors (k-means feeds real
    * ones in; the assignment operator — the scale-critical part — is
    * identical). Integer code output is robust to float-association ulps,
    * so the oracle needs no bit-level care beyond determinism of argmin.
    */
  def s4PqCodes(s: SparkSession, dir: String): DataFrame = {
    val e = pqCorpus(s, dir)
    s4PqCodesWith(e, Kmeans.seeds[Double](e, "vec_id", "v", PqCodes, PqSubDim))
  }

  /** The PQ assignment operator proper, codebook pluggable —
    * `(sub, cent_id, cv)` driver-side rows. The oracled [[s4PqCodes]]
    * feeds the first-`PqCodes` seed codebook; [[s4PqCodesTrained]] feeds
    * per-subspace k-means centroids through the same shape. The argmin
    * is row-local and single-pass ([[Kmeans.nearest]]): one projection
    * over the unexploded vector, so the corpus is scanned once and never
    * shuffles or joins.
    */
  private[ops] def s4PqCodesWith(e: DataFrame,
      cents: Seq[(Int, Long, Seq[Double])]): DataFrame =
    Kmeans.nearest(e, "v", cents, PqSubDim, graft.functions.Functions.sq_dist_double)
      .select(col("vec_id"), col("sub").cast("long").as("sub_idx"), col("cell").as("code"))

  /** s4 with per-subspace k-means-trained codebooks
    * ([[Kmeans.trainPqCodebooks]]) — real PQ training instead of the
    * seed codebook, through the unchanged assignment operator. Spec-
    * gated (KmeansSpec asserts strictly lower quantization error than
    * the seed codebook); the oracled s4 pins the operator itself.
    */
  def s4PqCodesTrained(s: SparkSession, dir: String): DataFrame = {
    val trained = Kmeans.trainPqCodebooks(s, dir)
      .map { case (b, cell, cv) => (b, cell, cv.map(_.toDouble / Kmeans.Scale)) }
    s4PqCodesWith(pqCorpus(s, dir), trained)
  }

  private val PqTopK = 3
  private val PqQueries = 3 // query vec_ids: [PqCodes, PqCodes + PqQueries)

  /** s5 — PQ asymmetric-distance search (ADC): queries stay exact, the
    * corpus is its PQ codes. Per query, a (subspace × centroid) distance
    * table — `PqSubspaces × PqCodes` doubles — is broadcast; a corpus
    * vector's approximate distance is the sum of four table lookups via
    * an equi-join on (sub_idx, code). This is why PQ scales: the corpus
    * side touches only 1-byte codes, the float math is queries ×
    * codebook, not queries × corpus. Top-k per query by (distance asc,
    * vec_id asc).
    */
  def s5PqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = pqCorpus(s, dir)
    val cb = Kmeans.seeds[Double](e, "vec_id", "v", PqCodes, PqSubDim)
    val codes = s4PqCodesWith(e, cb) // (vec_id, sub_idx, code)
    val queries = e
      .filter(col("vec_id") >= PqCodes && col("vec_id") < PqCodes + PqQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // Distance tables: queries × subspaces × centroids (tiny — broadcast;
    // the codebook side is the collected literal rows, not a subtree).
    // The query's subvector is the slice s4's assignment scores.
    import s.implicits._
    val cents = cb.toDF("c_sub", "cent_id", "cv")
    val tables = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("c_sub").cast("long").as("sub_idx"),
        col("cent_id").as("code"),
        graft.functions.Functions.sq_dist_double(
          slice(col("qv"), col("c_sub") * PqSubDim + 1, lit(PqSubDim)), col("cv")).as("d"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_dist").asc, col("vec_id").asc)
    // One addend per subspace, added in fixed subspace order — a plain
    // sum() would associate in partial-agg arrival order, which is not
    // reproducible across runs (double addition isn't associative).
    val perSub = (0 until PqSubspaces).map(i =>
      max(when(col("sub_idx") === i, col("d"))).as(s"d_$i"))
    codes.join(broadcast(tables), Seq("sub_idx", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(perSub.head, perSub.tail: _*)
      .withColumn("approx_dist",
        round((0 until PqSubspaces).map(i => col(s"d_$i")).reduce(_ + _), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("approx_dist"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_knn_cosine" -> s1KnnCosine,
    "s2_ann_lsh" -> s2AnnLsh,
    "s2b_ann_multiband" -> s2bAnnMultiband,
    "s6_ann_rerank" -> s6AnnRerank,
    "s3_ivf_ann" -> s3IvfAnn,
    "s3b_ivf_trained" -> s3IvfAnnTrained,
    "s4_pq_codes" -> s4PqCodes,
    "s5_pq_search" -> s5PqSearch)

  /** DuckDB's sign bucket of components [from+1, from+bits] of `v` —
    * one table of [[bandBuckets]]; the one-table layout by default.
    */
  private[ops] def bucketSql(v: String, bits: Int = OneTableBits, from: Int = 0): String =
    (1 to bits).map(i =>
      s"CASE WHEN $v[${from + i}] > 0 THEN CAST(${1L << (i - 1)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")

  /** Banded + capped CTEs over `embeddings`, shared by the s2b/d8b
    * oracles. Deliberately an independent formulation: GROUP BY … HAVING
    * population cap instead of Spark's window count — same capped-bucket
    * semantics, different machinery on each engine.
    */
  private[ops] def bandedCteSql: String = {
    val caseSql = (0 until BandTables)
      .map(b => s"WHEN $b THEN ${bucketSql("embedding", BandBits, b * BandBits)}").mkString(" ")
    s"""banded AS (SELECT vec_id, embedding, g.tbl,
       |    CASE g.tbl $caseSql END AS bucket
       |  FROM embeddings, generate_series(0, ${BandTables - 1}) g(tbl)),
       |capped AS (SELECT tbl, bucket FROM banded GROUP BY 1, 2
       |           HAVING count(*) BETWEEN 2 AND $MaxBucket)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "s1_knn_cosine" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < $NQueries),
         |sims AS (SELECT q.query_id, e.vec_id,
         |    round(${cosineSql("q.qv", "e.embedding")}, 6) AS cos_sim
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, vec_id, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
         |  FROM sims)
         |SELECT query_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
         |FROM ranked WHERE rank <= $TopK""".stripMargin,
    "s2b_ann_multiband" ->
      s"""WITH $bandedCteSql,
         |cand AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |  FROM banded a
         |  JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.vec_id <> b.vec_id
         |  JOIN capped c ON c.tbl = a.tbl AND c.bucket = a.bucket),
         |ranked AS (SELECT query_id, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
         |  FROM cand)
         |SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn = 1""".stripMargin,
    "s6_ann_rerank" ->
      s"""WITH $bandedCteSql,
         |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |  FROM banded a
         |  JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.vec_id <> b.vec_id
         |  JOIN capped c ON c.tbl = a.tbl AND c.bucket = a.bucket),
         |ranked AS (SELECT query_id, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
         |  FROM cand)
         |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, cos_sim
         |FROM ranked WHERE rn <= $RerankK""".stripMargin,
    "s2_ann_lsh" ->
      // Independent cap formulation, as in the banded CTE: GROUP BY …
      // HAVING population bounds instead of Spark's window count.
      s"""WITH e AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |           FROM embeddings),
         |capped AS (SELECT bucket FROM e GROUP BY 1
         |           HAVING count(*) BETWEEN 2 AND $MaxBucket),
         |sims AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.bucket,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY round(${cosineSql("a.embedding", "b.embedding")}, 6) DESC,
         |               b.vec_id ASC) AS rn
         |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |  JOIN capped c ON c.bucket = a.bucket)
         |SELECT query_id, neighbor_id, bucket, cos_sim FROM sims WHERE rn = 1""".stripMargin,
    "s3_ivf_ann" ->
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cv
         |              FROM embeddings WHERE vec_id < $NCentroids),
         |scored AS (SELECT e.vec_id, e.embedding, c.cent_id,
         |    ${cosineSql("e.embedding", "c.cv")} AS cc,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${cosineSql("e.embedding", "c.cv")} DESC, c.cent_id ASC) AS rn
         |  FROM embeddings e CROSS JOIN cent c),
         |assigned AS (SELECT vec_id, embedding, cent_id AS cell
         |             FROM scored WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cent_id AS qcell
         |           FROM scored
         |           WHERE vec_id >= $NCentroids AND vec_id < ${NCentroids + IvfQueries}
         |             AND rn <= $IvfNProbe),
         |sims AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id, q.qcell AS cell,
         |    round(${cosineSql("q.qv", "a.embedding")}, 6) AS cos_sim,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      round(${cosineSql("q.qv", "a.embedding")}, 6) DESC, a.vec_id ASC) AS rank
         |  FROM assigned a JOIN probes q ON a.cell = q.qcell AND a.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, cell, CAST(rank AS BIGINT) AS rank, cos_sim
         |FROM sims WHERE rank <= $IvfTopK""".stripMargin,
    "s3b_ivf_trained" ->
      // s7's Lloyd's training replay (identical quantization and
      // arithmetic) spliced in front of s3's IVF search: cent = trained
      // centroids mapped back to double space exactly as the engine does
      // (long → double is exact below 2^53; division by the power-of-ten
      // scale is one IEEE op on both engines).
      s"""WITH ${graft.ops.Kmeans.kmeansCtesSql(graft.ops.Kmeans.corpusQCte,
            graft.ops.Kmeans.Dim, sub = false)},
         |cent AS (SELECT cell AS cent_id,
         |           list_transform(cv, x -> CAST(x AS DOUBLE)
         |             / CAST(${graft.ops.Kmeans.Scale} AS DOUBLE)) AS cv
         |         FROM c${graft.ops.Kmeans.Iters}),
         |scored AS (SELECT e.vec_id, e.embedding, c.cent_id,
         |    ${cosineSql("e.embedding", "c.cv")} AS cc,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${cosineSql("e.embedding", "c.cv")} DESC, c.cent_id ASC) AS rn
         |  FROM embeddings e CROSS JOIN cent c),
         |assigned AS (SELECT vec_id, embedding, cent_id AS cell
         |             FROM scored WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cent_id AS qcell
         |           FROM scored
         |           WHERE vec_id >= $NCentroids AND vec_id < ${NCentroids + IvfQueries}
         |             AND rn <= $IvfNProbe),
         |sims AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id, q.qcell AS cell,
         |    round(${cosineSql("q.qv", "a.embedding")}, 6) AS cos_sim,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      round(${cosineSql("q.qv", "a.embedding")}, 6) DESC, a.vec_id ASC) AS rank
         |  FROM assigned a JOIN probes q ON a.cell = q.qcell AND a.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, cell, CAST(rank AS BIGINT) AS rank, cos_sim
         |FROM sims WHERE rank <= $IvfTopK""".stripMargin,
    "s4_pq_codes" ->
      s"""WITH sub AS (SELECT i AS sub_idx FROM generate_series(0, ${PqSubspaces - 1}) g(i)),
         |vecs AS (SELECT e.vec_id, s.sub_idx,
         |    e.embedding[s.sub_idx * $PqSubDim + 1 : s.sub_idx * $PqSubDim + $PqSubDim] AS sv
         |  FROM embeddings e, sub s),
         |cents AS (SELECT vec_id AS cent_id, sub_idx AS c_sub, sv AS cv
         |  FROM vecs WHERE vec_id < $PqCodes),
         |d AS (SELECT v.vec_id, v.sub_idx, c.cent_id,
         |    list_sum(list_transform(generate_series(1, $PqSubDim),
         |      i -> (CAST(v.sv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) ^ 2)) AS dist,
         |    row_number() OVER (PARTITION BY v.vec_id, v.sub_idx
         |      ORDER BY list_sum(list_transform(generate_series(1, $PqSubDim),
         |        i -> (CAST(v.sv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) ^ 2)) ASC,
         |      c.cent_id ASC) AS rn
         |  FROM vecs v JOIN cents c ON v.sub_idx = c.c_sub)
         |SELECT vec_id, CAST(sub_idx AS BIGINT) AS sub_idx, cent_id AS code
         |FROM d WHERE rn = 1""".stripMargin,
    "s5_pq_search" -> {
      val distSql =
        s"list_sum(list_transform(generate_series(1, $PqSubDim), " +
          "i -> (CAST(q.qv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) ^ 2))"
      val codeAssignSql =
        s"""SELECT vec_id, sub_idx, cent_id AS code
           |  FROM (SELECT v.vec_id, v.sub_idx, c.cent_id,
           |          row_number() OVER (PARTITION BY v.vec_id, v.sub_idx
           |            ORDER BY list_sum(list_transform(generate_series(1, $PqSubDim),
           |              i -> (CAST(v.sv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) ^ 2)) ASC,
           |            c.cent_id ASC) AS rn
           |        FROM vecs v JOIN cents c ON v.sub_idx = c.c_sub) t
           |  WHERE rn = 1""".stripMargin
      val addends = (0 until PqSubspaces)
        .map(i => s"max(CASE WHEN t.sub_idx = $i THEN t.d END)")
        .mkString("(", " + ", ")")
      s"""WITH sub AS (SELECT i AS sub_idx FROM generate_series(0, ${PqSubspaces - 1}) g(i)),
         |vecs AS (SELECT e.vec_id, s.sub_idx,
         |    e.embedding[s.sub_idx * $PqSubDim + 1 : s.sub_idx * $PqSubDim + $PqSubDim] AS sv
         |  FROM embeddings e, sub s),
         |cents AS (SELECT vec_id AS cent_id, sub_idx AS c_sub, sv AS cv
         |  FROM vecs WHERE vec_id < $PqCodes),
         |codes AS ($codeAssignSql),
         |q AS (SELECT vec_id AS query_id, sub_idx AS q_sub, sv AS qv FROM vecs
         |      WHERE vec_id >= $PqCodes AND vec_id < ${PqCodes + PqQueries}),
         |tables AS (SELECT q.query_id, q.q_sub AS sub_idx, c.cent_id AS code,
         |    $distSql AS d
         |  FROM q JOIN cents c ON q.q_sub = c.c_sub),
         |dists AS (SELECT t.query_id, cd.vec_id,
         |    round($addends, 6) AS approx_dist
         |  FROM codes cd JOIN tables t
         |    ON cd.sub_idx = t.sub_idx AND cd.code = t.code
         |  WHERE cd.vec_id <> t.query_id
         |  GROUP BY t.query_id, cd.vec_id),
         |ranked AS (SELECT query_id, vec_id, approx_dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_dist ASC, vec_id ASC) AS rank
         |  FROM dists)
         |SELECT query_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, approx_dist
         |FROM ranked WHERE rank <= $PqTopK""".stripMargin
    })
}
