package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Hybrid retrieval — reciprocal-rank fusion (RRF, Cormack et al. 2009)
  * of a lexical BM25 leg and an embedding-cosine leg. The standard
  * first-stage retriever of a RAG stack: lexical matching catches exact
  * terminology the embedding model never saw; the vector leg catches
  * paraphrases with zero token overlap; RRF fuses the two rank lists
  * without having to calibrate their incomparable score scales.
  *
  * Shape at scale: the two legs ARE the engine's plan-pinned retrieval
  * kernels — [[TextAnalysis.bm25]] (one corpus tokenize pass, rarest-M
  * query-term budget, broadcast query side) and s1's broadcast
  * brute-force cosine (norms hoisted out of the pair loop, native dot
  * kernel) — so the fusion adds NO new heavy machinery: each leg emits
  * at most `legK` rows per query, and the full-outer fusion join plus
  * the final top-k window touch only those bounded candidate lists
  * (≤ 2·legK rows per query, thousands of queries by contract — an
  * eval/benchmark suite, not a second corpus).
  *
  * Vector coverage is allowed to be PARTIAL: corpus docs without an
  * embedding row can still surface via the lexical leg, and queries
  * without one retrieve lexically only (real corpora embed lazily;
  * the sf0.1 fixtures embed just 2000 of 5000 docs). Missing-leg
  * candidates simply lack that leg's RRF term.
  *
  * Float discipline (NOTES invariants): each RRF term is 1.0/(c+rank)
  * — ONE exactly-rounded division of an integer-valued denominator —
  * and the fused score adds the lexical term then the vector term in
  * that fixed two-term order on both engines, so the result is
  * bit-identical cross-engine and needs NO rounding. Ranks come from
  * the already-gated leg formulations (BM25: round-6 score then doc_id
  * tie-break; cosine: round-6 similarity then doc_id tie-break), and
  * the fused rank tie-breaks on doc_id.
  */
object Hybrid {

  /** Standard RRF damping constant (Cormack et al. 2009). */
  private val RrfC = 60
  /** Per-leg candidate depth feeding the fusion. */
  private val LegK = 10
  /** Fused results kept per query. */
  private val TopK = 5

  /** Frame-based core: fuse BM25 over `(doc_id, text)` of
    * `corpus`/`queries` with cosine over `emb` `(vec_id, embedding)`,
    * joined on doc_id = vec_id. Returns (query_id, doc_id, rank, rrf).
    */
  def hybridRrf(corpus: DataFrame, queries: DataFrame, emb: DataFrame,
      legK: Int = LegK, k: Int = TopK): DataFrame = {
    val lex = TextAnalysis.bm25(corpus, queries, legK)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))

    // Vector leg: s1's brute-force cosine shape, with an EXACT two-sided
    // distinct-vector twin collapse (the d15/q62 twin-collapse pattern;
    // the t17 staged ORACLE already collapses the query side — this
    // mirrors it engine-side and extends it to the corpus side).
    // Rationale at 100×: round-16 walls measured the uncollapsed leg at
    // 284 s of the 1,487 s sf10 dump — 10,000 query × 190,000 corpus
    // embeddings = 1.9B dot products over only 2,000 × 2,000 DISTINCT
    // vector values. Real corpora duplicate heavily too (that's why the
    // dedup family exists); computing per distinct PAIR and fanning the
    // bounded winner lists back out does ~475× less kernel work there
    // and is a no-op-with-tiny-overhead where vectors are unique (sf0.1
    // fixtures). Exactness: cos_sim is a pure function of the two
    // vector VALUES, so queries sharing a vector share their whole
    // ranked list, and a corpus twin group shares one cos_sim per
    // query — the original (cos_sim DESC, doc_id ASC) row_number is
    // reproduced by ranking the EXPLODED docs of every tie-group that
    // can still reach the top-legK (strictly-better doc count < legK;
    // an excluded group has ≥ legK docs ranked strictly above it, so
    // none of its docs can appear). Ties ACROSS distinct vectors with
    // equal round-6 cos_sim interleave by doc_id exactly as before,
    // because the final row_number orders the exploded docs the same.
    val e = emb
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("n2", Similarity.sqNorm(col("v")))
    // Both sides collapsed to distinct vector values ([[Collapse.hub]]):
    // the group's rep is its deterministic key, its members fan results
    // back out (docs are re-ranked after explode), and mult is the
    // corpus group's size.
    val cg = Collapse.hub(corpus.select(col("doc_id"))
      .join(e, col("doc_id") === col("vec_id")).drop("vec_id"), Seq("v", "n2"), "doc_id")
      .select(col("v"), col("n2"), col("rep").as("cgid"), col("members").as("docs"),
        col("mult").as("gsize"))
    val qg = Collapse.hub(queries.select(col("doc_id").as("query_id"))
      .join(e, col("query_id") === col("vec_id")), Seq("v", "n2"), "query_id")
      .select(col("v"), col("n2"), col("rep").as("qgid"), col("members").as("qids"))
    // Explicit partition count for the kernel input: cgSlim is a SMALL
    // frame (distinct corpus vectors) that the cross join expands by
    // |distinct query vectors| — AQE's byte-based coalesce sees only
    // the pre-expansion bytes and folds it to ~1 partition, serializing
    // every dot product onto one core (measured at sf1 on the
    // uncollapsed leg: 41.7 s single-task vs sub-second parallel). Same
    // pre-expansion rule as bm25's posting spread. The docs lists stay
    // OUT of the cross join (joined back below, post-filter) so the
    // expanded rows carry only the two vectors and two scalars.
    val vparts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val cgSlim = cg.select(col("cgid"), col("v"), col("n2"), col("gsize"))
      .repartition(vparts, col("cgid"))
    val qgSlim = qg.select(col("qgid"), col("v").as("qv"), col("n2").as("qn2"))
    val pair = cgSlim.crossJoin(broadcast(qgSlim))
      .select(col("qgid"), col("cgid"), col("gsize"),
        round(Similarity.cosineHoisted(col("qv"), col("qn2"), col("v"), col("n2")), 6)
          .as("cos_sim"))
    // Per (query-group, cos_sim value): docs strictly better = cumulative
    // group sizes of rows with cos_sim strictly greater. Grouping by the
    // cos_sim VALUE first makes rowsBetween(…, -1) exactly "strictly
    // greater" (desc NULLS LAST, matching the original window's ordering
    // of null/NaN cosines).
    val tie = pair.groupBy(col("qgid"), col("cos_sim"))
      .agg(sum(col("gsize")).as("tsize"), collect_list(col("cgid")).as("cgids"))
    val bw = Window.partitionBy("qgid").orderBy(col("cos_sim").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cand = tie
      .withColumn("better", coalesce(sum(col("tsize")).over(bw), lit(0L)))
      .filter(col("better") < legK)
      .select(col("qgid"), col("cos_sim"), explode(col("cgids")).as("cgid"))
      // cand is ≤ ~legK+ties rows per query group — AQE broadcasts it
      // into this join; cg's docs never shuffle through the kernel.
      .join(cg.select(col("cgid"), col("docs")), "cgid")
      .select(col("qgid"), col("cos_sim"), explode(col("docs")).as("doc_id"))
    val vw = Window.partitionBy("qgid")
      .orderBy(col("cos_sim").desc, col("doc_id").asc)
    val vec = cand
      .withColumn("vec_rank", row_number().over(vw))
      .filter(col("vec_rank") <= legK)
      .join(qg.select(col("qgid"), explode(col("qids")).as("query_id")), "qgid")
      .select(col("query_id"), col("doc_id"), col("vec_rank"))

    // RRF fusion over the union of the two bounded candidate lists.
    // Fixed two-term order (lex + vec); a missing leg contributes 0.0
    // (x + 0.0 == x exactly for the always-positive present term).
    val fw = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(RrfC) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("vec_rank")), lit(0.0))).as("rrf"))
      .withColumn("rank", row_number().over(fw).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("rrf"))
  }

  /** t17 — hybrid retrieval on the fixtures: eval-set docs (src0,
    * t10/t12's convention) as queries against the rest of the corpus,
    * embeddings joined on doc_id = vec_id.
    */
  def t17HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    hybridRrf(
      docs.filter(!(col("source") <=> lit(TextAnalysis.EvalSource))),
      docs.filter(col("source") <=> lit(TextAnalysis.EvalSource)),
      load(s, dir, "embeddings"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t17_hybrid_rrf" -> t17HybridRrf)

  val oracle: Map[String, String] = Map(
    // Lexical leg = the SHARED bm25Ctes builder (t12's gate text);
    // vector leg = s1's oracle formulation (list_cosine_similarity
    // over DOUBLE[], round-6, doc_id tie-break). The RRF terms are
    // integer-denominator divisions summed lex-then-vec — bit-equal
    // cross-engine, so `rrf` carries no rounding.
    "t17_hybrid_rrf" ->
      s"""WITH ${TextAnalysis.bm25Ctes(
             s"SELECT doc_id, text FROM documents WHERE source IS DISTINCT FROM '${TextAnalysis.EvalSource}'",
             s"SELECT doc_id, text FROM documents WHERE source IS NOT DISTINCT FROM '${TextAnalysis.EvalSource}'")},
         |hlex AS (SELECT query_id, doc_id, rank AS lex_rank
         |  FROM bmranked WHERE rank <= $LegK),
         |hemb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |hcv AS (SELECT d.doc_id, e.v
         |  FROM documents d JOIN hemb e ON e.vec_id = d.doc_id
         |  WHERE d.source IS DISTINCT FROM '${TextAnalysis.EvalSource}'),
         |hqv AS (SELECT d.doc_id AS query_id, e.v
         |  FROM documents d JOIN hemb e ON e.vec_id = d.doc_id
         |  WHERE d.source IS NOT DISTINCT FROM '${TextAnalysis.EvalSource}'),
         |hvs AS (SELECT q.query_id, c.doc_id,
         |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
         |  FROM hqv q CROSS JOIN hcv c),
         |hvr AS (SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, doc_id ASC) AS vec_rank
         |  FROM hvs),
         |hvec AS (SELECT query_id, doc_id, vec_rank FROM hvr
         |  WHERE vec_rank <= $LegK),
         |hf AS (SELECT query_id, doc_id,
         |    coalesce(CAST(1.0 AS DOUBLE) / ($RrfC + l.lex_rank), CAST(0.0 AS DOUBLE)) +
         |    coalesce(CAST(1.0 AS DOUBLE) / ($RrfC + v.vec_rank), CAST(0.0 AS DOUBLE)) AS rrf
         |  FROM hlex l FULL JOIN hvec v USING (query_id, doc_id)),
         |hr AS (SELECT query_id, doc_id, rrf,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id ASC) AS rank
         |  FROM hf)
         |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, rrf
         |FROM hr WHERE rank <= $TopK""".stripMargin)

  /** STAGED replay of the t17 oracle for gates where the composed form
    * exhausts the replay's disk (sf10): the lexical leg shares t12's
    * disease and cure ([[TextAnalysis.stagedBm25Stages]]), and the
    * vector leg applies the same collapse to QUERY VECTORS — the
    * top-LegK list (cos_sim to every corpus doc, doc_id tie-break) is
    * a pure function of the query's vector value, so queries sharing
    * a vector share their hvec rows, computed once per distinct
    * vector `vid` (sf10: 10,000 query vecs, 2,000 distinct) in 16
    * disjoint `vid % 16` buckets (row_number is PARTITION BY the
    * query key, so partitioning the vid set commutes with the window
    * and the vec_rank cap) and fanned back out by vector equality
    * (IS NOT DISTINCT FROM, so a NULL embedding's all-NULL-cos_sim
    * ranking — composed emits it — survives the collapse). All
    * expression strings (cosine rounding, rank orderings, the RRF
    * full-join fold) are the composed oracle's text verbatim.
    */
  def oracleStaged: Map[String, Seq[String]] = {
    val corpusSel =
      s"SELECT doc_id, text FROM documents WHERE source IS DISTINCT FROM '${TextAnalysis.EvalSource}'"
    val querySel =
      s"SELECT doc_id, text FROM documents WHERE source IS NOT DISTINCT FROM '${TextAnalysis.EvalSource}'"
    val vecBucketSels = (0 until 16).map { b =>
      s"""SELECT vid, doc_id, vec_rank FROM (
         |  SELECT vid, doc_id,
         |      row_number() OVER (PARTITION BY vid
         |        ORDER BY cos_sim DESC, doc_id ASC) AS vec_rank
         |  FROM (SELECT q.vid, c.doc_id,
         |          round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
         |        FROM (SELECT * FROM hxvrep WHERE vid % 16 = $b) q
         |        CROSS JOIN hxcv c) hvs) hvr
         |WHERE vec_rank <= $LegK""".stripMargin
    }
    Map("t17_hybrid_rrf" ->
      (TextAnalysis.stagedBm25Stages(corpusSel, querySel, "hx", LegK) ++ Seq(
        """CREATE TEMP TABLE hxlex AS
          |SELECT query_id, doc_id, rank AS lex_rank FROM hxqranked""".stripMargin,
        """CREATE TEMP TABLE hxemb AS
          |SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings""".stripMargin,
        s"""CREATE TEMP TABLE hxcv AS
           |SELECT d.doc_id, e.v
           |FROM documents d JOIN hxemb e ON e.vec_id = d.doc_id
           |WHERE d.source IS DISTINCT FROM '${TextAnalysis.EvalSource}'""".stripMargin,
        s"""CREATE TEMP TABLE hxqv AS
           |SELECT d.doc_id AS query_id, e.v
           |FROM documents d JOIN hxemb e ON e.vec_id = d.doc_id
           |WHERE d.source IS NOT DISTINCT FROM '${TextAnalysis.EvalSource}'""".stripMargin,
        """CREATE TEMP TABLE hxvrep AS
          |SELECT v, row_number() OVER (ORDER BY v) AS vid
          |FROM (SELECT DISTINCT v FROM hxqv) hvd""".stripMargin,
        s"CREATE TEMP TABLE hxvranked AS\n${vecBucketSels.head}") ++
        vecBucketSels.tail.map(sel => s"INSERT INTO hxvranked\n$sel") ++ Seq(
        """CREATE TEMP TABLE hxvec AS
          |SELECT q.query_id, r.doc_id, r.vec_rank
          |FROM hxvranked r
          |JOIN hxvrep g ON g.vid = r.vid
          |JOIN hxqv q ON q.v IS NOT DISTINCT FROM g.v""".stripMargin) ++ Seq(
        s"""SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, rrf FROM (
           |  SELECT query_id, doc_id, rrf,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY rrf DESC, doc_id ASC) AS rank
           |  FROM (SELECT query_id, doc_id,
           |      coalesce(CAST(1.0 AS DOUBLE) / ($RrfC + l.lex_rank), CAST(0.0 AS DOUBLE)) +
           |      coalesce(CAST(1.0 AS DOUBLE) / ($RrfC + v.vec_rank), CAST(0.0 AS DOUBLE)) AS rrf
           |    FROM hxlex l FULL JOIN hxvec v USING (query_id, doc_id)) hf) hr
           |WHERE rank <= $TopK""".stripMargin)))
  }
}
