package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.util.matching.Regex

/** Writes EXPLAINS.md: the executed formatted physical plan of EVERY
  * registered query — the artifact of the "explain, then iterate" loop,
  * and the round-over-round plan-regression diff (a broadcast silently
  * flipping to shuffle shows up as a doc diff, not a bench surprise).
  * Regenerate with `sbt "runMain graft.Plans"` after plan-shape changes.
  *
  * Each section is [[normalize]]d, so a regeneration diff shows only the
  * plans that really changed.
  */
object Plans {

  // Each pattern is (kept prefix)(id). Expression ids drop their `L`
  // suffix, as they always have. Lambda variables (`lambda x_19`,
  // `lambda y_20`) share one counter, so x and y renumber together.
  private val Renumbered = Seq("(#)(\\d+)L?", "(plan_id=)(\\d+)", "(RDD\\[)(\\d+)",
    "(lambda [a-z]+_)(\\d+)").map(_.r)
  private val Cut = Seq("(\\[codegen id : )\\d+",
    "(?m)(QueryStage\\n(?:[^\\n]+\\n)*?Arguments: )\\d+$").map(_.r)
  private val LambdaRef = "\\$Lambda\\$?[0-9]+/0x[0-9a-f]+@[0-9a-f]+".r

  /** Renumber expression ids (`#123`, `#45L`), exchange `plan_id=N`, RDD
    * ids (a checkpointed scan's `MapPartitionsRDD[890]`) and lambda
    * variable names (`lambda x_19`) in order of first appearance, as
    * Spark's PlanStabilitySuite does: all are allocated from JVM-wide
    * counters, so the same query explained twice, or after a change to
    * the jobs run before it, prints different numbers, while the
    * renumbered text keeps which references are the same attribute,
    * exchange, RDD or lambda variable.
    *
    * Codegen stage ids (`[codegen id : 5]`) and query-stage ids (a
    * `…QueryStage`'s `Arguments: 3`) are cut to `_`. AQE numbers them in
    * the order its stages happen to finish, and a cached relation's plan
    * counts its own from 1, so the same number names different stages in
    * one section and no renumbering is canonical. JVM lambda identities
    * (`$Lambda$6073/0x…@63585495`, printed by typed operators) differ per
    * JVM and are cut to `$Lambda`.
    */
  private[graft] def normalize(plan: String): String = {
    val renumbered = Renumbered.foldLeft(plan) { (s, re) =>
      val ids = re.findAllMatchIn(s).map(_.group(2)).distinct.zipWithIndex.toMap
      re.replaceAllIn(s, m => Regex.quoteReplacement(m.group(1) + (ids(m.group(2)) + 1)))
    }
    val cut = Cut.foldLeft(renumbered)((s, re) => re.replaceAllIn(s, "$1_"))
    LambdaRef.replaceAllIn(cut, Regex.quoteReplacement("$Lambda"))
  }

  /** Executes query `n` on `dir` — the query's own dataframe, not a
    * count() wrapper, which would plan a different query — so its
    * adaptive plan finalizes, and returns the normalized formatted plan.
    */
  private def executed(spark: SparkSession, dir: String, n: String): String = {
    val df = SparkEntry.queries(n)(spark, dir)
    df.collect()
    normalize(df.queryExecution.explainString(FormattedMode))
  }

  /** `Plans [out.md]` rewrites EXPLAINS.md (or `out.md`) from sf0.001;
    * `Plans <outDir> <suffix> <dataDir> <query...>` writes
    * `<outDir>/<query>_<suffix>.txt` per named query instead. The
    * per-query form takes the data directory so a DUPLICATED corpus can
    * be used: the twin-collapse legs (`ops.Collapse`) are stat-gated per
    * corpus (`Collapse.gate`) and never execute on the twin-free
    * fixtures, so only a duplicated input shows the collapsed plan.
    * Four cores, whatever the host: plan text embeds partition counts.
    */
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-plans", cores = 4,
      // A broadcast hash relation's size is counted in whole memory
      // pages, and the default page size follows heap and cores: without
      // a fixed page q48's broadcast printed 16 MiB at a 3 GB heap and
      // 32 MiB at 6 GB.
      conf = Map("spark.buffer.pageSize" -> "32m"))
    try args match {
      case Array(outDir, suffix, dir, names @ _*) if names.nonEmpty =>
        Harness.requireKnown(names)
        Files.createDirectories(Paths.get(outDir))
        names.foreach { n =>
          val hdr = s"# $n ($suffix) — executed formatted plan on $dir\n\n"
          Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), hdr + executed(spark, dir, n))
          println(s"wrote ${n}_$suffix.txt")
        }
      case Array() | Array(_) => explains(spark, args.headOption.getOrElse("EXPLAINS.md"))
      case _ => sys.error("usage: Plans [out.md] | Plans <outDir> <suffix> <dataDir> <query>...")
    } finally spark.stop()
  }

  private def explains(spark: SparkSession, out: String): Unit = {
    val dir = "/root/testdata/sf0.001"
    // Curated family ordering first (stable diffs across rounds), then
    // EVERY remaining registered query appended sorted — full coverage
    // is spec-pinned (PlanChecksSpec "every registered query has an
    // EXPLAINS section"), so a new operator can't ship without its
    // executed plan landing here.
    val curated = Seq(
      "q1_agg", "q2_filter_project", "q3_join_agg", "q6_latest_per_key",
      "q7_time_bucket", "q12_topk", "q29_asof_join", "q31_date_window",
      "d1_exact_dedup", "d2_minhash_lsh", "d4_ngram_jaccard",
      "d8b_neardup_multiband", "q36_dq_profile", "q40_range_join",
      "s1_knn_cosine", "s2_ann_lsh", "s2b_ann_multiband", "s3_ivf_ann",
      "s7_kmeans_assign",
      "t1_quality_score", "t5_ngram_freq", "m2_frame_sample",
      "q41_topk_per_key", "q43_running_total", "q44_histogram",
      "q46_stats", "q48_zscore", "s6_ann_rerank",
      "d10_incremental_dedup", "q50_grouping_sets",
      "q54_scd2", "q55_weighted_pick", "q56_retention", "q57_hop_window",
      "t10_contamination",
      "s3b_ivf_trained", "c1_curation", "c2_curation_audit",
      "d11_semantic_dedup", "t11_pack", "q58_mixture_sample",
      "q59_token_budget", "q60_temperature_mix", "t12_bm25",
      "c3_curation_pack", "d12_substr_spans", "d13_span_scrub",
      "c4_cluster_split", "t13_contam_spans", "t15_lm_score",
      "c5_curation2", "d14_winnow", "d15_prefix_jaccard",
      "t16_importance", "q61_epoch_shuffle",
      "t12_bm25", "t17_hybrid_rrf", "m4_image_neardup", "s8_pq_trained")
      .distinct
    val names = curated ++
      (SparkEntry.queries.keySet -- curated).toSeq.sorted
    val sb = new StringBuilder
    sb.append("# EXPLAINS — executed physical plans of ALL registered queries\n\n")
    sb.append("Generated by `graft.Plans` on sf0.001 (plan shape is\n")
    sb.append("SF-independent). Each query is EXECUTED first, so every\n")
    sb.append("`AdaptiveSparkPlan` below is the FINAL runtime plan\n")
    sb.append("(`isFinalPlan=true`) — AQE's runtime decisions (exchange\n")
    sb.append("reuse as `ReusedExchange`/`TableCacheQueryStage`, join\n")
    sb.append("demotions, partition coalescing) are visible, where the\n")
    sb.append("pre-execution static plan can show duplicated subtrees that\n")
    sb.append("never actually run twice (the round-3 d2 confusion). What to\n")
    sb.append("look for: `PushedFilters`/`ReadSchema` on every scan,\n")
    sb.append("`BroadcastHashJoin` on dim joins, paired `HashAggregate`s\n")
    sb.append("(partial+final), `WholeStageCodegen` spans, `ReusedExchange`\n")
    sb.append("under self-joins, and the absence of exchanges where none\n")
    sb.append("are needed. Caveat: queries whose output passes through a\n")
    sb.append("`localCheckpoint` (the label-propagation family — d11, and\n")
    sb.append("d9 inside c1/c2) dump only the post-checkpoint projection\n")
    sb.append("here because the checkpoint truncates lineage; their\n")
    sb.append("load-bearing pre-checkpoint plans (one assignment pass\n")
    sb.append("reused across the self-join) are pinned in PlanChecksSpec.\n")
    names.foreach { n =>
      sb.append(s"\n## $n\n\n```\n${executed(spark, dir, n)}```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
  }
}
