package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

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

  private val ExprId = "#\\d+L?".r
  private val PlanId = "plan_id=\\d+".r
  private val LambdaRef = "\\$Lambda\\$?[0-9]+/0x[0-9a-f]+@[0-9a-f]+".r

  /** Renumber expression ids (`#123`, `#45L`) and exchange `plan_id=N`
    * in order of first appearance, as Spark's PlanStabilitySuite does:
    * both are allocated from JVM-wide counters, so the same query
    * explained twice prints different numbers, while the renumbered
    * text keeps which references are the same attribute or exchange.
    * JVM lambda identities (`$Lambda$6073/0x…@63585495`, printed by
    * typed operators) differ per JVM and are cut to `$Lambda`.
    */
  private[graft] def normalize(plan: String): String = {
    def renumber(s: String, re: scala.util.matching.Regex, fmt: Int => String) = {
      val ids = re.findAllIn(s).distinct.zipWithIndex.toMap
      re.replaceAllIn(s, m => fmt(ids(m.matched) + 1))
    }
    LambdaRef.replaceAllIn(
      renumber(renumber(plan, ExprId, i => s"#$i"), PlanId, i => s"plan_id=$i"),
      scala.util.matching.Regex.quoteReplacement("$Lambda"))
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "EXPLAINS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plans")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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
      val df = SparkEntry.queries(n)(spark, dir)
      // Execute THIS dataframe (not a count() wrapper, which would plan
      // a different query) so its adaptive plan finalizes.
      df.collect()
      val p = normalize(df.queryExecution.explainString(FormattedMode))
      sb.append(s"\n## $n\n\n```\n$p```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
