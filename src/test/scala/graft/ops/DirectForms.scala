package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-document, row-COUNTING forms of t10, t15 and t16, kept as the
  * semantic spec their [[Collapse.byKey]] pipelines are tested against
  * (PropertySpec): the engine now writes each corpus-wide count as
  * `sum(mult)` over one pipeline, so comparing collapse against its own
  * `mult = 1` form alone would test the pipeline against itself. These
  * are the pipelines as they stood before the combinator, with
  * `count(1)` / `sum(1)` where the engine sums `mult`.
  */
object DirectForms {
  import TextAnalysis.{ngrams, toks}

  /** t15 over any `(doc_id, text)` frame. */
  def lmScore(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        posexplode(
          when(size(col("tk")) >= 2,
            transform(sequence(lit(1), size(col("tk")) - 1),
              i => struct(element_at(col("tk"), i).as("w1"),
                element_at(col("tk"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>"))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
    val p = bg
      .withColumn("n2", count(lit(1)).over(Window.partitionBy("w1", "w2")))
      .withColumn("n1", count(lit(1)).over(Window.partitionBy("w1")))
      .select(col("doc_id"), col("pos"),
        (col("n2").cast("double") / col("n1").cast("double")).as("p"))
    val scored = p.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"), col("n_bigrams"),
        (aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("p")) /
          col("n_bigrams").cast("double")).as("lm_score"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_score"))
  }

  /** t16 over any `(doc_id, lang, text)` frame (target lang "en"). */
  def importanceWeights(docs: DataFrame): DataFrame = {
    val tk = docs
      .select(col("doc_id"),
        (col("lang") <=> lit("en")).cast("int").as("tgt"),
        toks(col("text")).as("tk"))
      .select(col("doc_id"), col("tgt"), posexplode(col("tk")))
      .select(col("doc_id"), col("tgt"), (col("pos") + 1).as("pos"),
        conv(substring(md5(col("col")), 1, 2), 16, 10).cast("long").as("b"))
    val r = tk
      .withColumn("cnt_t", sum(col("tgt")).over(Window.partitionBy("b")))
      .withColumn("cnt_r", count(lit(1)).over(Window.partitionBy("b")))
      .select(col("doc_id"), col("pos"),
        (col("cnt_t").cast("double") / col("cnt_r").cast("double")).as("r"))
    val scored = r.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sort_array(collect_list(struct(col("pos"), col("r")))).as("rs"))
      .select(col("doc_id"), col("n_tokens"),
        (aggregate(col("rs"), lit(0.0), (a, x) => a + x.getField("r")) /
          col("n_tokens").cast("double")).as("imp_weight"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("imp_weight"))
  }

  /** t10 over any `(doc_id, source, text)` frame. */
  def contamination(docs: DataFrame, evalSource: String,
      maxPostings: Int): DataFrame =
    docs
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(ngrams(col("t"), 5))).as("sh"))
      .withColumn("_np",
        sum(when(!(col("source") <=> evalSource), 1L).otherwise(0L))
          .over(Window.partitionBy("sh")))
      .filter(col("_np") <= maxPostings)
      .groupBy("sh")
      .agg(
        sum(when(col("source") <=> evalSource, 1L).otherwise(0L)).as("n_eval"),
        collect_set(when(!(col("source") <=> evalSource), col("doc_id"))).as("docs"))
      .filter(col("n_eval") > 0)
      .select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_shingles"))
}
