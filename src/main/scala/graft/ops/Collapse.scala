package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The exact-twin collapse: run a document-keyed pipeline once per
  * DISTINCT key tuple (a text, or a text plus a side tag) instead of once
  * per document, and fan the results back out to every document holding
  * that key. On a corpus where each text is copied m times the expensive
  * per-text work (md5 passes, window hashing, tokenizing) shrinks m-fold
  * while the output stays row-identical to the per-document form.
  *
  * [[byKey]] is exact under this contract on `f`:
  *  - `f` reads only the key columns, `doc_id` and `mult` (the number of
  *    documents a row stands for; 1 on the direct form);
  *  - every corpus-wide term `f` computes is a `mult`-weighted sum
  *    (`sum(mult)` where the per-document form counts rows), or is
  *    insensitive to multiplicity (a `max` over a tag);
  *  - `f`'s output is keyed by `doc_id`: each output row belongs to the
  *    input row carrying that `doc_id`.
  *
  * Null ids: a document with a null `doc_id` is never collapsed. It
  * reaches `f` as its own row with `mult = 1`, and its output rows leave
  * without expansion — exactly the rows the direct form gives it, so the
  * result never depends on which path the twin gate picks.
  */
object Collapse {

  /** `f` over `docs` (`doc_id` plus `keys`), twin-collapsed when `on`.
    *
    * On: per distinct key tuple, the persisted hub holds the
    * representative (`min(doc_id)`) with `mult` = the number of non-null
    * ids and the sorted `members`, plus one `mult = 1` row per null-id
    * copy. `f` runs over the hub; its non-null rows fan out to every
    * member of their group. Off: `f` runs over `docs` with `mult = 1`.
    * Both forms hand `f` the same columns.
    */
  def byKey(docs: DataFrame, keys: Seq[String], on: Boolean)(
      f: DataFrame => DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    if (!on) return f(docs.select(col("doc_id") +: keyCols :+ lit(1L).as("mult"): _*))
    // One hub row per representative plus one `mult = 1` row per null-id
    // copy, both from the one grouping. Persisted via OpCaches: f's
    // passes and the fan-out all read it, so documents are scanned once;
    // released by the harnesses per query. array_repeat, not sequence:
    // sequence(1, 0) counts DOWN to [1, 0].
    val hub = OpCaches.persisted(docs.groupBy(keyCols: _*)
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"),
        count(col("doc_id")).as("n_ids"),
        (count(lit(1)) - count(col("doc_id"))).as("n_null"))
      .select(keyCols :+ col("members") :+ explode(concat(
        array_repeat(struct(col("rep").as("doc_id"), col("n_ids").as("mult")),
          (col("n_ids") > 0).cast("int")),
        array_repeat(struct(lit(null).cast(docs.schema("doc_id").dataType).as("doc_id"),
          lit(1L).as("mult")), col("n_null").cast("int")))).as("r"): _*)
      .select(col("r.doc_id").as("doc_id") +: keyCols :+ col("r.mult").as("mult") :+
        col("members"): _*))
    val out = f(hub.select(col("doc_id") +: keyCols :+ col("mult"): _*))
    // Left join: null-id rows match no group and leave as they are
    // (explode_outer of the missing member list yields their null id).
    // The generator's outer output is nullable, which also keeps the
    // schema equal to the direct form's nullable doc_id.
    out.join(hub.select(col("doc_id"), col("members")), Seq("doc_id"), "left")
      .select(out.columns.toSeq.map(c =>
        if (c == "doc_id") explode_outer(col("members")).as("doc_id") else col(c)): _*)
  }

  /** Fan-out for the PAIR-shaped collapses (d2, d4), whose output is
    * `(doc_a, doc_b, score)` pairs rather than doc-keyed rows.
    * `repPairs` scores pairs of representatives, `members` maps each
    * representative (`rep`) to its sorted member list, and `within` has
    * one `(members, score)` row per multi-member group whose twins pair
    * with each other. Cross pairs take every member of A × every member
    * of B, one side exploded at a time (a row never holds the product),
    * ordered by least/greatest because member ids interleave across
    * groups; within pairs keep doc_a < doc_b through the sorted members
    * and posexplode/slice.
    */
  private[ops] def pairs(repPairs: DataFrame, members: DataFrame,
      within: DataFrame, score: String): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rep").as("doc_a"), col("members").as("ms_a")), Seq("doc_a"))
      .join(members.select(col("rep").as("doc_b"), col("members").as("ms_b")), Seq("doc_b"))
      .select(col(score), col("ms_b"), explode(col("ms_a")).as("x"))
      .select(col(score), col("x"), explode(col("ms_b")).as("y"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"), col(score))
    val inside = within
      .select(col(score), col("members"), posexplode(col("members")).as(Seq("i", "x")))
      .select(col("x").as("doc_a"),
        explode(slice(col("members"), col("i") + lit(2), size(col("members")))).as("doc_b"),
        col(score))
    cross.unionByName(inside)
      .select(widen("doc_a"), widen("doc_b"), col(score))
  }

  /** Schema parity with the per-document form: least/greatest and explode
    * outputs are non-nullable, the direct form's grouping keys are
    * nullable, and a caller switching corpora (and so paths) must see ONE
    * schema (DegenerateCorpusSpec pins it). `when(isNotNull, …)` widens
    * nullability at ANALYSIS time, where Dataset.schema is read; the
    * optimizer's NullPropagation folds it away before execution.
    * (Dataset.to leaves a relaxed nullability non-nullable.)
    */
  private def widen(c: String): Column = when(col(c).isNotNull, col(c)).as(c)
}
