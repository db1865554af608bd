package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The exact-twin collapse: run an expensive pipeline once per DISTINCT
  * key tuple (a text, a token array, a vector value, a name) instead of
  * once per row, and fan the results back out to every row holding that
  * key. On a corpus where each key is copied m times the per-key work
  * shrinks m-fold (and pair work m²-fold) while the output stays
  * row-identical to the per-row form.
  *
  * The contract every collapse shares:
  *  - [[hub]] is the only builder of group membership. Per distinct
  *    `keys` tuple it holds `rep = min(id)`, `members` = the sorted
  *    non-null ids and `mult` = the number of rows the group stands for.
  *    Null ids never join a group of real ids: rows with a null id form
  *    a group of their own per key tuple, with a null `rep`, no members
  *    and `mult` = their count. A null `rep` matches no equi-join, so
  *    such rows never pair and never fan out; they still weigh in any
  *    `sum(mult)` a cap or statistic takes, as on the per-row form.
  *  - [[byKey]] carries the doc-keyed operators (one output row set per
  *    document) and [[pairs]] the pair-shaped ones (`(a, b, score)`).
  *  - [[gate]] is the per-corpus verdict that turns a collapse on; the
  *    operators take it as `on` and hold no path of their own.
  */
object Collapse {

  /** The twin hub of `df`: `(keys…, rep, members, mult)`, one row per
    * distinct `keys` tuple and id nullness (see the contract above).
    * Persisted via OpCaches: every collapse reads it at least twice
    * (the per-key pipeline and the fan-out), so the input is scanned
    * once; MEMORY_AND_DISK so corpus scale spills, released by the
    * harnesses per query.
    */
  private[ops] def hub(df: DataFrame, keys: Seq[String], id: String): DataFrame =
    OpCaches.persisted(df
      .groupBy(keys.map(col) :+ col(id).isNull.as("null_id"): _*)
      .agg(min(col(id)).as("rep"), sort_array(collect_list(col(id))).as("members"),
        count(lit(1)).as("mult"))
      .drop("null_id"))

  /** Memoized exact-copy depth probe behind every stat-gated collapse:
    * one bounded Spark action, approx_count_distinct over
    * xxhash64(`keys`) of `table`, on iff the corpus is non-empty and
    * averages ≥ 1.2 copies per distinct key tuple (`10n ≥ 12·nd`). An
    * empty corpus reads off: 0 ≥ 0 would route degenerate inputs onto
    * the collapse plans, whose expanded-id nullability differs
    * (DegenerateCorpusSpec's schema-parity gate). Engine-side only, so
    * the hash never touches an oracle; both paths are row-identical, so
    * a misread costs time, never rows. The verdict is memoized on the
    * table's file listing per key tuple ([[graft.Tables.memoOnListing]]):
    * repeated calls pay one listing, an in-place rewrite probes again.
    */
  private[graft] def gate(s: SparkSession, dir: String, table: String,
      keys: Seq[String]): Boolean =
    graft.Tables.memoOnListing(s, dir, table, keys.mkString(",")) {
      val st = graft.Tables.spread(graft.Tables.load(s, dir, table))
        .agg(count(lit(1)).as("n"), approx_count_distinct(xxhash64(keys.map(col): _*)).as("nd"))
        .head
      st.getLong(0) > 0L && st.getLong(0) * 10L >= st.getLong(1) * 12L
    }

  /** The input rows of a pair-shaped collapse, `(keys…, rep, members,
    * mult)` on both forms: the [[hub]] when `on`; otherwise every row as
    * its own group (`rep` = its id, `members` = `[id]`, `mult = 1`),
    * unpersisted. An operator written over these rows, with every
    * corpus-wide count a `sum(mult)`, is the per-row form when off.
    */
  private[ops] def groups(df: DataFrame, keys: Seq[String], id: String,
      on: Boolean): DataFrame =
    if (on) hub(df, keys, id)
    else df.select(keys.map(col) ++ Seq(col(id).as("rep"), array(col(id)).as("members"),
      lit(1L).as("mult")): _*)

  /** `f` over `docs` (`doc_id` plus `keys`), twin-collapsed when `on`.
    *
    * `f` sees `(doc_id, keys…, mult)` on both forms: off, every document
    * with `mult = 1`; on, one row per [[hub]] group (`doc_id = rep`)
    * plus one `mult = 1` row per null-id copy. It is exact when
    *  - `f` reads only the key columns, `doc_id` and `mult`;
    *  - every corpus-wide term `f` computes is a `mult`-weighted sum
    *    (`sum(mult)` where the per-document form counts rows), or is
    *    insensitive to multiplicity (a `max` over a tag);
    *  - `f`'s output is keyed by `doc_id`: each output row belongs to the
    *    input row carrying that `doc_id`.
    * Output rows of a representative fan out to every member of its
    * group; null-id rows leave as they are, exactly the rows the direct
    * form gives them, so the result never depends on the twin gate.
    */
  def byKey(docs: DataFrame, keys: Seq[String], on: Boolean)(
      f: DataFrame => DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    if (!on) return f(docs.select(col("doc_id") +: keyCols :+ lit(1L).as("mult"): _*))
    val h = hub(docs, keys, "doc_id")
    // A null-id group becomes `mult` rows of weight 1 (the direct form's
    // per-copy rows). array_repeat, not sequence: sequence(1, 0) counts
    // DOWN to [1, 0].
    val nullId = col("rep").isNull
    val out = f(h
      .select(keyCols :+ explode(array_repeat(
        struct(col("rep").as("doc_id"), when(nullId, 1L).otherwise(col("mult")).as("mult")),
        when(nullId, col("mult")).otherwise(1L).cast("int"))).as("r"): _*)
      .select(col("r.doc_id").as("doc_id") +: keyCols :+ col("r.mult").as("mult"): _*))
    // Left join: null-id rows match no group and leave as they are
    // (explode_outer of the missing member list yields their null id).
    // The generator's outer output is nullable, which also keeps the
    // schema equal to the direct form's nullable doc_id.
    out.join(h.select(col("rep").as("doc_id"), col("members")), Seq("doc_id"), "left")
      .select(out.columns.toSeq.map(c =>
        if (c == "doc_id") explode_outer(col("members")).as("doc_id") else col(c)): _*)
  }

  /** Fan-out for the pair-shaped collapses (d2, d4, d5, d8b, d15, q62):
    * representative pairs and within-group pairs back to member pairs.
    * Off (`on = false`, rows from [[groups]]), every representative is
    * its own one member, so `repPairs` is the answer and returns as is;
    * `within` is then never built (Spark analyses a frame as it is
    * built, tens of milliseconds of driver time for a join).
    *
    *  - `repPairs` has exactly three columns `(a, b, score)`: two
    *    representative ids and the pair's score. The output keeps these
    *    three names.
    *  - `hub` maps each representative (`rep`) to its sorted `members`
    *    (a [[hub]] frame, or a projection of one).
    *  - `within` has one `(members, score)` row per group whose members
    *    pair with each other at that score.
    *  - `parts`, when given, is the partition count after the first
    *    explode of each leg. AQE sizes partitions from pre-expansion
    *    bytes and cannot see a generator's multiplication, and a
    *    partitioner cannot split one row, so the spread is keyed on the
    *    exploded member. Absent, the legs stay as AQE plans them.
    *
    * Cross pairs take every member of A × every member of B, one side
    * exploded at a time (a row never holds the m_a×m_b product), ordered
    * by least/greatest because member ids interleave across groups.
    * Each member pair arises from exactly one rep pair, so no distinct
    * is needed. Within pairs keep a < b through the sorted members and
    * posexplode/slice.
    */
  private[ops] def pairs(repPairs: DataFrame, hub: DataFrame, within: => DataFrame,
      parts: Option[Int] = None, on: Boolean = true): DataFrame = {
    if (!on) return repPairs
    val Array(a, b, score) = repPairs.columns
    def members(rep: String, as: String) =
      hub.select(col("rep").as(rep), col("members").as(as))
    val cross = spread(repPairs.join(members(a, "ms_a"), Seq(a))
        .join(members(b, "ms_b"), Seq(b))
        .select(col(b), col(score), col("ms_b"), explode(col("ms_a")).as("x")),
        parts, "x", b)
      .select(col(score), col("x"), explode(col("ms_b")).as("y"))
      .select(least(col("x"), col("y")).as(a), greatest(col("x"), col("y")).as(b),
        col(score))
    cross.unionByName(withinPairs(within, a, b, score, parts))
      .select(widen(a), widen(b), col(score))
  }

  /** The within-group leg of [[pairs]] alone, for d15's sparse-twin
    * path, which expands its cross pairs through its own broadcast of
    * the multi-member groups.
    */
  private[ops] def withinPairs(within: DataFrame, a: String, b: String,
      score: String, parts: Option[Int]): DataFrame =
    spread(within.select(col(score), col("members"),
        posexplode(col("members")).as(Seq("i", "x"))), parts, "x")
      .select(col("x").as(a),
        explode(slice(col("members"), col("i") + lit(2), size(col("members")))).as(b),
        col(score))

  private def spread(df: DataFrame, parts: Option[Int], keys: String*): DataFrame =
    parts.fold(df)(n => df.repartition(n, keys.map(col): _*))

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
