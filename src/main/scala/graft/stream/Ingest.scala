package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Stream ingest: decode → route → validate → enrich (ref
  * dashboard.py:327-445).
  *
  * Works identically on batch and streaming DataFrames (all operations are
  * stream-safe): the input is a single `value: string` column of JSON
  * events — the shape a Kafka/MQTT source delivers.
  *
  * Error handling is channel-based (T8): malformed / invalid / unmatched
  * records are *routed*, never dropped silently and never crashing the
  * query — `validated` and `rejects` partition the input exactly.
  */
object Ingest {

  /** Superset of both event schemas: ONE `from_json` pass decodes every
    * event; routing then looks at which id field materialized. Parsing is
    * the ingest hot path's dominant cost — parsing each event once, not
    * once per candidate schema, halves it.
    */
  private val unionSchema: org.apache.spark.sql.types.StructType = {
    val fields = (Schemas.facilityEvent.fields ++ Schemas.marketEvent.fields)
      .groupBy(_.name).map(_._2.head).toArray
    org.apache.spark.sql.types.StructType(fields.sortBy(_.name))
  }

  /** Route by key presence (ref dashboard.py:341,376 P12): a facility
    * event has facility_id, a market event region_id; the warm-start probe
    * (`{"timestamp":"starting...", …}`, publisher.py:29-37) has neither.
    */
  private def decoded(raw: DataFrame): DataFrame = raw
    .withColumn("e", from_json(col("value"), unionSchema))
    .withColumn("kind",
      when(col("e.facility_id").isNotNull, "facility")
        .when(col("e.region_id").isNotNull, "market")
        .otherwise("reject"))

  /** Pydantic-equivalent constraints (ref dashboard.py:312-322 P13),
    * the one validity rule of an event of a kind whose id field is `id`:
    * non-empty trimmed id, timestamp ≥ 20 chars (ISO with offset) that
    * parses. `field` resolves a field name to its column, so the
    * validated frames (flat fields) and [[rejects]] (the decoded `e`
    * struct) test the same predicate.
    */
  private def valid(id: String, field: String => Column): Column = {
    val ts = field("timestamp")
    // try_to_timestamp: ANSI mode would throw on unparseable input — the
    // dead-letter path must classify bad rows, not crash the stream.
    length(trim(field(id))) > 0 &&
      (ts.isNotNull && length(ts) >= 20 && try_to_timestamp(ts).isNotNull)
  }

  /** The id field of each routed kind. */
  private val idOf = Map("facility" -> "facility_id", "market" -> "region_id")

  /** The valid events of one routed kind, flattened to its schema;
    * `measures` default to 0.0 like the Pydantic `float = 0.0` fields.
    */
  private def events(raw: DataFrame, kind: String,
      schema: org.apache.spark.sql.types.StructType, measures: Seq[String]): DataFrame =
    decoded(raw).filter(col("kind") === kind)
      .select(schema.fieldNames.toIndexedSeq.map(f => col(s"e.$f")): _*)
      .filter(valid(idOf(kind), col))
      .na.fill(0.0, measures)
      .withColumn("event_ts", try_to_timestamp(col("timestamp")))

  def facilityEvents(raw: DataFrame): DataFrame =
    events(raw, "facility", Schemas.facilityEvent, Seq("power_mw", "co2_tonnes"))

  def marketEvents(raw: DataFrame): DataFrame =
    events(raw, "market", Schemas.marketEvent, Seq("price_dmwh", "demand_mw"))

  /** Dead-letter channel: malformed JSON, the warm-start probe, and
    * events failing validation (ref dashboard.py:357-359,407-414) — per
    * kind the complement of [[events]], by the same [[valid]] rule.
    */
  def rejects(raw: DataFrame): DataFrame =
    decoded(raw)
      .filter(idOf.foldLeft(col("kind") === "reject") { case (acc, (kind, id)) =>
        acc || (col("kind") === kind && !valid(id, f => col(s"e.$f")))
      })
      .select(col("value"), col("kind").as("reject_stage"))

  /** Stream-static enrichment join (ref dashboard.py:346-359, J7): each
    * facility event gains the dim attributes via a broadcast join; lookup
    * misses go to a side channel (the reference's JDBC-fallback-then-drop
    * becomes: emit to `misses`, refresh the dim out-of-band per batch,
    * SURVEY §7.4.7 — never mutate a dim mid-query).
    */
  def enrichFacility(events: DataFrame, facilityDim: DataFrame): DataFrame =
    events.join(broadcast(facilityDim), Seq("facility_id"), "left_outer")

  def enrichmentMisses(events: DataFrame, facilityDim: DataFrame): DataFrame =
    events.join(broadcast(facilityDim.select(col("facility_id"))),
      Seq("facility_id"), "left_anti")

  /** Enrichment with a dim that grows between micro-batches (ref
    * dashboard.py:277-307 — the stream that extends its own lookup table;
    * SURVEY §7.4.7): `foreachBatch` re-evaluates `dimProvider` per batch,
    * so a refreshed dimension (e.g. re-read from its table after an
    * upsert job) applies to the NEXT batch — state never mutates inside a
    * running query. Matches append to `dir/enriched`, misses to
    * `dir/misses` (the side channel a dim-upsert job consumes).
    */
  def enrichWithRefresh(events: DataFrame, dimProvider: () => DataFrame,
      dir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dim = dimProvider() // snapshot for this batch only
        enrichFacility(batch, dim)
          .filter(col("region").isNotNull)
          .write.mode("overwrite").parquet(s"$dir/enriched/batch_$batchId")
        enrichmentMisses(batch, dim)
          .write.mode("overwrite").parquet(s"$dir/misses/batch_$batchId")
      }
      .start()

  /** The full reference fallback loop (S10/J8, dashboard.py:277-307)
    * over a JDBC lookup: per micro-batch, snapshot the lookup via
    * `spark.read.jdbc`, enrich, land misses on the side channel AND
    * resolve them against the upstream registry with an idempotent
    * lookup upsert ([[graft.sources.JdbcLookup.resolveMisses]]) — so the
    * next batch's snapshot enriches them. Same never-mutate-mid-query
    * contract as [[enrichWithRefresh]]; the dim provider is just the
    * database now.
    */
  def enrichWithJdbcLookup(events: DataFrame, url: String,
      dir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val dim = graft.sources.JdbcLookup.readLookup(spark, url)
        enrichFacility(batch, dim)
          .filter(col("region").isNotNull)
          .write.mode("overwrite").parquet(s"$dir/enriched/batch_$batchId")
        enrichmentMisses(batch, dim)
          .write.mode("overwrite").parquet(s"$dir/misses/batch_$batchId")
        // Resolve from the parquet just written, not the lazy frame: the
        // side channel and the resolved set stay one snapshot, and the
        // batch⋈dim plan doesn't re-execute (with a third lookup read)
        // per micro-batch.
        graft.sources.JdbcLookup.resolveMisses(spark, url,
          spark.read.parquet(s"$dir/misses/batch_$batchId")): Unit
      }
      .start()

  /** Region enrichment (ref dashboard.py:384, J9): 5-row broadcast dim. */
  def enrichMarket(events: DataFrame, regionDim: DataFrame): DataFrame =
    events.join(broadcast(regionDim), Seq("region_id"), "left_outer")
}
