package graft.stream

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Exact `{**prev, **new}` field-wise overlay state (ref
  * dashboard.py:363-365).
  *
  * For COMPLETE events (what the reference's publisher actually sends)
  * `max_by` is behavior-equivalent and is the right plan
  * ([[State.latestPerFacility]], SURVEY §7.4.5). This module covers the
  * general case the dict-merge implies — PARTIAL events that update only
  * the fields they carry — which no built-in aggregate expresses:
  * `flatMapGroupsWithState` holds one small state row per facility and
  * overlays arrivals field by field.
  *
  * Ordering: within a micro-batch events apply in event-time order
  * (deterministic under replay); across batches in arrival order — the
  * reference's thread applies arrival order throughout.
  */
object MergeState {

  /** A partial event: None = field absent from the payload. */
  final case class PartialEvent(
      facility_id: String, timestamp: String, event_ts_ms: Long,
      power_mw: Option[Double], co2_tonnes: Option[Double])

  /** The merged per-facility record. */
  final case class MergedState(
      facility_id: String, timestamp: String,
      power_mw: Double, co2_tonnes: Double)

  implicit private val peEnc: Encoder[PartialEvent] = Encoders.product[PartialEvent]
  implicit private val msEnc: Encoder[MergedState] = Encoders.product[MergedState]
  implicit private val keyEnc: Encoder[String] = Encoders.STRING

  private def overlay(key: String, cur: Option[MergedState],
      e: PartialEvent): MergedState =
    MergedState(
      facility_id = key,
      timestamp = e.timestamp,
      power_mw = e.power_mw.getOrElse(cur.map(_.power_mw).getOrElse(0.0)),
      co2_tonnes = e.co2_tonnes.getOrElse(cur.map(_.co2_tonnes).getOrElse(0.0)))

  /** One key's batch of events overlaid onto its previous state, in
    * event-time order: the merge both state APIs run.
    */
  private def merged(key: String, prev: Option[MergedState],
      events: Iterator[PartialEvent]): Option[MergedState] =
    events.toSeq.sortBy(e => (e.event_ts_ms, e.timestamp))
      .foldLeft(prev)((cur, e) => Some(overlay(key, cur, e)))

  def latestMerged(events: Dataset[PartialEvent]): Dataset[MergedState] =
    events.groupByKey(_.facility_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[PartialEvent], state: GroupState[MergedState]) =>
          val cur = merged(key, state.getOption, it)
          cur.foreach(state.update)
          cur.iterator
      }

  /** Same semantics on the `transformWithState` API (Spark 4's arbitrary
    * stateful processing: typed per-key state handles, RocksDB-backed) —
    * the forward-looking home for custom state; `flatMapGroupsWithState`
    * above remains for default-state-store deployments.
    */
  class MergeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, PartialEvent, MergedState] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[MergedState] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[MergedState](
        "merged", msEnc, org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[PartialEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[MergedState] = {
      val cur = merged(key, Option(state.get()), rows)
      cur.foreach(state.update)
      cur.iterator
    }
  }

  def latestMergedTws(events: Dataset[PartialEvent]): Dataset[MergedState] =
    events.groupByKey(_.facility_id)
      .transformWithState(new MergeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update)
}
