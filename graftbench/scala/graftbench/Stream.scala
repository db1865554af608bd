package graftbench

import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.stream.{Ingest, State}

/** The live path: an open-loop feed of Kafka-shaped JSON facility events
  * (a `value: string` column) → `Ingest.facilityEvents` →
  * `Ingest.enrichFacility` (broadcast facility dimension) →
  * `State.latestPerFacility` in update mode on the RocksDB state store, into
  * a `foreachBatch` sink that stamps the emission time of every row.
  *
  * Event `i` is a pure function of (seed, i): it names one of 500
  * facilities, carries the timestamp T0 + i seconds (so every emitted
  * latest-per-key row names its newest contributor exactly), and every
  * `MalformedEvery`-th event is a planted malformed one.
  */
object Stream {
  val Facilities = 500
  /** Facilities F000…F489 are in the dimension; the rest miss enrichment. */
  val InDimension = 490
  val MalformedEvery = 97
  /** Bursts per run: the median drain and the per-event cost need several. */
  val MinBursts = 5
  /** Shortest fixed-rate phase: enough micro-batches for a steady p99. */
  val PhaseSeconds = 6.0
  /** p99 at a fixed rate is taken per window of this many seconds, by due
    * time, and the median over the phase's windows is reported. At a high
    * rate every facility's newest event waits about one batch, so the
    * events of one batch have nearly the same latency, and a p99 over the
    * whole phase is the slowest batch alone.
    */
  val WindowSeconds = 2.0
  /** The reference dashboard refreshes every 3 s: the latency limit. */
  val LimitMs = 3000.0
  /** The fitted sustained rate is confirmed by a fixed-rate phase of
    * `PhaseSeconds` at this share of it, stepping down by the same factor
    * after a failed phase, at most `ConfirmTries` times.
    */
  val ConfirmShare = 0.9
  val ConfirmTries = 3
  /** No rate above this many times the high rate is run: one generator
    * thread builds every event.
    */
  val MaxRateFactor = 10.0
  private val T0 = OffsetDateTime.parse("2025-10-21T00:00:00+10:00").toEpochSecond
  private val Offset = ZoneOffset.ofHours(10)

  private val Format = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")

  def timestamp(i: Long): String =
    Format.format(OffsetDateTime.ofInstant(Instant.ofEpochSecond(T0 + i), Offset))

  def indexOf(ts: String): Long = OffsetDateTime.parse(ts).toEpochSecond - T0

  def malformed(i: Long): Boolean = i % MalformedEvery == MalformedEvery - 1

  def event(seed: Long, i: Long): String = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val f = f"F${r.nextInt(Facilities)}%03d"
    val power = r.nextInt(100000) / 100.0
    val co2 = r.nextInt(10000) / 100.0
    if (!malformed(i))
      s"""{"facility_id":"$f","timestamp":"${timestamp(i)}","power_mw":$power,"co2_tonnes":$co2}"""
    else (i / MalformedEvery) % 3 match {
      case 0 => s"""{"facility_id":"$f","timestamp":"${timestamp(i).take(10)}"""
      case 1 => s"""{"facility_id":"$f","timestamp":"starting...","power_mw":$power,"co2_tonnes":$co2}"""
      case _ => s"""{"facility_id":"  ","timestamp":"${timestamp(i)}","power_mw":$power,"co2_tonnes":$co2}"""
    }
  }

  def dimension(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val regions = graft.model.Schemas.regions.map(_._1)
    (0 until InDimension).map(k => (f"F$k%03d", regions(k % regions.size)))
      .toDF("facility_id", "region")
  }

  /** A stretch of the feed: `count` events from index `first`, the k-th due
    * at `startNs + k / rate` (a burst has rate = ∞: all due at `startNs`).
    * A burst's events are built before it starts (`prebuilt`), so that its
    * drain time holds no event synthesis.
    */
  final case class Phase(name: String, first: Long, count: Long, rate: Double, startNs: Long,
      prebuilt: IndexedSeq[String] = null) {
    def due(i: Long): Long =
      if (rate.isInfinite) startNs else startNs + ((i - first) * 1e9 / rate).toLong
    def dueBy(now: Long): Long =
      if (now < startNs) 0L
      else if (rate.isInfinite) count
      else math.min(count, ((now - startNs) / 1e9 * rate).toLong + 1)
  }

  /** The one generator thread: adds every event as it falls due, never
    * slowed by the system under test. Records how late each add ran.
    */
  final class Generator(mem: MemoryStream[String], seed: Long) extends Thread("graftbench-generator") {
    setDaemon(true)
    @volatile private var phase: Phase = _
    @volatile private var stopping = false
    @volatile var next = 0L
    val phases = mutable.ArrayBuffer.empty[Phase]
    val lateMs = mutable.ArrayBuffer.empty[(Long, Double)] // (due ns, ms late)
    /** Source offset → index one past the last event it holds. */
    val offsetEnd = new ConcurrentHashMap[Long, Long]()

    def begin(name: String, count: Long, rate: Double,
        prebuilt: IndexedSeq[String] = null): Phase = synchronized {
      val p = Phase(name, next, count, rate, System.nanoTime(), prebuilt)
      phases += p; phase = p; p
    }

    def done: Boolean = { val p = phase; p == null || next >= p.first + p.count }

    def halt(): Unit = { stopping = true; join(10000) }

    def phaseOf(i: Long): Phase = synchronized(phases.findLast(_.first <= i).orNull)

    def due(i: Long): Long = phaseOf(i).due(i)

    /** Index of the first event in micro-batch `p`. */
    def firstIndex(p: StreamingQueryProgress): Long =
      Option(p.sources.head.startOffset).filter(_ != "null")
        .map(o => offsetEnd.getOrDefault(o.toLong, 0L)).getOrElse(0L)

    override def run(): Unit = while (!stopping) {
      val p = phase
      if (p != null) {
        val now = System.nanoTime()
        val upTo = p.first + p.dueBy(now)
        if (upTo > next) {
          val from = next
          val events =
            if (p.prebuilt != null) p.prebuilt.slice((from - p.first).toInt, (upTo - p.first).toInt)
            else (from until upTo).map(event(seed, _))
          val off = mem.addData(events)
          offsetEnd.put(off.json.toLong, upTo)
          synchronized(lateMs += ((p.due(from), (System.nanoTime() - p.due(from)) / 1e6)))
          next = upTo
        }
      }
      Thread.sleep(1)
    }
  }

  final case class Result(metrics: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failed: Long, firstTimedMs: Long, record: Map[String, Double],
      spans: String)

  /** Latency samples (ms) per phase name, and the final emitted state. */
  private final class Sink(gen: Generator, tr: Tracer) {
    /** Phase → (ns from the phase's start to the event's due time, latency ms). */
    val lat = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Long, Double)]]()
    val state = new ConcurrentHashMap[String, (String, Double, Double)]()
    @volatile var emitted = 0L

    private def samples(phase: String): Seq[(Long, Double)] =
      Option(lat.get(phase)).map(b => b.synchronized(b.toSeq)).getOrElse(Nil)

    def latencies(phase: String): Seq[Double] = samples(phase).map(_._2)

    /** Median over the phase's `WindowSeconds` windows of each one's p99. */
    def p99(phase: String): Double = Batch.median(
      samples(phase).groupBy(_._1 / (WindowSeconds * 1e9).toLong).values
        .map(w => quantile(w.map(_._2), 0.99)).toSeq)

    def apply(df: DataFrame, batchId: Long): Unit = {
      val t0 = System.nanoTime()
      val rows = df.collect()
      val at = System.nanoTime()
      emitted += rows.length
      rows.foreach { r =>
        val ts = r.getString(1)
        val i = indexOf(ts)
        val p = gen.phaseOf(i)
        val buf = lat.computeIfAbsent(p.name, _ => mutable.ArrayBuffer.empty[(Long, Double)])
        buf.synchronized(buf += ((p.due(i) - p.startNs, (at - p.due(i)) / 1e6)))
        state.put(r.getString(0), (ts, r.getDouble(2), r.getDouble(3)))
      }
      tr.add(s"sink batch $batchId", "sink", t0, at)
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, traced: Boolean,
      lowRate: Double, highRate: Double, burst: Long, cores: Int, work: String): Result = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing: a commit writes the batch's changes, and full
    // snapshots are uploaded in the background, as a deployment runs it.
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val tr = new Tracer
    val counters = new Counters(tr)
    val dim = dimension(spark).cache()
    dim.count()
    val mem = MemoryStream[String](1, spark, Some(cores))(Encoders.STRING)
    val gen = new Generator(mem, seed)
    val sink = new Sink(gen, tr)
    tr.on = traced
    val latest = tr.span("build pipeline", "stream.build") {
      State.latestPerFacility(Ingest.enrichFacility(Ingest.facilityEvents(mem.toDF()), dim))
    }
    val q = latest.writeStream.outputMode("update")
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
      .start()
    gen.start()

    def feed(name: String, count: Long, rate: Double): Double = {
      val prebuilt =
        if (rate.isInfinite) (gen.next until gen.next + count).map(event(seed, _)) else null
      val p = gen.begin(name, count, rate, prebuilt)
      while (!gen.done) Thread.sleep(2)
      q.processAllAvailable()
      (System.nanoTime() - p.startNs) / 1e9
    }

    try {
      // Warm-up: codegen, the RocksDB native library and the state store
      // files, at the low rate and one half-size burst.
      feed("warm", (lowRate * 2).toLong, lowRate)
      feed("warm", burst / 2, Double.PositiveInfinity)
      q.processAllAvailable()
      val warmBatches = q.recentProgress.length

      if (traced) counters.attach(spark)
      val base = counters.snapshot
      val emittedBefore = sink.emitted
      val firstTimedMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val phase = math.max(PhaseSeconds, seconds * 0.3)
      feed("low", (lowRate * phase).toLong, lowRate)
      feed("high", (highRate * phase).toLong, highRate)
      val drains = mutable.ArrayBuffer.empty[(Boolean, Double)]
      while ((System.nanoTime() - t0) / 1e9 < seconds || drains.size < MinBursts) {
        // Traced runs alternate listener on/off per burst: the difference
        // is the tracing overhead.
        val on = traced && drains.size % 2 == 0
        if (traced && !on) counters.detach(spark)
        drains += on -> feed("burst", burst, Double.PositiveInfinity)
        if (traced && !on) counters.attach(spark)
      }
      def timedBatches = q.recentProgress.toSeq.drop(warmBatches).filter(_.numInputRows > 0)
      // Confirm the fitted rate: run at it (a share of it) and keep the
      // first rate at which p99 stays within the limit and the phase drains
      // within the limit of its last event's due time.
      val fitted = fitRate(sink, gen, timedBatches)
      var rate = math.min(fitted, highRate * MaxRateFactor) * ConfirmShare
      var confirmed = Double.NaN
      var tries = 0
      while (confirmed.isNaN && tries < ConfirmTries && rate > highRate) {
        val name = s"confirm$tries"
        val count = (rate * PhaseSeconds).toLong
        val tailMs = (feed(name, count, rate) - (count - 1) / rate) * 1e3
        val p99 = quantile(sink.latencies(name), 0.99)
        System.err.println(f"[graftbench] confirm $rate%.0f events/s: p99 $p99%.0f ms, " +
          f"drained $tailMs%.0f ms after the last event was due")
        if (p99 <= LimitMs && tailMs <= LimitMs) confirmed = rate else rate *= ConfirmShare
        tries += 1
      }
      if (confirmed.isNaN) {
        // No confirmation: the highest fixed rate that kept within the limit.
        confirmed = Seq(highRate, lowRate)
          .find(r => sink.p99(if (r == highRate) "high" else "low") <= LimitMs)
          .getOrElse(Double.NaN)
        System.err.println(s"[graftbench] fitted rate not confirmed; sustained: $confirmed")
      }
      if (traced) counters.detach(spark)
      val d = Counters.delta(counters.snapshot, base)
      val progress = q.recentProgress.toSeq
      val timed = progress.drop(warmBatches).filter(_.numInputRows > 0)

      val metrics = endToEnd(sink, timed, drains.map(_._2).toSeq) +
        ("sustained_eps" -> confirmed)
      System.err.println("[graftbench] batches (events:ms): " +
        timed.map(p => f"${p.numInputRows}:${dur(p, "triggerExecution")}%.0f").mkString(" ") +
        "; burst drains: " + drains.map(d => f"${d._2}%.3f s").mkString(" "))
      val layers = if (!traced) Map.empty[String, Double] else
        streamLayers(tr, gen, timed, d, drains.toSeq, cores, (System.nanoTime() - t0) / 1e9) +
          ("stream.out_rows" -> (sink.emitted - emittedBefore).toDouble)

      q.stop()
      gen.halt()
      val (attempted, failed, channels) = check(spark, seed, gen.next, progress, sink, dim)
      Result(metrics, if (traced) layers ++ channels else layers, attempted, failed,
        firstTimedMs, Map("events" -> gen.next.toDouble, "batches" -> progress.size.toDouble,
          "fitted_eps" -> fitted, "confirm_tries" -> tries.toDouble),
        tr.json)
    } finally {
      if (q.isActive) q.stop()
      gen.halt()
    }
  }

  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, (q * s.size).toInt))
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Latency at each fixed rate and the burst drain. */
  private def endToEnd(sink: Sink, timed: Seq[StreamingQueryProgress],
      drains: Seq[Double]): Map[String, Double] = Map(
    "pass_s" -> Batch.median(drains),
    "lat_p50_ms.low" -> quantile(sink.latencies("low"), 0.5),
    "lat_p99_ms.low" -> sink.p99("low"),
    "lat_p50_ms.high" -> quantile(sink.latencies("high"), 0.5),
    "lat_p99_ms.high" -> sink.p99("high"))

  /** The rate to confirm, from a batch cost model d(n) = a + b·n: `b` from
    * the burst batches (given the median low-rate batch), then `a` from
    * every fixed-rate batch. Back-to-back batches at rate r settle at
    * d = a / (1 − b·r); below 1/b the backlog does not grow. At a high
    * rate the sampled event (the newest of its facility) waits about one
    * batch, so p99 = k·d, with k = the high rate's p99 over its median
    * batch. Returns the r with k·d = LimitMs.
    */
  private def fitRate(sink: Sink, gen: Generator, timed: Seq[StreamingQueryProgress]): Double = {
    def inPhase(name: String) =
      timed.filter(p => Option(gen.phaseOf(gen.firstIndex(p))).exists(_.name == name))
    def d(p: StreamingQueryProgress) = dur(p, "triggerExecution") / 1e3
    val a0 = Batch.median(inPhase("low").map(d))
    val b = Batch.median(inPhase("burst").map(p => (d(p) - a0) / p.numInputRows))
    val a = Batch.median((inPhase("low") ++ inPhase("high")).map(p => d(p) - b * p.numInputRows))
    val k = math.max(1.0,
      sink.p99("high") / 1e3 / Batch.median(inPhase("high").map(d)))
    val r = (1.0 - k * a / (LimitMs / 1e3)) / b
    System.err.println(f"[graftbench] batch model: a $a%.3f s, b ${b * 1e6}%.2f us/event, " +
      f"k $k%.2f, fitted rate $r%.0f events/s")
    r
  }

  private def streamLayers(tr: Tracer, gen: Generator, timed: Seq[StreamingQueryProgress],
      d: Map[String, Double], drains: Seq[(Boolean, Double)], cores: Int,
      wall: Double): Map[String, Double] = {
    // Micro-batch spans from Spark's progress: the trigger, and its phases
    // laid end to end in execution order.
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    timed.foreach { p =>
      val start = tr.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
      val id = tr.add(s"batch ${p.batchId}", "stream", start,
        start + (dur(p, "triggerExecution") * 1e6).toLong, parent = -1)
      var t = start
      order.foreach { k =>
        val e = t + (dur(p, k) * 1e6).toLong
        tr.add(s"$k ${p.batchId}", s"stream.$k", t, e, parent = id)
        t = e
      }
    }
    val (self, coverage) = tr.summary("stream")
    val states = timed.flatMap(_.stateOperators)
    val last = timed.lastOption.toSeq.flatMap(_.stateOperators)
    def med(f: StreamingQueryProgress => Double) = Batch.median(timed.map(f))
    val high = gen.phases.find(_.name == "high")
    val backlog = high.toSeq.flatMap { h =>
      timed.flatMap { p =>
        val start = tr.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
        val consumed = gen.firstIndex(p)
        if (consumed < h.first || consumed >= h.first + h.count) None
        else Some((h.first + h.dueBy(start) - consumed).toDouble)
      }
    }
    val lags = timed.map { p =>
      val start = tr.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
      (start - gen.due(gen.firstIndex(p))) / 1e6
    }
    val (on, off) = drains.partition(_._1)
    d ++ Map(
      "exec.idle_share" -> (1.0 - d("exec.run_s") / (wall * cores)),
      "stream.batches" -> timed.size.toDouble,
      "stream.batch_ms" -> med(dur(_, "triggerExecution")),
      "stream.plan_ms" -> med(dur(_, "queryPlanning")),
      "stream.add_batch_ms" -> med(dur(_, "addBatch")),
      "stream.log_commit_ms" -> med(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "stream.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
      "stream.state_mem_mb" -> last.map(_.memoryUsedBytes).sum / 1e6,
      "stream.state_commit_ms" -> Batch.median(timed.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "stream.state_update_ms" -> Batch.median(timed.map(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble)),
      "stream.state_compaction_ms" -> states.flatMap(_.customMetrics.asScala.collect {
        case (k, v) if k.toLowerCase.contains("compact") && k.toLowerCase.contains("latency") =>
          v.doubleValue
      }).sum,
      "stream.backlog_rows" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "stream.source_lag_ms" -> Batch.median(lags),
      "generator.late_ms" -> quantile(gen.synchronized(gen.lateMs.map(_._2).toSeq), 0.99),
      "trace.coverage_min" -> coverage,
      "trace.overhead_share" -> (Batch.median(on.map(_._2)) / Batch.median(off.map(_._2)) - 1.0)) ++
      self.map { case (l, s) => s"self.${l}_s" -> s }
  }

  /** Untimed correctness: every generated event consumed; the final emitted
    * state equals batch `State.latestPerFacility` over the same events; the
    * planted malformed events, and only they, land in `Ingest.rejects`.
    * Returns (events attempted, failures, channel counts).
    */
  private def check(spark: SparkSession, seed: Long, n: Long,
      progress: Seq[StreamingQueryProgress], sink: Sink,
      dim: DataFrame): (Long, Long, Map[String, Double]) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val raw = spark.range(n).map(i => event(seed, i)).toDF("value").cache()
    val consumed = progress.map(_.numInputRows).sum
    val events = Ingest.facilityEvents(raw).cache()
    val expected = State.latestPerFacility(Ingest.enrichFacility(events, dim))
      .select($"facility_id", $"timestamp", $"power_mw", $"co2_tonnes")
      .as[(String, String, Double, Double)].collect()
      .map { case (f, t, p, c) => f -> ((t, p, c)) }.toMap
    val got = sink.state.asScala.toMap
    val stateWrong = (expected.keySet ++ got.keySet).count(k => expected.get(k) != got.get(k))
    // As multisets: two planted events can have the same text.
    def counts(xs: Seq[String]) = xs.groupMapReduce(identity)(_ => 1L)(_ + _)
    val rejects = Ingest.rejects(raw).select($"value").as[String].collect().toSeq
    val (seen, planted) =
      (counts(rejects), counts((0L until n).filter(malformed).map(event(seed, _))))
    val rejectWrong = (seen.keySet ++ planted.keySet).toSeq
      .map(k => math.abs(seen.getOrElse(k, 0L) - planted.getOrElse(k, 0L))).sum
    val misses = Ingest.enrichmentMisses(events, dim).count()
    events.unpersist(); raw.unpersist()
    System.err.println(f"[graftbench] stream check: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    if (stateWrong + rejectWrong > 0 || consumed != n)
      System.err.println(s"[graftbench] stream check: consumed $consumed of $n, " +
        s"$stateWrong state rows wrong, $rejectWrong reject mismatches")
    (n, math.abs(n - consumed) + stateWrong + rejectWrong,
      Map("stream.ingest_rejects" -> rejects.size.toDouble,
        "stream.enrich_misses" -> misses.toDouble))
  }
}
