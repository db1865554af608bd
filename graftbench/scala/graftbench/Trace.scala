package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans are kept until the run ends and written
  * out once; nothing is recorded while `on` is false, so untraced passes run
  * the same code with only a flag test added.
  */
final class Tracer {
  @volatile var on: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(-1)

  /** Epoch milliseconds (listener and planner timestamps) on the span clock. */
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + nanoOffset

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val start = System.nanoTime()
      val id = synchronized {
        val id = spans.length
        spans += Span(id, open.head, name, layer, start, start)
        open = id :: open
        id
      }
      try body
      finally synchronized {
        spans(id) = spans(id).copy(end = System.nanoTime())
        open = open.tail
      }
    }

  /** A span timed elsewhere (a SQL execution, a Spark job, a planner phase,
    * a micro-batch component). Without an explicit parent, its parent is
    * resolved when the spans are read: the innermost span opened through
    * [[span]], or longer SQL execution or sink call, that encloses it,
    * within the 1 ms resolution of Spark's own timestamps.
    */
  def add(name: String, layer: String, start: Long, end: Long, parent: Int = Unresolved): Int =
    if (!on) -1
    else synchronized {
      if (parent != Unresolved) laidOut += spans.length
      spans += Span(spans.length, parent, name, layer, start, end)
      spans.length - 1
    }

  private val Unresolved = -2
  private val Containers = Set("sql", "sink")
  private val Slack = 2000000L
  /** Spans added with an explicit parent are laid out from rounded
    * durations (a micro-batch's phases), so their ends may be off by up to
    * about ten milliseconds; they enclose a SQL execution or sink call with
    * this slack. Jobs and planner phases then nest in those.
    */
  private val LaidOutSlack = 15000000L
  private val laidOut = mutable.Set.empty[Int]

  def all: Seq[Span] = synchronized {
    val driver = spans.filter(_.parent != Unresolved).toList
    // SQL executions and sink calls timed elsewhere enclose spans too.
    val containers = spans.filter(s => s.parent == Unresolved && Containers(s.layer)).toList
    def longer(d: Span, s: Span) =
      d.end - d.start > s.end - s.start || (d.end - d.start == s.end - s.start && d.id < s.id)
    def slack(d: Span, s: Span) =
      if (laidOut(d.id) && Containers(s.layer)) LaidOutSlack else Slack
    spans.toList.map { s =>
      if (s.parent != Unresolved) s
      else {
        val outer = (driver ++ containers.filter(longer(_, s)))
          .filter(d => d.start - slack(d, s) <= s.start && s.end <= d.end + slack(d, s))
        // Innermost first; of two as long, the one timed elsewhere, which
        // ran inside the other.
        s.copy(parent = if (outer.isEmpty) -1 else outer.minBy(d =>
          (d.end - d.start, if (d.parent == Unresolved) 0 else 1)).id)
      }
    }
  }

  /** Seconds of `s` not covered by any of its children. */
  def selfSeconds(s: Span, children: Map[Int, Seq[Span]]): Double =
    (s.end - s.start - covered(s, children.getOrElse(s.id, Nil))) / 1e9

  /** Nanoseconds of `s` covered by the union of `kids`. */
  def covered(s: Span, kids: Seq[Span]): Long = {
    var total = 0L
    var cur = s.start
    kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Self time summed per layer, and the lowest share of a `rootLayer`
    * span's wall time that its direct children cover.
    */
  def summary(rootLayer: String): (Map[String, Double], Double) = {
    val ss = all
    val children = ss.groupBy(_.parent)
    val self = ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(selfSeconds(_, children)).sum
    }
    val cover = ss.filter(s => s.layer == rootLayer && s.end > s.start).map { s =>
      covered(s, children.getOrElse(s.id, Nil)).toDouble / (s.end - s.start)
    }
    (self, if (cover.isEmpty) 0.0 else cover.min)
  }

  /** For each `rootLayer` span, its name and the share of its wall time
    * covered by the union of its descendants at `leafLayers`.
    */
  def leafCoverage(rootLayer: String, leafLayers: Set[String]): Seq[(String, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def leaves(id: Int): Seq[Span] = children.getOrElse(id, Nil).flatMap(k =>
      (if (leafLayers(k.layer)) Seq(k) else Nil) ++ leaves(k.id))
    ss.filter(s => s.layer == rootLayer && s.end > s.start).map(s =>
      s.name -> covered(s, leaves(s.id)).toDouble / (s.end - s.start))
  }

  def json: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark's own counters, read from outside the program: task metrics from a
  * SparkListener, SQL executions and jobs as spans, and, per finished action,
  * the planner phases and file-scan SQL metrics of its QueryExecution.
  * Counts are cumulative; callers take differences around the interval they
  * measure.
  */
final class Counters(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  var jobs, tasks, runMs, cpuNs, gcMs, spillBytes = 0L
  var shWriteBytes, shWriteNs, shReadBytes, fetchWaitMs = 0L
  var scanBytes, scanRows, scanTasks = 0L
  var scanNs, planNs = 0L
  /** (total shuffle-read bytes, max/median task read bytes) of the stage
    * with the most shuffle-read bytes.
    */
  var skew: (Long, Double) = (0L, 0.0)
  private val stageReads = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val sqlStart = mutable.Map.empty[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t =>
      tracer.add(s"job ${e.jobId}", "exec", tracer.fromEpochMs(t), tracer.fromEpochMs(e.time))
    }
  }

  /** A SQL execution: physical planning, adaptive re-planning, code
    * generation and its jobs, from start to end.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(sqlStart(s.executionId) = s.time)
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(x.executionId).foreach { t =>
        tracer.add(s"sql ${x.executionId}", "sql", tracer.fromEpochMs(t), tracer.fromEpochMs(x.time))
      }
    }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shWriteNs += m.shuffleWriteMetrics.writeTime
      val read = m.shuffleReadMetrics.totalBytesRead
      shReadBytes += read; fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      scanBytes += m.inputMetrics.bytesRead
      if (m.inputMetrics.recordsRead > 0) { scanTasks += 1; scanRows += m.inputMetrics.recordsRead }
      if (read > 0)
        stageReads.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += read
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageReads.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { rs =>
      val sorted = rs.sorted
      if (sorted.sum > skew._1)
        skew = (sorted.sum, sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2)))
    }
  }

  private val helper = new AdaptiveSparkPlanHelper {}

  /** The planner phases `qe` has run so far, as catalyst spans. */
  def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      planNs += p.durationMs * 1000000L
      tracer.add(s"catalyst.$phase", "catalyst",
        tracer.fromEpochMs(p.startTimeMs), tracer.fromEpochMs(p.endTimeMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      phases(qe)
      helper.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach(s => s.metrics.get("scanTime").foreach(m => scanNs += m.value * 1000000L))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def snapshot: Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.toDouble, "exec.tasks" -> tasks.toDouble,
    "exec.run_s" -> runMs / 1e3, "exec.cpu_s" -> cpuNs / 1e9, "exec.gc_s" -> gcMs / 1e3,
    "exec.spill_bytes" -> spillBytes.toDouble,
    "shuffle.write_bytes" -> shWriteBytes.toDouble, "shuffle.write_s" -> shWriteNs / 1e9,
    "shuffle.read_bytes" -> shReadBytes.toDouble, "shuffle.fetch_wait_s" -> fetchWaitMs / 1e3,
    "sources.scan_bytes" -> scanBytes.toDouble, "sources.scan_rows" -> scanRows.toDouble,
    "sources.scan_tasks" -> scanTasks.toDouble, "sources.scan_s" -> scanNs / 1e9,
    "catalyst.plan_s" -> planNs / 1e9))
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
