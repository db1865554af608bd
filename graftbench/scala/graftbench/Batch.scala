package graftbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch workload: a fixed query set from `SparkEntry.queries`, each
  * query run scan → `noop` sink (the whole plan executes; nothing is pruned
  * the way `count()` lets Catalyst prune), cache cleared after each query.
  */
object Batch {

  /** Noop passes after the dump pass: after only one, the timed passes
    * still got about 8% faster from the first to the second.
    */
  val WarmPasses = 2

  /** Share of the timed window given to sequential passes; bursts get the rest. */
  val SequentialShare = 0.6

  /** The module whose public function builds `name`'s DataFrame. */
  def module(name: String): String =
    if (graft.queries.Relational.queries.contains(name)) "queries" else "ops"

  final case class Result(
      passes: Seq[Map[String, Double]], // per sequential pass: query → seconds
      bursts: Seq[Map[String, Double]], // per burst: query → seconds from burst start
      attempted: Int, failed: Seq[String], dumpFailed: Seq[String], firstTimedMs: Long,
      layers: Map[String, Double], spans: String)

  /** One query: build the DataFrame (the module call, including any eager
    * probes or training rounds), run it to the noop sink, or with `dumpTo`
    * write its full result as parquet there. Returns seconds.
    */
  private def runOne(spark: SparkSession, dir: String, name: String, tr: Tracer,
      counters: Counters, dumpTo: Option[String] = None): Double = {
    val t0 = System.nanoTime()
    tr.span(s"query $name", "query") {
      val df = tr.span(s"build $name", module(name))(SparkEntry.queries(name)(spark, dir))
      // The returned DataFrame was analysed inside the build call.
      if (tr.on) counters.phases(df.queryExecution)
      tr.span(s"sink $name", "sink") {
        dumpTo match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(out) => df.write.mode("overwrite").parquet(s"$out/$name")
        }
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def clear(spark: SparkSession, tr: Tracer): Unit =
    tr.span("clearCache", "cache")(spark.catalog.clearCache())

  /** Runs the set `names` over `dir`.
    *
    * Warm-up: one pass that writes every query's result under `dumpTo` (for
    * the oracle check), then `WarmPasses` noop passes, so that JIT, codegen
    * caches and the memoised corpus probes have settled before timing starts.
    *
    * Timed window of `seconds`: traced runs alternate traced and untraced
    * sequential passes. Untraced runs give `SequentialShare` of it to
    * sequential passes and the rest to bursts, in which every query of the
    * set is submitted at once from `cores` client threads. Either kind runs
    * at least twice.
    */
  def run(spark: SparkSession, dir: String, names: Seq[String], seconds: Double,
      traced: Boolean, cores: Int, dumpTo: String): Result = {
    val tr = new Tracer
    val counters = new Counters(tr)
    val failed = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    def pass(dump: Option[String] = None): Map[String, Double] = names.map { n =>
      attempted += 1
      val s = Try(runOne(spark, dir, n, tr, counters, dump)).recover { case e =>
        System.err.println(s"[graftbench] $n failed: $e"); failed += n; Double.NaN
      }.get
      clear(spark, tr)
      n -> s
    }.toMap

    val w0 = System.nanoTime()
    pass(Some(dumpTo))
    val dumpFailed = failed.toList
    val w1 = System.nanoTime()
    val noop = Seq.fill(WarmPasses)(pass())
    System.err.println(f"[graftbench] warm-up: dump pass ${(w1 - w0) / 1e9}%.2f s, " +
      "noop passes " + noop.map(p => f"${p.values.sum}%.2f s (" +
        names.map(n => f"${p(n)}%.2f").mkString(" ") + ")").mkString(" "))
    attempted = 0; failed.clear()

    val firstTimedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val bursts = mutable.ArrayBuffer.empty[Map[String, Double]]
    var layers = Map.empty[String, Double]

    if (traced) {
      val base = counters.snapshot
      while (elapsed < seconds || passes.isEmpty || tracedPasses.isEmpty) {
        if (tracedPasses.size <= passes.size) {
          counters.attach(spark)
          tr.on = true
          tracedPasses += tr.span("pass", "pass")(pass())
          counters.detach(spark)
          tr.on = false
        } else passes += pass()
      }
      layers = tracedLayers(tr, counters, Counters.delta(counters.snapshot, base),
        tracedPasses.toSeq, passes.toSeq, cores)
    } else {
      while (elapsed < seconds * SequentialShare || passes.size < 2) passes += pass()
      val pool = Executors.newFixedThreadPool(cores)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        while (elapsed < seconds || bursts.size < 2) {
          val b0 = System.nanoTime()
          val done = names.map { n =>
            Future {
              // One fair-scheduler pool per client: concurrent queries share
              // the cores instead of queueing behind whichever came first.
              spark.sparkContext.setLocalProperty("spark.scheduler.pool", n)
              n -> Try(runOne(spark, dir, n, tr, counters)).map(_ => (System.nanoTime() - b0) / 1e9)
            }
          }
          val res = Await.result(Future.sequence(done), Duration.Inf)
          attempted += names.size
          res.foreach { case (n, r) =>
            r.failed.foreach { e => System.err.println(s"[graftbench] $n failed in burst: $e"); failed += n }
          }
          bursts += res.map { case (n, r) => n -> r.getOrElse(Double.NaN) }.toMap
          clear(spark, tr)
        }
      } finally {
        pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS)
      }
    }
    System.err.println("[graftbench] passes: " + passes.map(p => f"${p.values.sum}%.3f").mkString(" ") +
      "; bursts: " + bursts.map(b => f"${b.values.filterNot(_.isNaN).max}%.3f").mkString(" ") +
      "; query medians: " + names.map(n => f"$n=${median(passes.toSeq.map(_(n)))}%.3f").mkString(" "))
    Result(passes.toSeq, bursts.toSeq, attempted, failed.toSeq, dumpFailed, firstTimedMs,
      layers, tr.json)
  }

  /** Per-layer metrics, per traced pass. The listener is attached only
    * around traced passes, so counter deltas cover exactly those.
    */
  private def tracedLayers(tr: Tracer, counters: Counters, d: Map[String, Double],
      traced: Seq[Map[String, Double]], untraced: Seq[Map[String, Double]],
      cores: Int): Map[String, Double] = {
    val n = traced.size.toDouble
    val spans = tr.all
    val (self, _) = tr.summary("query")
    // How much of each query's wall time Spark's own intervals account
    // for: planner phases, SQL executions and jobs, under its build and
    // sink calls. The rest is driver code outside Spark (the module's own
    // loops and DataFrame construction).
    val cover = tr.leafCoverage("query", Set("catalyst", "sql", "exec"))
      .groupBy(_._1).map { case (q, xs) => q.stripPrefix("query ") -> xs.map(_._2).min }
    System.err.println("[graftbench] span coverage per query: " +
      cover.toSeq.sorted.map { case (q, c) => f"$q=$c%.3f" }.mkString(" "))
    cover.filter(_._2 < 0.9).foreach { case (q, c) =>
      System.err.println(f"[graftbench] $q: Spark's intervals cover only $c%.3f of its wall time")
    }
    val coverage = if (cover.isEmpty) 0.0 else cover.values.min
    def layerSeconds(layer: String) =
      spans.filter(_.layer == layer).map(s => (s.end - s.start) / 1e9).sum / n
    // Jobs started inside a build call, directly or through a SQL execution.
    def inBuild(s: Span): Boolean = spans.lift(s.parent).exists(p =>
      p.layer == "queries" || p.layer == "ops" || (p.layer == "sql" && inBuild(p)))
    val buildJobs = spans.count(s => s.layer == "exec" && inBuild(s))
    val perPass = d.map { case (k, v) => k -> v / n }
    val tracedPass = median(traced.map(_.values.sum))
    perPass ++ Map(
      "queries.build_s" -> layerSeconds("queries"),
      "ops.build_s" -> layerSeconds("ops"),
      "ops.build_jobs" -> buildJobs / n,
      "exec.idle_share" -> (1.0 - perPass("exec.run_s") / (tracedPass * cores)),
      "shuffle.skew" -> counters.skew._2,
      "trace.coverage_min" -> coverage,
      "trace.overhead_share" -> (tracedPass / median(untraced.map(_.values.sum)) - 1.0)) ++
      self.map { case (l, s) => s"self.${l}_s" -> s / n } ++
      traced.head.keys.map(q => s"query.${q}_s" -> median(traced.map(_(q))))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
