package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (`run.py` generates inputs, builds, launches
  * this and checks outputs against the DuckDB oracles).
  *
  * {{{
  * graftbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir> <params>
  * }}}
  *
  * `params` is the comma-separated query set (batch workloads) or
  * `low rate,high rate,burst events` (stream). Writes `<work dir>/result.json`:
  * the end-to-end metrics (untraced) or the per-layer metrics (traced), the
  * attempted/failed counts, the epoch millisecond at which the first timed
  * pass started, and peak RSS; and `<work dir>/spans.json`, the traced
  * run's spans (empty when untraced).
  */
object Main {
  def main(args: Array[String]): Unit = {
    // Exit explicitly: a thread a library leaves behind must not keep the
    // JVM (and the benchmark command waiting on it) alive.
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }
    System.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, data, work, params) = args
    val traced = trace == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var spans = "[]"
    val fields = try {
      workload match {
        case "curation" =>
          val names = params.split(",").toSeq
          val r = Batch.run(spark, data, names, seconds.toDouble, traced, cores,
            dumpTo = s"$work/out")
          val metrics = if (traced) r.layers else batchEndToEnd(r)
          spans = r.spans
          Seq(
            "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
            "attempted" -> r.attempted.toString,
            "failed" -> Json.obj(r.failed.groupBy(identity).map {
              case (k, v) => k -> v.size.toString }),
            "dump_failed" -> r.dumpFailed.map(Json.str).mkString("[", ",", "]"),
            "first_timed_ms" -> r.firstTimedMs.toString,
            "samples" -> Json.obj(Seq("passes" -> r.passes.size.toString,
              "bursts" -> r.bursts.size.toString)),
            "queries" -> names.map(Json.str).mkString("[", ",", "]"),
            "oracle" -> Json.obj(names.flatMap(n =>
              graft.SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))))
        case "stream" =>
          val Array(low, high, burst) = params.split(",")
          val r = Stream.run(spark, seed.toLong, seconds.toDouble, traced,
            low.toDouble, high.toDouble, burst.toLong, cores, work)
          spans = r.spans
          Seq(
            "metrics" -> Json.obj((if (traced) r.layers else r.metrics)
              .map { case (k, v) => k -> Json.num(v) }),
            "attempted" -> r.attempted.toString,
            "failed_events" -> r.failed.toString,
            "first_timed_ms" -> r.firstTimedMs.toString,
            "samples" -> Json.obj(r.record.map { case (k, v) => k -> Json.num(v) }))
      }
    } finally spark.stop()
    val out = Json.obj(fields ++ Seq(
      "peak_rss_mb" -> Json.num(peakRssMb),
      "master" -> Json.str(s"local[$cores]")))
    Files.writeString(Paths.get(work, "result.json"), out + "\n")
    Files.writeString(Paths.get(work, "spans.json"), spans)
  }

  /** Sequential passes give `pass_s` and the one-query-at-a-time latencies;
    * bursts (the whole set submitted at once) give the loaded latencies and
    * the query rate the engine sustains.
    */
  private def batchEndToEnd(r: Batch.Result): Map[String, Double] = {
    val names = r.passes.head.keys.toSeq
    val alone = names.map(n => Batch.median(r.passes.map(_(n))))
    val loaded = names.map(n => Batch.median(r.bursts.map(_(n))))
    val makespan = Batch.median(r.bursts.map(_.values.filterNot(_.isNaN).max))
    Map(
      "pass_s" -> alone.sum,
      "lat_p50_ms.low" -> Batch.median(alone) * 1e3,
      "lat_p99_ms.low" -> alone.max * 1e3,
      "lat_p50_ms.high" -> Batch.median(loaded) * 1e3,
      "lat_p99_ms.high" -> makespan * 1e3,
      "sustained_eps" -> names.size / makespan)
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
