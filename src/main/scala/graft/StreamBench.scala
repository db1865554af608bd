package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.stream.{MergeState, State}

/** Streaming-throughput harness (round-8 evidence): measures rows/s of
  * the stateful streaming surface under the RocksDB state store — the
  * provider a 100 TB deployment would run — instead of leaving the
  * streaming ops with correctness-only specs.
  *
  * Method: the sf-dir `events` table is staged once as `nFiles`
  * time-ordered parquet slices (repartitionByRange on event time, part
  * files mtime-stamped in range order so the file streaming source
  * consumes them chronologically). Each op then runs a
  * `Trigger.AvailableNow` query over that staging dir with
  * `maxFilesPerTrigger=1`, i.e. `nFiles` micro-batches arriving in event
  * -time order — watermarks advance naturally and the state store sees
  * the same write pattern a live chronological feed would produce.
  * Sink is `noop` so the measurement is source-decode + state, not sink.
  *
  * Ops measured (all RocksDB-backed):
  *   - windowed_agg    5-min tumbling totals, 60-min watermark (A9/T2)
  *   - hop_window      10/5-min hopping totals (q57's streaming twin)
  *   - session_window  15-min-gap sessions (q32's streaming twin)
  *   - dedup           watermarked dropDuplicates (T5)
  *   - latest_fmgws    flatMapGroupsWithState dict-merge (T4)
  *   - latest_tws      transformWithState dict-merge (T4, Spark 4 API)
  *
  * Prints ONE JSON line:
  * `{"metric":"stream_throughput","sf":…,"ops":{name:{"rows":…,"sec":…,
  *   "rows_per_sec":…,"batches":…,"out_rows":…}}}`.
  *
  * Usage: runMain graft.StreamBench [sfDir] [nFiles]
  */
object StreamBench {

  /** events → the facility-event shape the streaming ops consume.
    * 500 synthetic facilities (user_id % 500) — the state-key
    * cardinality class of the reference's fleet, scaled up.
    *
    * Input is the [[Tables.load]]-normalized events frame (`ts` = epoch
    * NANOS as LongType): the physical parquet type of `events.ts` varies
    * across testdata generations (TIMESTAMP(NANOS) / timestamp[us] /
    * NTZ), and deriving event time from the normalized long
    * (`timestamp_micros(ts div 1000)`, the q32 pattern) is the one path
    * that works on all of them — reading the column raw re-imports the
    * type-drift bug the rest of the engine is immunized against.
    */
  private[graft] def facilityShape(ev: DataFrame): DataFrame = {
    val eventTs = timestamp_micros(expr("ts div 1000"))
    ev.select(
      concat(lit("F"), (col("user_id") % 500).cast("string")).as("facility_id"),
      eventTs.as("event_ts"),
      date_format(eventTs, "yyyy-MM-dd HH:mm:ss").as("timestamp"),
      expr("ts div 1000000").as("event_ts_ms"),
      // Partial-event pattern for the dict-merge ops: view events carry
      // only power, click events only co2, the rest carry both — so the
      // overlay state path (not just the both-fields fast path) is hot.
      when(col("event_type") =!= "click", col("value")).as("power_mw"),
      when(col("event_type") =!= "view", round(col("value") * lit(0.4), 3))
        .as("co2_tonnes"))
  }

  /** Stage `df` as `nFiles` chronological parquet slices; returns the
    * staging dir. Part files of repartitionByRange are numbered in
    * range order; stamping strictly increasing mtimes makes the file
    * streaming source (which orders by timestamp) consume them in event
    * -time order.
    */
  private def stage(df: DataFrame, nFiles: Int, dir: File): Int = {
    df.repartitionByRange(nFiles, col("event_ts"))
      .sortWithinPartitions("event_ts")
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    val parts = dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val t0 = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(t0 + i * 2000L), s"mtime stamp failed: $f")
    }
    // Empty range partitions emit no part file, so the staged count can
    // legitimately be < nFiles — return (and report) the ACTUAL count so
    // batch-count drift is visible instead of silent.
    parts.length
  }

  /** Per-op measurement. `stateRows`/`stateMemBytes` are the final
    * progress's state-operator totals; `compactionMs` sums the RocksDB
    * compaction-latency custom metrics across the run (0 under HDFS
    * provider) — the state-store-pressure signals a 100 TB deployment
    * watches.
    */
  final case class OpResult(rows: Long, sec: Double, batches: Int, outRows: Long,
      stateRows: Long = 0L, stateMemBytes: Long = 0L, compactionMs: Long = 0L)

  private def runOp(spark: SparkSession, stagingDir: File, schema: org.apache.spark.sql.types.StructType,
      build: DataFrame => DataFrame, checkpointRoot: File, name: String): OpResult = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagingDir.getAbsolutePath)
    val out = build(src)
    val cp = new File(checkpointRoot, name)
    val t0 = System.nanoTime()
    val q = out.writeStream
      .format("noop")
      .option("checkpointLocation", cp.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .outputMode(if (name.startsWith("latest")) "update" else "append")
      .start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress
    val rows = progress.map(_.numInputRows).sum
    val outRows = progress.map(p => math.max(0L, p.sink.numOutputRows)).sum
    val lastState = progress.reverse.find(_.stateOperators.nonEmpty)
    val stateRows = lastState.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    val stateMem = lastState.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
    // RocksDB compaction pressure, summed across batches; metric keys are
    // provider-specific so match by name rather than pinning one.
    import scala.jdk.CollectionConverters._
    val compactionMs = progress.flatMap(_.stateOperators).flatMap { op =>
      op.customMetrics.asScala.collect {
        case (k, v) if k.toLowerCase.contains("compact") &&
          k.toLowerCase.contains("latency") => v.longValue()
      }
    }.sum
    OpResult(rows, sec, progress.count(_.numInputRows > 0), outRows,
      stateRows, stateMem, compactionMs)
  }

  private def ops(spark: SparkSession): Seq[(String, DataFrame => DataFrame)] = {
    import spark.implicits._
    Seq(
      "windowed_agg" -> ((df: DataFrame) => State.windowedTotals(df)),
      "hop_window" -> ((df: DataFrame) => State.hoppingTotals(df)),
      "session_window" -> ((df: DataFrame) => State.sessionTotals(df)),
      "dedup" -> ((df: DataFrame) => State.dedupEvents(df)),
      "latest_fmgws" -> ((df: DataFrame) =>
        MergeState.latestMerged(df.as[MergeState.PartialEvent]).toDF()),
      "latest_tws" -> ((df: DataFrame) =>
        MergeState.latestMergedTws(df.as[MergeState.PartialEvent]).toDF()),
      // Streaming record linkage (q62's blocking stream-static):
      // incoming names derived from the event stream — the facility
      // fleet mapped onto a SPARSE id domain (x7 stride, so numeric
      // neighbors are mostly distance 2+) with ~1/3 of arrivals
      // carrying a one-char-appended noisy key (the click events,
      // whose power_mw is null in the partial-event shape) — linked
      // against a 500-entity static registry. Stateless per-batch
      // blocking + exact verify; throughput is source-decode +
      // explode + broadcast-probe + levenshtein.
      "fuzzy_link" -> ((df: DataFrame) => {
        val registry = spark.range(500).select(
          (col("id") * 7).as("k"),
          format_string("FAC%05d", col("id") * 7).as("name"))
        val fid = expr("CAST(substring(facility_id, 2) AS BIGINT) * 7")
        // spreadTo: the staged one-file-per-trigger source gives each
        // micro-batch ONE task, and this stateless pipeline has no
        // exchange to re-spread it (see linkStream's scaladoc) — spread
        // to the session's parallelism like a partitioned topic would.
        graft.ops.FuzzyJoin.linkStream(
          df.select(col("event_ts_ms").as("k"),
            when(col("power_mw").isNull, format_string("FAC%05dX", fid))
              .otherwise(format_string("FAC%05d", fid)).as("name")),
          registry,
          spreadTo = spark.sparkContext.defaultParallelism)
      }))
  }

  final case class RunResult(stagedFiles: Int, ops: Seq[(String, OpResult)])

  /** Runs every op over `sfDir`'s events; returns the staged-file count
    * plus (name → result).
    */
  def run(spark: SparkSession, sfDir: String, nFiles: Int): RunResult =
    runShaped(spark, facilityShape(Tables.load(spark, sfDir, "events")), nFiles)

  private[graft] def runShaped(spark: SparkSession, shaped: DataFrame,
      nFiles: Int): RunResult = {
    val work = java.nio.file.Files.createTempDirectory("graft_streambench").toFile
    val stagingDir = new File(work, "staged")
    val cpRoot = new File(work, "cp")
    val staged = stage(shaped, nFiles, stagingDir)
    if (staged != nFiles)
      System.err.println(
        s"[StreamBench] staged $staged part files for requested $nFiles " +
          "(empty range partitions) — batch counts reflect the actual number")
    // recentProgress is a RING BUFFER (default 100 entries, incl. no-data
    // batches): with nFiles near/above ~100 the early entries are evicted
    // and the post-run row sums silently undercount. Size it to the
    // actual batch count (+ slack for empty trailing batches) for the
    // duration of the measurement.
    val progKey = "spark.sql.streaming.numRecentProgressUpdates"
    val prevProg = spark.conf.getOption(progKey)
    spark.conf.set(progKey, (staged * 2 + 64).toString)
    try {
      val schema = spark.read.parquet(stagingDir.getAbsolutePath).schema
      RunResult(staged, ops(spark).map { case (name, build) =>
        name -> runOp(spark, stagingDir, schema, build, cpRoot, name)
      })
    } finally {
      prevProg match {
        case Some(v) => spark.conf.set(progKey, v)
        case None => spark.conf.unset(progKey)
      }
      deleteRec(work)
    }
  }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nFiles = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = Harness.session("graft-stream-bench", conf = Map(
      "spark.sql.adaptive.enabled" -> "false", // streaming: AQE is inert; keep plans stable
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

    // Warm-up (JIT/codegen/RocksDB native-lib load): a 1000-row slice of
    // the SAME sfDir — no dependence on any other dataset existing.
    val shaped = facilityShape(Tables.load(spark, sfDir, "events"))
    runShaped(spark, shaped.limit(1000), 2)

    val results = run(spark, sfDir, nFiles)
    val opsJson = results.ops.map { case (n, r) =>
      f""""$n":{"rows":${r.rows},"sec":${r.sec}%.3f,"rows_per_sec":${r.rows / r.sec}%.0f,"batches":${r.batches},"out_rows":${r.outRows},"state_rows":${r.stateRows},"state_mem_mb":${r.stateMemBytes / 1e6}%.1f,"compaction_ms":${r.compactionMs}}"""
    }.mkString(",")
    println(s"""{"metric":"stream_throughput","sf":"$sfDir","n_files":$nFiles,"staged_files":${results.stagedFiles},"ops":{$opsJson}}""")
    spark.stop()
  }
}
