package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession, and the one reset run
  * between queries. Bench, Timed, Verify, Plans and StreamBench (and the
  * test session) all start here, so two runs on one host are set up the
  * same way whichever entry point made them: the r17 sf10 re-proof lost a
  * run to Verify defaulting to 4 cores while the timing mains defaulted
  * to 32.
  */
object Harness {

  /** Core-count rule: `SPARK_GRAFT_CPUS` when set (and not blank), else
    * the host's cores.
    */
  private[graft] def coresFor(env: Option[String]): Int =
    env.map(_.trim).filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def cores: Int = coresFor(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Refuses names that [[SparkEntry.queries]] does not register, naming
    * every unknown one: a typo'd name must fail loudly, not time or dump
    * nothing while the run still reads as a pass.
    */
  def requireKnown(names: Iterable[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** A local session with the mains' defaults: `cores` task slots and as
    * many shuffle partitions, UTC, UI off, WARN logging. `conf` holds the
    * caller's fixed differences and wins over the defaults.
    */
  def session(appName: String, cores: Int = Harness.cores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val defaults = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val s = SparkSession.builder().master(s"local[$cores]").appName(appName)
      .config(defaults ++ conf).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Between-query reclamation, so a run's memory high-water is its
    * heaviest SINGLE query, not the accumulation, and no query is timed
    * against another's leftovers:
    * 1. Release the library's registries — OpCaches (d15/q62 hub
    *    persists) and the curation memo, whose retained frames pin the
    *    eager clustering pass's localCheckpoint blocks via lineage
    *    references. At sf10 that retention starved d11's hash
    *    aggregation (AGGREGATE_OUT_OF_MEMORY in the shared JVM;
    *    standalone the same query passes) — dropping the references lets
    *    the ContextCleaner reclaim the blocks. The next c-query reruns
    *    its curate() pass: bounded, recompute-safe (the memo rebuilds
    *    from source, not from dead blocks).
    * 2. clearCache for cached plans — clearCache ONLY; unpersisting
    *    `getPersistentRDDs` wholesale destroys localCheckpoint blocks
    *    still referenced by LIVE frames, whose lineage is TRUNCATED:
    *    they then die with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of
    *    recomputing (measured, round 9). Dropping the REFERENCES first
    *    (step 1) is the safe ordering.
    * 3. System.gc(): ContextCleaner reclamation is weak-ref-driven — it
    *    runs AFTER a GC notices the dropped references. Without the
    *    prompt, a heavy next query can OOM before any GC happens to run.
    */
  def reset(spark: SparkSession): Unit = {
    graft.ops.OpCaches.release(spark)
    graft.ops.Curation.releaseAll(spark)
    spark.catalog.clearCache()
    System.gc()
  }

  /** Three timed runs of `run`, each after [[reset]] (cached
    * intermediates and memoised passes are measured cold): the walls in
    * seconds, a run that threw as its Failure. Callers warm up first and
    * report the min — run-to-run noise at small scale is ±10-15%
    * (measured, round 3), larger than most real per-query deltas, and
    * the min is the reproducible figure.
    */
  def timed(spark: SparkSession)(run: => Unit): Seq[Try[Double]] =
    (1 to 3).map { _ =>
      reset(spark)
      val t0 = System.nanoTime()
      attempt(run).map(_ => (System.nanoTime() - t0) / 1e9)
    }

  // Every Throwable, not only NonFatal: a query that dies of an
  // OutOfMemoryError still reports as failed and the loop goes on to the
  // next one, so Bench always prints its JSON line.
  private[graft] def attempt(f: => Unit): Try[Unit] =
    try Success(f) catch { case e: Throwable => Failure(e) }
}
