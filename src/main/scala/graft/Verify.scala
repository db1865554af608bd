package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional args
  * beyond (sfDir, outDir) restrict the dump to the named queries — the
  * driver always passes two args (full dump); the filter is builder
  * tooling for targeted re-validation (e.g. new operators at sf1).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    Harness.requireKnown(only)
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query dump wall seconds (VERDICT r15 item 5): the bench tracks
    // 31 of 117 queries; the other 86 had plan-regression coverage
    // (EXPLAINS diff) but no wall-clock trend. Verify already runs every
    // query at every gate — recording the walls here gives a free
    // full-registry trend with zero extra runs. Dump walls, not bench
    // walls (they include the repartition(1) parquet write and the
    // between-query reclamation GC), so they trend round-over-round
    // against themselves, never against BENCH numbers.
    val walls = scala.collection.mutable.LinkedHashMap[String, Double]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        // A task-thread OOM makes SparkUncaughtExceptionHandler call
        // System.exit; the shutdown hook stops the context while THIS
        // (main) thread keeps iterating — every later query then fails
        // with a confusing "stopped SparkContext" that buries the root
        // cause (observed at the round-15 sf10 gate). Detect it, point
        // at the first real failure, and stop burning the loop.
        // Root-cause pointer = the LAST failure recorded before the stop
        // was detected, not the first (ADVICE r15): an unrelated NonFatal
        // failure early in the dump would otherwise hijack the pointer
        // from the query whose task-thread OOM actually killed the
        // context — the misdirection this message exists to prevent.
        if (spark.sparkContext.isStopped) {
          if (!failures.contains(name))
            failures(name) = "SKIPPED: SparkContext stopped by an " +
              s"earlier failure — root cause is the LAST pre-stop entry: " +
              failures.lastOption.map(_._1).getOrElse("unknown (external stop)")
        } else {
          val t0 = System.nanoTime()
          val err = dumpOne(spark, sfDir, outDir, name, fn)
          walls(name) = (System.nanoTime() - t0) / 1e9
          err.foreach(failures(name) = _)
        }
      }
    // Failure manifest — written even when empty so its presence proves
    // the mechanism ran. Round-5 lesson: a throwing query that only logs
    // to stderr VANISHES from the correctness report (9 regressions
    // shipped without a red row); the empty output dir left by dumpOne
    // makes the driver's compare print a loud "no parquet output" FAIL.
    val fjson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), fjson)
    val wjson = walls.map { case (k, v) => s"${q(k)}: " + f"$v%.3f" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_walls.json"), wjson)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Staged replay variants (gate-side OOM fallback — see check.py):
    // name -> [stage sql, ..., final select].
    val staged = SparkEntry.oracleStaged
      .map { case (k, v) => s"${q(k)}: ${v.map(q).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_staged.json"), staged)
    // A context stopped mid-dump means the JVM is already exiting via
    // Spark's fatal-error handler — make the sbt wall read FAILED too
    // (the manifests above are already written, so the driver's compare
    // still gets its loud per-query rows). Without this, a mid-dump OOM
    // exit printed "[success]" while 100+ queries were empty dirs.
    if (spark.sparkContext.isStopped)
      throw new IllegalStateException(
        "SparkContext stopped mid-dump (fatal task error — see the " +
          "first entry of _failures.json); dump is INCOMPLETE")
    spark.stop()
  }

  /** Run one query and write `outDir/name` parquet. On ANY throw, scrub
    * partial output and leave the name's directory EMPTY — the driver's
    * compare treats an output-less query dir as an explicit FAIL row,
    * so a broken query can't silently disappear from the gate. Returns
    * the error message (None = success) for the `_failures.json`
    * manifest.
    */
  def dumpOne(spark: SparkSession, sfDir: String, outDir: String,
              name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[String] = {
    val dest = new java.io.File(s"$outDir/$name")
    try {
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // final stage into one task, so a heavy verify leg (d15's
      // array_intersect over millions of candidate pairs at sf3) runs
      // single-threaded for tens of minutes. repartition adds one
      // round-robin shuffle of the final OUTPUT rows only — upstream
      // compute keeps full parallelism, and the single-file layout the
      // driver compare expects is preserved. Row order changes, which
      // is immaterial: the compare sorts rows before hashing.
      fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(dest.getPath)
      None
    } catch { case scala.util.control.NonFatal(e) =>
      // NonFatal only: an OutOfMemoryError/VM fault must abort the whole
      // dump — later green rows from a poisoned JVM are untrustworthy,
      // and the missing output dirs still fail loudly at the driver.
      val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
      System.err.println(s"[verify] $name failed: $msg")
      deleteRecursively(dest) // partial/_temporary write debris
      dest.mkdirs()           // empty dir => loud "no parquet output" FAIL
      // The loud-failure invariant requires the dir to be EMPTY: leftover
      // parquet debris (e.g. a file locked during scrub) would be read by
      // the driver as a corrupt "result" instead of a no-output FAIL.
      val leftovers = Option(dest.listFiles).getOrElse(Array.empty)
      require(leftovers.isEmpty,
        s"[verify] $name: scrub left debris: ${leftovers.take(5).mkString(", ")}")
      Some(msg)
    } finally Harness.reset(spark) // high-water = heaviest single query
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    if (!f.delete() && f.exists())
      System.err.println(s"[verify] WARNING: could not delete ${f.getPath}")
  }

  /** JSON string escape — a tab or CR in builder-authored SQL (or an
    * exception message) would otherwise make the driver's json.load fail
    * and silently zero the round's correctness. Shared with Bench via
    * [[Jsons]] (ADVICE r15: Bench's second ad-hoc escaper missed
    * control chars).
    */
  private def q(s: String): String = Jsons.str(s)
}
