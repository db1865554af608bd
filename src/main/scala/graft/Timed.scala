package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query timer for queries OUTSIDE the Bench headline set
  * (Bench's set stays frozen for cross-round comparability):
  * `sbt "runMain graft.Timed <sfDir> <query...>"` — warm-up + min-of-3
  * per query, cache cleared between runs. Each run writes the full
  * result to the `noop` sink, so the whole plan executes: unlike
  * Bench's `count()`, nothing lets the optimizer prune unconsumed
  * projections or eliminate a left join, and every query's wall is
  * end to end. Its numbers are therefore NOT commensurable with Bench
  * or BENCHCMP figures. Honors `SPARK_GRAFT_CPUS` like Bench/Verify.
  */
object Timed {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Timed <sfDir> [queryName...]")
    val dir = args.head
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      for (n <- names) {
        // A failing query reports FAILED and the loop continues — one
        // bad query must not lose the measurements before it.
        try {
          def run(): Unit = SparkEntry.queries(n)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          run() // warm
          val times = (1 to 3).map { _ =>
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            run()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"TIMING $n min=${times.min}%.3f " +
            s"runs=${times.map(t => f"$t%.3f").mkString(",")}")
        } catch {
          case e: Exception => println(s"TIMING $n FAILED: ${e.getMessage}")
        }
      }
    } finally spark.stop()
  }
}
