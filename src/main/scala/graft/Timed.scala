package graft

import scala.util.{Failure, Try}

/** Ad-hoc per-query timer for queries OUTSIDE the Bench headline set
  * (Bench's set stays frozen for cross-round comparability):
  * `sbt "runMain graft.Timed <sfDir> <query...>"` — a warm-up, then
  * Bench's min-of-3 loop ([[Harness.timed]], a [[Harness.reset]] before
  * every run, so a c-query's wall includes its curate() pass). Each run writes
  * the full result to the `noop` sink, so the whole plan executes:
  * unlike Bench's `count()`, nothing lets the optimizer prune unconsumed
  * projections or eliminate a left join, and every query's wall is end
  * to end. Its numbers are therefore NOT commensurable with Bench or
  * BENCHCMP figures.
  */
object Timed {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Timed <sfDir> [queryName...]")
    val dir = args.head
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Harness.session("graft-timed")
    try {
      for (n <- names) {
        // A failing query reports FAILED and the loop continues — one
        // bad query must not lose the measurements before it.
        def run(): Unit = SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        Try(run()) // warm-up; a broken query fails its timed runs too
        val runs = Harness.timed(spark)(run())
        runs.collectFirst { case Failure(e) => e } match {
          case Some(e) => println(s"TIMING $n FAILED: ${e.getMessage}")
          case None =>
            val times = runs.map(_.get)
            println(f"TIMING $n min=${times.min}%.3f " +
              s"runs=${times.map(t => f"$t%.3f").mkString(",")}")
        }
      }
    } finally spark.stop()
  }
}
