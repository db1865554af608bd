package graft

import scala.util.{Failure, Try}

import org.apache.spark.sql.graftbridge.Bridge

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
  *
  * Each TIMING line ends with `compiles=N compile_ms=M`: the Janino
  * compiles across the three timed runs (warm-up excluded) and their
  * summed time, read from Spark's codegen compile-time histogram — no
  * job, no effect on any output. A steady query compiles nothing; a
  * non-zero N in the timed runs means generated classes were evicted
  * from Spark's codegen cache between runs. Spark records each compile in
  * whole ms. The histogram's reservoir keeps every sample only up to
  * [[Reservoir]] compiles per JVM; past that M is N × the reservoir's
  * mean and prints as `compile_ms~M`.
  */
object Timed {
  /** Codahale's default (exponentially decaying) reservoir size. */
  private val Reservoir = 1028

  /** (compiles, Σ compile ms) so far in this JVM; the sum is exact while
    * the reservoir still holds every sample.
    */
  private def compiles(): (Long, Long) = {
    val h = Bridge.codegenCompileTimes
    (h.getCount, h.getSnapshot.getValues.sum)
  }

  private def compileDelta(before: (Long, Long)): String = {
    val (n, ms) = compiles()
    val dn = n - before._1
    if (n <= Reservoir) s"compiles=$dn compile_ms=${ms - before._2}"
    else f"compiles=$dn compile_ms~${dn * Bridge.codegenCompileTimes.getSnapshot.getMean}%.0f"
  }

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
        val before = compiles()
        val runs = Harness.timed(spark)(run())
        runs.collectFirst { case Failure(e) => e } match {
          case Some(e) => println(s"TIMING $n FAILED: ${e.getMessage}")
          case None =>
            val times = runs.map(_.get)
            println(f"TIMING $n min=${times.min}%.3f " +
              s"runs=${times.map(t => f"$t%.3f").mkString(",")} ${compileDelta(before)}")
        }
      }
    } finally spark.stop()
  }
}
