package graft

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Per-query timer: `sbt "runMain graft.Timed <sfDir> [query...]"` prints
  * one TIMING line per query from [[time]], the one timing loop of the
  * mains (Bench times its frozen sets through it too). Each run writes
  * the full result to the `noop` sink, so the whole plan executes:
  * nothing lets the optimizer prune unconsumed projections or eliminate
  * a left join, as a `count()` would, and every query's wall is end to
  * end.
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

  /** One query's three timed runs (a run that threw as its Failure) and
    * the Janino compile delta over them.
    */
  final case class Timing(name: String, runs: Seq[Try[Double]], compiles: String) {
    def failure: Option[Throwable] = runs.collectFirst { case Failure(e) => e }
  }

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

  /** Times query `name` of `queries` on `dir`: one warm-up run on the
    * measured data (JIT, codegen and class loading stay out of the
    * walls; a broken query fails its timed runs too), then
    * [[Harness.timed]]'s three runs, each after a [[Harness.reset]], so a
    * c-query's wall includes its curate() pass. A failing query never
    * throws out of here: one bad query must not lose the measurements
    * after it.
    */
  def time(spark: SparkSession, dir: String, name: String,
      queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries): Timing = {
    def run(): Unit = queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    Harness.attempt(run())
    val before = compiles()
    val runs = Harness.timed(spark)(run())
    Timing(name, runs, compileDelta(before))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Timed <sfDir> [queryName...]")
    val dir = args.head
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    Harness.requireKnown(names)
    val spark = Harness.session("graft-timed")
    try names.foreach { n =>
      val t = time(spark, dir, n)
      t.failure match {
        case Some(e) => println(s"TIMING ${t.name} FAILED: ${e.getMessage}")
        case None =>
          val times = t.runs.map(_.get)
          println(f"TIMING ${t.name} min=${times.min}%.3f " +
            s"runs=${times.map(w => f"$w%.3f").mkString(",")} ${t.compiles}")
      }
    } finally spark.stop()
  }
}
