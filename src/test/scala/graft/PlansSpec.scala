package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** EXPLAINS.md stability: `graft.Plans` writes each executed plan through
  * `Plans.normalize`, so regenerating it rewrites only plans whose shape
  * changed.
  */
class PlansSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  test("two explains of the same query normalise to identical text") {
    // A join and an aggregation: shuffles (plan ids) and many attributes.
    def explained(): String = {
      val facts = spark.range(0, 1000).select((col("id") % 7).as("k"), col("id").as("v"))
      val dims = spark.range(0, 7).select(col("id").as("k"), (col("id") * 2).as("w"))
      val df = facts.join(dims.hint("shuffle_hash"), "k")
        .groupBy("k").agg(sum("v").as("sv"), max("w").as("mw"))
      df.collect()
      df.queryExecution.explainString(FormattedMode)
    }
    val (a, b) = (explained(), explained())
    // Non-vacuous: the raw texts differ in their ids, and carry both kinds.
    assert(a != b, "raw explains already identical — nothing to normalise")
    assert(a.contains("plan_id=") && "#\\d+".r.findFirstIn(a).nonEmpty, a.take(2000))
    assert(Plans.normalize(a) == Plans.normalize(b))
    // Renumbering keeps references apart: distinct ids stay distinct.
    assert("#\\d+".r.findAllIn(Plans.normalize(a)).toSet.size ==
      "#\\d+L?".r.findAllIn(a).toSet.size)
  }
}
