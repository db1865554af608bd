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

  test("lambda variables renumber per plan, x and y from one count") {
    // Every built lambda takes fresh names from one JVM-wide counter, so
    // two builds of one query print different names.
    def explained(): String = {
      val df = spark.range(0, 5).select(array(col("id"), col("id") + 1).as("a"))
        .select(transform(col("a"), _ + 1).as("t"), zip_with(col("a"), col("a"), _ * _).as("z"))
      df.collect()
      df.queryExecution.explainString(FormattedMode)
    }
    val (a, b) = (explained(), explained())
    assert(a != b, "raw explains already identical — nothing to normalise")
    assert(Plans.normalize(a) == Plans.normalize(b))
    assert("lambda [a-z]+_\\d+".r.findAllIn(Plans.normalize(a)).toSet ==
      Set("lambda x_1", "lambda x_2", "lambda y_3"), Plans.normalize(a))
  }

  test("codegen and query-stage ids are cut; other bare arguments stay") {
    // One plan as two runs print it when AQE finished its stages in
    // another order, after a different number of earlier jobs: the same
    // stages, codegen grouping and checkpoint, other ids.
    def text(stage: Int, agg: Int, limit: Int, rdd: Int) =
      s"""(0) Scan ExistingRDD
         |Arguments: [k#7], MapPartitionsRDD[$rdd] at localCheckpoint at X.scala:1
         |
         |(1) ShuffleQueryStage
         |Output [1]: [k#7]
         |Arguments: $stage
         |
         |(2) HashAggregate [codegen id : $agg]
         |Input [1]: [k#7]
         |
         |(3) GlobalLimit [codegen id : $limit]
         |Input [1]: [k#7]
         |Arguments: 10
         |""".stripMargin
    val (a, b) = (Plans.normalize(text(3, 5, 7, 890)), Plans.normalize(text(0, 4, 2, 826)))
    assert(a == b)
    assert(a.contains("Arguments: _\n") && a.contains("Arguments: 10\n"), a)
    assert(a.contains("MapPartitionsRDD[1] at"), a)
    assert("\\[codegen id : (\\S+)\\]".r.findAllMatchIn(a).map(_.group(1)).toSeq ==
      Seq("_", "_"), a)
  }
}
