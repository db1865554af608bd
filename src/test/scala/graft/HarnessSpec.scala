package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.OpCaches

/** The mains' shared harness: one core-count rule, and a between-query
  * reset that leaves nothing of the previous query behind.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  test("core count: SPARK_GRAFT_CPUS when set, the host's cores otherwise") {
    assert(Harness.coresFor(Some("7")) == 7)
    assert(Harness.coresFor(Some(" 3 ")) == 3)
    assert(Harness.coresFor(None) == Runtime.getRuntime.availableProcessors)
    assert(Harness.coresFor(Some("")) == Runtime.getRuntime.availableProcessors)
  }

  test("reset empties the OpCaches registry and the curation memo, so the " +
      "next c1 build runs curate() again") {
    import spark.implicits._
    // A two-document corpus in the driver layout (`documents.parquet`).
    val dir = java.nio.file.Files.createTempDirectory("harness-spec").toString
    val words = (1 to 25).map(i => s"w$i").mkString(" ")
    Seq((1L, words, "en", "web"), (2L, s"$words more", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    def c1() = SparkEntry.queries("c1_curation")(spark, dir)
    Harness.reset(spark)
    val first = c1()
    // Non-vacuous: without a reset the memo hands back the same run.
    assert(c1() eq first, "c1 builds share one curate() run until a reset")
    OpCaches.persisted(spark.range(10).toDF())
    assert(OpCaches.registered(spark) > 0)
    Harness.reset(spark)
    assert(OpCaches.registered(spark) == 0)
    assert(!(c1() eq first), "reset kept the curation memo")
    Harness.reset(spark)
  }
}
