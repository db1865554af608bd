package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.OpCaches

/** The mains' one timing loop ([[Timed.time]]) and the lines Bench builds
  * from it, over a two-query map that needs no data directory.
  */
class TimedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  test("the loop gives three walls for a working query and failures for a " +
      "throwing one, resets before every run, and Bench's lines keep every key") {
    // Registry size at the start of each build of "ok"; every build
    // leaves one entry behind, so only a reset between runs reads 0.
    val seen = mutable.Buffer[Int]()
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> { (s, _) =>
        seen += OpCaches.registered(s)
        OpCaches.persisted(s.range(5).toDF())
        s.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
      },
      "boom" -> { (_, _) => throw new IllegalStateException("boom") })
    try {
      val ok = Timed.time(spark, "no-such-dir", "ok", queries)
      assert(ok.runs.size == 3 && ok.runs.forall(_.toOption.exists(_ >= 0)), ok)
      assert(ok.failure.isEmpty)
      assert(seen.size == 4, "one warm-up and three timed builds")
      assert(seen.drop(1) == Seq(0, 0, 0), seen)
      assert(OpCaches.registered(spark) == 1, "the last run's entry is still registered")
      val boom = Timed.time(spark, "no-such-dir", "boom", queries)
      assert(boom.runs.size == 3 && boom.runs.forall(_.isFailure))
      assert(boom.failure.map(_.getMessage).contains("boom"))

      val Seq(full, summary) = Bench.lines(Seq(ok, boom), Seq(boom), "no-such-dir",
        """{"cores":4}""")
      assert(full.contains("\"boom\":-1.000") && full.contains("\"boom\":[-1.000,-1.000,-1.000]"), full)
      val mapper = new ObjectMapper()
      def keys(line: String) = mapper.readTree(line).fieldNames.asScala.toSeq
      assert(keys(full) == Seq("metric", "value", "unit", "queries", "times",
        "value_v2", "queries_v2", "times_v2", "sf", "env"))
      assert(keys(summary) == Seq("metric", "value", "value_v2", "unit", "sf", "env"))
      val j = mapper.readTree(full)
      assert(keys(j.get("queries").toString) == Seq("ok", "boom"))
      assert(j.get("times").get("ok").size == 3)
      assert(j.get("value").asDouble == j.get("queries").get("ok").asDouble)
      assert(j.get("value_v2").asDouble == 0.0, "a failed query adds nothing to a total")
      assert(j.get("env").get("cores").asInt == 4)
    } finally Harness.reset(spark)
  }
}
