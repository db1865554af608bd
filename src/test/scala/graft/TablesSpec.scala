package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` supplies a memoized schema instead of inferring one per
  * load (inference is a Spark job reading parquet footers): a repeated
  * load plans without a job, a table rewritten in place and a changed
  * parquet-reading conf each infer again.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  /** Spark jobs `body` starts from this thread. Listener events arrive
    * asynchronously but in order, so a marker job run after `body` is
    * seen only once every earlier job start has been.
    */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, marker) = ("tables-spec-load", "tables-spec-marker")
    val n = new AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet(): Unit
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      body
      sc.setJobGroup(marker, marker, interruptOnCancel = false)
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def withTempDir[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("tablesSpec").toFile
    def rm(d: java.io.File): Unit = {
      Option(d.listFiles).getOrElse(Array.empty).foreach(rm); d.delete(): Unit
    }
    try f(dir.getPath) finally rm(dir)
  }

  test("a second load plus analyze starts no job; a table rewritten in place " +
    "gets its new schema") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "text").write.parquet(s"$dir/t.parquet")
      def analyzed() = Tables.load(spark, dir, "t").queryExecution.analyzed.schema
      val first = jobs(analyzed(): Unit)
      assert(first >= 1, "the first load infers the schema with a footer job")
      assert(jobs(analyzed(): Unit) == 0, "a repeated load must reuse the schema")
      assert(analyzed() == spark.read.parquet(s"$dir/t.parquet").schema)
      assert(Tables.load(spark, dir, "t").as[(Long, String)].collect().toSet
        == Set((1L, "a"), (2L, "b")))

      Seq((3L, "c", 9.5)).toDF("id", "text", "score").write.mode("overwrite")
        .parquet(s"$dir/t.parquet")
      assert(analyzed().fieldNames.toSeq == Seq("id", "text", "score"),
        "a rewritten table must not keep its old schema")
      assert(Tables.load(spark, dir, "t").as[(Long, String, Double)].collect().toSeq
        == Seq((3L, "c", 9.5)))
    }
  }

  test("a changed parquet-reading conf infers the schema again") {
    val s = spark
    import s.implicits._
    val key = "spark.sql.parquet.mergeSchema"
    withTempDir { dir =>
      // Two files, two schemas: unmerged inference reads one file's
      // (two columns, whichever it is), merged inference all three.
      Seq((1L, "a")).toDF("id", "text").write.parquet(s"$dir/m.parquet")
      Seq((2L, 0.5)).toDF("id", "score").write.mode("append").parquet(s"$dir/m.parquet")
      def fields = Tables.load(spark, dir, "m").schema.fieldNames.toSet
      val old = spark.conf.getOption(key)
      try {
        spark.conf.set(key, "false")
        assert(fields.size == 2)
        spark.conf.set(key, "true")
        assert(jobs(assert(fields == Set("id", "text", "score"))) >= 1,
          "the new conf must infer again")
        spark.conf.set(key, "false")
        assert(fields.size == 2)
      } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
