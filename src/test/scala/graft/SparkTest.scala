package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spinning a session per suite
  * costs ~5s each), built by [[Harness.session]] so tests run under the
  * mains' defaults.
  */
object SparkTest {
  lazy val session: SparkSession = Harness.session("graft-test", cores = 8,
    // Keep saveAsTable output (BucketedSpec) under target/ so test
    // runs never litter the repo root with spark-warehouse/.
    conf = Map("spark.sql.warehouse.dir" -> "target/test-warehouse"))
}
