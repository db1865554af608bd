package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Per-query executed-plan dumper for optimization-round evidence
  * (`plans/r<N>/<query>_{before,after}.txt`). Unlike `graft.Plans`
  * (which regenerates the full EXPLAINS.md on the twin-free sf0.001
  * fixture), this takes the data directory on the command line so a
  * DUPLICATED corpus can be used — the twin-collapse legs
  * (`ops.Collapse`) are stat-gated per corpus (`Dedup.twinGate`, avg
  * copies >= 1.2) and never execute on the twin-free fixtures, so only a
  * duplicated input makes the collapsed plan shape visible in the dump.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <dataDir> <query>...
  * Writes <outDir>/<query>_<suffix>.txt with the FINAL adaptive plan
  * (each query is executed first, as in Plans.scala).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <outDir> <suffix> <dataDir> <query>...")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val dir = args(2)
    val names = args.drop(3).toSeq
    Files.createDirectories(outDir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      df.collect()
      val p = df.queryExecution.explainString(FormattedMode)
      val hdr = s"# $n ($suffix) — executed formatted plan on $dir\n\n"
      Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), hdr + p)
      println(s"wrote ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
