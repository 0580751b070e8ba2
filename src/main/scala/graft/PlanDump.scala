package graft

import scala.util.control.NonFatal

/** Dev-only sweep harness: dumps every declared query's formatted plan
  * to a directory (one file per query) WITHOUT executing the queries —
  * used to hunt duplicated expensive subtrees (typed MapPartitions and
  * Generates do not canonicalize across self-join branches, so a reused
  * frame without a checkpoint shows up as a repeated subtree). Not a
  * declared query; never run by the driver.
  *
  * Usage: sbt "runMain graft.PlanDump [sfDir] [outDir]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/plandump"
    val spark = LocalSession(sys.env.get("SPARK_GRAFT_CPUS").fold(LocalSession.cores)(_.toInt))
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    for ((n, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val f = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$n.txt"), f): Unit
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[plandump] $n failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    println(s"[plandump] done, $failed failed, out=$outDir")
    spark.stop()
  }
}
