package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY also limits the dumped oracles to these queries.
    val selected = SparkEntry.selectedQueries
    // Stamped in the log4j lines' clock format, so a burst of Spark
    // warnings on stderr can be attributed to the query that was running.
    val clock = java.time.format.DateTimeFormatter.ofPattern("yy/MM/dd HH:mm:ss")
    selected.foreach { case (name, fn) =>
      System.err.println(s"[verify] ${java.time.LocalDateTime.now.format(clock)} start $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // Rendered for THIS run's data dir: the file round-trip oracles name
    // staging paths derived from sfDir (Stage), so the dumped SQL reads
    // exactly the files the queries above staged.
    val json = SparkEntry.oracleSqlFor(sfDir)
      .filter(kv => selected.contains(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a JSON string literal, for the JSON artifacts
    * (oracle_sql.json, Bench's lines): backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in oracle SQL would otherwise
    * make a JSON reader fail and silently zero the correctness check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
