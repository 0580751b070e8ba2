package graft

import java.nio.file.{Files, Paths}
import java.util.regex.{Matcher, Pattern}

import scala.util.control.NonFatal

/** Dev-only sweep harness: dumps every declared query's formatted plan
  * to a directory (one file per query) WITHOUT executing the queries —
  * used to hunt duplicated expensive subtrees (typed MapPartitions and
  * Generates do not canonicalize across self-join branches, so a reused
  * frame without a checkpoint shows up as a repeated subtree) and to
  * show that a change left the plans alone. Not a declared query; Bench
  * and Verify never run it.
  *
  * Every plan is written through [[mask]], so two dumps of the same
  * plans compare equal: `diff -r` of a parent dump and a change dump
  * (both written by the same PlanDump, run in each checkout) lists
  * exactly the plans the change moved.
  *
  * What still differs between JVMs after masking: the Expand order of
  * the multi-distinct aggregates in `q_count_distinct`, `q_hll` and
  * `text_nfc_dedup` (seen over 3 runs of one checkout, about 70 s each
  * at 4 cores), and in `sim_ivfpq_codes` (1 of 2 further runs). Dumps
  * into a cold and a warm stage otherwise match. A committed digest of
  * the plans would fail at random on those queries.
  *
  * Usage: sbt "runMain graft.PlanDump [sfDir] [outDir]"; like Bench and
  * Verify, SPARK_GRAFT_ONLY=q1,q2 limits the sweep to those queries.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/plandump"
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    for ((n, fn) <- SparkEntry.selectedQueries.toSeq.sortBy(_._1)) {
      try {
        val f = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$n.txt"), mask(f, sfDir)): Unit
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[plandump] $n failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    println(s"[plandump] done, $failed failed, out=$outDir")
    spark.stop()
  }

  /** `plan` with each part that varies between runs of the same plan
    * replaced by a fixed token: the stage root, data dir and working dir
    * (a checkout, holding spark-warehouse) as paths; UUIDs, txlog writer
    * dirs (`v<N>-<8 hex>`) and long numeric temp suffixes; expression
    * ids (`#12`, `#12L`), `plan_id`s, operator ids (`(12)`), RDD ids,
    * source line numbers, lambda class names and object hashes. */
  def mask(plan: String, sfDir: String): String = {
    def abs(p: String) = new java.io.File(p).getAbsolutePath.stripSuffix("/")
    val paths = Seq(Stage.root(sfDir) -> "<stage>", abs(sfDir) -> "<data>",
      abs(".").stripSuffix("/.") -> "<cwd>")
    val rules = paths.map { case (p, t) => Pattern.quote(p) -> t } ++ Seq(
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "<uuid>",
      "\\bv\\d+-[0-9a-f]{8}\\b" -> "v<n>-<hex>",
      "(?<=[_-])\\d{6,}" -> "<n>",
      "#\\d+L?\\b" -> "#<id>",
      "plan_id=\\d+" -> "plan_id=<id>",
      "(?m)^\\(\\d+\\)|\\(\\d+\\)$" -> "(<op>)",
      "(?<=operator id = )\\d+|(?<=operator id: )\\d+" -> "<op>",
      "RDD\\[\\d+\\]" -> "RDD[<id>]",
      "\\.scala:\\d+" -> ".scala:<n>",
      "\\$\\$Lambda[$/\\w]*" -> "$$Lambda<cls>",
      "@[0-9a-f]{4,}\\b" -> "@<hash>")
    rules.foldLeft(plan) { case (t, (re, to)) =>
      Pattern.compile(re).matcher(t).replaceAll(Matcher.quoteReplacement(to))
    }
  }
}
