package graft

import scala.util.control.NonFatal

/** Dev-only A/B measurement harness (not a declared query; never run by
  * the driver). Times the named queries with INTERLEAVED draws in one
  * warm session — the only decidable protocol on a box with ±15-20%
  * per-draw noise (round-21 §1.2). Formatted plans come from
  * [[PlanDump]], which writes one for every declared query.
  *
  * Usage: sbt "runMain graft.Lab q1,q2 [draws]"
  *   SPARK_GRAFT_SF_DIR as in Bench; SPARK_GRAFT_CPUS as in every main
  *   (see [[LocalSession.cpus]]).
  */
object Lab {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("wordcount").split(",").map(_.trim).filter(_.nonEmpty)
    val draws = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    def failed(what: String, e: Throwable): Unit =
      System.err.println(s"[lab] $what failed: ${e.getClass.getName}: ${e.getMessage}")

    val qs = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query $n"))).toSeq

    // Warm: one run each at sf0.001, then one at the target SF.
    for ((n, fn) <- qs; dir <- Seq("/root/testdata/sf0.001", sfDir))
      try fn(spark, dir).count()
      catch { case NonFatal(e) => failed(s"warm-up of $n on $dir", e) }

    val results = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector())
    for (i <- 1 to draws; (n, fn) <- qs) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      results(n) = results(n) :+ s
      println(f"[lab] draw $i $n%-40s $s%7.3f s  (load ${LocalSession.loadavg(failed)}%.2f, cachedRdds ${spark.sparkContext.getPersistentRDDs.size})")
    }
    println("[lab] ===== medians =====")
    for ((n, _) <- qs) {
      val v = results(n).sorted
      if (v.nonEmpty) println(f"[lab] $n%-40s median ${v(v.size / 2)}%7.3f")
    }
    spark.stop()
  }
}
