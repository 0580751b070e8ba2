package perfbench

import scala.jdk.CollectionConverters._

/** A timed interval at one layer boundary; epoch ms. */
final case class Span(kind: String, name: String, start: Double, end: Double, parent: String)

/** Turns the passes of a run and the listener records into the reported
  * metrics. End-to-end figures come from untraced passes, per-layer
  * figures from traced passes; each is the median over its passes. */
final class Metrics(passes: Seq[PassRun], probe: Probe, setupS: Seq[Double], docs: Double,
                    checkLayer: Map[String, Double]) {
  import Metrics._

  private val jobs = probe.jobs.asScala.toSeq
  private val batches = probe.batches.asScala.toSeq
  private def within(t: Double, lo: Double, hi: Double) = t >= lo && t <= hi
  private def jobsIn(lo: Double, hi: Double) = jobs.filter(j => within(j.start, lo, hi))
  private def batchesIn(lo: Double, hi: Double) = batches.filter(b => within(b.start, lo, hi))

  def endToEnd: Seq[(String, (Double, String))] = {
    val ps = passes.filterNot(_.traced)
    val opS = ps.flatMap(_.ops.map(_.seconds))
    Seq(
      "setup_s" -> (median(setupS), "s"),
      "pass_s" -> (median(ps.map(_.seconds)), "s"),
      "docs_per_s" -> (median(ps.map(p => docs / p.seconds)), "1/s"),
      "op_p50_s" -> (percentile(opS, 0.5), "s"),
      "op_p90_s" -> (percentile(opS, 0.9), "s"),
      "cpu_s" -> (median(ps.map(_.cpuS)), "s"),
      "resident_mb" -> (median(ps.map(_.heapMb)), "MB"))
  }

  def perLayer: Seq[(String, (Double, String))] = {
    val traced = passes.filter(_.traced)
    val next = passes.map(_.start).drop(1) :+ Double.MaxValue
    val per = traced.map(p => layerOf(p, next(passes.indexOf(p))))
    // Against the untraced passes after the first (see Main).
    val overhead = median(traced.map(_.seconds)) - median(passes.drop(1).filterNot(_.traced).map(_.seconds))
    PerLayer.map { case (name, unit) =>
      val v =
        if (name == "trace.overhead_s") overhead
        else checkLayer.getOrElse(name, median(per.map(_.getOrElse(name, 0.0))))
      name -> (v, unit)
    }
  }

  /** Per-layer figures of one traced pass. */
  private def layerOf(p: PassRun, nextStart: Double): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val ts = probe.tasks.asScala.filter(t => within(t.finish, p.start, p.end)).toSeq
    val js = jobsIn(p.start, p.end)
    val bs = batchesIn(p.start, p.end)
    m("spark.jobs") = js.size
    m("spark.stages") = probe.stages.asScala.count(s => within(s.done, p.start, p.end))
    m("spark.tasks") = ts.size
    m("spark.task_run_s") = ts.map(_.runMs).sum / 1e3
    m("spark.task_cpu_s") = ts.map(_.cpuNs).sum / 1e9
    m("spark.gc_s") = ts.map(_.gcMs).sum / 1e3
    m("spark.shuffle_write_mb") = ts.map(_.shWriteB).sum / MB
    m("spark.shuffle_read_mb") = ts.map(_.shReadB).sum / MB
    m("spark.shuffle_records") = ts.map(_.shRecords).sum
    m("spark.spill_mb") = ts.map(_.spillB).sum / MB
    m("spark.task_wait_s") = ts.map(_.waitMs).sum / 1e3
    m("spark.driver_gap_s") = p.seconds - union(js.map(j => (j.start.toDouble, j.end.toDouble)), p.start, p.end) / 1e3

    val pl = probe.plans.asScala.filter(r => within(r.at, p.start, nextStart)).toSeq
    m("plan.analysis_ms") = pl.map(_.analysisMs).sum
    m("plan.optimization_ms") = pl.map(_.optimizationMs).sum
    m("plan.planning_ms") = pl.map(_.planningMs).sum

    for (o <- p.ops) m(o.group) += o.seconds
    p.layer.foreach { case (k, v) => m(k) += v }
    p.ops.find(_.name == "mr_wordcount").foreach { o =>
      val mt = ts.filter(t => within(t.finish, o.start, o.end))
      m("mr.shuffle_records") = mt.map(_.shRecords).sum
      m("mr.shuffle_mb") = mt.map(_.shWriteB).sum / MB
    }

    m("streaming.batches") = bs.size
    for ((k, metric) <- Seq("addBatch" -> "addBatch_ms", "latestOffset" -> "latestOffset_ms",
                           "walCommit" -> "walCommit_ms", "commitOffsets" -> "commitOffsets_ms",
                           "queryPlanning" -> "queryPlanning_ms"))
      m(s"streaming.$metric") = bs.map(_.ms.getOrElse(k, 0L)).sum
    m("streaming.state_commit_ms") = bs.map(_.stateCommitMs).sum
    m("streaming.gate_overhead_s") = p.ops.map { o =>
      val inOp = bs.filter(b => within(b.start, o.start, o.end))
      if (inOp.isEmpty) 0.0 else o.seconds - inOp.map(_.trigger).sum / 1e3
    }.sum

    m("cache.rdds_after") = p.rdds
    m("cache.storage_mb_after") = p.storageMb
    m("jvm.gc_s") = p.gcS
    m("jvm.heap_used_mb_after") = p.heapMb

    // Self time per span level: a span's duration minus the part of it
    // its children cover (op ⊃ micro-batch ⊃ job; op ⊃ job).
    val opIv = p.ops.map(o => (o.start, o.end))
    val bIv = bs.map(b => (b.start.toDouble, (b.start + b.trigger).toDouble))
    val jIv = js.map(j => (j.start.toDouble, j.end.toDouble))
    m("self.pass_s") = p.seconds - union(opIv, p.start, p.end) / 1e3
    m("self.op_s") = p.ops.map(o => o.seconds - union(bIv ++ jIv, o.start, o.end) / 1e3).sum
    m("self.batch_s") = bIv.map { case (s, e) => (e - s) - union(jIv, s, e) }.sum / 1e3
    m("self.job_s") = union(jIv, p.start, p.end) / 1e3
    m.toMap
  }

  /** pass → op → micro-batch → job, each parented by the span containing
    * its start. */
  def spans: Seq[Span] = {
    val ps = passes.map(p => Span("pass", s"pass-${p.index}", p.start, p.end, "run"))
    val os = passes.flatMap(p => p.ops.map(o => Span("op", o.name, o.start, o.end, s"pass-${p.index}")))
    val bs = batches.map(b => Span("batch", "micro-batch", b.start, b.start + b.trigger, ""))
    val js = jobs.map(j => Span("job", "job", j.start, j.end, ""))
    def parentOf(t: Double, levels: Seq[Seq[Span]]): String =
      levels.iterator.map(_.find(s => within(t, s.start, s.end))).collectFirst { case Some(s) => s.name }
        .getOrElse("run")
    ps ++ os ++ bs.map(b => b.copy(parent = parentOf(b.start, Seq(os, ps)))) ++
      js.map(j => j.copy(parent = parentOf(j.start, Seq(bs, os, ps))))
  }
}

object Metrics {
  val MB: Double = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (the median of an even count is the
    * mean of the middle two); 0 for an empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    for ((s, e) <- c) {
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.shuffle_records" -> "count", "spark.spill_mb" -> "MB",
      "spark.task_wait_s" -> "s", "spark.driver_gap_s" -> "s",
      "plan.build_s" -> "s", "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
      "plan.planning_ms" -> "ms",
      "mr.wordcount_s" -> "s", "mr.start_return_ms" -> "ms", "mr.map_s" -> "s",
      "mr.shuffle_s" -> "s", "mr.reduce_s" -> "s", "mr.shuffle_records" -> "count",
      "mr.shuffle_mb" -> "MB",
      "operators.word_count_s" -> "s", "operators.exact_dedup_s" -> "s", "operators.near_dup_s" -> "s", "operators.simhash_s" -> "s",
      "operators.top_ngrams_s" -> "s", "operators.cosine_topk_s" -> "s",
      "operators.ivf_dedup_s" -> "s", "operators.near_dup_removed" -> "count",
      "operators.near_dup_recall" -> "ratio", "operators.ivf_recall" -> "ratio") ++
    Workloads.packsRun.map(p => s"pack.${p}_s" -> "s") ++
    Seq("streaming.batches" -> "count", "streaming.addBatch_ms" -> "ms",
      "streaming.latestOffset_ms" -> "ms", "streaming.walCommit_ms" -> "ms",
      "streaming.commitOffsets_ms" -> "ms", "streaming.queryPlanning_ms" -> "ms",
      "streaming.state_commit_ms" -> "ms", "streaming.gate_overhead_s" -> "s",
      "cache.rdds_after" -> "count", "cache.storage_mb_after" -> "MB",
      "jvm.gc_s" -> "s", "jvm.heap_used_mb_after" -> "MB",
      "self.pass_s" -> "s", "self.op_s" -> "s", "self.batch_s" -> "s", "self.job_s" -> "s",
      "trace.overhead_s" -> "s")
}
