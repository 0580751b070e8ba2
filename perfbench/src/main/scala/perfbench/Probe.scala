package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Times are epoch milliseconds throughout, the clock Spark stamps its
  * events with, so benchmark spans and listener records line up. */
final case class JobRec(start: Long, end: Long)
final case class StageRec(done: Long)
final case class TaskRec(finish: Long, waitMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shWriteB: Long, shReadB: Long, shRecords: Long, spillB: Long)
final case class BatchRec(start: Long, ms: Map[String, Long], stateCommitMs: Long) {
  def trigger: Long = ms.getOrElse("triggerExecution", 0L)
}
/** Planning phases of one action; `at` is when the record arrived (the
  * listener gets no timestamp), which falls before the next pass starts
  * because traced passes are drained. */
final case class PlanRec(at: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Spark's public listeners, feeding both runs of the benchmark.
  *
  * Job and micro-batch intervals are recorded in every pass, for the
  * spans. Task, stage and planning records are kept only while `traced`
  * is set.
  *
  * Micro-batch progress is taken from `onOtherEvent`, where the
  * StreamingQueryListener's QueryProgressEvents also arrive: the live
  * gates run their streams in child sessions (`spark.newSession()`), and
  * a StreamingQueryListener registered on the parent session's
  * StreamingQueryManager never hears about those. */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var traced = false
  /** Every event delivered so far; [[drain]] waits for it to settle. */
  val events = new AtomicLong

  val jobs = new ConcurrentLinkedQueue[JobRec]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val batches = new ConcurrentLinkedQueue[BatchRec]
  val plans = new ConcurrentLinkedQueue[PlanRec]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    val s = jobStart.remove(e.jobId)
    if (s != null) jobs.add(JobRec(s, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    if (traced) {
      val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmit.put(e.stageInfo.stageId, at)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    if (traced) {
      stageSubmit.remove(e.stageInfo.stageId)
      stages.add(StageRec(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (traced && m != null) {
      val info = e.taskInfo
      val submitted = Option(stageSubmit.get(e.stageId)).map(_.longValue).getOrElse(info.launchTime)
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      tasks.add(TaskRec(info.finishTime, math.max(0L, info.launchTime - submitted),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        sw.bytesWritten, sr.remoteBytesRead + sr.localBytesRead, sw.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    events.incrementAndGet()
    e match {
      case p: QueryProgressEvent =>
        val pr = p.progress
        val ms = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val state = pr.stateOperators.map(_.commitTimeMs).sum
        batches.add(BatchRec(java.time.Instant.parse(pr.timestamp).toEpochMilli, ms, state))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    if (traced) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans.add(PlanRec(System.currentTimeMillis(), ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  /** Waits until no event has arrived for 200 ms (at most 5 s), so
    * records of work that has finished are in before they are summed. */
  def drain(): Unit = {
    val quietMs = 200
    val deadline = System.currentTimeMillis() + 5000
    var last = events.get()
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
           System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(20)
      val now = events.get()
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }
}
