package graft.mr

import java.util.UUID
import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** API-parity facade over the reference's MapReduce contract
  * (MapReduceClient.h:65-84, MapReduceFramework.h:43-66), implemented
  * entirely on typed Datasets.
  *
  * Mapping (SURVEY.md §2.2 J):
  *  - `map` + emit2 (MapReduceClient.h:74, MapReduceFramework.cpp:278-287)
  *    → `MapReduceClient.map: (K1,V1) => IterableOnce[(K2,V2)]` — the
  *    returned iterator IS the emission; Spark's `flatMap` replaces the
  *    callback inversion.
  *  - shuffle (MapReduceFramework.cpp:92-130) → `groupByKey` — Spark's
  *    hash shuffle with map-side pre-grouping replaces the reference's
  *    per-thread maps + dedicated shuffler thread. No code.
  *  - `reduce` + emit3 (MapReduceClient.h:83, MapReduceFramework.cpp:
  *    296-303) → `flatMapGroups` (0..n emissions per key, sees all values).
  *  - `startMapReduceJob`/`waitForJob`/`getJobState`/`closeJobHandle`
  *    (MapReduceFramework.h:43-66) → `startJob` returning a
  *    [[MapReduceJobHandle]]: the action runs on a daemon thread, a
  *    SparkListener folds Spark stage progress onto the reference's
  *    `{stage, percentage}` states (§3.3): pre-shuffle stages → MAP,
  *    shuffle boundary → SHUFFLE, result stage → REDUCE.
  *
  * Scale: unlike the reference (single process, everything heap-resident,
  * MapReduceClient.h:56-62), this runs on any cluster — the shuffle is
  * Spark's, so spills, retries and locality come for free. `run` keeps the
  * result distributed; only `waitForJob` materializes (API parity with the
  * reference's caller-owned OutputVec).
  */
trait MapReduceClient[K1, V1, K2, V2, K3, V3] extends Serializable {
  /** One input record → 0..n intermediate pairs (≡ map + emit2 calls). */
  def map(key: K1, value: V1): IterableOnce[(K2, V2)]

  /** One distinct key + all its values → 0..n output pairs (≡ reduce +
    * emit3 calls). Values arrive as an iterator — at scale the group may
    * not fit in memory, so clients should stream it. */
  def reduce(key: K2, values: Iterator[V2]): IterableOnce[(K3, V3)]
}

/** Drop-in adapter with the reference's EXACT callback signatures:
  * `void map(k1, v1)` emitting via `emit2(k2, v2)` and
  * `void reduce(k2, values)` emitting via `emit3(k3, v3)`
  * (MapReduceClient.h:74,83 + MapReduceFramework.h emit2/emit3). A C++
  * client ports line-for-line — replace the `emit2(...)` framework call
  * with the provided function — while the engine still runs the
  * iterator-based [[MapReduceClient]] contract underneath. */
trait EmitStyleClient[K1, V1, K2, V2, K3, V3]
    extends MapReduceClient[K1, V1, K2, V2, K3, V3] {

  /** ≡ MapReduceClient::map(k1, v1) + emit2 calls. */
  def mapEmit(key: K1, value: V1, emit2: (K2, V2) => Unit): Unit

  /** ≡ MapReduceClient::reduce(k2, values) + emit3 calls. */
  def reduceEmit(key: K2, values: Iterator[V2], emit3: (K3, V3) => Unit): Unit

  final override def map(key: K1, value: V1): IterableOnce[(K2, V2)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(K2, V2)]
    mapEmit(key, value, (k, v) => out += ((k, v)))
    out
  }

  final override def reduce(key: K2, values: Iterator[V2]): IterableOnce[(K3, V3)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(K3, V3)]
    reduceEmit(key, values, (k, v) => out += ((k, v)))
    out
  }
}

/** Reference JobState facade (MapReduceFramework.h:8-15). */
object Stage extends Enumeration {
  val UNDEFINED, MAP, SHUFFLE, REDUCE = Value
}
final case class JobState(stage: Stage.Value, percentage: Float)

object MapReduceJob {

  /** The core dataflow: flatMap → groupByKey → flatMapGroups.
    *
    * `sortedByKey = true` additionally orders the result by key,
    * reproducing the reference's ascending `std::map` key order
    * (MapReduceClient.h:61) as an observable property. (The reference's
    * OUTPUT vector is unordered — multi-threaded appends,
    * MapReduceFramework.cpp:296-303 — so parity holds either way.)
    */
  def run[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      sortedByKey: Boolean = false,
      parallelism: Int = 0)(
      implicit e2: Encoder[(K2, V2)], ek2: Encoder[K2],
      e3: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    // parallelism ≡ the reference's multiThreadLevel knob
    // (MapReduceFramework.h:40,46): >0 repartitions the map side to that
    // many tasks; 0 keeps the source partitioning (the right default on a
    // cluster, where the scheduler — not the user — sizes parallelism).
    val sized = if (parallelism > 0) input.repartition(parallelism) else input
    val reduced = sized
      .flatMap { case (k, v) => client.map(k, v) }
      .groupByKey(_._1)
      .flatMapGroups((k: K2, it: Iterator[(K2, V2)]) => client.reduce(k, it.map(_._2)))
    if (sortedByKey) reduced.orderBy("_1") else reduced
  }

  /** Algebraic variant: when reduce is a commutative+associative combine
    * of values (the common case — the example's sum, FileWordCounter.cpp:
    * 130-132), `reduceGroups` lets Spark partially aggregate on the map
    * side (≡ the reference's per-thread pre-grouping, C1 in SURVEY.md §2.2,
    * but across the cluster): the shuffle carries one combined value per
    * key per partition instead of every emitted pair. Prefer this over
    * `run` whenever the reduce fits the shape. */
  def runAlgebraic[K1, V1, K2, V2](
      input: Dataset[(K1, V1)],
      mapFn: (K1, V1) => IterableOnce[(K2, V2)],
      combine: (V2, V2) => V2,
      sortedByKey: Boolean = false)(
      implicit e2: Encoder[(K2, V2)], ek2: Encoder[K2]): Dataset[(K2, V2)] = {
    val reduced = input
      .flatMap { case (k, v) => mapFn(k, v) }
      .groupByKey(_._1)
      .reduceGroups((a: (K2, V2), b: (K2, V2)) => (a._1, combine(a._2, b._2)))
      .map(_._2)
    if (sortedByKey) reduced.orderBy("_1") else reduced
  }

  // The AQE-off child of each caller session, held weakly: a child does
  // not reference its parent, so a dropped caller session frees its
  // entry. A fresh child per job would make every job generate and
  // compile its whole-stage code again instead of hitting Spark's
  // codegen cache.
  private val children = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  private def childOf(spark: SparkSession): SparkSession =
    children.computeIfAbsent(spark, parent => {
      val child = parent.newSession()
      child.conf.set("spark.sql.adaptive.enabled", "false")
      child
    })

  /** Asynchronous start (≡ startMapReduceJob): returns immediately with a
    * handle exposing progress and join.
    *
    * The job runs in a CHILD SparkSession (same SparkContext, isolated SQL
    * conf) with AQE off: AQE re-plans each shuffle stage as its own Spark
    * job, which breaks the stageId-based MAP/SHUFFLE/REDUCE attribution.
    * Scoping the conf to the child session means the caller's session — and
    * any concurrent handle — keeps AQE untouched (no save/restore race).
    * Every job of one caller session shares one child ([[childOf]]).
    * The input dataset is carried across via its RDD lineage (RDDs are
    * SparkContext-level, session-agnostic); the input subtree itself still
    * executes under the plan it was built with. */
  def startJob[K1, V1, K2, V2, K3, V3](
      spark: SparkSession,
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      sortedByKey: Boolean = false)(
      implicit e1: Encoder[(K1, V1)], e2: Encoder[(K2, V2)], ek2: Encoder[K2],
      e3: Encoder[(K3, V3)]): MapReduceJobHandle[K3, V3] = {
    val exec = childOf(spark)
    // The plan is built LAZILY inside the handle's runner thread (after
    // setJobGroup): input.rdd on the caller's thread would — under the
    // parent session's AQE — materialize the input's shuffle stages
    // eagerly and synchronously, violating the returns-immediately
    // contract and running those jobs outside the handle's job group
    // (uncancellable, invisible to progress).
    new MapReduceJobHandle(exec, () => run(exec.createDataset(input.rdd), client, sortedByKey))
  }
}

/** Opaque job handle (≡ JobHandle, MapReduceFramework.h:43-66). */
final class MapReduceJobHandle[K3, V3](spark: SparkSession, mkDs: () => Dataset[(K3, V3)]) {

  private val groupId = s"graft-mr-${UUID.randomUUID()}"
  private val state = new AtomicReference(JobState(Stage.UNDEFINED, 0f))
  private val done = Promise[Array[(K3, V3)]]()
  // Every state transition, in order — lets specs assert monotone progress
  // without having to poll at the right instants.
  private val history = new java.util.concurrent.ConcurrentLinkedQueue[JobState]()
  // Forward-only ratchet: the reference pipeline is strictly
  // MAP→SHUFFLE→REDUCE, so a state that would move backwards (e.g. a
  // RangePartitioner sampling job's stages interleaving with the main
  // job's under sortedByKey) is dropped rather than surfaced.
  // The ratchet and the history append are covered by ONE lock: with the
  // append outside it, two threads that both advance (SHUFFLE then
  // REDUCE/100) could interleave their add() calls in the opposite order
  // and the recorded history would show REDUCE before SHUFFLE. The lock is
  // uncontended in practice (listener-bus events are single-threaded; only
  // the runner's final REDUCE/100 races them) and readers still get
  // getJobState lock-free from the AtomicReference.
  private val stateLock = new Object
  private def setState(s: JobState): Unit = stateLock.synchronized {
    val updated = state.updateAndGet { cur =>
      val forward = s.stage.id > cur.stage.id ||
        (s.stage == cur.stage && s.percentage >= cur.percentage)
      if (forward) s else cur
    }
    if (updated eq s) history.add(s)
  }

  /** Folds Spark stage events for this job group onto MAP/SHUFFLE/REDUCE.
    *
    * MAP percentage = completed map-stage tasks / total (task progress,
    * like the reference's processed-pairs counter). SHUFFLE percentage is
    * REAL data movement, matching the reference's shuffled-pairs /
    * emit2Counter semantics (MapReduceFramework.cpp:123-127, decode
    * :372-380): shuffle records READ by a result stage so far over the
    * records WRITTEN by its DIRECT parent stages (StageInfo.parentIds) —
    * per-stage attribution, so a multi-shuffle plan (sortedByKey adds a
    * sort exchange) divides by the right denominator instead of the sum
    * of every exchange. Once the parent output is fully read (or the
    * shuffle is empty), the state advances to REDUCE with result-task
    * completion as its percentage; the setState ratchet keeps the
    * sequence monotone.
    *
    * Precision contract: exact for the canonical single-shuffle
    * map→shuffle→reduce pipeline (the reference's only shape). Plans that
    * spawn auxiliary jobs (sortedByKey's RangePartitioner sampling) may
    * advance the ratchet early; the sequence stays monotone and still
    * terminates at REDUCE/100.
    */
  // Progress attribution starts at the MAIN job (the runner's collect):
  // input-materialization jobs triggered by building the plan run
  // group-tagged (cancellable) but must not drive MAP/SHUFFLE/REDUCE —
  // their final stage is a ShuffleMapStage, which the max-stageId
  // heuristic would misread as a result stage and ratchet straight to
  // REDUCE. The reference's stages describe the MR pipeline itself, not
  // input prep (MapReduceFramework.cpp:164-202).
  //
  // The match is POSITIVE, not temporal: the runner sets a thread-local
  // property just before collect(), and Spark clones each job's properties
  // at SUBMIT time, so an input job's SparkListenerJobStart can never carry
  // it — even when the async listener bus delivers that event after the
  // main job has started (a plain `mainPhase` boolean raced exactly there).
  private val mainJobProp = "graft.mr.mainJob"

  private val listener = new SparkListener {
    @volatile private var trackedStages = Map.empty[Int, (Int, Boolean)] // stageId -> (numTasks, isResult)
    @volatile private var tasksDone = Map.empty[Int, Int]
    @volatile private var stageParents = Map.empty[Int, Seq[Int]]
    @volatile private var stageWrites = Map.empty[Int, Long]
    @volatile private var stageReads = Map.empty[Int, Long]
    @volatile private var mapStagesPending = Set.empty[Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (Option(e.properties).exists(_.getProperty(mainJobProp) == groupId)) {
        val infos = e.stageInfos
        val resultStageId = infos.map(_.stageId).max
        infos.foreach { si =>
          trackedStages += si.stageId -> (math.max(si.numTasks, 1), si.stageId == resultStageId)
          stageParents += si.stageId -> si.parentIds.map(_.toInt)
          if (si.stageId != resultStageId) mapStagesPending += si.stageId
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      trackedStages.get(e.stageId).foreach { case (numTasks, isResult) =>
        val doneCount = tasksDone.getOrElse(e.stageId, 0) + 1
        tasksDone += e.stageId -> doneCount
        val m = Option(e.taskMetrics)
        if (!isResult) {
          m.foreach { tm =>
            stageWrites += e.stageId ->
              (stageWrites.getOrElse(e.stageId, 0L) + tm.shuffleWriteMetrics.recordsWritten)
          }
          setState(JobState(Stage.MAP, 100f * doneCount / numTasks))
        } else {
          m.foreach { tm =>
            stageReads += e.stageId ->
              (stageReads.getOrElse(e.stageId, 0L) + tm.shuffleReadMetrics.recordsRead)
          }
          val denom = stageParents.getOrElse(e.stageId, Nil)
            .map(stageWrites.getOrElse(_, 0L)).sum
          val read = stageReads.getOrElse(e.stageId, 0L)
          if (denom > 0 && read < denom)
            setState(JobState(Stage.SHUFFLE, 100f * read / denom))
          else
            setState(JobState(Stage.REDUCE, 100f * doneCount / numTasks))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      trackedStages.get(e.stageInfo.stageId).foreach { case (_, isResult) =>
        if (!isResult) {
          mapStagesPending -= e.stageInfo.stageId
          // All map output written, nothing read yet: the reference's
          // SHUFFLE stage begins at 0% here (it gives shuffle its own
          // stage; Spark pipelines the reads into the result tasks, whose
          // metrics then drive the percentage up).
          if (mapStagesPending.isEmpty && stageReads.isEmpty && stageWrites.nonEmpty)
            setState(JobState(Stage.SHUFFLE, 0f))
        }
      }
    }
  }

  /** Ordered progress transitions observed so far (spec support). */
  private[graft] def stateHistory: Seq[JobState] = {
    import scala.jdk.CollectionConverters._
    history.iterator().asScala.toSeq
  }

  spark.sparkContext.addSparkListener(listener)
  private val runner = new Thread(() => {
    // `spark` here is the AQE-off child session startJob created — the
    // static Map→Shuffle→Reduce plan is the semantically faithful model of
    // the reference pipeline (MapReduceFramework.cpp:164-202), and the conf
    // is scoped to this session so callers and concurrent handles are
    // unaffected.
    try {
      spark.sparkContext.setJobGroup(groupId, "graft MapReduceJob", interruptOnCancel = true)
      // (Not compareAndSet with a fresh case-class instance — that compares
      // by reference and never matches; update-if-still-UNDEFINED instead.)
      state.getAndUpdate(s => if (s.stage == Stage.UNDEFINED) JobState(Stage.MAP, 0f) else s)
      // Plan construction (incl. input.rdd materialization) happens HERE,
      // async and group-tagged — see startJob. Jobs submitted during mkDs()
      // do NOT carry mainJobProp (set after), so the listener ignores them.
      val ds = mkDs()
      spark.sparkContext.setLocalProperty(mainJobProp, groupId)
      val out = ds.collect()
      setState(JobState(Stage.REDUCE, 100f))
      done.success(out)
    } catch {
      case t: Throwable => done.failure(t)
    } finally {
      spark.sparkContext.setLocalProperty(mainJobProp, null)
      spark.sparkContext.clearJobGroup()
    }
  }, groupId)
  runner.setDaemon(true)
  runner.start()

  /** ≡ getJobState (MapReduceFramework.cpp:372-380). */
  def getJobState: JobState = state.get()

  /** ≡ waitForJob: blocks until completion, returns the output "vector".
    * Unlike the reference (double-join UB, MapReduceFramework.cpp:387),
    * calling this repeatedly is safe — the result is memoized. */
  def waitForJob(): Array[(K3, V3)] = Await.result(done.future, Duration.Inf)

  def isDone: Boolean = done.isCompleted

  /** ≡ closeJobHandle: waits, then detaches the listener. */
  def close(): Unit = {
    try waitForJob()
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Cancels the underlying Spark job group. (No reference analogue —
    * the reference cannot cancel — but a distributed engine must.) */
  def cancel(): Unit = spark.sparkContext.cancelJobGroup(groupId)

  /** The result as a Future — the non-blocking alternative to waitForJob. */
  def future: Future[Array[(K3, V3)]] = done.future
}
