package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.2 I — ABSENT in the
  * reference, which is strictly batch; the closest analogue is its
  * progress polling loop, FileWordCounter.cpp:253-261).
  *
  * Every transform below is source-agnostic: it takes a streaming (or
  * batch — same code, Spark's unified model) DataFrame with the `events`
  * schema and returns the transformed frame; callers bind sources
  * (`readStream.parquet`, Kafka, MemoryStream in tests) and sinks.
  *
  * Scale notes: all stateful operators key their state by user/window —
  * state lives in the executors' state store partitioned by the groupBy
  * key, bounded by the watermark (late data beyond 10 min is dropped and
  * state evicted), so state size is O(active keys × window), independent
  * of stream length.
  */
object EventStreams {

  /** Streaming source over a directory of arriving event parquet files
    * (the standard file-stream layout; Spark's FileStreamSource requires a
    * directory, so a fixture's single events.parquet FILE must be staged
    * into one — see EventStreamsSpec). Reads with the RAW schema (ts may
    * arrive as NANOS-as-long under the legacy conf) and applies the same
    * lossless µs conversion as Tables.events. One file per trigger keeps
    * demo runs bounded. */
  def fromParquetDir(spark: SparkSession, eventsDir: String,
                     maxFilesPerTrigger: Int = 1,
                     knownSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    // Guarded set (see Tables.events): readers assume this conf; sessions
    // built by Bench/Verify/SparkSpec already carry it.
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(nanosKey).contains("true")) spark.conf.set(nanosKey, "true")
    // `knownSchema` skips the footer read when the caller already holds
    // the staged files' schema (runLive holds the fixture's — each gate
    // paid a redundant footer read per source before round 12).
    val schema = knownSchema.getOrElse(spark.read.parquet(eventsDir).schema)
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(eventsDir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP(MICROS) isAdjustedToUTC=false fixtures — same
        // normalization as Tables.events (UTC session ⇒ lossless cast;
        // guarded, a non-UTC session would silently shift values).
        graft.Tables.requireUtcSession(spark, s"$eventsDir ts")
        stream.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => stream
    }
  }

  /** Event type of the watermark-advancing sentinel rows in the live
    * gates — never a real fixture event type. */
  val SentinelType = "__graft_watermark_sentinel"

  /** User id tagging sentinel/doctored rows where the transform's output
    * has no event_type column (session windows key on user_id). Negative —
    * the fixture generator only emits non-negative ids. */
  val SentinelUser = -1L

  // Dev-only stage timing for the live gates (GRAFT_PROFILE_LIVE=1):
  // prints how each fixed-cost component of a run spends its time. Inert
  // (one env read, no allocation) when unset.
  private val profileLive = sys.env.get("GRAFT_PROFILE_LIVE").contains("1")
  @inline private def ptime[A](label: String)(f: => A): A =
    if (!profileLive) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[live-stage] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

  /** Jobless parquet staging for driver-local frames: when `df` optimizes
    * to a LocalRelation (every watermark sentinel and doctored duplicate
    * does — they are literal projections of one cached fixture row), its
    * rows are already on the driver and a plain ParquetWriter can emit
    * the staged file directly — no job submission, no task, no commit
    * protocol. Returns false (caller runs the normal Spark write) for
    * non-local frames or types outside the event-fixture surface. The
    * logical annotations written (plain INT64/DOUBLE, UTF8 strings,
    * TIMESTAMP MICROS with the NTZ/UTC flag from the Spark type) decode
    * under the gate's declared read schema exactly as Spark's own writer
    * output does — pinned by EventStreamsSpec's round-trip test. */
  private[graft] def writeLocalParquet(df: DataFrame, dest: String): Boolean = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, Type => PType, Types => PTypes}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    df.queryExecution.optimizedPlan match {
      case rel: LocalRelation if rel.data.length <= 1024 =>
        val fields = rel.schema.fields
        val converted: Array[Option[PType]] = fields.map { f =>
          f.dataType match {
            case LongType    => Some(PTypes.optional(INT64).named(f.name))
            case IntegerType => Some(PTypes.optional(INT32).named(f.name))
            case DoubleType  => Some(PTypes.optional(DOUBLE).named(f.name))
            case BooleanType => Some(PTypes.optional(BOOLEAN).named(f.name))
            case StringType  =>
              Some(PTypes.optional(BINARY).as(LTA.stringType()).named(f.name))
            case TimestampNTZType => Some(PTypes.optional(INT64)
              .as(LTA.timestampType(false, LTA.TimeUnit.MICROS)).named(f.name))
            case TimestampType => Some(PTypes.optional(INT64)
              .as(LTA.timestampType(true, LTA.TimeUnit.MICROS)).named(f.name))
            case _ => None
          }
        }
        if (converted.exists(_.isEmpty)) return false
        val msg = converted.flatten
          .foldLeft(PTypes.buildMessage(): PTypes.GroupBuilder[
            org.apache.parquet.schema.MessageType])(_.addField(_))
          .named("spark_schema")
        // Staged under a dot-prefixed name in dest's dir (a file stream
        // source skips those), then renamed into place: a running stream
        // polling that dir can never list a file whose footer is not yet
        // written. The raw local file system writes no .crc sidecar.
        val target = Paths.get(dest)
        val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
        val conf = df.sparkSession.sessionState.newHadoopConf()
        conf.setClass("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem],
          classOf[org.apache.hadoop.fs.FileSystem])
        conf.setBoolean("fs.file.impl.disable.cache", true)
        val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(new org.apache.hadoop.fs.Path(tmp.toUri))
          .withType(msg)
          .withConf(conf)
          .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
          .withCompressionCodec(
            org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
          .build()
        val fac = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
        try rel.data.foreach { row =>
          val g = fac.newGroup()
          fields.zipWithIndex.foreach { case (f, i) =>
            if (!row.isNullAt(i)) f.dataType match {
              case LongType | TimestampNTZType | TimestampType =>
                g.add(f.name, row.getLong(i)): Unit
              case IntegerType => g.add(f.name, row.getInt(i)): Unit
              case DoubleType  => g.add(f.name, row.getDouble(i)): Unit
              case BooleanType => g.add(f.name, row.getBoolean(i)): Unit
              case StringType  => g.add(f.name, org.apache.parquet.io.api.Binary
                .fromString(row.getUTF8String(i).toString)): Unit
              case _ => ()
            }
          }
          writer.write(g)
        } finally writer.close()
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        true
      case _ => false
    }
  }

  private def rmTree(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles().foreach(c => rmTree(c.getAbsolutePath))
    f.delete(): Unit
  }

  /** Sink base dirs leaked by [[runLive]]: the returned frame reads its
    * sink lazily, so the dir must outlive the call — but a bench run
    * invokes each live gate up to ~4 times, so per-invocation leaks
    * accumulate (round-9 ADVICE). One JVM shutdown hook deletes every
    * tracked base; the footprint is bounded per-JVM, not per-invocation. */
  private val leakedBases = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val cleanupHookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def trackForCleanup(base: String): Unit = {
    leakedBases.add(base)
    if (cleanupHookInstalled.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(
        () => leakedBases.forEach(p => rmTree(p)),
        "graft-live-sink-cleanup"))
  }

  /** Per-fixture metadata shared across live gates: the RAW schema (a
    * parquet footer read) and the max-ts row (a fixture scan) are pure
    * functions of the fixture FILE — before round 12 every sentinel gate
    * re-derived both per run (three footer reads + three full-fixture
    * top-1 scans per bench pass over the same immutable file). Bounded:
    * one (schema, Row) pair per distinct fixture path; same immutable-
    * fixture contract as Tables.relCache. */
  private val fixtureMeta = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.types.StructType, org.apache.spark.sql.Row)]()

  /** Follow-up batch template for [[runLive]]: the fixture's schema and
    * max-ts row (cached per fixture path, see [[fixtureMeta]]) plus the
    * shift arithmetic in the file's RAW form (ts may be a nanos-long
    * under the legacy conf). The max row is LAZY: only sentinel-staging
    * transforms force it; the no-sentinel gates (ewma, funnel, enriched,
    * tws) never pay the scan. */
  private[graft] final class LiveStage(sess: SparkSession, path: String) {
    val schema: org.apache.spark.sql.types.StructType =
      fixtureMeta.computeIfAbsent(path, p =>
        (sess.read.parquet(p).schema, null))._1
    private val tsIsLong = schema("ts").dataType == org.apache.spark.sql.types.LongType
    private lazy val maxRow: org.apache.spark.sql.Row = {
      val cached = fixtureMeta.get(path)
      if (cached._2 != null) cached._2
      else {
        val row = sess.read.parquet(path).orderBy(col("ts").desc).limit(1).head()
        fixtureMeta.put(path, (cached._1, row))
        row
      }
    }
    /** 1-row frame: the max-ts row with ts shifted by `seconds`
      * (negative = earlier). Built driver-side from the cached row — no
      * fixture scan after the first sentinel gate over a fixture. */
    def shifted(seconds: Long): DataFrame = {
      val base = sess.createDataFrame(
        java.util.Collections.singletonList(maxRow), schema)
      if (tsIsLong) base.withColumn("ts", col("ts") + lit(seconds * 1000000000L))
      else base.withColumn("ts", col("ts") + expr(s"INTERVAL $seconds SECONDS"))
    }
  }

  /** Shared mechanics of the live streaming gates (`stream_*_live`): run
    * `transform` as an ACTUAL Structured Streaming query over the
    * `dataDir` events fixture and return the sink read back as a batch
    * frame — so the gate's CORRECTNESS row is computed from a streaming
    * sink, not the batch twin (round-8/9 VERDICTs).
    *
    * Mechanics (all per-invocation temp dirs — concurrent sessions and
    * repeated bench runs can never collide):
    *  1. stage events.parquet (a straight file copy) — plus the optional
    *     `batch0Extra` sentinel as its own 1-row file — as micro-batch 0
    *     of a file-stream source dir;
    *  2. run readStream → `transform` → APPEND-mode parquet sink with a
    *     checkpoint (the real exactly-once pipeline);
    *  3. after batch 0 commits, stage the (≤ 1) `followups` frame as its
    *     own source file and drain it with ONE `processAllAvailable`;
    *  4. stop, return the sink (caller filters its tagged rows).
    *
    * Deterministic-flush contract for watermark-append transforms: the
    * FIRST sentinel (+2h) shares MICRO-BATCH 0 with the fixture via
    * `batch0Extra` — staged as its own 1-row file next to the fixture
    * copy, with maxFilesPerTrigger=2 so both initial files land in the
    * same trigger (the watermark only advances AFTER a batch, so a
    * same-batch sentinel cannot late-drop the real events — the same
    * argument as the former single-file union, without rewriting the
    * whole fixture through coalesce(1) per run, round-11 verdict #1) —
    * leaving the post-batch-0 watermark at max(ts)+2h−10min; ONE +4h
    * follow-up batch then has a pre-batch watermark that exceeds every
    * real window/session end (≤ max(ts)+30min), so every real group is
    * emitted exactly once in that single follow-up batch. Two
    * micro-batches total, and NO reliance on no-data micro-batches —
    * which is why the per-run session disables them outright
    * (noDataMicroBatches.enabled=false): each no-data batch re-runs the
    * full state-store load+commit cycle on every stateful partition
    * (~0.4–0.6 s measured at 4 partitions) purely to re-evaluate a
    * watermark this protocol never consults between data batches. A
    * production job that relies on prompt watermark-only emission keeps
    * the default; these gates' emissions all ride data batches. */
  private[graft] def runLive(spark: SparkSession, dataDir: String,
                             transform: (() => DataFrame) => DataFrame,
                             followups: LiveStage => Seq[DataFrame],
                             sessionConfs: Map[String, String] = Map.empty,
                             batch0Extra: LiveStage => Option[DataFrame] = _ => None): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_live_").toFile.getAbsolutePath
    trackForCleanup(base)
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    ptime("begin")(())

    // The run gets its OWN session: micro-batch cost scales with the
    // state-store/sink task count (= shuffle partitions × #batches), and
    // 4 partitions are plenty for the per-key state here while the parent
    // session keeps its cluster-sized setting. Results are
    // partition-count-independent; the parent session's frames and confs
    // are untouched (sessions share only the SparkContext).
    val sess = ptime("newSession")(spark.newSession())
    // 2 partitions, not 4: every micro-batch pays a state-store
    // load+commit per stateful partition, and the fixtures' per-key state
    // fits one partition with room to spare — halving the partition count
    // halves the dominant fixed cost of each of the two batches. Results
    // are partition-count-independent (asserted by the gates themselves);
    // a production job sizes this to its key cardinality instead.
    sess.conf.set("spark.sql.shuffle.partitions", "2")
    sess.conf.set("spark.sql.session.timeZone",
      spark.conf.get("spark.sql.session.timeZone", "UTC"))
    sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // These runs are two-batch and throwaway: retaining the default 100
    // checkpoint generations only adds commit-log IO per batch.
    sess.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (!sess.conf.getOption(nanosKey).contains("true")) sess.conf.set(nanosKey, "true")
    sessionConfs.foreach { case (k, v) => sess.conf.set(k, v) }
    val stage = ptime("LiveStage")(new LiveStage(sess, s"$dataDir/events.parquet"))
    /** Writes `df` as a single parquet file at `dest` (staged source files
      * must be one file each so file↔micro-batch mapping is exact). The
      * sentinel/doctored frames are 1-row driver-local relations, so the
      * common case takes [[writeLocalParquet]]'s jobless path (~5 ms)
      * instead of a full Spark write job + commit protocol (~0.12 s each,
      * two per sentinel gate per run). */
    def stageOneFile(df: DataFrame, tmp: String, dest: String): Unit = {
      if (writeLocalParquet(df, dest)) return
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      Files.move(part.toPath, Paths.get(dest)): Unit
    }
    // Stage batch 0: the straight fixture copy, plus — when the transform
    // needs a watermark-advancing sentinel — the sentinel as its OWN
    // 1-row file; maxFilesPerTrigger=2 below guarantees the two initial
    // files share the first micro-batch (watermark semantics are
    // per-BATCH, not per-file, so the co-batched sentinel cannot
    // late-drop the real events).
    ptime("copy fixture")(
      Files.copy(Paths.get(s"$dataDir/events.parquet"), Paths.get(s"$srcDir/batch0.parquet")): Unit)
    ptime("stage batch0Extra")(batch0Extra(stage).foreach { extra =>
      stageOneFile(extra, s"$base/b0", s"$srcDir/batch0b.parquet")
      rmTree(s"$base/b0")
    })

    // A FACTORY rather than a frame: a transform that needs several
    // independent sources (a two-source stream-stream join) calls it once
    // per side; single-source transforms call it once.
    val q = ptime("start query")(transform(() => fromParquetDir(sess, srcDir,
        maxFilesPerTrigger = 2, knownSchema = Some(stage.schema)))
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .start())
    val fuDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      ptime("batch 0 drain")(
        q.processAllAvailable()) // batch 0: every real event folded into state
      val fus = followups(stage)
      // With maxFilesPerTrigger=2, two follow-up files could share one
      // micro-batch and lose the between-batch watermark advance; every
      // gate stages ≤ 1 today, so fail loudly rather than silently merge.
      require(fus.size <= 1,
        s"runLive stages at most one follow-up batch (got ${fus.size})")
      ptime("stage follow-up")(fus.zipWithIndex.foreach { case (df, i) =>
        fuDirs += s"$base/fu$i"
        stageOneFile(df, s"$base/fu$i", s"$srcDir/z$i.parquet")
      })
      ptime("follow-up drain")(
        q.processAllAvailable()) // the follow-up micro-batch, if staged
      if (profileLive) q.recentProgress.foreach(p =>
        println(s"[live-batch ${p.batchId}] rows=${p.numInputRows} durationMs=${p.durationMs}"))
    } finally ptime("stop")(q.stop())
    // The source staging and checkpoint are dead once the run stopped;
    // only the sink outlives this call (the returned frame reads it
    // lazily) — reclaimed by the shutdown hook.
    (Seq(srcDir, s"$base/ckpt") ++ fuDirs).foreach(rmTree)
    spark.read.parquet(s"$base/out")
  }

  /** [[windowedCounts]] live — the execution behind `stream_windowed_live`:
    * sentinels are tagged by event_type (the output carries it) and their
    * own windows dropped after the read-back. +2h sentinel in batch 0,
    * +4h follow-up — the two-micro-batch flush protocol on [[runLive]]. */
  def runWindowedCountsLive(spark: SparkSession, dataDir: String): DataFrame = {
    def sentinel(st: LiveStage, h: Long) =
      st.shifted(h * 3600L).withColumn("event_type", lit(SentinelType))
    runLive(spark, dataDir, mk => windowedCounts(mk()),
      st => Seq(sentinel(st, 4)),
      batch0Extra = st => Some(sentinel(st, 2)))
      .filter(col("event_type") =!= SentinelType)
  }

  /** [[sessionized]] live — the execution behind `stream_sessionized_live`
    * (round-9 verdict #1: the hardest stateful path, session_window +
    * watermark + append). The output has no event_type column, so
    * sentinels are tagged by [[SentinelUser]] instead; each sentinel forms
    * its own 1-row session (2h/4h past every real event, beyond any 30-min
    * gap) which the read-back filter drops. Real sessions end by
    * max(ts)+30min < watermark at the single follow-up batch (+2h
    * sentinel in batch 0, +4h follow-up), so append mode emits each
    * exactly once with its complete aggregate. */
  def runSessionizedLive(spark: SparkSession, dataDir: String): DataFrame = {
    def sentinel(st: LiveStage, h: Long) =
      st.shifted(h * 3600L).withColumn("user_id",
        lit(SentinelUser).cast(st.schema("user_id").dataType))
    runLive(spark, dataDir, mk => sessionized(mk()),
      st => Seq(sentinel(st, 4)),
      batch0Extra = st => Some(sentinel(st, 2)))
      .filter(col("user_id") =!= SentinelUser)
  }

  /** [[dedupedByEventId]] live — the execution behind `stream_dedup_live`
    * (round-9 verdict #4: the state-eviction path no other gate touches).
    * dropDuplicatesWithinWatermark emits surviving rows in the batch they
    * arrive, so no flush sentinels are needed; instead the follow-up batch
    * is a DOCTORED DUPLICATE of the max-ts event — same event_id, ts −5min
    * (inside the 10-min watermark, so neither late-dropped nor evicted),
    * user_id retagged to [[SentinelUser]]. The batch boundary first evicts
    * all state below max(ts)−10min (the eviction path, exercised for real),
    * then must drop the duplicate on its retained key: if the dedup ever
    * leaked it, a phantom SentinelUser group would appear in the summary
    * and the oracle hash/row gate would fail — the gate is sensitive to
    * the dedup behavior itself, not just the pass-through.
    *
    * The returned frame is the deterministic [[firstPerKey]] summary of
    * the streamed sink (the sink holds raw rows whose within-batch file
    * order is not canonical; the min-struct summary is order-free and
    * hash-checkable against the same rk=1 oracle). */
  def runDedupLive(spark: SparkSession, dataDir: String): DataFrame =
    firstPerKey(
      runLive(spark, dataDir, mk => dedupedByEventId(mk()),
        st => Seq(st.shifted(-300L).withColumn("user_id",
          lit(SentinelUser).cast(st.schema("user_id").dataType)))))

  /** [[clickToPurchase]] live — the execution behind `stream_funnel_live`
    * (the stream-stream JOIN state path, the last stateful runtime with
    * no live gate). Each join side is its OWN file-stream reader over the
    * staged directory, filtered to its event type — a genuine two-source
    * watermarked interval join, not a self-join rewrite. INNER join
    * matches are emitted in the micro-batch where both sides have
    * arrived (watermarks bound state retention, not inner-match
    * emission), and every event is staged in batch 0, so one drain emits
    * every match exactly once — no sentinels needed. */
  def runFunnelLive(spark: SparkSession, dataDir: String): DataFrame =
    runLive(spark, dataDir,
      mk => clickToPurchase(
        mk().filter(col("event_type") === "click"),
        mk().filter(col("event_type") === "purchase")),
      _ => Seq.empty)

  /** [[ewmaPerUser]] live — the execution behind `stream_ewma_live` (the
    * CUSTOM-STATE runtime path: flatMapGroupsWithState with typed state,
    * the one stateful runtime with no live gate after round 10's other
    * four). Append-mode fMGWS emits one row per key per micro-batch that
    * carries rows for it; the whole fixture is staged as batch 0 (one
    * file, and FileStreamSource never splits a file across micro-batches),
    * so each user folds its complete in-order history in one batch and
    * the sink holds EXACTLY the final fold per user — bit-identical to
    * the batch q_ewma (same (ts, event_id) order, same seeded
    * `acc*0.5 + v*0.5` IEEE arithmetic), hash-checked against the same
    * DuckDB list_reduce oracle. No sentinels: emission is per-batch, not
    * watermark-gated. */
  def runEwmaLive(spark: SparkSession, dataDir: String): DataFrame =
    // The transform threads the RUN session (df.sparkSession — the tuned
    // per-run child), not the parent `spark`: ewmaPerUser only uses it for
    // encoders today, but a conf read would otherwise silently see the
    // parent's settings (round-10 ADVICE).
    runLive(spark, dataDir,
      mk => { val df = mk(); ewmaPerUser(df.sparkSession, df) }, _ => Seq.empty)

  /** [[enriched]] live — the execution behind `stream_enriched_live` (the
    * most-used streaming join shape in real pipelines: an unbounded event
    * stream left-joined against a STATIC dimension, which Spark re-plans
    * per micro-batch and broadcasts when small). Stateless — each event
    * emits its joined row in the batch it arrives, so no watermark, no
    * sentinels, one drain. The stream side is projected to (event_id,
    * user_id) before the join so the sink stays narrow; the dim is the
    * customer table keyed by c_custkey = user_id. */
  def runEnrichedLive(spark: SparkSession, dataDir: String): DataFrame =
    runLive(spark, dataDir, mk => {
      val ev = mk().select(col("event_id"), col("user_id"))
      val dim = graft.Tables.customer(ev.sparkSession, dataDir)
        .select(col("c_custkey").cast("long").as("user_id"),
          col("c_mktsegment").as("segment"))
      enriched(ev, dim)
    }, _ => Seq.empty)

  /** [[runningPerUserTws]] live — the execution behind `stream_running_tws`
    * (the Spark-4 transformWithState runtime path, requiring the RocksDB
    * state store provider — threaded to the per-run session via
    * `sessionConfs`). Same single-batch contract as the ewma live gate:
    * the whole fixture arrives as batch 0 (FileStreamSource never splits
    * a file), each user folds its complete history in one
    * handleInputRows call, and the append sink holds exactly the final
    * per-user running state — hash-checked against the plain batch
    * GROUP BY oracle. */
  def runRunningTwsLive(spark: SparkSession, dataDir: String): DataFrame =
    runLive(spark, dataDir,
      mk => { val df = mk(); runningPerUserTws(df.sparkSession, df, OutputMode.Append()) },
      _ => Seq.empty,
      sessionConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  /** Tumbling 1-hour windowed counts per event type, 10-minute watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total_value"))

  /** Session windows (30-minute gap) per user — the streaming twin of the
    * batch q_sessionize query. */
  def sessionized(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sess"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"))
      .select(col("user_id"), col("sess.start").as("sess_start"),
        col("sess.end").as("sess_end"), col("n_events"), col("session_value"))

  /** Exactly-once-per-id stream dedup bounded by the watermark. */
  def dedupedByEventId(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** DETERMINISTIC stream dedup: the earliest event per (user_id,
    * event_type), ties broken by event_id. Unlike dropDuplicates (keeps
    * an arbitrary row — fine for exactly-once delivery, not oracle-able),
    * the min-struct aggregation has one well-defined answer, so the same
    * code is a streaming update-mode aggregation AND a hash-checkable
    * batch query (declared as `stream_dedup_first`). */
  def firstPerKey(events: DataFrame): DataFrame =
    events
      .groupBy("user_id", "event_type")
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("event_type"),
        col("f.ts").as("first_ts"), col("f.event_id").as("first_event_id"))

  /** Stream-static enrichment: join an unbounded event stream against a
    * static dimension (the lookup-table pattern; Spark re-plans the
    * static side per micro-batch, so a broadcastable dim broadcasts). */
  def enriched(events: DataFrame, users: DataFrame): DataFrame =
    events.join(users, Seq("user_id"), "left")

  /** Watermarked stream-stream interval join: click events matched to
    * purchase events of the same user within [0, 10 min] after the click.
    * Both sides carry watermarks so state is bounded — the canonical
    * funnel/attribution join. */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select("click_id", "purchase_id", "user_id")
  }

  /** Streaming word count — the flagship pipeline on an unbounded text
    * stream (complete/update-mode aggregation; same plan as the batch
    * `wordcount` query plus incremental state). */
  def streamingWordCount(texts: DataFrame, textCol: String = "text"): DataFrame =
    texts
      .select(explode(split(col(textCol), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** [[streamingWordCount]] live — the execution behind
    * `stream_wordcount_live`, closing the last spec-only streaming
    * runtime: the flagship word count as an ACTUAL unbounded-aggregation
    * streaming run over the documents fixture.
    *
    * A global aggregation with no watermark can never emit in append mode
    * (its state never finalizes), so this gate uses the production shape
    * for a bounded-dictionary rollup: COMPLETE output mode through
    * foreachBatch, each micro-batch overwriting a parquet snapshot of the
    * full aggregation state — the snapshot standing after the last batch
    * IS the final count. The fixture is staged as two source files
    * (maxFilesPerTrigger=1 ⇒ two micro-batches) — the minimum that still
    * forces REAL cross-batch state accumulation (batch 1 folds onto
    * batch 0's carried state; the former third slice only re-proved the
    * same state transition again at ~0.5 s/run) — so the word state
    * genuinely accumulates across batches: a dropped batch, a
    * non-incremental rescan, or double-counted state breaks the hash
    * against the SAME DuckDB oracle as the batch `wordcount` twin.
    *
    * Scale: complete-mode state is O(|vocabulary|) — the right contract
    * when the dictionary fits executor memory (word counts, label
    * rollups); an unbounded key space would pair update mode with an
    * idempotent sink merge instead (the dedup gates pin that shape). */
  def runWordCountLive(spark: SparkSession, dataDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_live_wc_").toFile.getAbsolutePath
    trackForCleanup(base)
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val sess = spark.newSession()
    // 2 partitions, the runLive rationale: per-batch state-store/sink
    // task count is the fixed cost, per-key state is tiny (r22 Lab:
    // 4 -> 2 measured ~5% on each of the three 4-partition gates).
    sess.conf.set("spark.sql.shuffle.partitions", "2")
    val docs = sess.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text")
    // Two deterministic slices → two micro-batches. Any split works —
    // the aggregate is order-independent — but >1 batch is the point: it
    // forces real cross-batch state accumulation. ONE pass stages both
    // (partitionBy writes slice subdirs; repartition by the slice key
    // makes each subdir a single part file), instead of per-slice
    // fixture scans.
    val tmp = s"$base/staged"
    docs.withColumn("b", (col("doc_id") % 2).cast("int"))
      .repartition(2, col("b"))
      .write.partitionBy("b").parquet(tmp)
    for (k <- 0 until 2) {
      val dir = new java.io.File(s"$tmp/b=$k")
      // A slice with no rows writes no subdir — fine, the remaining
      // slices still give >1 micro-batch on every fixture.
      if (dir.isDirectory) {
        val parts = dir.listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        // repartition(2, b) co-locates each b in ONE task, so exactly one
        // part file per subdir; more would mean the move below drops rows.
        if (parts.length != 1)
          sys.error(s"expected exactly one part file under $tmp/b=$k, found ${parts.length}")
        Files.move(parts.head.toPath, Paths.get(s"$srcDir/b$k.parquet"))
      }
    }
    rmTree(tmp)
    val stream = sess.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = streamingWordCount(stream)
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$base/out")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    Seq(srcDir, s"$base/ckpt").foreach(rmTree)
    spark.read.parquet(s"$base/out")
  }

  /** Streaming count-min sketch maintenance, LIVE — the execution behind
    * `stream_cms_live`: the events fixture arrives as three micro-batches
    * (file-stream source, maxFilesPerTrigger=1); each batch builds its
    * OWN CMS artifact over the batch's user_ids (graft_cms_agg inside
    * foreachBatch) and appends it as one ~16 KB parquet row — the
    * per-window sketch a production frequency monitor persists. After
    * the run, a query-time graft_cms_merge folds the per-batch artifacts
    * into the global sketch and probes the top-20 keys by exact count.
    *
    * The gate's teeth: counter addition is associative, so the merged
    * sketch must be BYTE-identical to a single build over the whole
    * stream — the DuckDB oracle recomputes the ESTIMATES in full (every
    * counter = the sum of exact counts of colliding keys, as in
    * q_cms_freq), so a dropped batch, a double-processed batch, or any
    * merge arithmetic error shifts a counter and hash-fails. n_batches
    * pins that the state genuinely crossed three batches.
    *
    * Scale: per-batch state is ONE fixed-size buffer per task regardless
    * of key cardinality; the persisted artifact stream grows one row per
    * trigger and the merge reads only those rows — frequency tracking
    * over an unbounded key space with O(batches · 16 KB) total state. */
  def runCmsLive(spark: SparkSession, dataDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.functions.expressions.GraftFunctions
    val base = Files.createTempDirectory("graft_live_cms_").toFile.getAbsolutePath
    trackForCleanup(base)
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "2")
    GraftFunctions.ensureRegistered(sess)
    val ev = sess.read.parquet(s"$dataDir/events.parquet")
      .select("event_id", "user_id")
    // Three deterministic slices → three micro-batches (same staging
    // discipline as runWordCountLive).
    val tmp = s"$base/staged"
    ev.withColumn("b", (col("event_id") % 3).cast("int"))
      .repartition(3, col("b"))
      .write.partitionBy("b").parquet(tmp)
    for (k <- 0 until 3) {
      val dir = new java.io.File(s"$tmp/b=$k")
      if (dir.isDirectory) {
        val parts = dir.listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        if (parts.length != 1)
          sys.error(s"expected exactly one part file under $tmp/b=$k, found ${parts.length}")
        Files.move(parts.head.toPath, Paths.get(s"$srcDir/b$k.parquet"))
      }
    }
    rmTree(tmp)
    val partsDir = s"$base/parts"
    val stream = sess.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // The per-trigger sketch build: one artifact row per non-empty
        // batch. (ensureRegistered is idempotent; the micro-batch frame
        // may live in a cloned session.)
        GraftFunctions.ensureRegistered(batch.sparkSession)
        if (!batch.isEmpty)
          batch.agg(GraftFunctions.cmsAggCol(col("user_id").cast("string")).as("cms"))
            .withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(partsDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    Seq(srcDir, s"$base/ckpt").foreach(rmTree)
    val merged = sess.read.parquet(partsDir)
      .agg(GraftFunctions.cmsMergeCol(col("cms")).as("cms"),
        count(lit(1)).as("n_batches"))
    val exact = sess.read.parquet(s"$dataDir/events.parquet")
      .select(col("user_id").cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("exact_cnt"))
    exact.orderBy(col("exact_cnt").desc, col("k")).limit(20)
      .crossJoin(broadcast(merged))
      .withColumn("est_cnt",
        GraftFunctions.cmsEstimateCol(col("cms"), col("k").cast("string")))
      .select(col("k"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") >= col("exact_cnt")).as("no_underestimate"),
        col("n_batches"))
      .orderBy(col("exact_cnt").desc, col("k"))
  }

  /** `stream_kmv_live` — the KMV twin of [[runCmsLive]], and the
    * stronger gate of the two: each of the three micro-batches builds
    * its own ≤ 2 KB KMV artifact over the batch's EVENT IDS (unique per
    * event, so the stream's distinct count is far past k = 256 and the
    * ESTIMATOR branch is live, not just the exact one), persists it as
    * one parquet row, and the query-time graft_kmv_merge folds the
    * per-batch artifacts into the global sketch. KMV's merge identity —
    * the k smallest of a union are the k smallest of the pooled
    * k-minimum sets — means the merged artifact is BYTE-equal to a
    * single whole-stream build, and because every piece of the sketch
    * is portable md5 math, the DuckDB oracle recomputes the ESTIMATE
    * ITSELF (not a bound, unlike the CMS gate's min-counter
    * inequality): a dropped batch, a double-processed batch, or any
    * merge slip changes the k-th minimum and hash-fails. Scale: O(k)
    * state per trigger, O(batches · 2 KB) persisted. */
  def runKmvLive(spark: SparkSession, dataDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.functions.expressions.GraftFunctions
    val base = Files.createTempDirectory("graft_live_kmv_").toFile.getAbsolutePath
    trackForCleanup(base)
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "2")
    GraftFunctions.ensureRegistered(sess)
    val ev = sess.read.parquet(s"$dataDir/events.parquet").select("event_id")
    val tmp = s"$base/staged"
    ev.withColumn("b", (col("event_id") % 3).cast("int"))
      .repartition(3, col("b"))
      .write.partitionBy("b").parquet(tmp)
    for (k <- 0 until 3) {
      val dir = new java.io.File(s"$tmp/b=$k")
      if (dir.isDirectory) {
        val parts = dir.listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        if (parts.length != 1)
          sys.error(s"expected exactly one part file under $tmp/b=$k, found ${parts.length}")
        Files.move(parts.head.toPath, Paths.get(s"$srcDir/b$k.parquet"))
      }
    }
    rmTree(tmp)
    val partsDir = s"$base/parts"
    val stream = sess.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        GraftFunctions.ensureRegistered(batch.sparkSession)
        if (!batch.isEmpty)
          batch.agg(GraftFunctions.kmvAggCol(col("event_id").cast("string")).as("kmv"))
            .withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(partsDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    Seq(srcDir, s"$base/ckpt").foreach(rmTree)
    val merged = sess.read.parquet(partsDir)
      .agg(GraftFunctions.kmvMergeCol(col("kmv")).as("kmv"),
        count(lit(1)).as("n_batches"))
    val exact = sess.read.parquet(s"$dataDir/events.parquet")
      .agg(countDistinct(col("event_id")).as("n_exact"))
    exact.crossJoin(broadcast(merged))
      .select(col("n_exact"),
        GraftFunctions.kmvEstimateCol(col("kmv")).as("kmv_est"),
        col("n_batches"))
  }

  /** Custom state machine via flatMapGroupsWithState (≡ §2.2 J's
    * UDAF-shaped reduce, but incremental): per-user running count +
    * cumulative value, emitted on every update. */
  case class UserEvent(user_id: Long, ts: Timestamp, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)
  case class UserTimedEvent(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
  case class UserEwma(user_id: Long, n_events: Long, ewma: Double)
  /** ewmaPerUser state: the fold result plus the max (ts, event_id)
    * already folded — the watermark against which later batches detect
    * (and drop) out-of-order arrivals. */
  case class UserEwmaState(user_id: Long, n_events: Long, ewma: Double,
                           max_ts: Timestamp, max_eid: Long)

  def runningPerUser(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          batch.foreach { e => n += 1; total += e.value }
          val next = UserRunning(uid, n, total)
          state.update(next)
          Iterator.single(next)
      }
      .toDF()
  }

  case class IdEvent(event_id: Long, user_id: Long, value: Double)
  case class BloomGen(current: Array[Byte], previous: Array[Byte], nCurrent: Long)

  /** Approximate streaming dedup with BOUNDED state — the pattern for
    * never-ending streams where exact dedup state (dropDuplicates keeps
    * every key inside the watermark; an unbounded-retention exact dedup
    * keeps every key forever) cannot run indefinitely. Each of `nShards`
    * key shards keeps TWO generations of an 8 KB bloom artifact: inserts
    * go to `current`, membership checks probe both, and when `current`
    * reaches its design load (m·ln2/k ≈ 7.5k keys — past it FPR climbs
    * toward 1 and a saturated filter would silently drop every new
    * event) it rotates to `previous` and a fresh `current` starts. So:
    * a duplicate arriving within the last ~2 generations of its shard
    * never re-emits (bloom has no false negatives); older repeats may
    * re-emit (the bounded-state price, same contract as watermarked
    * dropDuplicates); the FPR-bounded false-DROP chance stays at the
    * design level forever. State is O(nShards × 16 KB), constant. */
  def dedupApproxByBloom(spark: SparkSession, events: DataFrame, nShards: Int = 16): DataFrame = {
    // nShards = 0 dies with a div-by-zero deep in an executor lambda;
    // fail here with the parameter named instead.
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import spark.implicits._
    import graft.functions.expressions.BloomSketch
    val genCapacity = (BloomSketch.DefaultBits * 0.693 / BloomSketch.DefaultHashes).toLong
    events
      .select(col("event_id"), col("user_id"), col("value")).as[IdEvent]
      .groupByKey(_.event_id % nShards)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[IdEvent], state: GroupState[BloomGen]) =>
          var gen = state.getOption.getOrElse(
            BloomGen(BloomSketch.emptyArtifact(), BloomSketch.emptyArtifact(), 0L))
          val fresh = rows.filter { e =>
            val k = e.event_id.toString
            val unseen = !BloomSketch.contains(gen.current, k) &&
              !BloomSketch.contains(gen.previous, k)
            if (unseen) {
              if (gen.nCurrent >= genCapacity)
                gen = BloomGen(BloomSketch.emptyArtifact(), gen.current, 0L)
              BloomSketch.addToArtifact(gen.current, k)
              gen = gen.copy(nCurrent = gen.nCurrent + 1)
            }
            unseen
          }.toVector
          state.update(gen)
          fresh.iterator
      }
      .toDF()
  }

  /** Incremental EWMA (alpha = 0.5) per user — the streaming twin of the
    * batch `q_ewma` fold: state is (n, last ewma, max folded (ts,
    * event_id)), each micro-batch folds its rows in timestamp order on
    * top of the carried state. O(1) state per key — the shape that runs
    * forever.
    *
    * Late-data contract (round-4 ADVICE pin): an EWMA fold is
    * order-sensitive, so an event arriving AFTER a later-timestamped
    * event has already been folded cannot be incorporated without
    * rewinding state. Such late rows are DROPPED — detected against the
    * per-key max folded (ts, event_id), same tie-break as the in-batch
    * sort. The emitted value therefore equals the batch `q_ewma`
    * full-history fold over exactly the events that arrived in order
    * across micro-batches; it equals the fold over ALL events iff
    * arrival is in order (per key) across batches, e.g. a replayed log.
    * Callers needing late events reflected must re-run the batch query.
    * (EventStreamsSpec pins the drop behavior with a late-arrival case.)
    *
    * Checkpoint compatibility: the round-6 late-data fix widened the
    * state encoding from UserEwma(user_id, n_events, ewma) to
    * UserEwmaState(..., max_ts, max_eid). flatMapGroupsWithState state
    * is stored product-encoded in the checkpoint, so a query restored
    * from a checkpoint written by the pre-round-6 build will fail to
    * decode (or misread) its state: discard such checkpoints and restart
    * from a fresh checkpoint location when upgrading across that
    * boundary. */
  def ewmaPerUser(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("value")).as[UserTimedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserTimedEvent], state: GroupState[UserEwmaState]) =>
          // (ts, event_id) — the SAME tie-break as batch q_ewma's
          // sort_array, and Timestamp.compareTo keeps nanos (getTime
          // would truncate to millis and reorder sub-ms events).
          def before(ats: Timestamp, aeid: Long, bts: Timestamp, beid: Long): Boolean = {
            val c = ats.compareTo(bts)
            c < 0 || (c == 0 && aeid < beid)
          }
          val ordered = batch.toSeq.sortWith((a, b) =>
            before(a.ts, a.event_id, b.ts, b.event_id))
          val prev = state.getOption
          var n = prev.map(_.n_events).getOrElse(0L)
          var ewma = prev.map(_.ewma).getOrElse(Double.NaN)
          var maxTs = prev.map(_.max_ts).orNull
          var maxEid = prev.map(_.max_eid).getOrElse(Long.MinValue)
          ordered.foreach { e =>
            // ≤ max folded (ts, event_id) ⇒ late (or duplicate): folding it
            // now would diverge from the batch order — drop, per contract.
            if (maxTs == null || before(maxTs, maxEid, e.ts, e.event_id)) {
              ewma = if (n == 0L) e.value else ewma * 0.5 + e.value * 0.5
              n += 1
              maxTs = e.ts
              maxEid = e.event_id
            }
          }
          val next = UserEwmaState(uid, n, ewma, maxTs, maxEid)
          state.update(next)
          Iterator.single(UserEwma(uid, n, ewma))
      }
      .toDF()
  }

  /** The same per-user running state through Spark 4's transformWithState
    * (arbitrary stateful processing v2): typed ValueState handles, TTL
    * config and timer hooks — the successor API to
    * flatMapGroupsWithState, kept side by side so both Spark generations
    * of the custom-state surface are covered. Requires the RocksDB state
    * store provider (ships in the Spark jars; the caller's session must
    * set spark.sql.streaming.stateStore.providerClass — see
    * EventStreamsSpec). */
  class RunningStateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserRunning] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[UserRunning] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserRunning]("running",
        org.apache.spark.sql.Encoders.product[UserRunning], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val prev = if (st.exists()) st.get() else UserRunning(uid, 0L, 0.0)
      var n = prev.n_events
      var total = prev.total_value
      rows.foreach { e => n += 1; total += e.value }
      val next = UserRunning(uid, n, total)
      st.update(next)
      Iterator.single(next)
    }
  }

  /** `mode` is the OPERATOR output mode transformWithState declares: the
    * MemoryStream spec runs Update (one row per touched key per batch to
    * an update sink); the live gate runs Append to match [[runLive]]'s
    * append parquet sink. */
  def runningPerUserTws(spark: SparkSession, events: DataFrame,
                        mode: OutputMode = OutputMode.Update()): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningStateProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        mode)
      .toDF()
  }

  /** One decoded Avro documents-projection row (the fixed shape the
    * live gate streams; the schema-generic reader is the batch API —
    * Structured Streaming needs a concrete Encoder). */
  case class AvroDocRow(doc_id: Long, lang: String, source: String, n_chars: Long)

  /** Shared scaffold for the live SHARD-arrival gates: stage the shard
    * files into a fresh stream source dir (COPIES, ordinal-prefixed —
    * arbitrary caller paths may share a basename across directories,
    * and Hadoop-scheme path strings are accepted), run a binaryFile
    * FileStreamSource → per-shard `decode` → append parquet sink across
    * `filesPerTrigger`-file micro-batches, return the sink as a batch
    * frame. Same per-invocation temp-dir/session discipline as
    * [[runLive]] (own 2-partition session, tracked sink dir,
    * checkpoint+staging reclaimed eagerly). binaryFile's schema is
    * fixed by the format, but FileStreamSource still demands it
    * explicitly (no streaming-time inference). */
  private def shardStreamLive[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, shardPaths: Seq[String], filesPerTrigger: Int,
      tag: String)(decode: (String, Array[Byte]) => Seq[T]): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory(s"graft_${tag}_live_").toFile.getAbsolutePath
    trackForCleanup(base)
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    shardPaths.zipWithIndex.foreach { case (p, i) =>
      // Hadoop Path, not raw URI parsing: a plain local path with a
      // colon in a segment, or a file: URI with an encoded char, trips
      // java.net.URI; Path normalizes both and only strips a scheme
      // when one is actually present (round-18 ADVICE).
      val hp = new org.apache.hadoop.fs.Path(p)
      val local =
        if (hp.toUri.getScheme == null) p else hp.toUri.getPath
      val name = hp.getName
      Files.copy(Paths.get(local), Paths.get(f"$srcDir/$i%05d~$name")): Unit
    }
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "2")
    sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    sess.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    import sess.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[T] =
      org.apache.spark.sql.Encoders.product[T]
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val q = sess.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .load(srcDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val staged = path.substring(path.lastIndexOf('/') + 1)
        decode(staged.substring(staged.indexOf('~') + 1), bytes) // drop ordinal
      }
      .toDF()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    Seq(srcDir, s"$base/ckpt").foreach(rmTree)
    spark.read.parquet(s"$base/out")
  }

  /** stream_txlog_live: the streaming-LAKEHOUSE sink — events arriving
    * as a stream land in a [[graft.sources.TxLog]] transaction-log
    * table with ONE ATOMIC COMMIT PER MICRO-BATCH via foreachBatch,
    * version = batchId. This is the production exactly-once pattern
    * (what Delta's streaming sink does): on failure-replay of a batch,
    * the version is already committed and the write SKIPS — TxLog's
    * atomic hard-link commit makes the check race-free, so the table can
    * never hold a batch's rows twice. Two real micro-batches
    * (maxFilesPerTrigger=1 over two staged files with forced mtime
    * order); returns the table dir for log-replayed reads — the gate
    * time-travels to version 0 (batch 0 alone) AND reads the latest
    * snapshot, auditing both against the batch model. */
  def runTxLogSinkLive(spark: SparkSession, dataDir: String): String = {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_txlog_live_").toFile.getAbsolutePath
    trackForCleanup(base)
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "2")
    sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    sess.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (!sess.conf.getOption(nanosKey).contains("true")) sess.conf.set(nanosKey, "true")
    val ev = graft.Tables.events(sess, dataDir)
      .select(col("event_id"), col("user_id"), col("value"))
    // ONE pass stages both halves (the runWordCountLive/runCmsLive
    // staging discipline): partitionBy writes the slice subdirs and the
    // repartition by slice key makes each subdir a single part file —
    // previously two coalesce(1) write jobs each re-scanned the fixture.
    val tmp = s"$base/staged"
    ev.withColumn("b", (col("event_id") % 2).cast("int"))
      .repartition(2, col("b"))
      .write.partitionBy("b").parquet(tmp)
    for (k <- 0 until 2) {
      val dir = new java.io.File(s"$tmp/b=$k")
      val parts = if (dir.isDirectory) dir.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        else Array.empty[java.io.File]
      if (parts.length != 1)
        sys.error(s"expected exactly one part file under $tmp/b=$k, found ${parts.length}")
      Files.move(parts.head.toPath, Paths.get(s"$srcDir/batch$k.parquet")): Unit
      // Forced mtime order: FileStreamSource batches by timestamp, and
      // the gate's version-0 audit pins WHICH half landed first.
      new java.io.File(s"$srcDir/batch$k.parquet").setLastModified((k + 1) * 1000000L): Unit
    }
    rmTree(tmp)
    val tableDir = s"$base/table"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    // Not fromParquetDir: that helper normalizes a `ts` column the
    // events fixture carries; this projection deliberately has none.
    val q = sess.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        // Idempotent replay: a version file appears only via an atomic
        // link(2) publication,
        // so existence == that batch is fully committed — skip, exactly
        // once. (A concurrent loser of the rename race would throw out
        // of commit(), failing the query loudly rather than double-
        // landing rows; single-writer here, so the check suffices.)
        if (!new java.io.File(tableDir, f"_log/$batchId%020d.json").exists()) {
          // commitData = writer-unique data dir + atomic commit with the
          // batch's schema recorded in the trailer (the schema contract).
          graft.sources.TxLog.commitData(df, tableDir, batchId, "append"): Unit
        }
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    Seq(srcDir, s"$base/ckpt").foreach(rmTree)
    tableDir
  }

  /** avro_ingest_live: OCF shards arriving as a STREAM — binaryFile
    * FileStreamSource → per-shard DataFileReader parse → append parquet
    * sink across real micro-batches; returns the sink as a batch frame.
    * The streaming twin of [[graft.sources.AvroSource.read]]: log
    * shards arriving continuously is OCF's native habitat, and the
    * parse is the same whole-shard decode, one task per arriving file. */
  def avroRowsLive(spark: SparkSession, shardPaths: Seq[String],
                   filesPerTrigger: Int = 2): DataFrame =
    shardStreamLive[AvroDocRow](spark, shardPaths, filesPerTrigger, "avro") {
      (_, bytes) =>
        val dfr = new org.apache.avro.file.DataFileReader(
          new org.apache.avro.file.SeekableByteArrayInput(bytes),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        def longOf(v: Any): Long = v match {
          case i: java.lang.Integer => i.toLong
          case l: java.lang.Long    => l
          case other => throw new IllegalArgumentException(s"not integral: $other")
        }
        try {
          val out = Vector.newBuilder[AvroDocRow]
          while (dfr.hasNext) {
            val r = dfr.next()
            // Option-map, not String.valueOf: a null field must decode
            // to SQL NULL exactly as the batch AvroSource.read path
            // yields it, not the literal string "null" (round-18
            // ADVICE — keeps the live≡batch twin honest on nullables).
            def strOf(v: Any): String = Option(v).map(_.toString).orNull
            out += AvroDocRow(longOf(r.get("doc_id")),
              strOf(r.get("lang")), strOf(r.get("source")),
              longOf(r.get("n_chars")))
          }
          out.result()
        } finally dfr.close()
    }

  /** WARC shard ARRIVAL pipeline, live — the actual Common Crawl ingest
    * shape: a FileStreamSource over binary WARC shards (`binaryFile`
    * format — exactly-once file discovery with per-batch commit logs),
    * the strict Content-Length parse per shard
    * (WarcSource.parseWarc — same loud-failure contract as the batch
    * reader), and an append parquet sink. STATELESS map-only
    * micro-batches: no watermark, no state store — what this gate pins
    * is that the streaming execution (file-queue batching across
    * `filesPerTrigger`-sized triggers, sink commit protocol) reproduces
    * the batch parse bit-for-bit under the batch `warc_ingest` oracle.
    * At 100 TB this is the shape that matters: shards arrive
    * continuously, each is one task in some micro-batch, and the sink's
    * commit log makes re-processing after failure exactly-once.
    *
    * Same per-invocation temp-dir/session discipline as [[runLive]]
    * (own 2-partition session, tracked sink dir, checkpoint+staging
    * reclaimed eagerly). */
  def warcRecordsLive(spark: SparkSession, shardPaths: Seq[String],
                      filesPerTrigger: Int = 8): DataFrame =
    shardStreamLive[graft.sources.WarcSource.WarcRecord](
        spark, shardPaths, filesPerTrigger, "warc") { (name, bytes) =>
      val (recs, clean) = graft.sources.WarcSource.parseWarc(name, bytes)
      if (!clean) throw new IllegalArgumentException(
        s"$name: unframeable trailing bytes mid-stream (corrupt WARC shard)")
      recs
    }
}
