package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class EventStreamsSpec extends SparkSpec {

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(s"2024-01-01 ${"%02d".format(minutes / 60)}:${"%02d".format(minutes % 60)}:00")

  private def runToMemory(name: String, df: org.apache.spark.sql.DataFrame,
                          mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  test("windowedCounts aggregates tumbling windows with watermark (complete mode)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0),
      Ev(3, ts(65), 2, "view", 3.0), Ev(4, ts(70), 2, "click", 4.0))
    val q = EventStreams.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("wc").orderBy("win_start", "event_type").collect()
    assert(rows.map(r => (r.getAs[Timestamp]("win_start").toString, r.getString(1), r.getLong(2))).toSeq ==
      Seq(("2024-01-01 00:00:00.0", "click", 2L), ("2024-01-01 01:00:00.0", "click", 1L),
          ("2024-01-01 01:00:00.0", "view", 1L)))
  }

  test("sessionized groups events with <30min gaps into one session") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    // user 1: events at 0,10,20 (one session), then 120 (new session)
    mem.addData(Ev(1, ts(0), 1, "a", 1), Ev(2, ts(10), 1, "a", 1),
      Ev(3, ts(20), 1, "a", 1), Ev(4, ts(120), 1, "a", 1))
    val q = EventStreams.sessionized(mem.toDF())
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sess").orderBy("sess_start").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 3)
    assert(rows(1).getAs[Long]("n_events") == 1)
  }

  test("dedupedByEventId drops repeated ids within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(0), 1, "a", 1), Ev(1, ts(1), 1, "a", 1), Ev(2, ts(2), 1, "a", 1))
    runToMemory("dedup", EventStreams.dedupedByEventId(mem.toDF()))
    assert(spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("firstPerKey: streaming snapshot equals the deterministic batch twin") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val events = Seq(
      Ev(3, ts(5), 1, "click", 1.0), Ev(1, ts(5), 1, "click", 2.0), // tie on ts → min event_id wins
      Ev(2, ts(1), 1, "view", 3.0), Ev(4, ts(9), 2, "click", 4.0),
      Ev(5, ts(0), 2, "click", 5.0))
    mem.addData(events: _*)
    val q = EventStreams.firstPerKey(mem.toDF())
      .writeStream.format("memory").queryName("first").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("first")
      .orderBy("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Timestamp](2), r.getLong(3))).toSeq
    val batch = EventStreams.firstPerKey(events.toDF())
      .orderBy("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Timestamp](2), r.getLong(3))).toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (1L, "click", ts(5), 1L), (1L, "view", ts(1), 2L), (2L, "click", ts(0), 5L)))
  }

  test("stream-static enrichment joins a dim table into the stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val users = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(1), 3, "view", 2.0))
    runToMemory("enrich", EventStreams.enriched(mem.toDF(), users))
    val rows = spark.table("enrich").orderBy("event_id")
      .select("event_id", "tier")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(rows == Seq((1L, Some("gold")), (2L, None)))
  }

  test("stream-stream interval join matches purchases within 10 min of a click") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    clicks.addData(Ev(10, ts(0), 1, "click", 0), Ev(11, ts(0), 2, "click", 0))
    purchases.addData(
      Ev(20, ts(5), 1, "purchase", 9.99),   // within 10 min of click 10
      Ev(21, ts(30), 2, "purchase", 5.0))   // too late for click 11
    runToMemory("funnel",
      EventStreams.clickToPurchase(clicks.toDF(), purchases.toDF()))
    val rows = spark.table("funnel").orderBy("click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((10L, 20L, 1L)))
  }

  test("stream_funnel_join batch twin equals the streaming interval join on the fixture") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // Same fixture rows through both engines of the unified model: the
    // MemoryStream run (real watermarked stream-stream join state) and
    // the declared batch query (oracle-gated) must agree row-for-row.
    val rows = graft.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev].collect()
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    clicks.addData(rows.filter(_.event_type == "click").toIndexedSeq)
    purchases.addData(rows.filter(_.event_type == "purchase").toIndexedSeq)
    runToMemory("funnel_fixture",
      EventStreams.clickToPurchase(clicks.toDF(), purchases.toDF()))
    val streaming = spark.table("funnel_fixture")
      .select("click_id", "purchase_id", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.SparkEntry.queries("stream_funnel_join")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "fixture yields no click→purchase matches — test is vacuous")
    assert(streaming == batch,
      s"streaming/batch snapshot divergence: only-streaming=${(streaming -- batch).take(5)} " +
        s"only-batch=${(batch -- streaming).take(5)}")
  }

  test("runWindowedCountsLive: real streaming run over the fixture equals the batch twin") {
    // The stream_windowed_live gate's execution path: file-stream source →
    // watermark → append-mode parquet sink, sentinel-flushed. The append
    // output (each window emitted exactly once, post-watermark) must
    // equal the batch aggregate over the same fixture, row for row.
    val live = graft.SparkEntry.queries("stream_windowed_live")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    val batch = graft.SparkEntry.queries("stream_windowed_counts")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(batch.nonEmpty, "fixture yields no windows — test is vacuous")
    assert(live == batch,
      s"streaming sink diverges from batch twin: live=${live.size} batch=${batch.size}")
  }

  test("runSessionizedLive: real session_window streaming run equals the batch twin") {
    // stream_sessionized_live's execution path (round-9 verdict #1): the
    // hardest stateful path — session_window + watermark + append-mode
    // parquet sink, sentinel-flushed. Each real session must be emitted
    // exactly once with its complete aggregate, equal to the batch twin.
    val live = graft.SparkEntry.queries("stream_sessionized_live")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    val batch = graft.SparkEntry.queries("stream_sessionized")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(batch.nonEmpty, "fixture yields no sessions — test is vacuous")
    assert(live == batch,
      s"streaming session sink diverges from batch twin: live=${live.size} batch=${batch.size}")
  }

  test("runWordCountLive: complete-mode streaming aggregation equals the batch flagship") {
    // stream_wordcount_live's execution path: the fixture arrives as
    // two micro-batches, the complete-mode state accumulates across
    // them, and foreachBatch snapshots it to parquet — the final snapshot
    // must equal the batch wordcount row for row (a dropped batch or
    // double-counted state shows up as wrong counts).
    val live = graft.SparkEntry.queries("stream_wordcount_live")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    val batch = graft.SparkEntry.queries("wordcount")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(batch.nonEmpty, "fixture yields no words — test is vacuous")
    assert(live == batch,
      s"streaming wordcount sink diverges from batch twin: live=${live.size} batch=${batch.size}")
  }

  test("runDedupLive: live dropDuplicatesWithinWatermark drops the doctored duplicate") {
    // stream_dedup_live's execution path (round-9 verdict #4). The
    // follow-up batch injects a doctored duplicate (same event_id, ts
    // −5min, user retagged to SentinelUser) that the retained state must
    // drop AFTER the batch boundary evicted everything below the
    // watermark; the summarized sink then equals the batch twin.
    val live = graft.SparkEntry.queries("stream_dedup_live")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    val batch = graft.SparkEntry.queries("stream_dedup_first")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(batch.nonEmpty, "fixture yields no dedup groups — test is vacuous")
    assert(live == batch,
      s"deduped sink diverges from batch twin: live=${live.size} batch=${batch.size}")
    // The phantom-group guard really guards: no SentinelUser row leaked.
    assert(!live.exists(_.startsWith(s"[${EventStreams.SentinelUser},")),
      "the doctored duplicate leaked through dropDuplicatesWithinWatermark")
  }

  test("runFunnelLive: two-source stream-stream interval join equals the batch twin") {
    // stream_funnel_live's execution path: two independent file-stream
    // readers over the staged fixture, watermarked interval join, append
    // parquet sink. Inner matches emit in the batch both sides arrive,
    // so the one staged batch must yield exactly the batch twin's rows.
    val live = graft.SparkEntry.queries("stream_funnel_live")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    val batch = graft.SparkEntry.queries("stream_funnel_join")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(batch.nonEmpty, "fixture yields no funnel matches — test is vacuous")
    assert(live == batch,
      s"live join sink diverges from batch twin: live=${live.size} batch=${batch.size}")
  }

  test("runEwmaLive: custom-state fold through a real streaming run equals batch q_ewma") {
    // stream_ewma_live's execution path: flatMapGroupsWithState (typed
    // custom state) over a file-stream source into an append parquet
    // sink. One staged batch ⇒ one emission per user carrying the
    // complete fold, bit-identical to the batch recurrence.
    val live = graft.SparkEntry.queries("stream_ewma_live")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    val batch = graft.SparkEntry.queries("q_ewma")(spark, sf("sf0.001"))
      .collect().map(_.toString).toSeq
    assert(batch.nonEmpty, "fixture yields no users — test is vacuous")
    assert(live == batch,
      s"streamed custom-state fold diverges from batch twin: live=${live.size} batch=${batch.size}")
  }

  test("streaming parquet SINK: append-mode file sink + checkpoint round-trips") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = tempDir("graft-ssink").toFile.getAbsolutePath
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(1), 2, "b", 2.0))
    val q = mem.toDF().select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    mem.addData(Ev(3, ts(2), 3, "c", 3.0))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$base/out").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(back == Seq((1L, 1L, "a"), (2L, 2L, "b"), (3L, 3L, "c")))
    // Exactly-once bookkeeping lives in the checkpoint dir.
    assert(new java.io.File(s"$base/ckpt").exists())
  }

  test("fromParquetDir streams staged fixture events with proper timestamps") {
    // Stage the fixture's single events.parquet FILE into a stream dir.
    val dir = tempDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001") + "/events.parquet"),
      dir.resolve("batch-0.parquet"))
    val q = EventStreams.windowedCounts(EventStreams.fromParquetDir(spark, dir.toString))
      .writeStream.format("memory").queryName("filewin").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val total = spark.table("filewin").agg(sum("n")).head().getLong(0)
    assert(total == 1000L) // all sf0.001 events flowed through the stream
  }

  test("streamingWordCount accumulates counts across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val q = EventStreams.streamingWordCount(mem.toDF().toDF("text"))
      .writeStream.format("memory").queryName("swc").outputMode("complete").start()
    mem.addData("the quick fox")
    q.processAllAvailable()
    mem.addData("the lazy dog")
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("swc").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("the") == 2 && counts("fox") == 1 && counts("dog") == 1)
  }

  test("runningPerUser keeps per-user state across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.runningPerUser(spark, mem.toDF())
      .writeStream.format("memory").queryName("running").outputMode("append").start()
    mem.addData(Ev(1, ts(0), 7, "a", 1.5), Ev(2, ts(1), 7, "a", 2.5))
    q.processAllAvailable()
    mem.addData(Ev(3, ts(2), 7, "a", 6.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("running").orderBy(col("n_events").desc).head()
    assert(last.getAs[Long]("n_events") == 3L)
    assert(last.getAs[Double]("total_value") == 10.0)
  }

  test("dedupApproxByBloom drops repeats across batches with bounded state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.dedupApproxByBloom(spark, mem.toDF(), nShards = 4)
      .writeStream.format("memory").queryName("bloomdedup").outputMode("append").start()
    mem.addData((1 to 60).map(i => Ev(i.toLong, ts(i), i % 7, "a", 1.0)): _*)
    q.processAllAvailable()
    // Second batch repeats 30..60 and adds 61..90: repeats must not re-emit.
    mem.addData((30 to 90).map(i => Ev(i.toLong, ts(i), i % 7, "a", 1.0)): _*)
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("bloomdedup").select("event_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "a duplicate id was re-emitted")
    // With 90 keys in 4 shards of 8 KB filters, FP drops are ~impossible:
    // every distinct id must appear exactly once.
    assert(ids.sorted.toSeq == (1L to 90L), s"unexpected id set: ${ids.sorted.take(10).toSeq}…")
  }

  test("dedupApproxByBloom: generation rotation keeps the two-gen no-false-negative contract") {
    // 12k distinct keys in ONE shard exceed a generation's design load
    // (~7.5k), forcing at least one rotation, while staying inside two
    // generations — so even with every key fed twice, no duplicate may
    // re-emit, and false DROPS stay under the 4% design bound the
    // stream_bloom_dedup gate uses. Batch-mode fMGWS (single group call)
    // — the same code path the gate executes.
    import spark.implicits._
    val n = 12000
    val ev = (1 to n).map(i => (i.toLong, (i % 7).toLong, 1.0))
      .toDF("event_id", "user_id", "value")
    val out = EventStreams.dedupApproxByBloom(spark, ev.unionByName(ev), nShards = 1)
      .select("event_id").collect().map(_.getLong(0))
    assert(out.length == out.distinct.length, "a duplicate id was re-emitted")
    assert(n - out.distinct.length <= math.ceil(n * 0.04),
      s"false-drop rate above design bound: ${n - out.distinct.length} of $n")
  }

  test("ewmaPerUser incrementally matches the full-history fold") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.ewmaPerUser(spark, mem.toDF())
      .writeStream.format("memory").queryName("ewma").outputMode("append").start()
    // Two micro-batches; values fold in ts order across the batch boundary.
    mem.addData(Ev(1, ts(0), 7, "a", 8.0), Ev(2, ts(1), 7, "a", 4.0))
    q.processAllAvailable()
    mem.addData(Ev(3, ts(2), 7, "a", 2.0))
    q.processAllAvailable()
    q.stop()
    // Sequential fold: 8 → 8*.5+4*.5 = 6 → 6*.5+2*.5 = 4.
    val last = spark.table("ewma").orderBy(col("n_events").desc).head()
    assert(last.getAs[Long]("n_events") == 3L)
    assert(last.getAs[Double]("ewma") == 4.0)
  }

  test("ewmaPerUser drops cross-batch late arrivals (documented contract)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.ewmaPerUser(spark, mem.toDF())
      .writeStream.format("memory").queryName("ewma_late").outputMode("append").start()
    mem.addData(Ev(1, ts(0), 7, "a", 8.0), Ev(3, ts(2), 7, "a", 4.0))
    q.processAllAvailable()
    // ts(1) arrives AFTER ts(2) was folded → late → dropped; ts(3) is in
    // order and folds. A same-batch reorder would have been sorted, so
    // only the cross-batch case exercises the drop path.
    mem.addData(Ev(2, ts(1), 7, "a", 100.0), Ev(4, ts(3), 7, "a", 2.0))
    q.processAllAvailable()
    q.stop()
    // Fold over the in-order subsequence 8, 4, 2: 8 → 6 → 4; n counts
    // only folded events (the late row neither bumps n nor moves ewma).
    val last = spark.table("ewma_late").orderBy(col("n_events").desc).head()
    assert(last.getAs[Long]("n_events") == 3L)
    assert(last.getAs[Double]("ewma") == 4.0)
  }

  test("transformWithState (v2 API) accumulates typed ValueState in RocksDB across batches") {
    // The v2 API requires the RocksDB state store provider; scope the conf
    // to a child session so the other streaming tests keep the default.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import sess.implicits._
    implicit val sc = sess.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.runningPerUserTws(sess, mem.toDF())
      .writeStream.format("memory").queryName("tws").outputMode("update").start()
    mem.addData(Ev(1, ts(0), 7, "a", 1.5), Ev(2, ts(1), 7, "a", 2.5), Ev(3, ts(2), 9, "a", 5.0))
    q.processAllAvailable()
    mem.addData(Ev(4, ts(3), 7, "a", 6.0))
    q.processAllAvailable()
    q.stop()
    val rows = sess.table("tws").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    // update-mode memory sink appends one row per key per touched batch:
    // user 7 emits (2, 4.0) then (3, 10.0); user 9 emits (1, 5.0) once.
    assert(rows.contains((7L, 3L, 10.0)), s"state did not carry across batches: ${rows.toSeq}")
    assert(rows.contains((7L, 2L, 4.0)), s"first-batch emission missing: ${rows.toSeq}")
    assert(rows.contains((9L, 1L, 5.0)))
  }

  test("runLive sink is exactly-once: metadata-log commits map 1:1 to on-disk files") {
    // Round-11 verdict #7: the live gates return spark.read.parquet(out)
    // after q.stop(). That read resolves files through the FileStreamSink
    // commit log (_spark_metadata), so a crashed-then-retried micro-batch
    // CANNOT surface duplicate rows to a gate — but nothing asserted it.
    // This pins the contract so a future flaky gate fails loudly here as a
    // harness bug instead of silently as a correctness mystery:
    //  (a) commit-log batch ids are exactly 0..n-1, no gap, no repeat;
    //  (b) no file is committed by two batches;
    //  (c) the on-disk part files are EXACTLY the committed set (a retried
    //      batch's orphan write would appear on disk but not in the log);
    //  (d) the frame the gate hashes reads only committed files.
    val live = graft.SparkEntry.queries("stream_windowed_live")(spark, sf("sf0.001"))
    val inputFiles = live.inputFiles
    assert(inputFiles.nonEmpty, "live sink read resolves no files — vacuous")
    val sinkDir = new java.io.File(new java.net.URI(inputFiles.head)).getParentFile
    val metaDir = new java.io.File(sinkDir, "_spark_metadata")
    assert(metaDir.isDirectory,
      s"no _spark_metadata at $sinkDir — the gate read is not commit-log-protected")
    val batchFiles = metaDir.listFiles().filter(_.getName.forall(_.isDigit))
    val ids = batchFiles.map(_.getName.toLong).sorted.toSeq
    assert(ids == (0L until ids.size).toSeq,
      s"commit-log batch ids not consecutive from 0: $ids")
    assert(ids.size == 2, // the two-micro-batch flush protocol, pinned
      s"windowed-live protocol stages exactly 2 micro-batches, log has ${ids.size}")
    val pathRe = """"path":"([^"]+)"""".r
    val committedPerBatch = batchFiles.toSeq.map { f =>
      val src = scala.io.Source.fromFile(f)
      try pathRe.findAllMatchIn(src.mkString).map(m =>
        new java.io.File(new java.net.URI(m.group(1))).getName).toSet
      finally src.close()
    }
    val committed = committedPerBatch.flatten
    assert(committed.size == committed.toSet.size,
      "a sink file is committed by more than one batch")
    val onDisk = sinkDir.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
    assert(onDisk == committed.toSet,
      s"disk/commit-log divergence — orphans=${(onDisk -- committed).take(3)} " +
        s"missing=${(committed.toSet -- onDisk).take(3)}")
    val readBasenames = inputFiles.map(u => new java.io.File(new java.net.URI(u)).getName).toSet
    assert(readBasenames.subsetOf(committed.toSet),
      s"gate read resolves uncommitted files: ${(readBasenames -- committed).take(3)}")
  }

  test("writeLocalParquet round-trips a local sentinel frame exactly as a Spark write") {
    import org.apache.spark.sql.types._
    // The full event-fixture type surface the jobless staging path claims
    // to support, including a null in every nullable slot.
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("ts_utc", TimestampType), StructField("user_id", IntegerType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("flag", BooleanType)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(7L,
        java.time.LocalDateTime.parse("2024-03-01T12:34:56.789"),
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"),
        42, "click", 1.5, true),
      org.apache.spark.sql.Row(null, null, null, null, null, null, null))
    // withColumn arithmetic mirrors LiveStage.shifted: still a
    // LocalRelation after optimization.
    val df = spark.createDataFrame(rows, schema)
      .withColumn("ts", col("ts") + expr("INTERVAL 7200 SECONDS"))
    val base = tempDir("graft_wlp_").toFile
    val direct = s"${base.getAbsolutePath}/direct.parquet"
    assert(EventStreams.writeLocalParquet(df, direct),
      "sentinel frame did not take the jobless staging path")
    val viaSpark = s"${base.getAbsolutePath}/spark"
    df.coalesce(1).write.parquet(viaSpark)
    val a = spark.read.schema(df.schema).parquet(direct)
      .orderBy("event_id").collect().toSeq
    val b = spark.read.schema(df.schema).parquet(viaSpark)
      .orderBy("event_id").collect().toSeq
    assert(a == b, s"direct=$a spark=$b")
    // A non-local frame must refuse the fast path (caller falls back).
    assert(!EventStreams.writeLocalParquet(
      spark.range(5).toDF("event_id"), s"${base.getAbsolutePath}/nope.parquet"))
  }

  test("stageOneFile stages a non-local frame as one file through a Spark write") {
    // The fallback path (Stress's slabs take it): no LocalRelation, so a
    // coalesced Spark write whose single part file is moved into place.
    val base = tempDir("graft_stage_one_").toFile.getAbsolutePath
    val df = spark.range(1000).selectExpr("id AS event_id", "id % 7 AS user_id")
    EventStreams.stageOneFile(df, s"$base/tmp", s"$base/one.parquet")
    assert(!new java.io.File(s"$base/tmp").exists(), "staging dir left behind")
    val back = spark.read.parquet(s"$base/one.parquet")
    assert(back.inputFiles.length == 1)
    assert(back.orderBy("event_id").collect().toSeq == df.orderBy("event_id").collect().toSeq)
  }

  test("writeLocalParquet stages whole files under a running ProcessingTime(0) stream") {
    // A live gate stages its follow-up file into the dir its stream is
    // polling. Each file must appear whole (a micro-batch that lists a
    // file before its footer is written fails the query) and leave no
    // .crc sidecar behind.
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType)))
    val srcDir = tempDir("graft_stage_").toFile
    val files = 40
    val rowsPerFile = 1000
    val q = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
      .writeStream.format("memory").queryName("staged_under_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      for (f <- 0 until files) {
        val rows = java.util.Arrays.asList((0 until rowsPerFile).map(i =>
          org.apache.spark.sql.Row(f.toLong * rowsPerFile + i, "e" * 40)): _*)
        assert(EventStreams.writeLocalParquet(spark.createDataFrame(rows, schema),
          s"${srcDir.getAbsolutePath}/z$f.parquet"))
      }
      q.processAllAvailable()
      assert(q.exception.isEmpty && q.isActive, s"a micro-batch failed: ${q.exception}")
      val ids = spark.table("staged_under_stream").select("event_id").as[Long].collect()
      val missing = (0L until files.toLong * rowsPerFile).toSet -- ids
      assert(missing.isEmpty && ids.length == files * rowsPerFile,
        s"read ${ids.length} rows; ${missing.size} staged rows never read")
    } finally q.stop()
    assert(srcDir.list().filter(_.endsWith(".crc")).isEmpty, "a .crc file was left in the source dir")
  }
}
