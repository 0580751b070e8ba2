package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class TablesSpec extends SparkSpec {
  test("registerViews exposes every fixture table to pure SQL") {
    Tables.registerViews(spark, sf("sf0.001"))
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) == 6000L)
    assert(spark.sql(
      "SELECT count(*) FROM events JOIN customer ON user_id = c_custkey").head().getLong(0) > 0)
    // ts must arrive as a proper timestamp despite the NANOS source.
    assert(spark.sql("SELECT typeof(ts) FROM events LIMIT 1").head().getString(0) == "timestamp")
  }

  test("NTZ events fixture: non-UTC session fails loudly, UTC session reads exact micros") {
    import org.apache.spark.sql.functions._
    // Stage a minimal events.parquet whose ts is TIMESTAMP_NTZ (parquet
    // TIMESTAMP(MICROS) isAdjustedToUTC=false — one of the two physical
    // encodings driver fixtures have shipped).
    val dir = tempDir("graft_ntz_").toFile.getAbsolutePath
    spark.range(1).select(
      lit(7L).as("event_id"), lit(42L).as("user_id"), lit("click").as("event_type"),
      lit(java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"))
        .cast("timestamp_ntz").as("ts"),
      lit(1.5).as("value"))
      .write.parquet(s"$dir/events.parquet")

    // UTC session (the repo default): value-preserving cast, exact micros.
    val utc = Tables.events(spark, dir).select(unix_micros(col("ts"))).head().getLong(0)
    assert(utc == java.time.LocalDateTime.parse("2026-01-02T03:04:05.123456")
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L + 123456L)

    // Non-UTC session: the silent-shift hazard must be a loud error
    // (round-11 ADVICE), in both the batch reader and the stream source.
    val shifted = spark.newSession()
    shifted.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalArgumentException](Tables.events(shifted, dir))
    assert(e.getMessage.contains("America/New_York"))
    intercept[IllegalArgumentException](
      graft.streaming.EventStreams.fromParquetDir(shifted, s"$dir/events.parquet"))

    // Zone spellings that MEAN UTC must stay accepted.
    for (tz <- Seq("Etc/UTC", "GMT", "+00:00")) {
      val ok = spark.newSession()
      ok.conf.set("spark.sql.session.timeZone", tz)
      assert(Tables.events(ok, dir).count() == 1L)
    }
  }

  test("over-cap eviction spares the calling session's entries") {
    val m = new java.util.concurrent.ConcurrentHashMap[(String, String, String), String]()
    val mine = Tables.sessionKey(spark)
    val other = Tables.sessionKey(spark.newSession()) // live, but not the caller
    // Unregistered (= dead) keys go first; live-but-other next; the
    // caller's entries must survive an over-cap pass untouched.
    for (i <- 1 to 500) m.put(("dead-session", "d", s"t$i"), "v")
    for (i <- 1 to 4300) m.put((other, "d", s"t$i"), "v")
    for (i <- 1 to 100) m.put((mine, "d", s"t$i"), "v")
    Tables.evictDead(m, mine)
    assert(m.size <= 2048, s"cap not enforced: ${m.size}")
    val mineLeft = {
      val it = m.keySet.iterator(); var n = 0
      while (it.hasNext) if (it.next()._1 == mine) n += 1
      n
    }
    assert(mineLeft == 100, s"eviction dropped the live caller's entries ($mineLeft/100 left)")
  }

  test("derived builds may nest; each key builds once, also under concurrent first calls") {
    val dir = s"nested-${java.util.UUID.randomUUID()}"
    val builds = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    // A chain of 24 builds, each asking for the next one inside its own
    // build (computeIfAbsent on one map fails here once two keys of the
    // chain share a bin).
    def level(i: Int): DataFrame = Tables.derived(spark, dir, s"level$i") {
      builds.merge(s"level$i", 1, (a: Integer, b: Integer) => a + b)
      if (i == 0) spark.range(3).toDF("id") else level(i - 1).selectExpr("id + 1 AS id")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tops = try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 4).map(_ => pool.submit(() => { start.await(); level(23) }))
      start.countDown()
      calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(tops.forall(_ eq tops.head), "concurrent first calls returned different frames")
    assert(level(23) eq tops.head)
    assert(tops.head.collect().map(_.getLong(0)).sorted.toSeq == Seq(23L, 24L, 25L))
    assert(builds.size == 24, s"built ${builds.size} of 24 keys")
    assert(builds.values.stream().allMatch(_ == 1), s"a key was built twice: $builds")
  }

  test("evictDir drops and unpersists one session's frames for one dir only") {
    import graft.operators.{DedupQueries, IvfCodebook}
    val (dir, otherDir) = (sf0001Copy("graft_evict_"), sf0001Copy("graft_evict_"))
    val other = spark.newSession()
    Seq(spark, other).foreach(graft.functions.expressions.GraftFunctions.ensureRegistered)
    // One frame per owner: a fixture relation, the near-dup pair index (a
    // lazy localCheckpoint, materialized here) and the staged codebook.
    def frames(s: SparkSession, d: String): Seq[DataFrame] = {
      val fs = Seq(Tables.documents(s, d), DedupQueries.minhashPairs(s, d),
        IvfCodebook.centroids(s, d))
      fs(1).count()
      fs
    }
    def blocksHeld(pairs: DataFrame): Boolean = pairs.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        spark.sparkContext.getPersistentRDDs.contains(r.rdd.id)
      case p => fail(s"pair index is not a checkpointed frame: ${p.nodeName}")
    }
    val mine = frames(spark, dir)
    val mineElsewhere = frames(spark, otherDir)
    val theirs = frames(other, dir)
    assert(Seq(mine, mineElsewhere, theirs).forall(fs => blocksHeld(fs(1))))

    Tables.evictDir(spark, dir)

    assert(!blocksHeld(mine(1)), "the evicted pair index still holds its blocks")
    assert(blocksHeld(mineElsewhere(1)) && blocksHeld(theirs(1)),
      "evictDir freed blocks of another dir or another session")
    val (evicted, kept, theirsKept) =
      (frames(spark, dir), frames(spark, otherDir), frames(other, dir))
    assert(mine.zip(evicted).forall { case (a, b) => a ne b }, "an entry for dir survived")
    assert(mineElsewhere.zip(kept).forall { case (a, b) => a eq b }, "another dir's entry was dropped")
    assert(theirs.zip(theirsKept).forall { case (a, b) => a eq b }, "another session's entry was dropped")
  }
}
