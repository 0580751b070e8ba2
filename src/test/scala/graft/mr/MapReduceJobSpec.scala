package graft.mr

import graft.SparkSpec

class MapReduceJobSpec extends SparkSpec {



  test("word count client matches README.md:47-53 example semantics") {
    import spark.implicits._
    // Two "files" (reference example shape: README.md:42-53).
    val input = Seq(
      "f1" -> "the quick fox the",
      "f2" -> "fox jumps"
    ).toDS()
    val out = MapReduceJob.run(input, FileWordCounter.client).collect().toMap
    assert(out == Map("the" -> 2, "quick" -> 1, "fox" -> 2, "jumps" -> 1))
  }

  test("sortedByKey reproduces reference ascending key order (MapReduceClient.h:61)") {
    import spark.implicits._
    val input = Seq("f" -> "b c a b").toDS()
    val out = MapReduceJob.run(input, FileWordCounter.client, sortedByKey = true).collect()
    assert(out.map(_._1).toSeq == Seq("a", "b", "c"))
  }

  test("map can emit zero pairs (filter-by-omission) and reduce can emit many") {
    import spark.implicits._
    val client = new MapReduceClient[String, Int, String, Int, String, Int] {
      def map(k: String, v: Int) =
        if (v % 2 == 0) Iterator.single(k -> v) else Iterator.empty
      def reduce(k: String, vs: Iterator[Int]) = {
        val total = vs.sum
        Iterator(k -> total, s"$k!" -> total * 2)
      }
    }
    val out = MapReduceJob.run(Seq("a" -> 1, "a" -> 2, "b" -> 4).toDS(), client).collect().toMap
    assert(out == Map("a" -> 2, "a!" -> 4, "b" -> 4, "b!" -> 8))
  }

  test("EmitStyleClient: reference-style emit2/emit3 callbacks produce identical results") {
    import spark.implicits._
    // Port shape of the reference example (FileWordCounter.cpp:117-132):
    // void map + emit2 per token, void reduce + one emit3.
    val emitClient = new EmitStyleClient[String, String, String, Int, String, Int] {
      def mapEmit(path: String, text: String, emit2: (String, Int) => Unit): Unit =
        FileWordCounter.tokenizeQuirk(text).foreach(w => emit2(w, 1))
      def reduceEmit(word: String, counts: Iterator[Int], emit3: (String, Int) => Unit): Unit =
        emit3(word, counts.sum)
    }
    val input = Seq("f1" -> "the quick fox the", "f2" -> "fox jumps").toDS()
    val viaEmit = MapReduceJob.run(input, emitClient).collect().toMap
    val viaIterator = MapReduceJob.run(input, FileWordCounter.client).collect().toMap
    assert(viaEmit == viaIterator)
    assert(viaEmit == Map("the" -> 2, "quick" -> 1, "fox" -> 2, "jumps" -> 1))
  }

  test("property: MR word count ≡ sequential fold over randomized docs (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    for (_ <- 1 to 5) {
      val docs = Vector.fill(rnd.nextInt(5) + 1)(
        Vector.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val input = docs.zipWithIndex.map { case (t, i) => (s"f$i", t) }
      val expected = input
        .flatMap { case (_, t) => FileWordCounter.tokenizeQuirk(t) }
        .groupBy(identity).map { case (w, ws) => w -> ws.size }
      val got = MapReduceJob.run(input.toDS(), FileWordCounter.client).collect()
        .groupBy(_._1).map { case (w, ps) => w -> ps.map(_._2).sum }
      assert(got == expected)
    }
  }

  test("runAlgebraic (map-side combine) equals run for a sum reduce") {
    import spark.implicits._
    val input = (1 to 500).map(i => (s"f$i", s"w${i % 13} w${i % 7} w${i % 13}")).toDS()
    val viaRun = MapReduceJob.run(input, FileWordCounter.client).collect().toMap
    val viaAlgebraic = MapReduceJob.runAlgebraic[String, String, String, Int](
      input,
      (_: String, text: String) =>
        FileWordCounter.tokenizeQuirk(text).groupBy(identity).map { case (w, ws) => w -> ws.size },
      (a: Int, b: Int) => a + b)
      .collect().toMap
    assert(viaAlgebraic == viaRun)
  }

  test("async handle: JobState is observable mid-run (MAP/SHUFFLE seen before REDUCE)") {
    import spark.implicits._
    // A client slow enough that polling observes intermediate stages.
    val slow = new MapReduceClient[String, Int, String, Int, String, Int] {
      def map(k: String, v: Int) = { Thread.sleep(3); Iterator.single(k -> v) }
      def reduce(k: String, vs: Iterator[Int]) = Iterator.single(k -> vs.sum)
    }
    val input = (1 to 300).map(i => (s"k${i % 40}", i)).toDS().repartition(4)
    val handle = MapReduceJob.startJob(spark, input, slow)
    val seen = scala.collection.mutable.Set.empty[Stage.Value]
    while (!handle.isDone) {
      seen += handle.getJobState.stage
      Thread.sleep(5)
    }
    handle.waitForJob()
    seen += handle.getJobState.stage
    assert(seen.contains(Stage.REDUCE), s"stages seen: $seen")
    // With ~900ms of map work the poller must catch a pre-REDUCE stage too.
    assert(seen.exists(s => s == Stage.MAP || s == Stage.SHUFFLE), s"stages seen: $seen")
    handle.close()
  }

  test("async handle: SHUFFLE percentage is real data movement — monotone between MAP and REDUCE") {
    import spark.implicits._
    // 400 records over 40 keys, 4 result tasks: each result-task end adds
    // its shuffle-read records, so the listener must emit a strictly
    // increasing run of SHUFFLE percentages (reference semantics: shuffled
    // pairs / emit2 total, MapReduceFramework.cpp:123-127) instead of an
    // instant 0→100 flip.
    val client = new MapReduceClient[String, Int, String, Int, String, Int] {
      def map(k: String, v: Int) = Iterator.single(k -> v)
      def reduce(k: String, vs: Iterator[Int]) = Iterator.single(k -> vs.sum)
    }
    val input = (1 to 400).map(i => (s"k${i % 40}", i)).toDS().repartition(4)
    val handle = MapReduceJob.startJob(spark, input, client)
    handle.waitForJob()
    // Let the listener bus drain the final task events: wait until the
    // history stops growing (the bus is async; no public flush API).
    var h = handle.stateHistory
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val h2 = handle.stateHistory
      settled = h2.size == h.size && h2.lastOption.contains(JobState(Stage.REDUCE, 100f))
      h = h2
    }
    val stages = h.map(_.stage).distinct
    assert(h.exists(_.stage == Stage.MAP), s"history: $h")
    val shuffles = h.filter(_.stage == Stage.SHUFFLE).map(_.percentage)
    assert(shuffles.nonEmpty, s"no SHUFFLE states observed: $h")
    assert(shuffles == shuffles.sorted, s"SHUFFLE not monotone: $shuffles")
    assert(shuffles.exists(p => p > 0f && p < 100f),
      s"no intermediate SHUFFLE percentage: $shuffles")
    // Phase order: every MAP before every SHUFFLE before every REDUCE.
    val lastMap = h.lastIndexWhere(_.stage == Stage.MAP)
    val firstShuffle = h.indexWhere(_.stage == Stage.SHUFFLE)
    val firstReduce = h.indexWhere(_.stage == Stage.REDUCE)
    assert(lastMap < firstShuffle && firstShuffle < firstReduce,
      s"phase order violated (stages: $stages): $h")
    assert(h.last == JobState(Stage.REDUCE, 100f), s"history: $h")
    handle.close()
  }

  test("async handle: sortedByKey (multi-shuffle plan) history stays monotone, ends REDUCE/100") {
    import spark.implicits._
    val client = new MapReduceClient[String, Int, String, Int, String, Int] {
      def map(k: String, v: Int) = Iterator.single(k -> v)
      def reduce(k: String, vs: Iterator[Int]) = Iterator.single(k -> vs.sum)
    }
    val input = (1 to 400).map(i => (s"k${i % 40}", i)).toDS().repartition(4)
    val handle = MapReduceJob.startJob(spark, input, client, sortedByKey = true)
    handle.waitForJob()
    var h = handle.stateHistory
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val h2 = handle.stateHistory
      settled = h2.size == h.size && h2.lastOption.contains(JobState(Stage.REDUCE, 100f))
      h = h2
    }
    // Ratchet property: (stage, pct) never moves backwards, even with the
    // sort's RangePartitioner sampling job interleaving.
    val keys = h.map(s => (s.stage.id, s.percentage))
    assert(keys == keys.sorted, s"non-monotone history: $h")
    assert(h.last == JobState(Stage.REDUCE, 100f), s"history: $h")
    handle.close()
  }

  test("async handle: AQE stays enabled in the caller's session while a job runs") {
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val slow = new MapReduceClient[String, Int, String, Int, String, Int] {
      def map(k: String, v: Int) = { Thread.sleep(2); Iterator.single(k -> v) }
      def reduce(k: String, vs: Iterator[Int]) = Iterator.single(k -> vs.sum)
    }
    val input = (1 to 200).map(i => (s"k${i % 20}", i)).toDS().repartition(4)
    val handle = MapReduceJob.startJob(spark, input, slow)
    // While the handle's job is in flight, a concurrent query on the
    // CALLER's session must still plan adaptively (the AQE-off conf lives
    // only in the handle's child session).
    assert(!handle.isDone)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val concurrent = Seq(1, 2, 3).toDF("x").groupBy("x").count()
    assert(concurrent.queryExecution.executedPlan.getClass.getSimpleName
      .contains("AdaptiveSparkPlan"), "concurrent query lost AQE")
    handle.waitForJob()
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    handle.close()
  }

  test("async handle: a repeated job on the same session compiles no new code") {
    // startJob runs in one AQE-off child per caller session; a fresh
    // child per job used to regenerate and recompile every whole-stage
    // class of the job instead of hitting Spark's codegen cache.
    import spark.implicits._
    val input = (1 to 200).map(i => (s"g$i", s"w${i % 5} w${i % 2}")).toDS()
    val first = MapReduceJob.startJob(spark, input, FileWordCounter.client)
    val want = first.waitForJob().toMap
    first.close()
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = MapReduceJob.startJob(spark, input, FileWordCounter.client)
    assert(second.waitForJob().toMap == want)
    second.close()
    assert(org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the second identical job compiled new code")
  }

  test("async handle: progress reaches REDUCE/100% and result matches MapReduceJob.run()") {
    import spark.implicits._
    val input = (1 to 200).map(i => (s"f$i", s"w${i % 7} w${i % 3}")).toDS()
    val handle = MapReduceJob.startJob(spark, input, FileWordCounter.client)
    val out = handle.waitForJob()
    assert(handle.isDone)
    val st = handle.getJobState
    assert(st.stage == Stage.REDUCE && st.percentage == 100f)
    val direct = MapReduceJob.run(input, FileWordCounter.client).collect().toMap
    assert(out.toMap == direct)
    handle.close()
  }
}
