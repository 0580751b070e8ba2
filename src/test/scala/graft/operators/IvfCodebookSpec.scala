package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants of the learned IVF codebook (IvfCodebook): shape, the
  * determinism contract (6 dp rounding), staged-parquet equality with the
  * frame the queries consume, and that the fit actually beats a degenerate
  * codebook (every cell non-trivially populated is NOT guaranteed for
  * k-means, but the assignment must use more than one cell).
  */
class IvfCodebookSpec extends SparkSpec {

  private lazy val dir = sf("sf0.001")

  test("codebook shape: K rows, 64-dim rounded components, consistent wnrm") {
    val rows = IvfCodebook.centroids(spark, dir).collect()
    assert(rows.length == IvfCodebook.K, s"expected ${IvfCodebook.K} centroids, got ${rows.length}")
    assert(rows.map(_.getLong(0)).toSet == (0L until IvfCodebook.K.toLong).toSet,
      "cids must be exactly 0..K-1")
    rows.foreach { r =>
      val w = r.getSeq[Double](1)
      assert(w.length == 64, s"centroid dim ${w.length}")
      // Determinism contract: every component is 6 dp-rounded, so repeated
      // fits can't differ in shuffled-sum last ulps.
      w.foreach(x => assert(math.abs(math.floor(x * 1e6 + 0.5) / 1e6 - x) == 0.0,
        s"component $x not 6dp-rounded"))
      val wnrm = r.getDouble(2)
      val recomputed = math.sqrt(w.map(x => x * x).sum)
      assert(wnrm == recomputed, s"stored wnrm $wnrm != recomputed $recomputed")
      assert(wnrm > 0, "degenerate zero centroid")
    }
  }

  test("staged parquet is what the queries consume, and the oracle path names it") {
    val staged = spark.read.parquet(IvfCodebook.stagePath(dir))
    val viaApi = IvfCodebook.centroids(spark, dir)
    assert(staged.collect().toSet == viaApi.collect().toSet,
      "centroids() must read back the staged bytes")
    val sql = SimilarityQueries.oracleSqlFor(dir)("sim_knn_ivf")
    assert(sql.contains(IvfCodebook.stagePath(dir)),
      "oracle CTE must name the staged codebook path for this data dir")
  }

  test("refit on a copy of the corpus reproduces the codebook value-for-value") {
    // The 6 dp rounding test above is necessary but not sufficient for the
    // determinism contract — this runs a genuinely independent second fit
    // (the fixture copied to a new dir ⇒ different stage path ⇒ the
    // existing-stage reuse cannot short-circuit it) and compares every
    // byte-relevant value. Catches a future regression to order-dependent
    // sampling/init (e.g. rand()) that rounding alone would not.
    def asSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getSeq[Double](1).toList, r.getDouble(2))).toSet
    val first = asSet(IvfCodebook.centroids(spark, dir).collect())
    val copy = java.nio.file.Files.createTempDirectory("ivf_refit_corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "embeddings.parquet"),
      copy.resolve("embeddings.parquet"))
    val second = asSet(IvfCodebook.centroids(spark, copy.toString).collect())
    assert(first == second, "independent refit produced a different codebook")
  }

  test("an existing stage is reused, not overwritten (cached plans stay valid)") {
    // Overwriting the stage on every session's first IVF query would
    // delete part files that cached plans in OTHER sessions of this JVM
    // still pin (FAILED_READ.FILE_NOT_EXIST on their next use) — the fit
    // is deterministic, so a second session must adopt the bytes already
    // staged.
    IvfCodebook.centroids(spark, dir).collect() // ensure staged
    def parts = new java.io.File(IvfCodebook.stagePath(dir)).listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    val before = parts
    val s2 = spark.newSession()
    graft.functions.expressions.GraftFunctions.ensureRegistered(s2)
    IvfCodebook.centroids(s2, dir).collect()
    assert(parts == before, "second session rewrote the staged codebook")
  }

  test("concurrent first fits race safely: loser adopts the winner's stage") {
    // Two sessions' first IVF queries on a corpus whose stage doesn't
    // exist yet: the per-path fit lock must serialize the writes, and
    // both callers must come back with the same codebook (no clobbered
    // stage, no FILE_NOT_EXIST).
    val copy = java.nio.file.Files.createTempDirectory("ivf_race_corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "embeddings.parquet"),
      copy.resolve("embeddings.parquet"))
    def asSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getSeq[Double](1).toList, r.getDouble(2))).toSet
    val sessions = Seq(spark.newSession(), spark.newSession())
    sessions.foreach(graft.functions.expressions.GraftFunctions.ensureRegistered)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fits = sessions.map(s => scala.concurrent.Future(
        asSet(IvfCodebook.centroids(s, copy.toString).collect())))
      val Seq(a, b) = fits.map(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration("120s")))
      assert(a == b, "racing sessions saw different codebooks")
      assert(a.nonEmpty)
    } finally pool.shutdown()
  }

  test("the sf0.001 fit is pinned bit for bit") {
    // SHA-256 over (cid, dim, every component's bits, wnrm's bits) in cid
    // order. The value is the codebook of the earlier fit that ran each
    // Lloyd iteration as a grouped Spark pass; the driver-side fit must
    // reproduce it exactly (FitVersion stays 1, staged bytes unchanged).
    val cents = IvfCodebook.fitCodebook(spark, SimilarityQueries.vecs(spark, dir), IvfCodebook.K)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    cents.foreach { case (cid, w, wnrm) =>
      put(cid); put(w.length.toLong)
      w.foreach(x => put(java.lang.Double.doubleToLongBits(x)))
      put(java.lang.Double.doubleToLongBits(wnrm))
    }
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(digest == "e2f45e82766db0f62751649f8c590c6ea7fdf9cda29b53eac8cb4af32623d10c")
  }

  test("fitCodebook submits at most 2 Spark jobs") {
    // The count that sizes the sample and the collect of the sample; init
    // and every Lloyd iteration run on the driver. Listener events arrive
    // asynchronously but in order, so a fence job in its own group marks
    // the point by which every fit job has been seen.
    val sc = spark.sparkContext
    val fitJobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenceSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("ivf-fit") => fitJobs.incrementAndGet(): Unit
          case Some("ivf-fence") => fenceSeen.countDown()
          case _ => ()
        }
    }
    val vecs = SimilarityQueries.vecs(spark, dir)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("ivf-fit", "codebook fit")
      val cents = try IvfCodebook.fitCodebook(spark, vecs, IvfCodebook.K)
        finally sc.clearJobGroup()
      assert(cents.length == IvfCodebook.K)
      sc.setJobGroup("ivf-fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenceSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never seen")
      assert(fitJobs.get >= 1 && fitJobs.get <= 2, s"fit submitted ${fitJobs.get} jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("learned codebook spreads the corpus over multiple cells") {
    val cells = SimilarityQueries.ivfScoredAssignment(spark, dir, nprobe = 1)
      .select(countDistinct(col("cluster"))).head().getLong(0)
    assert(cells > IvfCodebook.K / 2,
      s"fit collapsed: only $cells of ${IvfCodebook.K} cells used on the fixture")
  }

  test("adversarial hot vector (200 clones) neither collapses the fit nor loses planted pairs") {
    // graft.Stress runs this at sf0.1 scale (codebook_hot_vector in
    // STRESS.json); this is the CI-fast twin at sf0.001. One vector
    // duplicated 200× is ~1% of the corpus carrying 200× any other
    // point's mass — the k-means failure mode would chase it with many
    // centroids and collapse the rest; the near-dup failure mode would
    // split the clone cluster across cells and lose planted pairs.
    import graft.functions.expressions.GraftFunctions
    GraftFunctions.ensureRegistered(spark)
    val emb = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val clones = 200L
    val hot = emb.filter(col("vec_id") === 0)
      .crossJoin(spark.range(clones).select(col("id").as("copy")))
      .select((lit(950000000L) + col("copy")).as("vec_id"), col("embedding"))
    val adv = emb.union(hot).localCheckpoint()
    val n = adv.count()
    val e = adv.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", GraftFunctions.normCol(col("v")))
    val cents = IvfCodebook.fitCodebook(spark, e, IvfCodebook.K)
    import spark.implicits._
    val centDf = cents.toDF("cid", "w", "wnrm")
    val sizes = e.crossJoin(broadcast(centDf))
      .withColumn("ccos",
        GraftFunctions.dotCol(col("v"), col("w")) / (col("nrm") * col("wnrm")))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("negid"))).as("m"))
      .select((-col("m.negid")).as("cid"))
      .groupBy("cid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.size >= IvfCodebook.K / 2,
      s"hot-vector fit collapsed to ${sizes.size} non-empty cells")
    val maxShare = sizes.values.max.toDouble / n
    assert(maxShare <= 0.40,
      s"hot-vector fit left one cell with ${maxShare * 100}% of the corpus")
    // 200 clones + the original = 201 identical vectors; identical vectors
    // assign identically, so EVERY planted pair must survive cell blocking.
    val planted = clones * (clones + 1) / 2
    val pairs = graft.Graft.embedNearDupIvf(spark, adv, threshold = 0.99).count()
    assert(pairs >= planted,
      s"planted clone pairs lost to cell blocking: $pairs < $planted")
  }
}
