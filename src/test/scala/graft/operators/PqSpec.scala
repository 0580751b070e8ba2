package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization — pins the invariants the three sim_pq_* oracle
  * gates rest on, plus the plan shape that IS the PQ value proposition
  * (a map-only ADC scan of the codes table).
  */
class PqSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("codebook has K centroids of SubDim dims in every subspace, staged deterministically") {
    val cb = PqCodebook.codebook(spark, dir).collect()
    val perM = cb.groupBy(_.getInt(0)).view.mapValues(_.length).toMap
    assert(perM.keySet == (0 until PqCodebook.M).toSet)
    // Every subspace carries k' = min(K, sample) centroids — K at sf0.001,
    // whose 500 embeddings exceed K=256 — the same count in each (shared
    // init draw).
    assert(perM.values.toSet.size == 1, s"uneven subspace codebooks: $perM")
    cb.foreach(r => assert(r.getSeq[Double](2).size == PqCodebook.SubDim))
    // Re-request hits the stage-reuse path and returns identical bytes.
    val again = PqCodebook.codebook(spark, dir).collect()
    assert(cb.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("every vector encodes to exactly M codes, each a valid centroid id of its subspace") {
    val nVecs = SimilarityQueries.vecs(spark, dir).count()
    val codes = PqQueries.pqCodes(spark, dir).collect()
    assert(codes.length.toLong == nVecs)
    val valid = PqCodebook.codebook(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.size == PqCodebook.M, s"vec ${r.getLong(0)}: ${cs.size} codes")
      cs.zipWithIndex.foreach { case (c, m) =>
        assert(valid((m, c.toLong)), s"vec ${r.getLong(0)}: code $c invalid in subspace $m")
      }
    }
  }

  test("ADC equals the sum of subspace centroid dots, recomputed independently") {
    // Recompute ADC(q, x) driver-side from the staged codebook and the
    // encoded codes — the broadcast-LUT plan must agree with the direct
    // definition Σ_m ⟨q_m, c_{m,code_m}⟩ for every scored vector.
    val cent = PqCodebook.codebook(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toArray).toMap
    val q = SimilarityQueries.vecs(spark, dir)
      .filter(col("vec_id") === 0).select("v").collect()(0)
      .getSeq[Float](0).map(_.toDouble).toArray
    val codes = PqQueries.pqCodes(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def direct(cs: Seq[Int]): Double =
      (0 until PqCodebook.M).foldLeft(0.0) { (acc, m) =>
        val w = cent((m, cs(m).toLong))
        acc + (0 until PqCodebook.SubDim).foldLeft(0.0) { (a, i) =>
          a + q(m * PqCodebook.SubDim + i) * w(i)
        }
      }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val got = PqQueries.queries("sim_pq_adc")(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val expect = r6(direct(codes(r.getLong(0))))
      assert(r.getDouble(1) == expect,
        s"vec ${r.getLong(0)}: plan adc ${r.getDouble(1)} != direct $expect")
    }
  }

  test("the ADC scan plans map-only: no shuffle between the codes scan and the top-k") {
    // The probe's whole point at 100 TB: the codes table is scanned once,
    // scored against a BROADCAST lut row, and top-k'd via
    // TakeOrderedAndProject — any ShuffleExchange in that section means
    // the scan shape regressed. (The encode that BUILDS the codes frame
    // is checkpointed before this plan, so the scan section is exactly
    // the probe.)
    PqQueries.pqCodes(spark, dir).count() // materialize the lazy checkpoint
    val plan = PqQueries.queries("sim_pq_adc")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    val scanSection = plan.substring(plan.indexOf("TakeOrderedAndProject"))
    assert(!scanSection.contains("ShuffleExchange") || {
      // The broadcast LUT subtree may legitimately aggregate its 2048
      // rows; only the codes-scan side must stay exchange-free. Split at
      // the BroadcastExchange and check the non-broadcast side.
      val beforeBroadcast = scanSection.split("BroadcastExchange")(0)
      !beforeBroadcast.contains("ShuffleExchange")
    }, s"shuffle in the ADC scan section:\n$plan")
  }

  test("rerank can only improve on raw ADC: every shortlist-captured exact hit survives") {
    // Gate arithmetic sanity: n_hit(rerank) must equal the number of
    // exact-top-10 ids present in the ADC shortlist (an exact-global-top
    // member inside any subset ranks inside that subset's exact top-10).
    val row = PqQueries.queries("sim_pq_recall")(spark, dir).collect()(0)
    assert(row.getLong(1) >= PqQueries.RecallFloorHits,
      s"recall gate below floor on sf0.001: $row")
    assert(row.getBoolean(3))
  }

  private lazy val freshCopy = {
    // A new data dir ⇒ a new stage path, so the fit runs instead of
    // reusing a stage an earlier run left behind.
    val copy = java.nio.file.Files.createTempDirectory("pq_pin_corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "embeddings.parquet"),
      copy.resolve("embeddings.parquet"))
    copy.toString
  }

  /** SHA-256 over (m, cid, dim, every component's bits) in (m, cid) order. */
  private def digest(codebook: org.apache.spark.sql.DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    codebook.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(r => (r._1, r._2))
      .foreach { case (m, cid, w) =>
        put(m.toLong); put(cid); put(w.length.toLong)
        w.foreach(x => put(java.lang.Double.doubleToLongBits(x)))
      }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // The pinned values are the codebooks of the earlier fit that ran each
  // Lloyd iteration as a grouped Spark pass; the driver-side fit must
  // reproduce them exactly (FitVersion stays 1, staged bytes unchanged).
  test("the sf0.001 raw codebook is pinned bit for bit") {
    assert(digest(PqCodebook.codebook(spark, freshCopy)) ==
      "457503deb9f6245ae7673794ba7dccfd2a61d95516474b94cb553ae59d8a6c73")
  }

  test("the sf0.001 IVF-residual codebook is pinned bit for bit") {
    assert(digest(IvfPqQueries.residualCodebook(spark, freshCopy)) ==
      "e41511a1a34d254a812aa0c5bca0755c6375cd57595fdb02ba4423f53ca6aee2")
  }

  test("PqCodebook.fitFrame submits at most 2 Spark jobs") {
    // The count that sizes the sample and the collect of the sample; init
    // and every Lloyd iteration of every subspace run on the driver. The
    // listener and fence job are IvfCodebookSpec's.
    val sc = spark.sparkContext
    val fitJobs = new java.util.concurrent.atomic.AtomicInteger()
    val fenceSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("pq-fit") => fitJobs.incrementAndGet(): Unit
          case Some("pq-fence") => fenceSeen.countDown()
          case _ => ()
        }
    }
    val vecs = SimilarityQueries.vecs(spark, dir)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pq-fit", "codebook fit")
      val cb = try PqCodebook.fitFrame(spark, vecs) finally sc.clearJobGroup()
      sc.setJobGroup("pq-fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenceSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never seen")
      assert(fitJobs.get >= 1 && fitJobs.get <= 2, s"fit submitted ${fitJobs.get} jobs")
      assert(cb.count() == PqCodebook.M.toLong * PqCodebook.K)
    } finally sc.removeSparkListener(listener)
  }

  test("a null vector is left out of the fit") {
    // Zero vectors are legal L2 inputs; a null one has no components and
    // must neither fail the fit nor move a centroid.
    val vecs = SimilarityQueries.vecs(spark, dir).select("vec_id", "v")
    val withNull = vecs.union(vecs.limit(1)
      .select(lit(-1L).as("vec_id"), lit(null).cast(vecs.schema("v").dataType).as("v")))
    assert(digest(PqCodebook.fitFrame(spark, withNull)) ==
      digest(PqCodebook.fitFrame(spark, vecs)))
  }
}
