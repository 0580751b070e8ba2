package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Scale-machinery demonstrations: salting equivalence and bucketed
  * (shuffle-free) co-located joins. */
class SkewAndBucketingSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("saltedCountSum equals plain groupBy aggregation") {
    val li = Tables.lineitem(spark, dir)
    val plain = li.groupBy(col("l_returnflag").as("k"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100))).toSet
    val salted = SkewUtils
      .saltedCountSum(li, col("l_returnflag"), col("l_orderkey"), col("l_quantity"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100))).toSet
    assert(salted == plain)
  }

  test("saltedJoin matches plain join row count") {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_linenumber", "l_quantity")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    val salted = SkewUtils
      .saltedJoin(li, o, "l_orderkey", "o_orderkey", col("l_linenumber"), 8)
      .count()
    assert(salted == plain)
  }

  test("saltedJoin on a 100x-hot key: buckets spread, result equals the plain join") {
    // The adversarial case q_skew_join exists for (round-9 verdict #5):
    // ONE key carrying ~100x any other key's rows, with a companion
    // column of matching cardinality. Salting must spread the hot key
    // over all 8 buckets with a per-bucket bound, and the joined
    // aggregate must equal the plain join exactly.
    import spark.implicits._
    val hot = (0 until 800).map(i => (0L, i.toLong, 10L))
    val tail = (1L to 100L).map(k => (k, 0L, k))
    val big = (hot ++ tail).toDF("k", "companion", "v")
    val dim = (0L to 100L).map(k => (k, s"d$k")).toDF("dk", "label")
    val buckets = big.filter(col("k") === 0L)
      .groupBy(pmod(hash(col("companion")), lit(8)).as("salt")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(buckets.size == 8, s"hot key hit only ${buckets.size}/8 buckets")
    assert(buckets.values.max <= 800 / 4,
      s"one bucket kept ${buckets.values.max} of 800 hot rows")
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("label").agg(count(lit(1)).as("n"), sum("v").as("t"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val salted = agg(SkewUtils.saltedJoin(big, dim, "k", "dk", col("companion"), 8))
    val plain = agg(big.join(dim, col("k") === col("dk")))
    assert(salted == plain, "salted join changed the aggregate")
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a temp path set at session creation (SparkSpec).
    Tables.orders(spark, dir).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    Tables.lineitem(spark, dir).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == Tables.lineitem(spark, dir).count())
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("writeBucketed reclaims an orphaned warehouse location") {
    // A previous PROCESS can leave the table's directory behind while
    // the fresh in-memory catalog knows nothing of the table — in that
    // state saveAsTable fails with LOCATION_ALREADY_EXISTS unless the
    // write path clears the orphan first (the Bench/Verify re-run shape).
    import spark.implicits._
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val orphan = new java.io.File(wh.getPath, "b_orphan_test")
    orphan.mkdirs()
    assert(new java.io.File(orphan, "leftover").createNewFile())
    val df = (1L to 10L).map(k => (k, k * 2)).toDF("k", "v")
    graft.sources.FileSources.writeBucketed(df, "b_orphan_test", 4, Seq("k"))
    assert(spark.table("b_orphan_test").count() == 10)
    spark.sql("DROP TABLE IF EXISTS b_orphan_test")
  }

  test("the IVF index stays exchange-free and correct AFTER a bucketed append") {
    // sim_knn_indexed_update's deployment claim: appendBucketed of the
    // batch assignment preserves the bucket layout, so the post-append
    // probe still reads the index side with no exchange — and the
    // updated index now serves batch rows as neighbor candidates.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val assigned = SimilarityQueries.ivfScoredAssignment(sess, dir, nprobe = 1)
      .drop("rk").select(col("cluster"), col("vec_id"), col("v"), col("nrm"))
    graft.sources.FileSources.writeBucketed(assigned, "b_ivf_upd", 8, Seq("cluster"))
    val nBase = sess.table("b_ivf_upd").count()
    // A small constructed batch: two vectors re-keyed into known cells.
    val batch = assigned.orderBy("vec_id").limit(2)
      .select(col("cluster"), (col("vec_id") + 1000000L).as("vec_id"),
        col("v"), col("nrm")).localCheckpoint(true)
    graft.sources.FileSources.appendBucketed(batch, "b_ivf_upd", 8, Seq("cluster"))
    assert(sess.table("b_ivf_upd").count() == nBase + 2, "append did not land")
    val probe = batch.select(col("cluster"), col("vec_id").as("qid"))
      .join(sess.table("b_ivf_upd").select(col("cluster"), col("vec_id").as("cid2")),
        Seq("cluster"))
      .filter(col("qid") =!= col("cid2"))
    assertBucketSideExchangeFree(probe)
    // Each appended row's source twin shares its cell, so every batch row
    // finds at least its twin — and the twin's own +1M copy — as candidates.
    val qids = probe.select("qid").distinct().collect().map(_.getLong(0)).toSet
    assert(qids.size == 2, s"batch rows missing from the probe: $qids")
    sess.sql("DROP TABLE IF EXISTS b_ivf_upd")
  }

  test("the persisted IVF index probes without a shuffle exchange") {
    // sim_knn_bucketed's deployment claim: after writeBucketed(cluster),
    // the probe self-join reads both sides pre-partitioned AND pre-sorted
    // on the join key — zero exchanges with broadcast off (broadcast
    // would also avoid the shuffle, but only while the index fits in
    // memory; the bucketed plan holds at any index size).
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val assigned = SimilarityQueries.ivfScoredAssignment(sess, dir, nprobe = 1)
      .drop("rk").select(col("cluster"), col("vec_id"), col("v"), col("nrm"))
    graft.sources.FileSources.writeBucketed(assigned, "b_ivf_idx", 8, Seq("cluster"))
    val idx = sess.table("b_ivf_idx")
    val j = idx.select(col("cluster"), col("vec_id").as("qid"))
      .join(idx.select(col("cluster"), col("vec_id").as("cid2")), Seq("cluster"))
      .filter(col("qid") =!= col("cid2"))
    assert(j.count() > 0)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed IVF probe still shuffles:\n$plan")
    sess.sql("DROP TABLE IF EXISTS b_ivf_idx")
  }

  /** The index-side pin shared by the two persisted-ingest-index tests:
    * find the sort-merge join, locate the side reading the bucketed
    * table, and require NO exchange anywhere on that side — the batch
    * side may shuffle (it must, to align with the buckets); the corpus
    * index side must not. AQE off so the executed plan is the plain tree. */
  private def assertBucketSideExchangeFree(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan
    val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail(s"no sort-merge join in:\n$plan"))
    // Both sides may SCAN the bucketed table (the merge twin derives its
    // change batch from the snapshot); the claim is that the side joining
    // ON the bucket key reads it with no exchange at all.
    val sides = Seq(smj.left, smj.right).map(_.toString)
    assert(sides.exists(s => s.contains("Bucketed: true") && !s.contains("Exchange")),
      s"no exchange-free bucketed join side:\n$plan")
  }

  test("the persisted aHash band index probes with no corpus-side exchange") {
    // mm_ahash_incremental's deployment claim: with the corpus band
    // index bucketed on (ck, cv), the per-ingest probe shuffles ONLY
    // the arriving batch's band rows — the corpus side reads
    // pre-partitioned, pre-sorted buckets.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val corpus = graft.multimodal.MediaPipeline.decodedAhash(sess, dir)
    graft.sources.FileSources.writeBucketed(
      MultimodalQueries.ahashBandRows(corpus), "b_ahash_idx", 8, Seq("ck", "cv"))
    val batch = graft.multimodal.MediaPipeline.decodedAhashOf(
      sess, graft.multimodal.MediaPipeline.ahashBatchStaged(sess, dir))
    val probe = MultimodalQueries.ahashBandRows(batch)
      .select(col("ck"), col("cv"), col("doc_id").as("batch_id"),
        col("h_hi").as("hb_hi"), col("h_lo").as("hb_lo"))
    assertBucketSideExchangeFree(
      sess.table("b_ahash_idx").join(probe, Seq("ck", "cv")))
    sess.sql("DROP TABLE IF EXISTS b_ahash_idx")
  }

  test("the persisted pHash band index probes with no corpus-side exchange") {
    // mm_phash_incremental's deployment claim — the spectral twin of
    // the aHash pin above: the per-ingest probe shuffles ONLY the
    // arriving batch's band rows.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val corpus = graft.multimodal.MediaPipeline.decodedPhash(sess, dir)
    graft.sources.FileSources.writeBucketed(
      MultimodalQueries.phashBandRows(corpus), "b_phash_idx", 8, Seq("ck", "cv"))
    val batch = graft.multimodal.MediaPipeline.decodedPhashOf(
      sess, graft.multimodal.MediaPipeline.phashBatchStaged(sess, dir))
    val probe = MultimodalQueries.phashBandRows(batch)
      .select(col("ck"), col("cv"), col("doc_id").as("batch_id"),
        col("h_hi").as("hb_hi"), col("h_lo").as("hb_lo"))
    assertBucketSideExchangeFree(
      sess.table("b_phash_idx").join(probe, Seq("ck", "cv")))
    sess.sql("DROP TABLE IF EXISTS b_phash_idx")
  }

  test("the persisted md5 corpus index anti-joins with no corpus-side exchange") {
    // dedup_incremental_indexed's deployment claim: with the corpus
    // content-hash index bucketed on content_hash, the per-ingest LEFT
    // ANTI probe shuffles ONLY the (small) arriving batch — the corpus
    // side reads pre-partitioned, pre-sorted buckets.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = Tables.documents(sess, dir)
    graft.sources.FileSources.writeBucketed(
      docs.select(md5(col("text")).as("content_hash")).distinct(),
      "b_md5_idx", 8, Seq("content_hash"))
    assertBucketSideExchangeFree(
      DedupQueries.incrementalBatchOf(docs)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_batch_copies"))
        .join(sess.table("b_md5_idx"), Seq("content_hash"), "left_anti"))
    sess.sql("DROP TABLE IF EXISTS b_md5_idx")
  }

  test("the md5 index stays exchange-free and correct AFTER a bucketed append") {
    // dedup_incremental_indexed_update's deployment claim: the write-back
    // (appendBucketed of batch-1 survivors) preserves the bucket layout,
    // so the SECOND probe still reads the index side with no exchange —
    // and the updated index now drops re-submissions of batch-1 content.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = Tables.documents(sess, dir)
    graft.sources.FileSources.writeBucketed(
      docs.select(md5(col("text")).as("content_hash")).distinct(),
      "b_md5_upd", 8, Seq("content_hash"))
    def keptOf(batch: org.apache.spark.sql.DataFrame) = batch
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_copies"))
      .join(sess.table("b_md5_upd"), Seq("content_hash"), "left_anti")
    val b1Kept = keptOf(DedupQueries.incrementalBatchOf(docs)).localCheckpoint(true)
    val nB1 = b1Kept.count()
    assert(nB1 > 0)
    graft.sources.FileSources.appendBucketed(
      b1Kept.select("content_hash"), "b_md5_upd", 8, Seq("content_hash"))
    val b2 = keptOf(DedupQueries.updateBatchOf(docs))
    assertBucketSideExchangeFree(b2)
    // Semantics of the update: batch-1 survivor content re-submitted in
    // batch 2 (+5M ids) is now dropped; fresh v3 docs (+7M) survive.
    val kept = b2.select("doc_id").collect().map(_.getLong(0))
    assert(!kept.exists(id => id >= 5000000L && id < 6000000L),
      "stale index: a batch-1 survivor's re-submission passed batch 2")
    assert(kept.forall(id => id >= 7000000L), "a corpus copy survived batch 2")
    assert(kept.nonEmpty)
    sess.sql("DROP TABLE IF EXISTS b_md5_upd")
  }

  test("the persisted LSH band index joins with no corpus-side exchange") {
    // dedup_incremental_neardup_indexed: candidate generation probes the
    // bucketed (band, bkey) corpus index; only the batch bands shuffle.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = Tables.documents(sess, dir).select("doc_id", "text")
    graft.sources.FileSources.writeBucketed(
      DedupQueries.minhashBandsOf(sess, docs), "b_band_idx", 8, Seq("band", "bkey"))
    assertBucketSideExchangeFree(
      sess.table("b_band_idx").as("c")
        .join(DedupQueries.minhashBandsOf(sess, DedupQueries.neardupBatchOf(docs)).as("b"),
          Seq("band", "bkey"))
        .select(col("c.doc_id").as("da"), col("b.doc_id").as("db")))
    sess.sql("DROP TABLE IF EXISTS b_band_idx")
  }

  test("MERGE over a bucketed snapshot joins with no snapshot-side exchange") {
    // q_merge_upsert_bucketed's claim: the full-outer merge join reads
    // the bucketed snapshot pre-partitioned on the merge key; only the
    // derived change batch (whose `k` is a transformed key) shuffles.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    graft.sources.FileSources.writeBucketed(
      Tables.orders(sess, dir).select("o_orderkey", "o_totalprice", "o_orderpriority"),
      "b_orders_snap", 8, Seq("o_orderkey"))
    assertBucketSideExchangeFree(
      MaintenanceQueries.mergedOrdersOf(sess.table("b_orders_snap")))
    sess.sql("DROP TABLE IF EXISTS b_orders_snap")
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    // Complement to the manual salting path (q_skew_agg/q_skew_join):
    // with thresholds scaled to fixture size, AQE's OptimizeSkewedJoin
    // must split the hot partition of a sort-merge join at runtime.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    sess.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sess.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    sess.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    import org.apache.spark.sql.functions._
    // One mega-hot key (50k rows) + a uniform tail; tiny dim side.
    val big = sess.range(0, 60000)
      .select(when(col("id") < 50000, 0L).otherwise(col("id")).as("k"), col("id").as("v"))
    val dim = sess.range(0, 1000).select(col("id").as("k2"), (col("id") * 2).as("w"))
    val j = big.join(dim, col("k") === col("k2"))
    // Execute THIS dataframe (count() would build a separate plan) so its
    // AdaptiveSparkPlan finalizes, then look for the skew markers.
    assert(j.collect().length == 50000) // only key 0 matches the dim (50k hot rows)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") || plan.contains("skewed"),
      s"AQE did not split the skewed partition:\n$plan")
  }

  test("maxBucket cap: skips hot LSH buckets, keeps small ones, off by default") {
    import spark.implicits._
    // Adversarial corpus: 10 hot clusters of 12 identical docs + 10 small
    // clusters of 4 — every LSH bucket is exactly one cluster. Cluster
    // vocabularies are fully DISJOINT (every token carries the cluster id)
    // so cross-cluster signatures share no shingles and stay far apart in
    // hamming space; within a cluster docs are identical (hamming 0).
    val docs = ((0 until 10).flatMap { c =>
      (0 until 12).map(i => (c * 100L + i,
        (0 until 10).map(t => s"hot${c}tok$t").mkString(" ")))
    } ++ (0 until 10).flatMap { c =>
      (0 until 4).map(i => (1000L + c * 100L + i,
        (0 until 10).map(t => s"small${c}tok$t").mkString(" ")))
    }).toDF("doc_id", "text")

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val uncapped = pairSet(DedupQueries.simhashPairsOf(spark, docs))
    val capped = pairSet(DedupQueries.simhashPairsOf(spark, docs, maxBucket = 6))
    val cappedLoose = pairSet(DedupQueries.simhashPairsOf(spark, docs, maxBucket = 1000))
    // 12-clone clusters: 66 pairs each; 4-clone: 6 pairs each.
    assert(uncapped.size == 10 * 66 + 10 * 6, s"uncapped: ${uncapped.size}")
    assert(capped == uncapped.filter(_._1 >= 1000L), "cap must skip exactly the hot clusters")
    assert(cappedLoose == uncapped, "a cap above every bucket size must change nothing")

    val mhUncapped = pairSet(graft.Graft.nearDupPairs(spark, docs))
    val mhCapped = pairSet(graft.Graft.nearDupPairs(spark, docs, maxBucket = 6))
    assert(mhCapped.subsetOf(mhUncapped) && mhCapped == mhUncapped.filter(_._1 >= 1000L))
  }

  test("declared dedup_minhash_capped is a subset of dedup_minhash on the fixture") {
    // The oracle-gated valve query (cap=2, chosen to bite at the gate):
    // capped results can only LOSE pairs relative to the uncapped query,
    // never invent or alter one.
    def pairs(name: String): Map[(Long, Long), Double] =
      graft.SparkEntry.queries(name)(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = pairs("dedup_minhash")
    val capped = pairs("dedup_minhash_capped")
    assert(capped.keySet.subsetOf(uncapped.keySet),
      s"capped invented pairs: ${(capped.keySet -- uncapped.keySet).take(5)}")
    capped.foreach { case (k, jac) =>
      assert(uncapped(k) == jac, s"jac changed under cap for $k")
    }
  }

  test("degenerate salt bucket counts fail fast (buckets=0 made saltedJoin empty)") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "s")
    val e1 = intercept[IllegalArgumentException] {
      SkewUtils.saltedJoin(df, df, "k", "k", col("s"), buckets = 0)
    }
    assert(e1.getMessage.contains("buckets"))
    val e2 = intercept[IllegalArgumentException] {
      SkewUtils.saltedCountSum(df, col("k"), col("s"), col("k"), buckets = 0)
    }
    assert(e2.getMessage.contains("buckets"))
  }

  test("bucketPairs matches a naive pair model on randomized bucket assignments") {
    // The SQL flatten/transform/slice combination expansion is the
    // candidate generator under EVERY LSH query (minhash bands, simhash
    // chunks) — check it against a trivially-correct Scala model on
    // seeded random assignments, capped and uncapped. Fixed seed: the
    // trials are deterministic, just not hand-picked.
    import spark.implicits._
    val rnd = new scala.util.Random(20260813)
    for (trial <- 1 to 5) {
      val nDocs = 5 + rnd.nextInt(36)
      val nBuckets = 1 + rnd.nextInt(6)
      // Each doc lands in 1..3 distinct buckets, like LSH band keys.
      val rows = for {
        d <- 0 until nDocs
        b <- rnd.shuffle((0 until nBuckets).toList).take(1 + rnd.nextInt(3))
      } yield (d.toLong, b)
      val cap = 2 + rnd.nextInt(4)
      val df = rows.toDF("doc_id", "b")
      def naive(c: Int): Set[(Long, Long)] = rows.groupBy(_._2).values
        .map(_.map(_._1).sorted)
        .filter(ids => ids.size > 1 && ids.size <= c)
        .flatMap(ids =>
          for { i <- ids.indices; j <- i + 1 until ids.size } yield (ids(i), ids(j)))
        .toSet
      def got(c: Int): Set[(Long, Long)] = DedupQueries.bucketPairs(df, Seq("b"), c)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got(Int.MaxValue) == naive(Int.MaxValue), s"trial $trial uncapped mismatch")
      assert(got(cap) == naive(cap), s"trial $trial cap=$cap mismatch")
    }
  }

  test("componentLabelsFromPairs matches union-find on random graphs") {
    // Checks the local contraction (a union-find per partition) and its
    // fallback (min-label propagation over the contracted star edges)
    // against a trivially-correct union-find on seeded random graphs,
    // each with a path-shaped component longer than the partition count.
    // The same edge set is spread over 1, 3 and 8 partitions: one
    // partition is always contraction-only, while a path spread over
    // several gives some id two local roots and takes the fallback.
    import spark.implicits._
    // Union-find ground truth: component label = min member id.
    def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(id => id -> find(id)).toMap
    }
    val rnd = new scala.util.Random(813)
    val fallback = scala.collection.mutable.Set.empty[Boolean]
    for (trial <- 1 to 6) {
      val nIds = 3 + rnd.nextInt(23)
      val nEdges = rnd.nextInt(40)
      val random = (1 to nEdges).map { _ =>
        val a = rnd.nextInt(nIds); val b = rnd.nextInt(nIds)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }
      // A path over 12 + trial shuffled ids, so its minimum sits inside.
      val path = rnd.shuffle((100L until 112L + trial).toList)
        .sliding(2).map { case Seq(a, b) => (math.min(a, b), math.max(a, b)) }
      val edges = (random ++ path).filter(e => e._1 != e._2).distinct
      val want = components(edges)
      for (parts <- Seq(1, 3, 8)) {
        val df = edges.toDF("da", "db").repartition(parts).localCheckpoint()
        // Whether the contraction alone settles it: no id gets two
        // different local roots across the partitions.
        val roots = df.rdd.glom().collect().toSeq.flatMap(rows =>
          components(rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))).toSeq)
        fallback += roots.groupBy(_._1).exists(_._2.map(_._2).distinct.size > 1)
        val got = DedupQueries.componentLabelsFromPairs(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"trial $trial, $parts partitions: labels diverge from union-find")
      }
    }
    assert(fallback == Set(true, false),
      "the trials must run both the contraction-only path and the fallback")
  }

  test("hive-style partitioned layout prunes partitions at plan time") {
    val out = tempDir("graft-part").toFile.getAbsolutePath + "/docs"
    Tables.documents(spark, dir).write.mode("overwrite").partitionBy("lang").parquet(out)
    val q = spark.read.parquet(out).filter(col("lang") === "en").select("doc_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition pruning in plan:\n$plan")
    // The pruned scan must touch only the lang=en directory.
    val scanned = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scanned.contains("lang=de") || scanned.contains("lang=en"))
    assert(q.count() > 0)
  }
}
