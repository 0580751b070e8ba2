package graft

import org.apache.spark.sql.functions._

/** Adversarial-scale stress for the LSH dedup path (SCALE.md §"Empirical
  * 10× stress") — reproducible via:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.Stress"
  *
  * Corpus: 10× the sf documents table (every doc in a 10-clone near-dup
  * cluster) PLUS 20 mega-hot exact-dup clusters of 200 copies each — the
  * pathological input for LSH bucketing (a 200-member bucket expands to
  * 19,900 pairs in every band). Times simhash/minhash pair generation
  * uncapped vs maxBucket=50: the cap must skip exactly the mega buckets
  * (whose members are EXACT dups — the job of dedup_exact upstream, zero
  * near-dup recall lost) and bound runtime to the genuine near-dup load.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.get("SPARK_GRAFT_CPUS").fold(LocalSession.cores)(_.toInt))
    spark.sparkContext.setLogLevel("WARN")

    // 10× replication by key-shifted union (shared by every stress
    // section; localCheckpoint freezes the input so timings measure the
    // operator, not the clone build).
    def tenxShift(df: org.apache.spark.sql.DataFrame, keyCol: String, offset: Long) =
      (0 until 10).map { k =>
        df.withColumn(keyCol, col(keyCol) + lit(k * offset))
      }.reduce(_ union _)

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val tenx = tenxShift(base, "doc_id", 10000000L)
    val mega = (0 until 20).map { c =>
      base.filter(col("doc_id") === c)
        .crossJoin(spark.range(200).select(col("id").as("copy")))
        .select((lit(900000000L) + lit(c) * 1000L + col("copy")).as("doc_id"), col("text"))
    }.reduce(_ union _)
    val corpus = tenx.union(mega).localCheckpoint() // freeze input: time the dedup, not the build

    def time(label: String, f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f; val sec = (System.nanoTime() - t0) / 1e9
      println(f"[stress] $label%-28s ${sec}%8.2f s   $n%,d pairs")
      (sec, n)
    }
    val corpusDocs = corpus.count() // materialize the checkpoint outside the timings

    val (su, nu) = time("simhash uncapped", operators.DedupQueries.simhashPairsOf(spark, corpus).count())
    val (sc, nc) = time("simhash maxBucket=50", operators.DedupQueries.simhashPairsOf(spark, corpus, maxBucket = 50).count())
    val (mu, nmu) = time("minhash uncapped", Graft.nearDupPairs(spark, corpus).count())
    val (mc, nmc) = time("minhash maxBucket=50", Graft.nearDupPairs(spark, corpus, maxBucket = 50).count())

    // Prefix-filtered EXACT join at 10×. NOT on the clone corpus above:
    // exact-dup clusters make the TRUE pair set quadratic (every mega
    // cluster owes C(200,2) = 19,900 genuine jac=1 pairs — any exact
    // algorithm must emit them; a first attempt on `corpus` spilled the
    // disk to death emitting ~62M candidate rows, measured via
    // Σ C(bucket,2)). That is exactly why the pipeline order runs EXACT
    // dedup before any similarity join (pipeline_clean_corpus stage 1
    // collapses those clusters to one representative each). The
    // operator-scaling question is asked on a corpus whose true-pair
    // count is linear: 10 clones per doc with clone-SUFFIXED tokens
    // (disjoint shingle spaces — df per shingle stays at base level),
    // so the measurement is the prefix join's cost growth with corpus
    // size, and the brute pair universe Σ C(df,2) is reported
    // analytically for the same corpus.
    val tenxDistinct = (0 until 10).map { k =>
      base.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_$k')), ' ')").as("text"))
    }.reduce(_ union _).localCheckpoint()
    val pjDocs = tenxDistinct.count()
    val (pj1Sec, pj1Pairs) = time("prefix jaccard 1x",
      operators.DedupQueries.prefixJaccardPairsOf(spark, base).count())
    val (pjSec, pjPairs) = time("prefix jaccard 10x-distinct",
      operators.DedupQueries.prefixJaccardPairsOf(spark, tenxDistinct).count())
    val pjUniverse = operators.DedupQueries
      .shingleFrameOf(spark, tenxDistinct, "d", "shp", "np")
      .groupBy("shp").agg(count(lit(1)).as("df"))
      .agg(sum(expr("df * (df - 1) DIV 2"))).head.getLong(0)
    println(f"[stress] brute pair universe          $pjUniverse%,d rows (analytic)")

    // Sketch vs exact cross-group similarity at 10×: per-lang MinHash
    // signatures via the graft_minhash TypedImperativeAggregate (map-side
    // 256-byte partial buffers — the sketch streams, never shuffles
    // shingles) against the exact distinct-shingle self-join the oracle
    // uses. The gap is the whole argument for sketching at 100 TB.
    import org.apache.spark.sql.functions._
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    val langDocs = Tables.documents(spark, sfDir).select("lang", "text")
    val tenxLang = (0 until 10).map(_ => langDocs).reduce(_ union _)
    val sh = tenxLang
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', slice(tk, i, 3)))")).as("sh"))
    val (ts1, n1) = time("minhash sketch (5 sigs)",
      sh.groupBy("lang")
        .agg(functions.expressions.GraftFunctions.minhashSketchCol(col("sh")))
        .count())
    val dsh = sh.distinct()
    val (ts2, n2) = time("exact pairwise jaccard",
      dsh.as("a").join(dsh.as("b"), col("a.sh") === col("b.sh") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang"), col("b.lang")).count().count())

    // IVF-blocked embedding near-dup at 10×: replicate the embeddings
    // table 10× with perturbation-free id shifts (each clone keeps its
    // vector → every cross-clone pair is an exact near-dup) and compare
    // the blocked candidate count against the all-pairs bound. The
    // blocked path's cost tracks Σ cells², which at fixed nlist grows
    // quadratically PER CELL — the measured gap vs n² is the argument
    // for nlist ∝ √n at real scale.
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val tenxEmb = tenxShift(emb, "vec_id", 10000000L).localCheckpoint()
    val embDocs = tenxEmb.count()
    val (iv, niv) = time("embed IVF 10x nlist=16",
      Graft.embedNearDupIvf(spark, tenxEmb, threshold = 0.99, nlist = 16, nprobe = 2).count())
    // nlist ∝ √n: cells shrink 8×, candidate pairs ~64×. Every clone
    // group shares one vector → identical cell assignment → recall for
    // the planted pairs is unchanged at ANY nlist.
    val (iv2, niv2) = time("embed IVF 10x nlist=128",
      Graft.embedNearDupIvf(spark, tenxEmb, threshold = 0.99, nlist = 128, nprobe = 2).count())

    // PQ at 10×: the index build (fit + encode — paid ONCE) vs the
    // per-query scans it buys. The ADC scan reads 8 bytes of codes per
    // vector against a broadcast LUT; the exact scan reads the 256-byte
    // float vector and folds 64 multiplies — at 100 TB the 32× row-size
    // gap IS the scan-cost gap (here both corpora are cache-resident, so
    // the measured per-query gap understates the IO-bound reality).
    val pqEmb = tenxEmb.select(col("vec_id"), col("embedding").as("v"))
    val t0pq = System.nanoTime()
    val pqCb = operators.PqCodebook.fitFrame(spark, pqEmb).localCheckpoint()
    pqCb.count()
    val pqFitSec = (System.nanoTime() - t0pq) / 1e9
    val t1pq = System.nanoTime()
    val pqCodes = operators.PqCodebook.encode(pqEmb, pqCb).localCheckpoint()
    val nPqCodes = pqCodes.count()
    val pqEncSec = (System.nanoTime() - t1pq) / 1e9
    require(nPqCodes == embDocs, s"PQ encode lost vectors: $nPqCodes != $embDocs")
    println(f"[stress] PQ 10x index build: fit=$pqFitSec%.2f s encode=$pqEncSec%.2f s over $nPqCodes%,d vecs")
    val pqQuery = emb.filter(col("vec_id") === 0)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q"))
      .head().getSeq[Double](0).toArray
    val (pqScanSec, nPqTop) = time("PQ ADC scan 10x",
      Graft.pqTopK(spark, pqCodes, pqCb, pqQuery, 10).count())
    require(nPqTop == 10, s"ADC top-k returned $nPqTop rows")
    val (pqExactSec, _) = time("exact dot scan 10x", {
      import spark.implicits._
      val probeDf = Seq(Tuple1(pqQuery)).toDF("w")
      tenxEmb.crossJoin(broadcast(probeDf))
        .withColumn("dq", functions.expressions.GraftFunctions.dotCol(col("embedding"), col("w")))
        .orderBy(col("dq").desc, col("vec_id")).limit(10).count()
    })

    // Bloom runtime-filter at 10×: the scenario the bloom pair exists for
    // is a build side too big to broadcast whole (forced here with a
    // merge hint) but whose 8 KB FILTER always broadcasts. Three shapes:
    // the sort-merge semi-join it replaces (shuffles all 10× orders), the
    // map-only bloom probe (zero shuffle — the upper-bound prune), and
    // bloom prune + SMJ verify (exact semantics, shuffling only the ~1/5
    // of rows that survive the prune).
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val tenxOrd = tenxShift(ord, "o_orderkey", 100000000L).localCheckpoint()
    val nOrd = tenxOrd.count()
    val bldKeys = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val (sj, nsj) = time("semi-join SMJ 10x", tenxOrd
      .join(bldKeys.hint("merge"), col("o_custkey") === col("c_custkey"), "left_semi")
      .count())
    // Materialize the 8 KB artifact BEFORE the timings: bloomDf is lazy,
    // and an unmaterialized build would re-run the customer aggregate
    // inside both timed probe actions, overstating probe_sec.
    val bloomDf = Graft.bloomBuild(spark, bldKeys, "c_custkey").localCheckpoint()
    val (bp, nbp) = time("bloom probe map-only", Graft
      .bloomProbe(spark, tenxOrd, "o_custkey", bloomDf)
      .count())
    val (bv, nbv) = time("bloom prune + SMJ verify", Graft
      .bloomProbe(spark, tenxOrd, "o_custkey", bloomDf)
      .join(bldKeys.hint("merge"), col("o_custkey") === col("c_custkey"), "left_semi")
      .count())

    // Adversarial codebook (round-8 verdict #4): duplicate ONE vector
    // 200× (the mega-cluster pattern above, but aimed at the k-means fit
    // instead of LSH buckets). The hot vector is ~1% of the corpus yet
    // 200× any other point's mass — a fit that chased it with many
    // centroids would collapse the remaining cells and blow the Σ cells²
    // candidate budget. Assertions: the fitted codebook still spreads the
    // corpus (≥ half the cells populated, no cell above 40% of vectors),
    // and embedNearDupIvf — whose per-call fit sees the same hot mass —
    // still recovers EVERY planted clone pair (identical vectors share a
    // cell at any sane codebook, so the 201-clone cluster contributes all
    // 201·200/2 pairs).
    import graft.functions.expressions.GraftFunctions
    val hotClones = 200L
    val hot = emb.filter(col("vec_id") === 0)
      .crossJoin(spark.range(hotClones).select(col("id").as("copy")))
      .select((lit(950000000L) + col("copy")).as("vec_id"), col("embedding"))
    val advCorpus = emb.union(hot).localCheckpoint()
    val nAdv = advCorpus.count()
    val eAdv = advCorpus.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", GraftFunctions.normCol(col("v")))
    val t0adv = System.nanoTime()
    val centsAdv = operators.IvfCodebook.fitCodebook(spark, eAdv, 16)
    val fitSec = (System.nanoTime() - t0adv) / 1e9
    val centAdvDf = {
      import spark.implicits._
      centsAdv.toDF("cid", "w", "wnrm")
    }
    val cellSizes = eAdv.crossJoin(broadcast(centAdvDf))
      .withColumn("ccos",
        GraftFunctions.dotCol(col("v"), col("w")) / (col("nrm") * col("wnrm")))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("negid"))).as("m"))
      .select((-col("m.negid")).as("cid"))
      .groupBy("cid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nonEmptyCells = cellSizes.size
    val maxCellShare = cellSizes.values.max.toDouble / nAdv
    require(nonEmptyCells >= 8,
      s"hot-vector fit collapsed to $nonEmptyCells non-empty cells")
    require(maxCellShare <= 0.40,
      s"hot-vector fit left a cell with ${maxCellShare * 100}%% of the corpus")
    val plantedPairs = hotClones * (hotClones + 1) / 2 // 201 identical vectors
    val (advSec, nAdvPairs) = time("embed IVF hot-vector 200x",
      Graft.embedNearDupIvf(spark, advCorpus, threshold = 0.99).count())
    require(nAdvPairs >= plantedPairs,
      s"hot-vector near-dup recall lost planted pairs: $nAdvPairs < $plantedPairs")
    println(f"[stress] codebook hot-vector: cells=$nonEmptyCells max_share=$maxCellShare%.3f fit=$fitSec%.2f s")

    // Salted-join hot key (round-9 verdict #5 — the q_skew_join path had
    // no adversarial case): clone ONE order key's lineitem rows 100× with
    // a 100-value companion column, so the hot key carries ~100× any
    // other key's rows. Unsalted, every one of those rows lands on a
    // single reducer; salted over 8 buckets they must spread (per-bucket
    // bound asserted below) while the aggregate equals the plain join
    // bit-for-bit — salting buys distribution, never a different answer.
    val liBase = Tables.lineitem(spark, sfDir).select(col("l_orderkey"),
      col("l_linenumber"), floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    val ordBase = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderpriority"))
    val hotKey = liBase.agg(min("l_orderkey")).head().getLong(0)
    val lnType = liBase.schema("l_linenumber").dataType
    val hotLi = liBase.filter(col("l_orderkey") === hotKey)
      .crossJoin(spark.range(100).select(col("id").as("copy")))
      .withColumn("l_linenumber", col("copy").cast(lnType))
      .drop("copy")
    val liHot = liBase.union(hotLi).localCheckpoint()
    val hotRows = liHot.filter(col("l_orderkey") === hotKey).count()
    val buckets = liHot.filter(col("l_orderkey") === hotKey)
      .groupBy(pmod(hash(col("l_linenumber")), lit(8)).as("salt")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxBucket = buckets.values.max
    require(buckets.size == 8,
      s"hot key spread over only ${buckets.size}/8 salt buckets")
    require(maxBucket <= hotRows / 4,
      s"salting left $maxBucket of $hotRows hot rows in one bucket")
    def prioAgg(joined: org.apache.spark.sql.DataFrame) = joined
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    var saltedRes: Map[String, (Long, Long)] = null
    var plainRes: Map[String, (Long, Long)] = null
    val (saltSec, _) = time("salted join hot key 100x", {
      saltedRes = prioAgg(operators.SkewUtils.saltedJoin(
        liHot, ordBase, "l_orderkey", "o_orderkey", col("l_linenumber"), 8))
      saltedRes.size.toLong
    })
    val (plainSec, _) = time("plain join hot key 100x", {
      plainRes = prioAgg(liHot.join(ordBase,
        liHot("l_orderkey") === ordBase("o_orderkey")))
      plainRes.size.toLong
    })
    require(saltedRes == plainRes,
      s"salted join diverged from the plain join on the hot corpus")
    println(f"[stress] skew-join hot key: rows=$hotRows buckets=8 max_bucket=$maxBucket")

    // Span-dedup hot gram (round-11 verdict #6): prepend ONE 9-token
    // boilerplate header to EVERY doc of the 10× corpus, so the two
    // fully-boilerplate 8-grams land in ALL ~10×-base docs — the
    // corpus-wide repeated span the groupBy+join shape exists for (a
    // per-gram Window would put every (hot gram, doc) row in ONE
    // unsplittable sort partition; the pre-agg takes map-side partials
    // and the join AQE-skew-splits). Latency must stay on the plain
    // curve and the result must be exact: every doc reports at least
    // the two universal boilerplate windows as shared.
    val tenxDocs = tenx.count()
    val boiler = "terms of service all rights reserved do not redistribute"
    val spanHotDocs = tenx
      .select(col("doc_id"), concat(lit(boiler + " "), col("text")).as("text"))
      .localCheckpoint()
    val (spSec, spRows) = time("span 10x plain",
      operators.DedupQueries.spanSharedWindowsOf(spark, tenx).count())
    val spanHotRes = operators.DedupQueries.spanSharedWindowsOf(spark, spanHotDocs)
    val (shSec, shRows) = time("span 10x hot gram", spanHotRes.count())
    val minShared = spanHotRes.agg(min("n_shared_windows")).head().getLong(0)
    require(shRows == tenxDocs,
      s"hot-gram span dedup lost docs: $shRows of $tenxDocs reported")
    require(minShared >= 2L,
      s"a doc missed the universal boilerplate windows (min=$minShared)")
    println(f"[stress] span hot gram: docs=$tenxDocs plain=$spSec%.2f s hot=$shSec%.2f s min_shared=$minShared")

    // Suffix-rescued span merge under the adversarial flood, at 10×
    // (round 19): a planted pair shares a unique 50-token span whose
    // every 8-gram is ALSO injected into 20 flood docs (nd₈ = 22 > cap
    // 16 — the capped method provably reports nothing for the pair),
    // on top of the boilerplate-headed 10× corpus whose universal
    // header grams are hot in EVERY doc. The suffix variant must (a)
    // recover the planted span exactly (43 windows / 50 tokens), and
    // (b) hold the latency curve while paying the 16-gram rescue pass
    // over the whole corpus — the honest worst-case cost, vs the
    // adaptive skip the unflooded corpus takes.
    val spanS = (0 until 50).map(i => s"uq$i")
    val planted = Seq(
      (980000001L, s"px1 px2 px3 ${spanS.mkString(" ")} px4 px5"),
      (980000002L, s"py1 ${spanS.mkString(" ")} py2 py3")) ++
      (1 to 20).map { i =>
        val grams = spanS.sliding(8).zipWithIndex
          .map { case (g, k) => s"fj${i}_$k " + g.mkString(" ") }
          .mkString(" ")
        (980000100L + i, s"fh$i $grams ft$i")
      }
    import spark.implicits._
    val floodDocs = spanHotDocs.unionByName(
      planted.toDF("doc_id", "text")).localCheckpoint()
    // Time CONSTRUCTION + execution together: the adaptive skip inside
    // spanMergedSuffixOf runs a driver action at plan-build time (it
    // materializes the checkpointed gram counts), so timing only the
    // final count would hide most of the work.
    var suffixRes: org.apache.spark.sql.DataFrame = null
    val (sfxSec, sfxRows) = time("span suffix flood 10x", {
      suffixRes = operators.DedupQueries.spanMergedSuffixOf(spark, floodDocs)
        .localCheckpoint(eager = false)
      suffixRes.count()
    })
    val plantedSpan = suffixRes
      .filter(col("da") === 980000001L && col("db") === 980000002L).collect()
    require(plantedSpan.length == 1 &&
        plantedSpan(0).getLong(4) == 43L && plantedSpan(0).getLong(5) == 50L,
      s"flooded span not recovered exactly: ${plantedSpan.mkString(";")}")
    val cappedMiss = operators.DedupQueries.spanMergedOf(spark, floodDocs)
      .filter(col("da") === 980000001L && col("db") === 980000002L).isEmpty
    require(cappedMiss, "the capped method unexpectedly found the flooded pair")
    println(f"[stress] span suffix flood: docs=${tenxDocs + 22} sec=$sfxSec%.2f s rows=$sfxRows planted_recovered=true capped_missed=true")

    // Incremental ingest dedup (round-11 verdict #6): a 100× batch
    // against the 10× corpus — each base doc arrives 100 times, half as
    // EXACT copies of corpus text (all 50 collapse within-batch, then
    // the anti-join must drop the survivor), half as genuinely-new
    // unique variants (all 50 must survive). The shape under test: the
    // within-batch groupBy and the LEFT ANTI both shuffle on the
    // uniform md5 key, so the hot arrival pattern (50 copies of one
    // text) dies in map-side partial aggregation, never on a reducer.
    val batchClones = 100
    // Survivors count per DISTINCT base text, not per base doc: the sf0.1
    // corpus has a handful of exact-duplicate texts, and two base docs
    // sharing a text produce IDENTICAL fresh variants (text + " fresh k")
    // that correctly collapse in the within-batch groupBy — that collapse
    // is the operator working, so the expectation must price it in.
    val nBaseTexts = base.select("text").distinct().count()
    val incBatch = base
      .crossJoin(spark.range(batchClones).select(col("id").as("copy")))
      .select(
        (lit(700000000L) + col("doc_id") * 1000L + col("copy")).as("doc_id"),
        when(col("copy") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" fresh "), col("copy").cast("string")))
          .as("text"))
      .localCheckpoint()
    val nBatch = incBatch.count()
    val (incSec, incNew) = time("incremental 100x vs 10x",
      operators.DedupQueries.incrementalDedupOf(spark, incBatch, tenx).count())
    val expectedNew = nBaseTexts * (batchClones / 2)
    require(incNew == expectedNew,
      s"incremental dedup emitted $incNew new docs, expected $expectedNew")
    println(f"[stress] incremental ingest: batch=$nBatch%,d corpus=$tenxDocs%,d new=$incNew%,d $incSec%.2f s")

    // Directory-ingest at file-count scale (round-9 parity sweep): 2,000
    // generated files — ~1/3 hidden (readdir+S_ISREG parity path through
    // readWholeFiles), some empty, some NUL-truncated — word-counted by
    // directoryWordCount and checked EXACTLY against the sequential
    // quirk-tokenizer fold. `wholetext` costs one task per file, so this
    // times the small-files regime (the lake answer at real scale is
    // compaction, SCALE.md; the parity path must still survive it).
    val ingestDir = java.nio.file.Files.createTempDirectory("graft_stress_ingest_")
    val ingestRnd = new scala.util.Random(42)
    val ingestN = 2000
    val nulCh = 0.toChar
    val ingestAlphabet = "abc de ".toVector :+ nulCh
    val ingestContents = Vector.tabulate(ingestN) { i =>
      val name = i % 3 match {
        case 1 => f".h$i%05d.txt"
        case 2 => f"_m$i%05d.txt"
        case _ => f"f$i%05d.txt"
      }
      val body =
        if (i % 17 == 0) ""
        else Vector.fill(ingestRnd.nextInt(40))(
          ingestAlphabet(ingestRnd.nextInt(ingestAlphabet.size))).mkString
      name -> body
    }
    ingestContents.foreach { case (name, body) =>
      java.nio.file.Files.writeString(ingestDir.resolve(name), body)
    }
    val expectedFold = ingestContents
      .flatMap { case (_, t) => mr.FileWordCounter.tokenizeQuirk(t.takeWhile(_ != nulCh)) }
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val t0ing = System.nanoTime()
    val ingested = sources.FileSources.directoryWordCount(spark, ingestDir.toString)
      .collect().map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    val ingestSec = (System.nanoTime() - t0ing) / 1e9
    require(ingested == expectedFold,
      s"many-files ingest diverged from the quirk fold: ${ingested.size} vs ${expectedFold.size} words")
    println(f"[stress] ingest ${ingestN} files (1/3 hidden) ${ingestSec}%8.2f s   ${ingested.size}%,d words")
    ingestContents.foreach { case (name, _) =>
      java.nio.file.Files.deleteIfExists(ingestDir.resolve(name)): Unit
    }
    java.nio.file.Files.deleteIfExists(ingestDir): Unit

    // Streaming state-store stress (round-10 verdict #5): a REAL
    // session_window streaming run — file-stream source staged slab by
    // slab (one micro-batch each), watermark 10 min, gap 30 min — at
    // 1×/10×/100× the fixture's key count. Each hourly slab gives every
    // user one 2-event session; the next slab's arrival advances the
    // watermark ~50 min past the previous slab's session ends, so the
    // state store must EVICT the closed sessions (numRowsRemoved) instead
    // of accumulating them. The scale claim under test: state rows track
    // ACTIVE keys (≈ users × open sessions), never total events — the
    // property that lets the same query run forever at any stream length.
    case class StreamStateRes(users: Int, rows: Long, batches: Int,
                              maxStateRows: Long, removedRows: Long,
                              sinkRows: Long, maxBatchSec: Double, totalSec: Double)
    def streamStateRun(nUsers: Int): StreamStateRes = {
      import java.nio.file.{Files, Paths}
      val base = Files.createTempDirectory("graft_stress_stream_").toFile.getAbsolutePath
      val srcDir = s"$base/src"
      new java.io.File(srcDir).mkdirs()
      val sess = spark.newSession()
      sess.conf.set("spark.sql.shuffle.partitions", "8")
      val slabs = 6
      val perSlab = nUsers.toLong * 2
      val epoch0 = 1700000000L
      def stageSlab(k: Int): Unit = {
        val tmp = s"$base/f$k"
        // Two events per user per slab, 0 and 90 s apart-ish (< 30-min
        // gap ⇒ one session per user per slab; slabs 1 h apart ⇒ a NEW
        // session each slab, the long-tail pattern).
        sess.range(perSlab).select(
            (col("id") % nUsers).as("user_id"),
            timestamp_seconds(lit(epoch0 + k * 3600L) + (col("id") % 2L) * 90L).as("ts"),
            lit(1.0).as("value"))
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        Files.move(part.toPath, Paths.get(s"$srcDir/slab$k.parquet")): Unit
      }
      stageSlab(0)
      val schema = sess.read.parquet(s"$srcDir/slab0.parquet").schema
      val stream = sess.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = stream.withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("sess"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sess.start").as("s"), col("n"))
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      (1 until slabs).foreach { k => stageSlab(k); q.processAllAvailable() }
      val totalSec = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      val stateOps = progs.flatMap(p => Option(p.stateOperators).toSeq.flatten)
      val maxStateRows = if (stateOps.isEmpty) 0L else stateOps.map(_.numRowsTotal).max
      val removedRows = stateOps.map(_.numRowsRemoved).sum
      val maxBatchSec = progs.map(_.batchDuration).max / 1e3
      val nBatches = progs.length
      q.stop()
      val sinkRows = sess.read.parquet(s"$base/out").count()
      graft.sources.FileSources.rmTree(base)
      // Eviction must be REAL (closed sessions leave the store) and state
      // must track active keys, not stream length: with 12 sessions/user
      // over the run, unbounded retention would hold ~12×users rows.
      require(removedRows > 0, s"no state eviction observed at $nUsers users")
      require(maxStateRows <= nUsers.toLong * 3,
        s"state rows $maxStateRows exceed 3x active keys ($nUsers users)")
      println(f"[stress] stream state $nUsers%7d users: maxState=$maxStateRows%,d removed=$removedRows%,d sink=$sinkRows%,d batches=$nBatches maxBatch=$maxBatchSec%5.2f s total=$totalSec%6.2f s")
      StreamStateRes(nUsers, perSlab * slabs, nBatches, maxStateRows,
        removedRows, sinkRows, maxBatchSec, totalSec)
    }
    val ssRes = Seq(1500, 15000, 150000).map(streamStateRun)
    def ssJson(r: StreamStateRes): String =
      s"""{"users":${r.users},"rows":${r.rows},"batches":${r.batches},"max_state_rows":${r.maxStateRows},"removed_rows":${r.removedRows},"sink_rows":${r.sinkRows},"max_batch_sec":${r.maxBatchSec},"total_sec":${r.totalSec}}"""

    // Pixel-decode throughput at 10×: the decode paths are map-only, so
    // wall-clock should scale ~linearly with images and per-image cost
    // should be flat. The staged MediaRow frames are localCheckpointed so
    // the timings measure the DECODE (parse + inflate + unfilter +
    // reduce), not the staging encode. PNG is the expensive path
    // (Inflater + per-byte unfiltering); BMP is the raw-array floor.
    val pxIds1 = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lit("s").as("source"))
    val pxIds10 = tenxShift(pxIds1, "doc_id", 10000000L)
    val bmpMedia1 = graft.multimodal.MediaPipeline.pixelMediaOf(spark, pxIds1).localCheckpoint()
    val bmpMedia10 = graft.multimodal.MediaPipeline.pixelMediaOf(spark, pxIds10).localCheckpoint()
    val pngMedia1 = graft.multimodal.MediaPipeline.pngPixelMediaOf(spark, pxIds1).localCheckpoint()
    val pngMedia10 = graft.multimodal.MediaPipeline.pngPixelMediaOf(spark, pxIds10).localCheckpoint()
    val pngBytes10 = pngMedia10.agg(sum(length(col("media")))).head().getLong(0)
    val (pd1, npd1) = time("bmp pixel decode 1x",
      graft.multimodal.MediaPipeline.decodedBmpPixelsOf(spark, bmpMedia1).count())
    val (pd10, npd10) = time("bmp pixel decode 10x",
      graft.multimodal.MediaPipeline.decodedBmpPixelsOf(spark, bmpMedia10).count())
    val (pg1, npg1) = time("png pixel decode 1x",
      graft.multimodal.MediaPipeline.decodedPngPixelsOf(spark, pngMedia1).count())
    val (pg10, npg10) = time("png pixel decode 10x",
      graft.multimodal.MediaPipeline.decodedPngPixelsOf(spark, pngMedia10).count())
    // GIF LZW decode throughput (the round-13 codec — includes the
    // interlaced half of the staged corpus on both runs).
    val gifMedia1 = graft.multimodal.MediaPipeline.gifPixelMediaOf(spark, pxIds1).localCheckpoint()
    val gifMedia10 = graft.multimodal.MediaPipeline.gifPixelMediaOf(spark, pxIds10).localCheckpoint()
    val gifBytes10 = gifMedia10.agg(sum(length(col("media")))).head().getLong(0)
    val (gf1, ngf1) = time("gif pixel decode 1x",
      graft.multimodal.MediaPipeline.decodedGifPixelsOf(spark, gifMedia1).count())
    val (gf10, ngf10) = time("gif pixel decode 10x",
      graft.multimodal.MediaPipeline.decodedGifPixelsOf(spark, gifMedia10).count())

    // Table-maintenance at 10×: MERGE and the segment checksum are the
    // round-12 write-side ops; both must scale linearly (one key-uniform
    // join resp. map-only partial agg — no quadratic or skew-prone path).
    // Invariants at 10×: merged rows = snapshot - deletes + inserts
    // (op accounting exact at scale), and the 10× checksum's per-segment
    // row counts are exactly 10× the 1× counts while the content sums
    // MOVE (shifted keys hash differently — the checksum detects a
    // key-remapped copy, not just cardinality).
    val ordStress1 = Tables.orders(spark, sfDir).localCheckpoint()
    val ordStress10 = tenxShift(ordStress1, "o_orderkey", 100000000L).localCheckpoint()
    val nOrd1 = ordStress1.count(); val nOrd10 = ordStress10.count()
    def mergeAudit(snap: org.apache.spark.sql.DataFrame) =
      operators.MaintenanceQueries.mergedOrdersOf(snap)
        .agg(count(lit(1)).as("n"), sum("ins").as("ins"), sum("upd").as("upd"))
        .head()
    val (mg1, _) = time("merge upsert 1x", { mergeAudit(ordStress1); nOrd1 })
    var mg10Row: org.apache.spark.sql.Row = null
    val (mg10, _) = time("merge upsert 10x", { mg10Row = mergeAudit(ordStress10); nOrd10 })
    val dels10 = ordStress10.filter(col("o_orderkey") % 10 === 1).count()
    val ins10 = ordStress10.filter(col("o_orderkey") % 10 === 2).count()
    require(mg10Row.getLong(0) == nOrd10 - dels10 + ins10,
      s"10x merge row accounting broke: ${mg10Row.getLong(0)} vs ${nOrd10 - dels10 + ins10}")
    val liStress1 = Tables.lineitem(spark, sfDir).localCheckpoint()
    val liStress10 = tenxShift(liStress1, "l_orderkey", 100000000L).localCheckpoint()
    def ckMap(li: org.apache.spark.sql.DataFrame) =
      operators.MaintenanceQueries.segmentChecksumOf(li)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    var ck1: Map[String, (Long, Long)] = null
    var ck10: Map[String, (Long, Long)] = null
    val (ck1Sec, _) = time("segment checksum 1x", { ck1 = ckMap(liStress1); ck1.size.toLong })
    val (ck10Sec, _) = time("segment checksum 10x", { ck10 = ckMap(liStress10); ck10.size.toLong })
    require(ck1.keySet == ck10.keySet, "10x checksum changed the segment set")
    ck1.foreach { case (flag, (n1, sum1)) =>
      require(ck10(flag)._1 == 10 * n1,
        s"segment $flag rows ${ck10(flag)._1} != 10x of $n1")
      require(ck10(flag)._2 != sum1,
        s"segment $flag content sum failed to move under shifted keys")
    }
    println(f"[stress] maintenance 10x: orders=$nOrd10%,d merge $mg1%.2f->$mg10%.2f s; lineitem checksum $ck1Sec%.2f->$ck10Sec%.2f s")

    // MERGE under a HOT change batch: a changelog where 80% of the change
    // rows hit ONE order key (repeated updates to a single hot order —
    // the real CDC pathology: one entity thrashing). Two measured
    // findings. (1) Stock AQE CANNOT skew-split a FULL-OUTER join —
    // OptimizeSkewedJoin only splits sides of inner/semi/anti/one-sided-
    // outer joins, because duplicating a full-outer partition would
    // duplicate its null-completion rows — so the raw merge rides one
    // hot partition (asserted on the executed final plan: no skew=true).
    // The raw cost stays bounded here because the amplification is
    // batch-side only (every hot row joins the SAME single snapshot
    // row). (2) The production defense is therefore CDC PRE-COMPACTION
    // (Graft.cdcCompact — the q_cdc_compact last-write-wins shape): the
    // hot key's 400k updates collapse to ONE change row BEFORE the join,
    // absorbed map-side by partial aggregation, and the merge join then
    // sees a key-unique batch — hot latency back in the uniform band at
    // any skew ratio, with last-write-wins semantics asserted.
    val mhSess = spark.newSession()
    mhSess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val mhSnap = tenxShift(Tables.orders(mhSess, sfDir)
      .select("o_orderkey", "o_totalprice", "o_orderpriority"), "o_orderkey", 100000000L)
      .localCheckpoint()
    val mhSnapRows = mhSnap.count()
    val mhBatchRows = 500000L
    val mhHotRows = mhBatchRows * 8 / 10
    // Uniform batch: distinct odd keys; hot batch: 20% uniform tail plus
    // 80% of rows repeating key 1. `seq` is the changelog position the
    // compaction orders by.
    def mhBatch(hot: Boolean) = {
      val uniform = mhSess.range(if (hot) mhBatchRows - mhHotRows else mhBatchRows)
        .select((col("id") * 2 + 1).as("k"), col("id").as("seq"),
          (col("id") % 1000).cast("double").as("price"))
      val b = if (hot)
        uniform.union(mhSess.range(mhHotRows)
          .select(lit(1L).as("k"), (col("id") + mhBatchRows).as("seq"),
            (col("id") % 1000).cast("double").as("price")))
      else uniform
      b.localCheckpoint()
    }
    // Executes the merge's OWN plan (toRdd — count() would build and
    // finalize a different QueryExecution) and returns (rows, finalPlan).
    def mhMerge(batch: org.apache.spark.sql.DataFrame) = {
      val joined = mhSnap.join(batch, col("o_orderkey") === col("k"), "full_outer")
        .select(coalesce(col("k"), col("o_orderkey")).as("key"),
          coalesce(col("price"), col("o_totalprice")).as("p"))
      val n = joined.queryExecution.toRdd.count()
      (n, joined.queryExecution.executedPlan.toString)
    }
    val mhUniform = mhBatch(hot = false); val mhHot = mhBatch(hot = true)
    var mhPlanHot = ""
    val (mhuSec, mhuRows) = time("merge uniform batch", mhMerge(mhUniform)._1)
    val (mhhSec, mhhRows) = time("merge raw hot batch 80/1key", {
      val (n, p) = mhMerge(mhHot); mhPlanHot = p; n
    })
    // Finding (1): the full-outer join was executed with AQE on and the
    // final plan holds NO skew split — the optimizer cannot help here.
    require(!mhPlanHot.contains("skew=true"),
      "unexpected: AQE split a full-outer join — revisit the compaction rationale")
    var mhCompactRows = 0L
    val (mhcSec, mhcRows) = time("merge compacted hot batch", {
      val compacted = Graft.cdcCompact(mhHot, "k", "seq").localCheckpoint()
      mhCompactRows = compacted.count()
      mhMerge(compacted.select("k", "price"))._1
    })
    // Last-write-wins semantics: one row per distinct key, and the hot
    // key keeps its highest-seq price.
    val mhDistinctKeys = mhHot.select("k").distinct().count()
    require(mhCompactRows == mhDistinctKeys,
      s"compaction kept $mhCompactRows rows for $mhDistinctKeys keys")
    val hotKept = Graft.cdcCompact(mhHot, "k", "seq")
      .filter(col("k") === 1L).select("price").head().getDouble(0)
    require(hotKept == ((mhHotRows - 1) % 1000).toDouble,
      s"last-write-wins broke: hot key kept price $hotKept")
    // Compacted output = |snapshot keys ∪ batch keys| (key-unique batch).
    require(mhcRows == mhSnapRows + mhDistinctKeys -
      mhSnap.join(mhHot.select("k").distinct(), col("o_orderkey") === col("k"), "left_semi").count(),
      "compacted merge row accounting broke")
    println(f"[stress] merge hot batch: uniform $mhuSec%.2f s ($mhuRows%,d rows), raw hot $mhhSec%.2f s ($mhhRows%,d rows, no AQE full-outer split), compacted hot $mhcSec%.2f s ($mhcRows%,d rows, batch ${mhCompactRows}%,d keys)")

    // BPE learn at 10×: the loop is VOCAB-bound — the 10× clone corpus
    // has the SAME distinct-word vocabulary with uniformly 10× word
    // frequencies, so (a) the learned merge table must be IDENTICAL with
    // every count exactly 10× (uniform scaling preserves every argmax
    // incl. tie-breaks), and (b) wall-clock stays near-flat after the
    // one corpus-sized word count — the scale story of counting pairs
    // over the vocabulary, never the corpus.
    def bpeTable(docs: org.apache.spark.sql.DataFrame) =
      operators.TextAnalysis.bpeLearnOf(spark, docs, 10)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    var bpe1: Array[(Int, String, String, Long)] = null
    var bpe10: Array[(Int, String, String, Long)] = null
    val (bl1, _) = time("bpe learn 1x", { bpe1 = bpeTable(base); bpe1.length.toLong })
    val (bl10, _) = time("bpe learn 10x corpus", { bpe10 = bpeTable(tenx); bpe10.length.toLong })
    require(bpe1.length == 10 && bpe10.length == 10, "bpe learn fell short of 10 merges")
    bpe1.zip(bpe10).foreach { case ((s1, a1, b1x, c1), (s2, a2, b2x, c2)) =>
      require(s1 == s2 && a1 == a2 && b1x == b2x && c2 == 10 * c1,
        s"10x corpus changed the merge table: ($s1,$a1,$b1x,$c1) vs ($s2,$a2,$b2x,$c2)")
    }
    println(f"[stress] bpe learn: 1x $bl1%.2f s -> 10x $bl10%.2f s, merge tables identical, counts x10")

    // Broadcast-threshold sensitivity (SF1k preview): with the auto
    // threshold off, the orders/customer joins fall back to sort-merge —
    // the plan shape once those dims outgrow executor memory. The nation
    // join keeps its explicit broadcast() hint (25 rows at ANY scale
    // factor — that hint is correct forever).
    val (b1, _) = time("q3_join auto-broadcast", SparkEntry.queries("q3_join")(spark, sfDir).count())
    val smj = spark.newSession()
    smj.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (b2, _) = time("q3_join sort-merge only", SparkEntry.queries("q3_join")(smj, sfDir).count())

    // WARC parse throughput: 200 synthetic shards × 500 response records
    // (100k records, ~22 MB of framed bytes built distributed, one shard
    // per row) pushed through the strict Content-Length walk — the shape
    // of a real crawl ingest (one task per shard; parse is a single
    // forward pass). The per-record decoy prefix keeps the measurement
    // honest: the parser is doing framing work, not memchr.
    import spark.implicits._
    val warcShards = spark.range(200).select(col("id").cast("int").as("f"))
      .as[Int].map { f =>
        val buf = Array.newBuilder[Byte]
        for (i <- 0 until 500) {
          val body = (if (i % 3 == 0) "WARC/1.0\r\nX: decoy\r\n" else "") +
            "x" * (40 + (f * 31 + i * 7) % 100)
          val head = s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Record-ID: <urn:uuid:$f-$i>\r\n" +
            s"WARC-Target-URI: http://s$f/p$i\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n"
          buf ++= head.getBytes("US-ASCII")
          buf ++= body.getBytes("US-ASCII")
          buf ++= "\r\n\r\n".getBytes("US-ASCII")
        }
        (f.toString, buf.result())
      }.localCheckpoint()
    // PDF parse throughput: 50k staged PDFs (every corpus id × 10 key
    // shifts) pushed through the full extractPdf chain — startxref, xref
    // walk (incremental updates on id%7==0), object parse at offsets,
    // content tokenization. One document per row, map-only: the shape of
    // a real PDF corpus ingest. The page-count identity over the model
    // keeps the measurement honest (a parser that drops docs undercounts).
    val pdfDocs = {
      import spark.implicits._
      tenxShift(Tables.documents(spark, sfDir).select("doc_id"),
          "doc_id", 10000000L)
        .as[Long].map(id => (id, sources.PdfSource.pdfBytes(id)))
        .localCheckpoint() // freeze the staged bytes: time the parse, not the build
    }
    val nPdfDocs = pdfDocs.count()
    val pdfBytesTotal = pdfDocs.map(_._2.length.toLong).reduce(_ + _)
    val (pdfSec, pdfPages) = time("pdf parse 50k docs", {
      pdfDocs.mapPartitions(_.map { case (_, bytes) =>
        sources.PdfSource.extractPdf(bytes)
          .map(_.length.toLong).getOrElse(-1000000L)
      }).reduce(_ + _)
    })
    val expPdfPages = pdfDocs.map { case (id, _) =>
      sources.PdfSource.pdfPageCount(id).toLong }.reduce(_ + _)
    require(pdfPages == expPdfPages, s"pdf stress lost pages: $pdfPages != $expPdfPages")
    println(f"[stress] pdf: $nPdfDocs%,d docs / $pdfPages%,d pages / $pdfBytesTotal%,d bytes in $pdfSec%.2f s (${nPdfDocs / pdfSec / 1000}%.1f k docs/s)")

    // Avro OCF sink+source at 10×: one zstd shard per partition written
    // from executors through the Hadoop FS API, read back through the
    // parse-as-filter reader. The row-count identity keeps it honest (a
    // reader that drops or duplicates rows cannot pass); per-shard
    // parallelism is the scale story — more shards, same per-task cost.
    val avroSrc = tenxShift(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      "doc_id", 10000000L).localCheckpoint()
    val nAvroRows = avroSrc.count()
    val avroDir = java.nio.file.Files
      .createTempDirectory("graft-avro-stress").toFile.getAbsolutePath
    val (avWriteSec, _) = time("avro write 10x", {
      sources.AvroSource.writeShards(avroSrc, avroDir,
        codec = "zstandard", numShards = 16).size.toLong
    })
    // Only the .avro shards: the Hadoop checksummed LocalFileSystem
    // writes hidden .part-*.avro.crc siblings that would inflate the
    // reported byte metric (round-18 ADVICE).
    val avroBytes = new java.io.File(avroDir).listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.length).sum
    val (avReadSec, avReadRows) = time("avro read 10x",
      sources.AvroSource.read(spark, avroDir).count())
    require(avReadRows == nAvroRows, s"avro stress lost rows: $avReadRows != $nAvroRows")
    println(f"[stress] avro: $nAvroRows%,d rows / $avroBytes%,d bytes write $avWriteSec%.2f s read $avReadSec%.2f s")
    graft.sources.FileSources.rmTree(avroDir)

    val warcBytes = warcShards.map(_._2.length.toLong).reduce(_ + _)
    val (warcSec, warcRecs) = time("warc parse 100k records", {
      warcShards.flatMap { case (n, b) =>
        val (recs, clean) = graft.sources.WarcSource.parseWarc(n, b)
        require(clean, s"shard $n unclean"); recs
      }.count()
    })
    require(warcRecs == 100000L, s"warc stress lost records: $warcRecs")
    println(f"[stress] warc: $warcRecs%,d records / $warcBytes%,d bytes in $warcSec%.2f s (${warcRecs / warcSec / 1000}%.0f k rec/s)")

    // PageRank kernel on a synthetic 1.1M-edge graph with a 100k-degree
    // hot hub: the hub's incoming-contribution sum is the skew-prone
    // reduction (100k rows to ONE destination key) — partial aggregation
    // must absorb it map-side. Invariants: all leaves of the star hold
    // one identical rank, the hub outranks every ring node, and the ring
    // (2-regular, vertex-transitive) converges to ONE rank value — if
    // either class splinters into multiple values, the integer recurrence
    // picked up an order dependence.
    val ringN = 1000000L
    val ring = spark.range(ringN)
      .select(col("id").as("da"),
        ((col("id") + 1) % ringN).as("db"))
      .filter(col("da") < col("db")) // drop the wrap edge's reversed form...
      .union(spark.range(1).select(lit(0L).as("da"), lit(ringN - 1).as("db")))
    val starLeaves = 100000L
    val hub = 2000000L
    val star = spark.range(starLeaves)
      .select(lit(hub).as("da"), (col("id") + hub + 1).as("db"))
    val prPairs = ring.union(star).localCheckpoint()
    val nEdges = prPairs.count()
    var prTop: Array[org.apache.spark.sql.Row] = null
    var pr: org.apache.spark.sql.DataFrame = null
    val (prSec, prNodes) = time("pagerank 1.1M edges", {
      pr = operators.DedupQueries.pageRankOf(prPairs).localCheckpoint()
      prTop = pr.orderBy(col("rank_e12").desc).limit(1).collect()
      pr.count()
    })
    // Invariant reads reuse the checkpointed frame — re-running the
    // 3-iteration kernel here would double the stage's wall time.
    val prDistinct = pr
      .groupBy(col("degree")).agg(countDistinct(col("rank_e12")).as("nv"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(prTop.head.getLong(0) == hub, s"hot hub is not the top-ranked node: ${prTop.head}")
    require(prDistinct(1L) == 1L, s"star leaves splintered into ${prDistinct(1L)} rank values")
    require(prDistinct(2L) == 1L, s"ring nodes splintered into ${prDistinct(2L)} rank values")
    println(f"[stress] pagerank: $nEdges%,d edges, $prNodes%,d nodes, hub degree $starLeaves%,d -> $prSec%.2f s (3 iters)")

    // Compaction planner on a 100k-file synthetic manifest with a zipf-ish
    // size law (size = 10^10 / (rank+1) — one mega file plus a long tail):
    // planning must stay metadata-speed (the window runs on one partition
    // of 100k rows) and the balance bound must hold even when a single
    // file exceeds the whole target group size.
    val manifest = spark.range(100000)
      .select(concat(lit("f"), lpad(col("id").cast("string"), 6, "0")).as("file"),
        expr("CAST(10000000000 DIV (id + 1) AS BIGINT)").as("bytes"),
        lit(1L).as("n_docs"))
      .localCheckpoint()
    var planRows: Array[org.apache.spark.sql.Row] = null
    val (cpSec, cpBins) = time("compaction plan 100k files", {
      planRows = operators.MaintenanceQueries.compactionPlanOf(manifest).collect()
      planRows.length.toLong
    })
    val manTotal = manifest.agg(sum("bytes")).head().getLong(0)
    val manMax = manifest.agg(max("bytes")).head().getLong(0)
    require(planRows.map(_.getLong(1)).sum == 100000L, "compaction plan lost files")
    require(planRows.map(_.getLong(2)).sum == manTotal, "compaction plan lost bytes")
    planRows.foreach { r =>
      require(r.getLong(2) <= manTotal / 8 + manMax,
        s"bin ${r.getInt(0)} breaks the fill bound: ${r.getLong(2)}")
    }
    println(f"[stress] compaction: 100k files, $cpBins bins, $cpSec%.2f s, max-file/target ratio ${manMax * 8.0 / manTotal}%.2f")

    // KMV theta sketch at 10× distinct keys: exact countDistinct shuffles
    // every distinct key; the sketch ships one 2 KB buffer per task. The
    // honest read on this cache-resident size (like pq_adc_10x): both
    // finish in seconds — the sketch's claim is the ~2 KB mergeable
    // artifact (persistable per shard, unionable, intersectable)
    // replacing a key-space shuffle, plus the measured estimate error
    // against the guaranteed RSE band.
    graft.functions.expressions.GraftFunctions.ensureRegistered(spark)
    val kmvKeys = spark.range(10)
      .crossJoin(Tables.lineitem(spark, sfDir).select(col("l_orderkey")))
      .select(concat(col("l_orderkey").cast("string"), lit("#"), col("id")).as("k"))
      .localCheckpoint()
    var kmvExact = 0L
    val (kexSec, _) = time("kmv 10x exact countDistinct", {
      kmvExact = kmvKeys.agg(countDistinct("k")).head().getLong(0); kmvExact
    })
    var kmvEst = 0L
    val (kskSec, _) = time("kmv 10x sketch estimate", {
      kmvEst = kmvKeys
        .agg(expr("graft_kmv_estimate(graft_kmv_agg(k))")).head().getLong(0)
      kmvEst
    })
    val kmvErrPpm = math.abs(kmvEst - kmvExact) * 1000000L / kmvExact
    // 4 relative standard errors at k=256 ≈ 25%; a correct sketch sits
    // far inside it (observed ~a few %).
    require(kmvErrPpm < 250000L,
      s"kmv estimate $kmvEst vs exact $kmvExact: error ${kmvErrPpm}ppm past 4 RSE")
    println(f"[stress] kmv_10x: exact $kmvExact%,d in $kexSec%.2f s, sketch est $kmvEst%,d in $kskSec%.2f s, err ${kmvErrPpm / 10000.0}%.2f%%")

    // Script-aware shingle dedup at 10×: the 10× corpus is CJK-projected
    // for 1/4 of its ids (a distributed per-row map) with near-dup twins
    // planted for 1/16 — the pairs a word tokenizer PROVABLY cannot find
    // (each CJK doc is one word token). The 10× shift gives every doc ~10
    // same-text siblings, so the co-shingle join runs under genuine
    // duplicate pressure in BOTH scripts; the gate: every planted twin
    // recovered, wall-clock recorded.
    val scriptCorpus = {
      import spark.implicits._
      val b = tenx.select(col("doc_id"), col("text")).as[(Long, String)]
      val mapped = b.map { case (id, t) =>
        (id, if (id % 4 == 0) operators.DedupQueries.cjkOf(t) else t) }
      val twins = b.filter(_._1 % 16 == 0).map { case (id, t) =>
        (id + 100000000L, operators.DedupQueries.cjkOf(t).drop(1)) }
        // Only twins long enough to PAIR count as planted: a ≤3-char
        // projection yields ≤2 char-bigram shingles and cannot reach
        // jac_cents ≥ 50, so one short source doc would hard-fail the
        // whole run on a recall the algorithm never promises (round-21
        // ADVICE). ≥4 post-drop chars ⇔ ≥3 twin bigrams, all shared
        // with the source's ≥4 — Jaccard ≥ 3/4 by construction.
        .filter(_._2.length >= 4)
      (mapped.union(twins).toDF("doc_id", "text"), twins.count())
    }
    val (scriptDocs, plantedTwins) = scriptCorpus
    val frozenScript = scriptDocs.localCheckpoint()
    var scriptPairs = 0L
    var twinsFound = 0L
    val (scriptSec, _) = time("script-jaccard 10x corpus", {
      val pairs = operators.DedupQueries.scriptJaccardPairsOf(
        operators.DedupQueries.scriptShingleIndexOf(frozenScript))
        .localCheckpoint()
      scriptPairs = pairs.count()
      twinsFound = pairs.filter(col("db") === col("da") + 100000000L &&
        col("script") === "cjk").count()
      scriptPairs
    })
    require(twinsFound == plantedTwins,
      s"script dedup at 10x recovered $twinsFound of $plantedTwins planted CJK twins")
    println(f"[stress] script_jaccard_10x: ${frozenScript.count()}%,d docs, $scriptPairs%,d pairs, $plantedTwins planted twins all recovered, $scriptSec%.2f s")

    // Transaction-log metadata at 1000 commits: the round-19 verdict's
    // "linear driver walk" risk, measured. The log is METADATA-only
    // here (commit() never touches data files), so this isolates
    // exactly the driver cost a snapshot read pays: with the automatic
    // every-10th-commit checkpoints, resolution reads ~10 files (the
    // newest checkpoint + the tail); with checkpoints hidden, the SAME
    // resolution replays all 1000 commit files. Both must produce the
    // IDENTICAL active set — the checkpoint is an accelerator, never a
    // semantics change.
    val txDir = java.nio.file.Files.createTempDirectory("stress_txlog_").toFile
    txDir.deleteOnExit()
    val nCommits = 1000
    val (txStageSec, _) = time(s"txlog stage $nCommits commits", {
      (0 until nCommits).foreach { v =>
        // Two adds + one remove per commit past v=0: a live table whose
        // manifest churns, with per-file stats on the adds.
        val adds = Seq(s"data/v$v-aaaa/part-0.parquet", s"data/v$v-aaaa/part-1.parquet")
        val removes = if (v == 0) Nil else Seq(s"data/v${v - 1}-aaaa/part-0.parquet")
        graft.sources.TxLog.commit(txDir.getPath, v, "append", adds, removes,
          Some("`k` BIGINT,`s` STRING"),
          adds.map(p => p -> graft.sources.TxLog.FileStats("k", v * 100L,
            v * 100L + 99L, 100L)).toMap)
      }
      nCommits.toLong
    })
    var ckptActive: Seq[String] = Nil
    val (txCkptSec, _) = time("txlog checkpointed read @999", {
      ckptActive = graft.sources.TxLog.activeFiles(txDir.getPath, nCommits - 1L)
      ckptActive.size.toLong
    })
    // Hide every checkpoint + the pointer → the same read must walk all
    // 1000 commit files (the pre-round-20 shape).
    val logDirF = new java.io.File(txDir, "_log")
    val hidden = new java.io.File(txDir, "hidden_ckpts")
    hidden.mkdirs()
    val ckptFiles = logDirF.listFiles().filter(f =>
      f.getName == "_last_checkpoint" || f.getName.endsWith(".checkpoint.json"))
    val nCkpts = ckptFiles.length.toLong
    ckptFiles.foreach(f => require(f.renameTo(new java.io.File(hidden, f.getName))))
    var fullActive: Seq[String] = Nil
    val (txFullSec, _) = time("txlog full-replay read @999", {
      fullActive = graft.sources.TxLog.activeFiles(txDir.getPath, nCommits - 1L)
      fullActive.size.toLong
    })
    hidden.listFiles().foreach(f => require(f.renameTo(new java.io.File(logDirF, f.getName))))
    require(ckptActive == fullActive,
      s"checkpointed read diverges from full replay: ${ckptActive.size} vs ${fullActive.size}")
    // The stats manifest rides the same resolution: prune planning over
    // the 1001-file active set is a driver map filter, no IO beyond it.
    var pruneKept = 0
    val (txPruneSec, _) = time("txlog stats-prune plan @999", {
      val stats = graft.sources.TxLog.activeStats(txDir.getPath, nCommits - 1L)
      pruneKept = ckptActive.count(p => stats.get(p).forall(st =>
        st.hi >= 50000L && st.lo <= 50099L))
      pruneKept.toLong
    })
    require(pruneKept <= 3,
      s"stats prune kept $pruneKept of ${ckptActive.size} files for a 1-commit range")
    println(f"[stress] txlog_1000: stage $txStageSec%.2f s, ckpt read $txCkptSec%.3f s ($nCkpts ckpt files on disk), full replay $txFullSec%.3f s, prune plan $txPruneSec%.3f s kept $pruneKept/${ckptActive.size}")

    println(s"""{"stress":"lsh_cap","corpus_docs":$corpusDocs,"simhash":{"uncapped_sec":$su,"uncapped_pairs":$nu,"capped_sec":$sc,"capped_pairs":$nc},"minhash":{"uncapped_sec":$mu,"uncapped_pairs":$nmu,"capped_sec":$mc,"capped_pairs":$nmc},"prefix_join_10x":{"docs":$pjDocs,"sec_1x":$pj1Sec,"pairs_1x":$pj1Pairs,"sec_10x":$pjSec,"pairs_10x":$pjPairs,"brute_pair_universe":$pjUniverse},"sketch_vs_exact":{"sketch_sec":$ts1,"groups":$n1,"exact_sec":$ts2,"pairs":$n2},"embed_ivf_10x":{"vecs":$embDocs,"nlist16_sec":$iv,"nlist16_pairs":$niv,"nlist128_sec":$iv2,"nlist128_pairs":$niv2},"pq_adc_10x":{"vecs":$nPqCodes,"fit_sec":$pqFitSec,"encode_sec":$pqEncSec,"adc_scan_sec":$pqScanSec,"exact_scan_sec":$pqExactSec,"code_bytes_per_vec":8,"float_bytes_per_vec":256},"codebook_hot_vector":{"vecs":$nAdv,"clones":$hotClones,"fit_sec":$fitSec,"nonempty_cells":$nonEmptyCells,"max_cell_share":$maxCellShare,"neardup_sec":$advSec,"neardup_pairs":$nAdvPairs,"planted_pairs":$plantedPairs},"bloom_10x":{"orders":$nOrd,"smj_sec":$sj,"smj_rows":$nsj,"probe_sec":$bp,"probe_rows":$nbp,"verify_sec":$bv,"verify_rows":$nbv},"ingest_many_files":{"files":$ingestN,"hidden_frac":0.333,"sec":$ingestSec,"words":${ingested.size},"fold_match":true},"skew_join_hot":{"hot_rows":$hotRows,"buckets_hit":${buckets.size},"max_bucket_rows":$maxBucket,"salted_sec":$saltSec,"plain_sec":$plainSec,"match":true},"span_hot_gram":{"docs":$tenxDocs,"plain_sec":$spSec,"plain_rows":$spRows,"hot_sec":$shSec,"hot_rows":$shRows,"min_shared_windows":$minShared},"span_suffix_flood":{"docs":${tenxDocs + 22},"sec":$sfxSec,"rows":$sfxRows,"planted_recovered":true,"capped_missed":true},"incremental_ingest":{"batch_rows":$nBatch,"corpus_docs":$tenxDocs,"new_docs":$incNew,"expected_new":$expectedNew,"sec":$incSec,"match":true},"stream_state":[${ssRes.map(ssJson).mkString(",")}],"pixel_decode":{"bmp_1x":{"imgs":$npd1,"sec":$pd1},"bmp_10x":{"imgs":$npd10,"sec":$pd10},"png_1x":{"imgs":$npg1,"sec":$pg1},"png_10x":{"imgs":$npg10,"sec":$pg10,"staged_bytes":$pngBytes10},"gif_1x":{"imgs":$ngf1,"sec":$gf1},"gif_10x":{"imgs":$ngf10,"sec":$gf10,"staged_bytes":$gifBytes10}},"q3_broadcast_sensitivity":{"auto_sec":$b1,"smj_sec":$b2},"warc_parse":{"shards":200,"records":$warcRecs,"bytes":$warcBytes,"sec":$warcSec,"clean":true},"pdf_parse":{"docs":$nPdfDocs,"pages":$pdfPages,"bytes":$pdfBytesTotal,"sec":$pdfSec,"clean":true},"avro_10x":{"rows":$nAvroRows,"bytes":$avroBytes,"shards":16,"write_sec":$avWriteSec,"read_sec":$avReadSec,"match":true},"pagerank_hot_hub":{"edges":$nEdges,"nodes":$prNodes,"hub_degree":$starLeaves,"iters":3,"sec":$prSec,"hub_is_top":true,"leaf_rank_values":1,"ring_rank_values":1},"compaction_manifest":{"files":100000,"bins":$cpBins,"sec":$cpSec,"bytes_conserved":true,"fill_bound_holds":true},"maintenance_10x":{"orders_10x":$nOrd10,"merge_1x_sec":$mg1,"merge_10x_sec":$mg10,"checksum_1x_sec":$ck1Sec,"checksum_10x_sec":$ck10Sec,"accounting_match":true,"sums_move_under_key_shift":true},"merge_hot_batch":{"snapshot_rows":$mhSnapRows,"batch_rows":$mhBatchRows,"hot_rows":$mhHotRows,"uniform_sec":$mhuSec,"uniform_rows":$mhuRows,"raw_hot_sec":$mhhSec,"raw_hot_rows":$mhhRows,"aqe_fullouter_skew_split":false,"compacted_hot_sec":$mhcSec,"compacted_rows_out":$mhcRows,"compacted_batch_keys":$mhCompactRows,"lww_match":true},"bpe_learn_10x":{"merges":10,"sec_1x":$bl1,"sec_10x":$bl10,"table_identical":true,"counts_x10":true},"kmv_10x":{"distinct_keys":$kmvExact,"exact_sec":$kexSec,"sketch_sec":$kskSec,"estimate":$kmvEst,"err_ppm":$kmvErrPpm,"artifact_bytes":2056},"txlog_checkpoint_1000":{"commits":$nCommits,"stage_sec":$txStageSec,"ckpt_read_sec":$txCkptSec,"full_replay_sec":$txFullSec,"ckpt_files":$nCkpts,"active_files":${ckptActive.size},"identical":true,"prune_plan_sec":$txPruneSec,"prune_kept":$pruneKept},"script_jaccard_10x":{"docs":${tenxDocs + plantedTwins},"pairs":$scriptPairs,"planted_twins":$plantedTwins,"twins_recovered":$twinsFound,"sec":$scriptSec}}""")
    spark.stop()
  }
}
