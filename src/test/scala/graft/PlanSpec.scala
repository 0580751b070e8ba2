package graft

/** Physical-plan assertions — the "would this survive 100×?" gate.
  * Checks that the plans Catalyst produces are the plans we designed for:
  * pushdown reaches the scan, small sides broadcast, top-k never global-
  * sorts, and nothing degenerates into an unbounded cartesian product.
  */
class PlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_filter_project pushes predicates and prunes columns at the scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("l_quantity"),
      s"missing pushed filters:\n$p")
    assert(!p.contains("l_returnflag"), "scan reads pruned column l_returnflag")
  }

  test("q3_join broadcasts the nation dimension") {
    val p = plan("q3_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"no broadcast in q3_join plan:\n$p")
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    for (q <- Seq("q_topk_orders", "word_topk")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q lacks TakeOrderedAndProject:\n$p")
    }
  }

  test("wordcount aggregates partially before the shuffle (map-side combine)") {
    val p = plan("wordcount")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate pair:\n$p")
  }

  test("lang_minhash_sketch never shuffles the shingle stream (sketch partials only)") {
    val p = plan("lang_minhash_sketch")
    // The 100 TB contract (round-5 VERDICT #5): every hash exchange keys
    // on `lang` and carries per-language ObjectHashAggregate partials
    // (256 B each) — a groupBy(shingle) would show an exchange keyed on
    // `sh`. (The printed plan repeats the aggregate subtree once per
    // self-join side; AQE's stage reuse collapses the identical
    // exchanges at runtime, so the key check is the invariant, not the
    // textual count.)
    val exchangeKeys = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty && exchangeKeys.forall(_.startsWith("lang")),
      s"full-shingle shuffle crept in (exchange keys: $exchangeKeys):\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("graft_minhash"),
      s"expected map-side minhash sketch partials:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"pairwise stage should broadcast the tiny per-language frame:\n$p")
  }

  test("window queries shuffle once on the partition key") {
    for (q <- Seq("q_window_rank", "q_window_range", "sample_exact_k")) {
      val p = plan(q)
      // one exchange for the window partitioning + possibly one for the
      // final orderBy; no more.
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
        s"$q: too many hash exchanges:\n$p")
    }
  }

  test("text_vocab_encode broadcasts the vocab and never global-sorts the words") {
    val p = plan("text_vocab_encode")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"vocab join is not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-k lacks TakeOrderedAndProject:\n$p")
  }

  test("dedup_embed_ivf: centroid assignment broadcasts, no cartesian product") {
    val p = plan("dedup_embed_ivf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroid table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected CartesianProduct:\n$p")
  }

  test("Tables relation cache is session-isolated (no cross-session plan reuse)") {
    val a = spark.newSession()
    val b = spark.newSession()
    val da = Tables.lineitem(a, dir)
    val db = Tables.lineitem(b, dir)
    assert(da.sparkSession eq a, "cached relation bound to the wrong session")
    assert(db.sparkSession eq b, "cached relation bound to the wrong session")
    assert(Tables.lineitem(a, dir) eq da, "same session+dir must reuse the cached plan")
  }

  test("no query plan contains an unbounded CartesianProduct") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name degenerated into CartesianProduct:\n$p")
    }
  }

  test("simhash candidates come from a band-key equi-join with the hamming verify INSIDE it") {
    // Round-15 shape (replacing the collect_list bucket expansion, which
    // packed b²/2 struct pairs into ONE unsplittable task per hot
    // bucket): candidates are a (chunk, ckey) self-equi-join — a shape
    // AQE can skew-split — and BOTH the da<db ordering and the
    // bit_count(pa^pb) <= 3 verify sit in the join condition itself, so
    // no un-verified pair ever reaches the downstream dedup exchange.
    for (q <- Seq("dedup_simhash", "dedup_simhash_capped")) {
      val p = plan(q).toLowerCase
      assert(p.contains("join") && p.contains("chunk") && p.contains("ckey"),
        s"$q candidates should come from a (chunk, ckey) equi-join:\n$p")
      val joinLine = p.linesIterator.find(l => l.contains("join") && l.contains("ckey"))
        .getOrElse(fail(s"no band-key join line in:\n$p"))
      assert(joinLine.contains("bit_count") && joinLine.contains("<= 3"),
        s"$q hamming verify must run inside the join, not after the dedup:\n$p")
    }
  }

  test("sim_ivf_recall: both top-10 sides broadcast into the semi-join") {
    // The recall gate joins two 10-row top-k results — at ANY corpus size
    // both sides are k rows, so the intersection must be a broadcast
    // semi-join, never a shuffle on the big side.
    val p = plan("sim_ivf_recall")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"top-10 intersection should be a broadcast semi-join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no hash-partitioned exchange belongs in a k-row intersection:\n$p")
  }

  test("explicit broadcast cross joins stay BroadcastNestedLoop with a tiny build side") {
    // sim_* queries cross-join a 1-row broadcast probe — that's the
    // designed plan; just pin that the broadcast actually happens.
    val p = plan("sim_topk_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe not broadcast:\n$p")
  }

  test("q_gap_fill broadcasts the event-type axis — scale-proof without AQE") {
    // The dense-axis cross join must broadcast its tiny event-type frame
    // by explicit hint, not rely on AQE noticing it at runtime.
    val p = plan("q_gap_fill")
    assert(p.contains("BroadcastExchange"), s"axis frame not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"gap-fill axis degenerated:\n$p")
  }

  test("sim_knn_ivf joins on the cluster key — no nested-loop over all pairs") {
    val p = plan("sim_knn_ivf")
    // The pair join must be an equi-join on `cluster` (hash/sort-merge);
    // only the 16-row centroid assignment may broadcast-nested-loop.
    val joins = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(joins <= 2, s"unexpected nested-loop joins in blocked kNN:\n$p")
    // The pair join must be an EQUI-join keyed on `cluster` — assert a
    // join node whose key list starts with the cluster column (a plain
    // contains("Join") && contains("cluster") would be vacuously true).
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cluster#".r
      .findFirstIn(p).isDefined, s"pair join not keyed on cluster:\n$p")
  }

  test("q_skew_agg aggregates twice (salt partial, key final) with integral sums") {
    val p = plan("q_skew_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 3,
      s"expected salted partial + final HashAggregate chain:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("pack_sequences shuffles once on the pack key (window + reuse for groupBy)") {
    val p = plan("pack_sequences")
    // Window partitions by lang; the following groupBy(lang, bin) may add
    // at most one more exchange. Never more.
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"too many exchanges in pack_sequences:\n$p")
  }

  test("text_ngram_stats ends in TakeOrderedAndProject with partial aggregation") {
    val p = plan("text_ngram_stats")
    assert(p.contains("TakeOrderedAndProject"), s"top-k global-sorts:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no map-side partial aggregation:\n$p")
  }

  test("q_skew_join actually joins on the salt (hot keys spread over buckets)") {
    val p = plan("q_skew_join")
    assert(p.contains("__salt"), s"salt column missing from join condition:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_bloom_join: every join broadcasts — the big side never shuffles") {
    val p = plan("q_bloom_join")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"bloom runtime-filter query shuffles a join side:\n$p")
    assert(p.contains("graft_bloom_contains"), s"probe expression missing:\n$p")
    // The only exchange is the 1-row partial→final global aggregate.
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"unexpected hash exchange on the probe side:\n$p")
  }

  test("q_cdc_compact partially aggregates the argmax before its shuffle") {
    val p = plan("q_cdc_compact")
    // max(struct(ts, ...)) must combine map-side BEFORE the shuffle
    // (struct maxima compile to SortAggregate — struct buffers aren't
    // hash-aggregable — but the partial/final split is what matters),
    // and never a Window (the oracle's rank formulation shuffles every
    // version; ours must not).
    assert(p.contains("partial_max"),
      s"no map-side partial aggregation of the argmax:\n$p")
    assert(!p.contains("Window"), s"CDC compaction fell back to a window:\n$p")
  }

  test("q_histogram shuffles only its 13-value bucket key") {
    val p = plan("q_histogram")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"histogram should shuffle once on the bucket key:\n$p")
  }

  test("q_zorder is map-only up to one aggregation exchange") {
    val p = plan("q_zorder")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"z-order audit should shuffle once (file_id agg):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_table_checksum is map-only up to one aggregation exchange") {
    val p = plan("q_table_checksum")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"checksum should shuffle only the 3-row segment agg:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // Partial aggregation before the exchange: validating a copy ships
    // one partial sum per segment per partition, never rows.
    assert(p.indexOf("HashAggregate") < p.indexOf("Exchange hashpartitioning"),
      s"no map-side partial aggregation before the shuffle:\n$p")
  }

  test("q_merge_upsert resolves the merge in ONE join on the key") {
    val p = plan("q_merge_upsert")
    // FULL OUTER cannot broadcast; the scale shape is exactly one
    // sort-merge join on the uniform primary key, then a partially
    // aggregated audit — never a join per change-op branch.
    assert("SortMergeJoin".r.findAllIn(p).size == 1,
      s"merge should be a single full-outer join:\n$p")
    assert(p.contains("FullOuter"), s"merge join is not full-outer:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("sample_temperature filters via a broadcast rate table (map-only corpus pass)") {
    val p = plan("sample_temperature")
    // The corpus-side keep filter must join against the 5-row rate table
    // by broadcast — the 100 TB scan stays map-only; only per-lang
    // aggregates reach an exchange.
    assert(p.contains("BroadcastHashJoin"),
      s"rate lookup is not a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"), s"rate join degenerated:\n$p")
  }

  test("graph_pagerank partially aggregates incoming contributions before each shuffle") {
    val p = plan("graph_pagerank")
    // The hot-hub reduction (many contributions to one destination key)
    // must combine map-side; a missing partial agg would ship every edge
    // contribution row through the exchange. Assert the partial MODE
    // explicitly — a merge/final HashAggregate above the exchange prints
    // first in the top-down plan text, so ordering alone can't catch a
    // missing map-side half.
    assert(p.contains("partial_sum"),
      s"no map-side partial aggregation of the incoming sums:\n$p")
    assert(!p.contains("CartesianProduct"), s"rank join degenerated:\n$p")
  }

  test("text_bm25 broadcasts df + corpus stats and top-ks without a global sort") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 cut should be TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"df / stats frames are not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"stats join degenerated:\n$p")
  }

  test("text_tfidf broadcasts the corpus-size scalar, not the term frames") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus-size frame is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"N join degenerated:\n$p")
  }

  test("partitioned lake layout: a day filter prunes the scan to one partition") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft-lake").toFile.getAbsolutePath
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    graft.sources.FileSources.writeParquet(ev, s"$tmp/events_by_day", Seq("day"))
    // Fresh session with AQE off so the FileSourceScanExec is reachable in
    // the plan tree (AdaptiveSparkPlanExec is a leaf node) — conf stays
    // scoped to this test.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val lake = sess.read.parquet(s"$tmp/events_by_day")
    val days = lake.select("day").distinct().orderBy("day").collect().map(_.getDate(0))
    assert(days.length > 1, "fixture spans a single day — pruning test would be vacuous")
    val q = lake.filter(col("day") === days.head).select("event_id", "value")
    val ps = q.queryExecution.executedPlan.toString
    assert(ps.contains("PartitionFilters:") && ps.contains("day"),
      s"no partition filter reached the scan:\n$ps")
    q.collect()
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val oneDayFiles = sess.read.parquet(s"$tmp/events_by_day/day=${days.head}").inputFiles.length
    val allFiles = lake.inputFiles.length
    assert(scan.metrics("numFiles").value == oneDayFiles,
      s"scan read ${scan.metrics("numFiles").value} files, expected the $oneDayFiles in one partition")
    assert(oneDayFiles < allFiles, "partitioned layout produced a single directory")
  }

  test("txlog stats-pruned read: the scan's inputFiles are the kept manifest, not the table") {
    import org.apache.spark.sql.functions._
    // Manifest pruning happens BEFORE the DataFrame exists, so the plan's
    // file index — not a runtime filter — is what shrinks: inputFiles on
    // the pruned read must be exactly the kept files.
    val dir = tempDir("plan_txstats_").toFile.getPath
    import spark.implicits._
    val df = (1L to 80L).map(k => (k, s"r$k")).toDF("k", "s")
      .repartitionByRange(8, col("k"))
    graft.sources.TxLog.commitData(df, dir, 0, statsCol = Some("k"))
    val all = graft.sources.TxLog.readAsOf(spark, dir, 0).inputFiles.length
    val stats = graft.sources.TxLog.activeStats(dir, 0)
    val one = stats.values.toSeq.sortBy(_.lo).head
    val (pruned, nPruned, nKept) =
      graft.sources.TxLog.readAsOfWhere(spark, dir, 0, "k", one.lo, one.hi)
    assert(all == 8 && nKept == 1 && nPruned == 7)
    assert(pruned.inputFiles.length == 1,
      s"pruned read's file index carries ${pruned.inputFiles.length} files, expected 1 of $all")
    // And the predicate still pushes into the one scanned file.
    val ps = pruned.queryExecution.executedPlan.toString
    assert(ps.contains("PushedFilters") && ps.contains("k"),
      s"range predicate did not reach the scan:\n$ps")
  }

  test("text_lm_buckets ranks distributed — no SinglePartition funnel on the doc frame") {
    // The round-15 weak plan: ntile(3) over an unpartitioned window put
    // an Exchange SinglePartition on the PER-DOCUMENT score frame. The
    // fix (RankUtils.globalRank) must show (a) a parallel range
    // partitioning on the ranking key, (b) no ntile window at all, and
    // (c) every remaining SinglePartition exchange feeding only from an
    // aggregate (1-row cuts, per-partition offset counts) — metadata-
    // sized reductions, never the doc frame itself.
    val p = plan("text_lm_buckets")
    // Round 18: the ranked frame is localCheckpoint()ed (one
    // materialization for both the offset aggregate and the join), so
    // the range exchange lives inside the checkpoint's lineage and the
    // downstream plan shows a Scan ExistingRDD carrying the rank
    // columns instead. Pin the checkpoint barrier here and the range
    // partitioning on the un-cut kernel below.
    assert(p.contains("Scan ExistingRDD") && p.contains("__graft_pid"),
      s"ranked frame not read from its single checkpoint:\n$p")
    assert(!p.toLowerCase.contains("ntile"), s"ntile window crept back:\n$p")
    import org.apache.spark.sql.functions.{col, length}
    val kernel = graft.operators.RankUtils.globalRank(
      Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), length(col("text")).as("n")),
      Seq(col("n").asc, col("doc_id").asc), checkpoint = false)
      .queryExecution.executedPlan.toString
    assert(kernel.contains("Exchange rangepartitioning(n#"),
      s"missing the parallel range sort on the ranking key:\n$kernel")
    assert(!kernel.contains("Exchange SinglePartition") ||
      !kernel.linesIterator.exists(l =>
        l.contains("Exchange SinglePartition") && l.contains("doc_id")),
      s"kernel funnels the doc frame:\n$kernel")
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (line, i) =>
        val child = lines.drop(i + 1)
          .find(l => l.exists(c => c.isLetter)) // next operator line
        assert(child.exists(c => c.contains("HashAggregate")),
          s"SinglePartition exchange over a non-aggregate child:\n$line\n${child.getOrElse("")}\n$p")
    }
  }

  test("pipeline_seq_pack prefix-sums distributed — range exchange, no doc-frame funnel") {
    // The concat-and-chunk offsets come from RankUtils.globalPrefixSum;
    // the naive formulation (SUM OVER an unpartitioned ORDER BY) would
    // funnel the whole corpus through one task. Pin: (a) the executed
    // plan reads the scanned frame from its one checkpoint, (b) the
    // un-cut kernel shows the parallel range partitioning on the order
    // key and an order-preserving MapPartitions scan — NOT a second
    // full exchange on pid, (c) any SinglePartition exchange in the
    // full plan feeds only from an aggregate (metadata-sized offsets).
    val p = plan("pipeline_seq_pack")
    assert(p.contains("Scan ExistingRDD") && p.contains("__graft_cum"),
      s"scanned frame not read from its single checkpoint:\n$p")
    import org.apache.spark.sql.functions.{col, size, split}
    val kernel = graft.operators.RankUtils.globalPrefixSum(
      Tables.documents(spark, sf("sf0.001"))
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("toks")),
      Seq(col("doc_id").asc), col("toks"), checkpoint = false)
      .queryExecution.executedPlan.toString
    assert(kernel.contains("Exchange rangepartitioning(doc_id#"),
      s"missing the parallel range sort on the order key:\n$kernel")
    assert(kernel.contains("MapPartitions"),
      s"missing the order-preserving per-partition scan:\n$kernel")
    // Any exchange on pid must sit ABOVE a partial aggregate (the
    // one-row-per-partition offsets frame), never re-shuffle the
    // scanned corpus rows themselves — the Window.partitionBy(pid)
    // formulation this helper exists to avoid.
    val kLines = kernel.linesIterator.toVector
    kLines.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning(__graft_pid")).foreach {
        case (line, i) =>
          val child = kLines.drop(i + 1).find(l => l.exists(_.isLetter))
          assert(child.exists(_.contains("HashAggregate")),
            s"pid exchange over a non-aggregate child:\n$line\n${child.getOrElse("")}\n$kernel")
      }
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (line, i) =>
        val child = lines.drop(i + 1)
          .find(l => l.exists(c => c.isLetter))
        assert(child.exists(c => c.contains("HashAggregate")),
          s"SinglePartition exchange over a non-aggregate child:\n$line\n${child.getOrElse("")}\n$p")
    }
  }
}
