package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for the transaction-log table format: snapshot isolation across
  * an overwrite, latest-action-wins replay, torn-commit refusal,
  * version-gap refusal, optimistic-concurrency refusal, and the
  * time-travel read's row-level identity with the pre-merge table. */
class TxLogSpec extends SparkSpec {

  private def freshDir(): String = tempDir("txlog_spec_").toFile.getPath

  private def commitLines(dir: String, v: Long): Array[String] = {
    val f = new java.io.File(dir, f"_log/$v%020d.json")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").filter(_.nonEmpty)
  }

  test("append then overwrite: both snapshots stay readable (snapshot isolation)") {
    val dir = freshDir()
    import spark.implicits._
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    TxLog.commit(dir, 0, "append", TxLog.writeData(a, dir, 0))
    val b = Seq((10L, "x")).toDF("k", "s")
    TxLog.commit(dir, 1, "overwrite",
      TxLog.writeData(b, dir, 1), removes = TxLog.activeFiles(dir, 0))
    assert(TxLog.latestVersion(dir) == 1)
    assert(TxLog.readAsOf(spark, dir, 0).orderBy("k").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a"), (2L, "b")))
    assert(TxLog.readLatest(spark, dir).as[(Long, String)].collect()
      .toSeq == Seq((10L, "x")))
  }

  test("latest action wins: add → remove → re-add leaves the file active") {
    val dir = freshDir()
    import spark.implicits._
    val files = TxLog.writeData(Seq((1L, "a")).toDF("k", "s"), dir, 0)
    TxLog.commit(dir, 0, "append", files)
    TxLog.commit(dir, 1, "overwrite",
      TxLog.writeData(Seq((2L, "b")).toDF("k", "s"), dir, 1), removes = files)
    assert(TxLog.activeFiles(dir, 1).forall(_.startsWith("data/v1-")))
    // Commit 2 re-adds version 0's files (a production RESTORE): the
    // replay's latest-wins rule must resurrect them.
    TxLog.commit(dir, 2, "overwrite", files, removes = TxLog.activeFiles(dir, 1))
    assert(TxLog.activeFiles(dir, 2) == files.sorted)
    assert(TxLog.readAsOf(spark, dir, 2).as[(Long, String)].collect()
      .toSeq == Seq((1L, "a")))
    // …and version 1 still reads as it always did.
    assert(TxLog.readAsOf(spark, dir, 1).as[(Long, String)].collect()
      .toSeq == Seq((2L, "b")))
  }

  test("torn commits refuse: truncated tail, action-count lie, foreign line") {
    val dir = freshDir()
    import spark.implicits._
    TxLog.commit(dir, 0, "append",
      TxLog.writeData(Seq((1L, "a")).toDF("k", "s"), dir, 0))
    val logFile = new java.io.File(dir, "_log/" + f"${0L}%020d" + ".json")
    val lines = commitLines(dir, 0)
    // Truncated: the trailer never made it to disk.
    java.nio.file.Files.write(logFile.toPath,
      (lines.init.mkString("\n") + "\n").getBytes("UTF-8"))
    intercept[IllegalStateException] { TxLog.activeFiles(dir, 0) }
    // Trailer lies about the action count.
    java.nio.file.Files.write(logFile.toPath,
      (lines.init.mkString("\n") + "\n" +
        """{"commit":{"version":0,"operation":"append","n_actions":99}}""" + "\n")
        .getBytes("UTF-8"))
    intercept[IllegalStateException] { TxLog.activeFiles(dir, 0) }
    // A foreign/corrupt action line.
    java.nio.file.Files.write(logFile.toPath,
      ("{\"garbage\":1}\n" + lines.mkString("\n") + "\n").getBytes("UTF-8"))
    intercept[IllegalStateException] { TxLog.activeFiles(dir, 0) }
    // Restored intact: reads again.
    java.nio.file.Files.write(logFile.toPath,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    assert(TxLog.activeFiles(dir, 0).nonEmpty)
  }

  test("version gaps, over-head reads and double commits refuse") {
    val dir = freshDir()
    import spark.implicits._
    val files = TxLog.writeData(Seq((1L, "a")).toDF("k", "s"), dir, 0)
    TxLog.commit(dir, 0, "append", files)
    // Same version again: the optimistic-concurrency loser must refuse —
    // AND the winner's commit file must be byte-identical afterwards
    // (the link(2) publication cannot replace; a rename-based commit
    // silently would — round-19 review finding).
    val before = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_log/" + f"${0L}%020d" + ".json").toPath)
    intercept[IllegalStateException] { TxLog.commit(dir, 0, "append", files) }
    val after = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_log/" + f"${0L}%020d" + ".json").toPath)
    assert(java.util.Arrays.equals(before, after), "commit file was replaced")
    // Reading past the head must refuse, not serve the older snapshot.
    intercept[IllegalStateException] { TxLog.activeFiles(dir, 1) }
    // A gap (commit 2 without 1) breaks the replay for asOf ≥ 1.
    TxLog.commit(dir, 2, "append", files)
    intercept[IllegalStateException] { TxLog.activeFiles(dir, 2) }
    assert(TxLog.activeFiles(dir, 0) == files.sorted) // prefix still fine
  }

  test("the staged gate table: version 0 row-identical to the pre-merge projection") {
    val d = sf("sf0.001")
    val dir = graft.operators.MaintenanceQueries.stageTxTable(spark, d)
    val v0 = TxLog.readAsOf(spark, dir, 0)
    val o = graft.Tables.orders(spark, d)
    assert(v0.count() == o.count())
    // Row-level identity, not just counts: anti-join both ways is empty.
    val proj = o.select(col("o_orderkey").as("key"),
      col("o_orderpriority").as("pri"), col("o_totalprice").as("price"))
    assert(v0.select("key", "pri", "price")
      .join(proj, Seq("key", "pri", "price"), "left_anti").count() == 0)
    assert(proj.join(v0, Seq("key", "pri", "price"), "left_anti").count() == 0)
    // Version 1 equals the merge kernel's output by checksum.
    val v1 = TxLog.readAsOf(spark, dir, 1)
    val m = graft.operators.MaintenanceQueries.mergedOrdersOf(o)
    def chk(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(graft.functions.PortableHash.h60p(concat_ws("|",
        col("key"), col("pri"), floor(col("price") * 100 + 0.5))))).collect()(0).getLong(0)
    assert(chk(v1) == chk(m))
  }

  test("compaction rewrites the manifest, not the content; time travel survives") {
    val d = sf("sf0.001")
    val dir = graft.operators.MaintenanceQueries.stageTxCompact(spark, d)
    val f0 = TxLog.activeFiles(dir, 0)
    val f1 = TxLog.activeFiles(dir, 1)
    assert(f0.size == 8, s"small-file layout expected 8 files, got ${f0.size}")
    assert(f1.size < f0.size, s"compaction did not shrink: ${f0.size} -> ${f1.size}")
    // Accepts both layouts: legacy fixtures staged before writer-unique
    // dirs carry data/v1/…, fresh stagings data/v1-<nonce>/….
    assert(f1.forall(_.startsWith("data/v1")))
    def chk(v: Long): Long =
      TxLog.readAsOf(spark, dir, v).agg(sum(graft.functions.PortableHash.h60p(
        concat_ws("|", col("key"), col("pri"), floor(col("price") * 100 + 0.5)))))
        .collect()(0).getLong(0)
    // Content identical across the rewrite; the pre-compaction
    // small-file layout still reads through the log.
    assert(chk(1) == chk(0))
    assert(TxLog.readAsOf(spark, dir, 0).count() ==
      graft.Tables.orders(spark, d).count())
  }

  test("schema contract: mismatched append refuses; overwrite evolves; reads pin as-of schema") {
    val dir = freshDir()
    import spark.implicits._
    TxLog.commitData(Seq((1L, "a")).toDF("k", "s"), dir, 0)
    assert(TxLog.schemaAsOf(dir, 0).isDefined)
    // An append whose parquet carries an EVOLVED schema must refuse —
    // the old default resolution silently won-or-lost columns depending
    // on file order (round-19 verdict #2).
    val evolved = Seq((2L, "b", 3.0)).toDF("k", "s", "x")
    val ex = intercept[IllegalStateException] {
      TxLog.commitData(evolved, dir, 1, "append")
    }
    assert(ex.getMessage.contains("schema"))
    // The refused append's data landed in a writer-unique dir and the
    // log never references it: the table still reads as version 0.
    assert(TxLog.readLatest(spark, dir).columns.toSeq == Seq("k", "s"))
    // Schema EVOLUTION is an overwrite — the published lakehouse rule.
    TxLog.commitData(evolved, dir, 1, "overwrite",
      removes = TxLog.activeFiles(dir, 0))
    assert(TxLog.readAsOf(spark, dir, 1).columns.toSeq == Seq("k", "s", "x"))
    // Time travel below the evolution still reads the OLD schema —
    // the as-of schema is pinned onto the scan.
    assert(TxLog.readAsOf(spark, dir, 0).columns.toSeq == Seq("k", "s"))
    assert(TxLog.schemaAsOf(dir, 0) != TxLog.schemaAsOf(dir, 1))
    // A same-schema append after the evolution is fine.
    TxLog.commitData(Seq((9L, "z", 1.5)).toDF("k", "s", "x"), dir, 2)
    assert(TxLog.readLatest(spark, dir).count() == 2)
  }

  test("writeData refuses fast on an already-committed version, before writing") {
    val dir = freshDir()
    import spark.implicits._
    TxLog.commitData(Seq((1L, "a")).toDF("k", "s"), dir, 0)
    val before = TxLog.activeFiles(dir, 0)
    intercept[IllegalStateException] {
      TxLog.writeData(Seq((2L, "b")).toDF("k", "s"), dir, 0)
    }
    // The committed snapshot's files are untouched (the round-19 review
    // finding: the old shared data/v0/ dir let a retry delete them).
    assert(TxLog.activeFiles(dir, 0) == before)
    assert(before.forall(p => new java.io.File(dir, p).exists()))
  }

  test("checkpoint: replay identity, O(1) tail resolution, torn refusal, legacy logs") {
    val dir = freshDir()
    import spark.implicits._
    // 13 commits: v0 append, v1..v12 alternating appends/overwrites —
    // v10 crosses the checkpointInterval so commit() writes the
    // checkpoint + _last_checkpoint automatically.
    TxLog.commitData(Seq((0L, "r0")).toDF("k", "s"), dir, 0)
    (1L to 12L).foreach { v =>
      if (v % 3 == 0)
        TxLog.commitData(Seq((v, s"r$v")).toDF("k", "s"), dir, v, "overwrite",
          removes = TxLog.activeFiles(dir, v - 1))
      else
        TxLog.commitData(Seq((v, s"r$v")).toDF("k", "s"), dir, v)
    }
    val ckpt = new java.io.File(dir, "_log/" + f"${10L}%020d" + ".checkpoint.json")
    val ptr = new java.io.File(dir, "_log/_last_checkpoint")
    assert(ckpt.exists(), "interval checkpoint not written")
    assert(ptr.exists(), "_last_checkpoint not written")
    // Checkpoint-vs-full-replay identity at every version — the
    // checkpointed read (asOf ≥ 10 seeds from the snapshot) must equal
    // the ground truth replay. Ground truth: hide the checkpoint+pointer
    // and re-resolve.
    val byCkpt = (0L to 12L).map(v => TxLog.activeFiles(dir, v))
    // (moved OUT of _log — a .bak name inside it would refuse as foreign)
    val outC = new java.io.File(dir, "ckpt.bak")
    val outP = new java.io.File(dir, "ptr.bak")
    assert(ckpt.renameTo(outC) && ptr.renameTo(outP))
    val byReplay = (0L to 12L).map(v => TxLog.activeFiles(dir, v))
    assert(byCkpt == byReplay, "checkpointed state diverges from full replay")
    assert(outC.renameTo(ckpt) && outP.renameTo(ptr))
    // Deep time travel BELOW the checkpoint still resolves (listing
    // fallback path): version 3 readable with its exact rows.
    assert(TxLog.readAsOf(spark, dir, 3).as[(Long, String)].collect().toSeq
      .sorted == Seq((3L, "r3")))
    // Torn checkpoint refuses: lie about n_files.
    val ckptLines = new String(
      java.nio.file.Files.readAllBytes(ckpt.toPath), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    val good = ckptLines.mkString("\n") + "\n"
    java.nio.file.Files.write(ckpt.toPath,
      (ckptLines.init.mkString("\n") + "\n" +
        """{"checkpoint":{"version":10,"n_files":99}}""" + "\n").getBytes("UTF-8"))
    intercept[IllegalStateException] { TxLog.activeFiles(dir, 12) }
    // Corrupt _last_checkpoint refuses (it only appears via atomic move).
    java.nio.file.Files.write(ckpt.toPath, good.getBytes("UTF-8"))
    java.nio.file.Files.write(ptr.toPath, "garbage".getBytes("UTF-8"))
    intercept[IllegalStateException] { TxLog.activeFiles(dir, 12) }
    java.nio.file.Files.write(ptr.toPath,
      """{"checkpoint":{"version":10}}""".getBytes("UTF-8"))
    assert(TxLog.activeFiles(dir, 12).nonEmpty)
    // An explicit checkpoint call is idempotent.
    TxLog.checkpoint(dir, 10)
    assert(TxLog.activeFiles(dir, 12) == byCkpt(12))
    // The pointer is MONOTONE: a delayed checkpoint at an OLDER version
    // writes its snapshot file but never regresses _last_checkpoint
    // (round-20 review finding — readers short-circuit on the pointer).
    TxLog.checkpoint(dir, 4)
    assert(new java.io.File(dir, "_log/" + f"${4L}%020d" + ".checkpoint.json").exists())
    assert(new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8")
      .contains("\"version\":10"))
    assert(TxLog.activeFiles(dir, 12) == byCkpt(12))
  }

  test("range-clustered compaction preserves prunability through the overwrite") {
    val dir = freshDir()
    import spark.implicits._
    // Streaming-ingest layout: 6 small stat'd appends with overlapping
    // key ranges — stats exist but barely prune (every file spans keys).
    (0L until 6L).foreach { v =>
      TxLog.commitData((1L to 30L).map(k => (k, s"b$v-r$k")).toDF("k", "s")
        .coalesce(1), dir, v, statsCol = Some("k"))
    }
    val (_, prunedBefore, _) = TxLog.readAsOfWhere(spark, dir, 5, "k", 1, 5)
    assert(prunedBefore == 0, "overlapping appends should not prune")
    // OPTIMIZE with CLUSTERING: the compaction rewrite range-partitions
    // by the stats column, so the rewritten files carry disjoint ranges
    // — the stats recorded on the overwrite commit prune again.
    val compacted = TxLog.readAsOf(spark, dir, 5).repartitionByRange(3, col("k"))
    TxLog.commitData(compacted, dir, 6, "overwrite",
      removes = TxLog.activeFiles(dir, 5), statsCol = Some("k"))
    val (df, prunedAfter, keptAfter) = TxLog.readAsOfWhere(spark, dir, 6, "k", 1, 5)
    // 3 range-clustered files; keys 1..5 live in ONE of them (allow 2 in
    // case the range sampler puts a boundary inside the probe window).
    assert(prunedAfter >= 1 && keptAfter <= 2,
      s"clustered compaction did not restore pruning ($prunedAfter pruned, $keptAfter kept)")
    assert(df.count() == 30) // 6 ingests × keys 1..5, content preserved
    // …and the pre-compaction snapshot still reads (time travel).
    assert(TxLog.readAsOf(spark, dir, 5).count() == 180)
  }

  test("commitData with an all-null stats file records no stats for it, never NPEs") {
    val dir = freshDir()
    import spark.implicits._
    // Range-partition by s so one output file holds ONLY null-k rows.
    val df = ((1L to 20L).map(k => (Some(k), "a")) ++
      (1L to 20L).map(_ => (None: Option[Long], "b")))
      .toDF("k", "s").repartitionByRange(2, col("s"))
    TxLog.commitData(df, dir, 0, statsCol = Some("k"))
    val stats = TxLog.activeStats(dir, 0)
    // The null-only file has no stats entry; the other file does.
    assert(stats.nonEmpty && stats.size < TxLog.activeFiles(dir, 0).size)
    // Conservative read: the stat-less file is always kept, so the null
    // rows never vanish from a range read (the predicate still drops
    // them row-wise — NULL BETWEEN is not true — but the FILE is read).
    assert(TxLog.readLatest(spark, dir).count() == 40)
    val (pruned, nPruned, kept) = TxLog.readAsOfWhere(spark, dir, 0, "k", 1, 5)
    assert(kept >= 1 && nPruned == 0 && pruned.count() == 5)
  }

  test("file stats prune at the manifest; conservative without stats; survive checkpoints") {
    val dir = freshDir()
    import spark.implicits._
    // 40 rows range-partitioned into 4 files with disjoint k ranges.
    val df = (1L to 40L).map(k => (k, s"r$k")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
    TxLog.commitData(df, dir, 0, statsCol = Some("k"))
    val stats = TxLog.activeStats(dir, 0)
    assert(stats.size == 4)
    assert(stats.values.map(_.rows).sum == 40)
    assert(stats.values.forall(st => st.col == "k" && st.lo <= st.hi))
    // A range inside ONE file's span prunes the other three…
    val oneFile = stats.values.toSeq.sortBy(_.lo).head
    val (df1, pruned1, kept1) =
      TxLog.readAsOfWhere(spark, dir, 0, "k", oneFile.lo, oneFile.hi)
    assert(pruned1 == 3 && kept1 == 1)
    // …and the pruned read's CONTENT equals the unpruned filter.
    assert(df1.as[(Long, String)].collect().sorted.toSeq ==
      TxLog.readAsOf(spark, dir, 0)
        .filter(col("k").between(oneFile.lo, oneFile.hi))
        .as[(Long, String)].collect().sorted.toSeq)
    // A fully-disjoint range prunes EVERYTHING and reads zero rows.
    val (df0, pruned0, _) = TxLog.readAsOfWhere(spark, dir, 0, "k", 1000, 2000)
    assert(pruned0 == 4 && df0.count() == 0)
    // A predicate on a column WITHOUT stats keeps every file
    // (conservative — pruning is an optimization, never semantics).
    val (_, prunedS, keptS) = TxLog.readAsOfWhere(spark, dir, 0, "s", 0, 0)
    assert(prunedS == 0 && keptS == 4)
    // Stats ride through a checkpoint: snapshot the state, then verify
    // the checkpointed resolution still prunes identically.
    TxLog.checkpoint(dir, 0)
    val (_, prunedC, keptC) =
      TxLog.readAsOfWhere(spark, dir, 0, "k", oneFile.lo, oneFile.hi)
    assert(prunedC == 3 && keptC == 1)
    // A stat-less append over the same keys degrades pruning
    // gracefully: its files are always kept. (The schema still rides
    // along — a SCHEMA-less append onto a schema-recorded table refuses
    // outright, pinned below.)
    val extra = Seq((5L, "x")).toDF("k", "s")
    val extraFiles = TxLog.writeData(extra, dir, 1)
    intercept[IllegalStateException] {
      TxLog.commit(dir, 1, "append", extraFiles)
    }
    TxLog.commit(dir, 1, "append", extraFiles,
      schemaDdl = Some(extra.schema.toDDL))
    val (_, pruned2, kept2) =
      TxLog.readAsOfWhere(spark, dir, 1, "k", oneFile.lo, oneFile.hi)
    assert(pruned2 == 3 && kept2 == 2)
  }

  test("vacuum deletes exactly the below-horizon files; time travel there fails loudly") {
    val d = sf("sf0.001")
    val dir = graft.operators.MaintenanceQueries.stageTxVacuum(spark, d)
    val f0 = TxLog.activeFiles(dir, 0)
    val f1 = TxLog.activeFiles(dir, 1)
    // The log keeps the full history (vacuum is physical, not logical)…
    assert(f0.size == 8 && f1.size == 2)
    // …but version 0's files are gone and version 1's remain.
    assert(f0.forall(p => !new java.io.File(dir, p).exists()))
    assert(f1.forall(p => new java.io.File(dir, p).exists()))
    // The retained snapshot reads; the vacuumed one fails loudly.
    assert(TxLog.readLatest(spark, dir).count() ==
      graft.Tables.orders(spark, d).count())
    intercept[Exception] { TxLog.readAsOf(spark, dir, 0).count() }
    // Idempotent: a second vacuum deletes nothing further.
    assert(TxLog.vacuum(dir, retainFrom = 1).isEmpty)
    // Horizon validation: a retention point past the head refuses.
    intercept[IllegalArgumentException] { TxLog.vacuum(dir, retainFrom = 9) }
  }
}
