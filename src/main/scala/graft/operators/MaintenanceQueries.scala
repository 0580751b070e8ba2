package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.PortableHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance / change-data pack: the lakehouse WRITE-side ops a
  * 100 TB pipeline runs between analytic passes — MERGE (upsert/delete
  * apply), SCD2 history build, snapshot diffing, and content checksums
  * for copy validation. The reference engine (a batch MapReduce skeleton,
  * FileWordCounter.cpp:87-136) has no mutation story at all; these are
  * the operations its users would need the moment the corpus stops being
  * append-only.
  *
  * Scale shapes:
  *   - MERGE and diff are ONE shuffle each: a full-outer hash join on the
  *     primary key (uniform 64-bit), then a partial-aggregated audit. On
  *     a bucketed snapshot (FileSources.writeBucketed) the join needs no
  *     exchange at all on the snapshot side; AQE handles a skewed change
  *     batch.
  *   - SCD2 is one window exchange on user_id (the natural history key).
  *   - The checksum is a pure map + partial agg on a 3-value key: each
  *     row contributes h60p(canonical repr) mod P (< 2^30), so a 10^12-row
  *     segment sum stays < 2^70... actually < 2^30 * 10^12 < 2^70 — still
  *     inside BIGINT, and associativity-safe (integer sum), so map-side
  *     combine is exact. Comparing two copies of a table costs two scans
  *     and exchanges 3 rows.
  *
  * The change batch is DERIVED deterministically from the snapshot itself
  * (key mod 10 selects update/delete/insert victims), so both engines
  * construct identical inputs with zero staged state.
  */
object MaintenanceQueries extends QueryPack {

  /** Deterministic change batch over ANY orders-shaped snapshot:
    * key%10==0 → update (price +500.0), ==1 → delete, ==2 → insert under
    * a fresh key range. ONE filtered pass with per-op CASEs — not a
    * 3-branch union, which would scan the snapshot three times (the
    * oracle's UNION ALL form is row-for-row identical). */
  private[graft] def changeBatchOf(o: DataFrame): DataFrame = {
    val m = col("o_orderkey") % 10
    o.filter(m.isin(0, 1, 2))
      .select(
        when(m === 2, col("o_orderkey") + 10000000L)
          .otherwise(col("o_orderkey")).as("k"),
        when(m === 0, "U").when(m === 1, "D").otherwise("I").as("op"),
        when(m === 0, col("o_totalprice") + lit(500.0))
          .when(m === 2, col("o_totalprice"))
          .otherwise(lit(null).cast("double")).as("price"),
        when(m === 2, col("o_orderpriority"))
          .otherwise(lit(null).cast("string")).as("priority"))
  }

  /** MERGE the change batch into the snapshot: one full-outer join on the
    * key resolves keep / update / delete / insert per row. */
  private[graft] def mergedOrdersOf(o: DataFrame): DataFrame = {
    val ch = changeBatchOf(o)
    o.join(ch, col("o_orderkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("k"), col("o_orderkey")).as("key"),
        when(col("op") === "I", col("priority"))
          .otherwise(col("o_orderpriority")).as("pri"),
        when(col("op") === "U" || col("op") === "I", col("price"))
          .otherwise(col("o_totalprice")).as("price"),
        when(col("op") === "I", 1L).otherwise(0L).as("ins"),
        when(col("op") === "U", 1L).otherwise(0L).as("upd"))
  }

  /** The same change batch + merge, as a DuckDB CTE prefix ending in
    * `merged(key, pri, price, ins, upd)`. */
  private val mergedSqlCte =
    """ch AS (
         SELECT o_orderkey AS k, 'U' AS op, o_totalprice + 500.0 AS price,
                CAST(NULL AS VARCHAR) AS priority
         FROM orders WHERE o_orderkey % 10 = 0
         UNION ALL
         SELECT o_orderkey, 'D', CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
         FROM orders WHERE o_orderkey % 10 = 1
         UNION ALL
         SELECT o_orderkey + 10000000, 'I', o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey % 10 = 2),
       merged AS (
         SELECT COALESCE(ch.k, o.o_orderkey) AS key,
                CASE WHEN ch.op = 'I' THEN ch.priority
                     ELSE o.o_orderpriority END AS pri,
                CASE WHEN ch.op IN ('U', 'I') THEN ch.price
                     ELSE o.o_totalprice END AS price,
                CASE WHEN ch.op = 'I' THEN 1 ELSE 0 END AS ins,
                CASE WHEN ch.op = 'U' THEN 1 ELSE 0 END AS upd
         FROM orders o FULL JOIN ch ON ch.k = o.o_orderkey
         WHERE ch.op IS NULL OR ch.op <> 'D')"""

  val queries: Map[String, Q] = Map(
    // MERGE/upsert apply — audit of the merged table per priority class:
    // row count, integer-cent total, and how many rows each op produced.
    // Sums are over exact cents (floor(price*100+0.5) — the Portable
    // rounding contract), so the gate pins every CASE branch of the merge.
    "q_merge_upsert" -> ((s, d) =>
      mergeAuditOf(mergedOrdersOf(Tables.orders(s, d)))),

    // The scaladoc claim above ("on a bucketed snapshot the join needs no
    // exchange at all on the snapshot side"), PROVEN: the snapshot is
    // written once as a parquet table bucketed on the merge key
    // (FileSources.writeBucketed — the one-time shuffle a maintained
    // 100 TB table has already paid), and the MERGE's full-outer join
    // reads it pre-partitioned and pre-sorted from its buckets — only
    // the (small) change batch shuffles, plan-pinned in
    // SkewAndBucketingSpec. Identical oracle to q_merge_upsert: the
    // layout round-trip must change nothing.
    "q_merge_upsert_bucketed" -> ((s, d) => {
      val tbl = graft.sources.FileSources.dirKeyedTable("graft_orders_snap", d)
      graft.sources.FileSources.ensureBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority"),
        tbl, 8, Seq("o_orderkey"),
        Some(graft.sources.FileSources.tableFingerprint(d, Seq("orders"))))
      mergeAuditOf(mergedOrdersOf(s.table(tbl)))
    }),

    // Snapshot diff — compare the post-merge table against the original
    // snapshot BY KEY and classify every key: added / removed / changed /
    // unchanged. One full-outer join on the key; the per-class key-hash
    // sum (h60p, order-independent) means two 100 TB copies can be
    // compared with confidence the classes hold the SAME keys, not just
    // the same counts.
    "q_snapshot_diff" -> ((s, d) => {
      val before = Tables.orders(s, d)
        .select(col("o_orderkey").as("bk"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("bcents"))
      val after = mergedOrdersOf(Tables.orders(s, d))
        .select(col("key").as("ak"),
          floor(col("price") * 100 + 0.5).cast("long").as("acents"))
      before.join(after, col("bk") === col("ak"), "full_outer")
        .select(
          when(col("bk").isNull, "added")
            .when(col("ak").isNull, "removed")
            .when(col("bcents") =!= col("acents"), "changed")
            .otherwise("unchanged").as("change_class"),
          coalesce(col("bk"), col("ak")).as("key"))
        .groupBy("change_class")
        .agg(count(lit(1)).as("n_keys"),
          sum(PortableHash.h60p(col("key").cast("string"))).as("key_hash_sum"))
        .orderBy("change_class")
    }),

    // SCD2 history build from the events change log: per user, each run
    // of consecutive equal event_type values becomes one validity
    // interval [valid_from, valid_to). One window exchange on user_id.
    // The audit aggregates per type: interval count, open (current)
    // intervals, and the summed closed-interval duration in micros — so
    // the lag-based change detection AND the lead-based interval close
    // are both pinned by exact integer arithmetic.
    "q_scd2_intervals" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_type", lag("event_type", 1).over(byUser))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("valid_to_us", lead("us", 1).over(byUser))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_intervals"),
          sum(when(col("valid_to_us").isNull, 1L).otherwise(0L)).as("n_open"),
          sum(when(col("valid_to_us").isNotNull, col("valid_to_us") - col("us"))
            .otherwise(0L)).as("closed_dur_us"))
        .orderBy("event_type")
    }),

    // Incremental materialized-view refresh — maintain a per-priority
    // aggregate under the change batch WITHOUT recomputing the table:
    // new_state = old_state ⊕ delta, where the delta aggregates only the
    // changed rows (updates contribute new−old cents, deletes −1/−cents,
    // inserts +1/+cents). All-integer (cent) arithmetic, so incremental
    // maintenance is EXACTLY equal to recomputation — and the oracle
    // proves it: DuckDB full-recomputes over the merged table while
    // Spark only ever aggregates the snapshot state plus the delta. In
    // production the old state is the STORED view (groups-sized rows),
    // so a refresh costs O(|delta|) + a groups-sized join — never a
    // table scan; the snapshot aggregate here stands in for that stored
    // state because the gate owns no persistent MV.
    "q_mv_refresh" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      val newCents = floor((col("o_totalprice") + lit(500.0)) * 100 + 0.5).cast("long")
      val oldState = o.groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"), sum(cents).as("cents"))
      // One filtered pass over the change rows; per-op CASEs give each
      // row its (dn, dc) contribution directly.
      val m = col("o_orderkey") % 10
      val delta = o.filter(m.isin(0, 1, 2))
        .select(col("o_orderpriority").as("pri"),
          when(m === 0, 0L).when(m === 1, -1L).otherwise(1L).as("dn"),
          when(m === 0, newCents - cents)
            .when(m === 1, -cents).otherwise(cents).as("dc"))
        .groupBy("pri").agg(sum("dn").as("dn"), sum("dc").as("dc"))
      oldState.join(delta, Seq("pri"), "full_outer")
        .select(col("pri").as("o_orderpriority"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
          (coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // Small-file compaction plan — the OPTIMIZE/rewrite planner every
    // lakehouse table needs once ingest has written thousands of
    // per-source-per-partition files: collect the file manifest (here the
    // (source, lang) groups of documents stand in for data files, their
    // byte sums for file sizes), order it largest-first (classic
    // first-fit-decreasing order; ties broken by name so the plan is
    // deterministic), and assign files to 8 equal-byte output groups by
    // scaled cumulative fill: bin = ((cum − size)·8) DIV total ∈ [0, 7]
    // by construction, pure BIGINT math. The plan NEVER touches data —
    // the scan is one partial-agg manifest pass, the planning window runs
    // over metadata-sized rows (one row per file; a 100 TB table has
    // ~10⁵ files, driver-scale), and each output group is then an
    // independent rewrite job reading only its own members.
    "q_compaction_plan" -> ((s, d) => {
      val files = Tables.documents(s, d)
        .groupBy("source", "lang")
        .agg(sum(col("n_chars").cast("long")).as("bytes"),
          count(lit(1)).as("n_docs"))
        .withColumn("file", concat_ws("/", col("source"), col("lang")))
        .select("file", "bytes", "n_docs")
      compactionPlanOf(files).orderBy("bin")
    }),

    // Order-independent content checksum of lineitem per l_returnflag
    // segment: each row contributes h60p of a canonical integer-string
    // repr (key cols + exact integer measures). Validating a 100 TB copy
    // = two map-only scans + a 3-row exchange; any dropped, duplicated,
    // or bit-flipped row moves the sum.
    "q_table_checksum" -> ((s, d) =>
      segmentChecksumOf(Tables.lineitem(s, d))),

    // SNAPSHOT RETENTION planning — the expiry policy every versioned
    // lake runs (keep recent history dense, older history sparse):
    // keep the 5 most-recent snapshots by timestamp AND the latest
    // snapshot of every day; expire the rest and account the reclaimed
    // bytes. Snapshots are synthesized closed-form (5 per day, 12 days,
    // within-day timestamps deliberately NON-monotonic in snapshot id,
    // so "latest of the day" must rank by ts, not id). Two windows —
    // one global recency rank, one per-day head — and an aggregate:
    // the plan over a million-snapshot metadata table costs two
    // small-frame exchanges. The kept-set checksum pins membership
    // (an off-by-one in either window moves it).
    "q_retention_plan" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val snaps = Tables.documents(s, d)
        .filter(col("doc_id") < 60)
        .select(col("doc_id").as("sid"))
        .withColumn("day", expr("sid div 5"))
        // (sid·7919) % 5 hours: genuinely NON-monotonic in sid within a
        // day (7919 ≡ 4 mod 5, so the hour runs 0,4,3,2,1 across the
        // day's five snapshots) — an implementation ranking by sid
        // instead of ts produces a DIFFERENT daily head and fails.
        .withColumn("ts_sec",
          col("day") * 86400L + ((col("sid") * 7919) % 5) * 3600L + (col("sid") % 7) * 60L)
        .withColumn("bytes", lit(1000L) + (col("sid") * 37) % 5000)
      val planned = snaps
        .withColumn("recency_rk", row_number().over(
          Window.orderBy(col("ts_sec").desc, col("sid").desc)))
        .withColumn("day_rk", row_number().over(
          Window.partitionBy("day").orderBy(col("ts_sec").desc, col("sid").desc)))
        .withColumn("keep", col("recency_rk") <= 5 || col("day_rk") === 1)
      planned.groupBy("day")
        .agg(
          count(lit(1)).as("n_snaps"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_expired"),
          sum(when(!col("keep"), col("bytes")).otherwise(0L)).as("expired_bytes"),
          coalesce(sum(when(col("keep"),
            graft.functions.PortableHash.h60p(col("sid").cast("string")))), lit(0L))
            .as("kept_checksum"))
        .orderBy("day")
    }),

    // TIME-TRAVEL READ over the transaction-log table ([[graft.sources
    // .TxLog]] — the Delta-style JSON commit log over parquet): version
    // 0 is the appended pre-merge snapshot, version 1 OVERWRITES it
    // with the MERGE result (the same mergedOrdersOf kernel the
    // q_merge_upsert gate pins). The query reads BOTH snapshots through
    // the log replay — proving the overwrite did not destroy version
    // 0's readability (snapshot isolation) — and audits each; the
    // oracle recomputes both versions from the raw table, never seeing
    // a log byte. The log is metadata-sized; the data reads are
    // ordinary distributed parquet scans.
    "q_timetravel_read" -> ((s, d) => {
      val dir = stageTxTable(s, d)
      val v0 = graft.sources.TxLog.readAsOf(s, dir, 0).withColumn("version", lit(0L))
      val v1 = graft.sources.TxLog.readAsOf(s, dir, 1).withColumn("version", lit(1L))
      v0.unionByName(v1)
        .groupBy(col("version"), col("pri").as("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("price") * 100 + 0.5).cast("long")).as("total_cents"),
          sum(PortableHash.h60p(col("key").cast("string"))).as("key_checksum"))
        .orderBy("version", "o_orderpriority")
    }),

    // COMPACTION EXECUTED through the transaction log — the OPTIMIZE
    // the q_compaction_plan planner plans, actually run, on its own
    // staged table: version 0 lands the snapshot as 8 small files (the
    // many-small-appends layout a streaming ingest accumulates),
    // version 1 rewrites them into 2 coalesced files as an overwrite
    // commit. The gate audits the POST-compaction snapshot — content
    // must be bit-identical to the source projection (the oracle
    // recomputes it from the raw table; a compaction that drops or
    // duplicates a row breaks a checksum) — and `compacted` is earned
    // driver-side from the two log manifests (strictly fewer active
    // files). Time travel to the pre-compaction layout stays intact
    // (TxLogSpec pins manifest shrink + cross-version content identity).
    "q_txlog_compact" -> ((s, d) => {
      val dir = stageTxCompact(s, d)
      val before = graft.sources.TxLog.activeFiles(dir, 0).size
      val after = graft.sources.TxLog.activeFiles(dir, 1).size
      graft.sources.TxLog.readAsOf(s, dir, 1)
        .groupBy(col("pri").as("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("price") * 100 + 0.5).cast("long")).as("total_cents"),
          sum(PortableHash.h60p(col("key").cast("string"))).as("key_checksum"))
        .withColumn("compacted", lit(after < before))
        .orderBy("o_orderpriority")
    }),

    // STATS-PRUNED snapshot read — the data-skipping read that makes a
    // transaction-log table fast, not just correct: the staged table's
    // commit records per-file min/max/rows for `key` (the files are
    // range-partitioned, so ranges are disjoint), and the gate reads
    // `key BETWEEN 1 AND max/8` through readAsOfWhere, which drops
    // disjoint files AT THE MANIFEST — before Spark lists them. The
    // audit content must equal the raw-table filter (the oracle
    // recomputes it, never seeing a log byte) and `pruned` is earned
    // driver-side: at least one file skipped AND files kept < files
    // active — a reader that scans everything and filters later
    // cannot earn it. At 100 TB this is 3 files touched instead of a
    // 10⁵-file listing.
    "q_txlog_stats_prune" -> ((s, d) => {
      val dir = stageTxStats(s, d)
      val hi = Tables.orders(s, d)
        .agg(max(col("o_orderkey")).cast("long")).collect()(0).getLong(0) / 8
      val (df, nPruned, nKept) =
        graft.sources.TxLog.readAsOfWhere(s, dir, 0, "key", 1L, hi)
      df.groupBy(col("pri").as("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("price") * 100 + 0.5).cast("long")).as("total_cents"),
          sum(PortableHash.h60p(col("key").cast("string"))).as("key_checksum"))
        .withColumn("pruned", lit(nPruned > 0 && nKept < nPruned + nKept))
        .orderBy("o_orderpriority")
    }),

    // VACUUM EXECUTED — the retention pass q_retention_plan plans: the
    // vacuum table's version-0 small files are PHYSICALLY deleted
    // (horizon = 1) while the log keeps the full history; the gate
    // audits the retained snapshot's content (bit-identical to the
    // source projection — the oracle recomputes it from the raw table)
    // and earns `vacuumed` driver-side: every below-horizon file is
    // gone from disk AND every retained file still present. Time
    // travel below the horizon now fails loudly at read time
    // (TxLogSpec pins it), exactly the published lakehouse contract.
    "q_txlog_vacuum" -> ((s, d) => {
      val dir = stageTxVacuum(s, d)
      val gone = graft.sources.TxLog.activeFiles(dir, 0)
        .forall(p => !new java.io.File(dir, p).exists())
      val kept = graft.sources.TxLog.activeFiles(dir, 1)
        .forall(p => new java.io.File(dir, p).exists())
      graft.sources.TxLog.readLatest(s, dir)
        .groupBy(col("pri").as("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("price") * 100 + 0.5).cast("long")).as("total_cents"),
          sum(PortableHash.h60p(col("key").cast("string"))).as("key_checksum"))
        .withColumn("vacuumed", lit(gone && kept))
        .orderBy("o_orderpriority")
    })
  )

  /** Stage the stats table: the orders projection RANGE-partitioned by
    * key into 8 files (disjoint per-file key ranges — the layout that
    * makes min/max stats prune), committed with per-file stats on
    * `key`. Idempotent per missing version. */
  private[graft] def stageTxStats(s: SparkSession, d: String): String = {
    val dir = graft.Stage.dir(d, "txstats")
    val existing =
      try graft.sources.TxLog.latestVersion(dir)
      catch { case _: IllegalStateException => -1L }
    if (existing < 0) {
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("key"), col("o_orderpriority").as("pri"),
        col("o_totalprice").as("price"))
        .repartitionByRange(8, col("key"))
      graft.sources.TxLog.commitData(o, dir, 0, "append",
        statsCol = Some("key")): Unit
    }
    dir
  }

  /** Stage the vacuum table (its OWN table — vacuuming the compaction
    * table would break its time-travel spec): v0 = 8 small files,
    * v1 = the compacted overwrite, then VACUUM with horizon 1 —
    * version 0's files are physically deleted while the log keeps the
    * full history. Idempotent (vacuum skips already-deleted files). */
  private[graft] def stageTxVacuum(s: SparkSession, d: String): String = {
    val dir = stageSmallFileTable(s, d, "txvacuum")
    graft.sources.TxLog.vacuum(dir, retainFrom = 1)
    dir
  }

  /** ONE staging recipe for both lifecycle gates: version 0 = the
    * orders projection as 8 small files (the small-file pathology),
    * version 1 = the same rows coalesced to 2 files as an overwrite.
    * Idempotent per missing version ([[stageTxTable]]'s resume rule). */
  private def stageSmallFileTable(s: SparkSession, d: String, kind: String): String = {
    val dir = graft.Stage.dir(d, kind)
    val existing =
      try graft.sources.TxLog.latestVersion(dir)
      catch { case _: IllegalStateException => -1L }
    if (existing < 0) {
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("key"), col("o_orderpriority").as("pri"),
        col("o_totalprice").as("price")).repartition(8)
      graft.sources.TxLog.commitData(o, dir, 0, "append"): Unit
    }
    if (existing < 1) {
      val f0 = graft.sources.TxLog.activeFiles(dir, 0)
      val compacted = graft.sources.TxLog.readAsOf(s, dir, 0).coalesce(2)
      graft.sources.TxLog.commitData(compacted, dir, 1, "overwrite",
        removes = f0): Unit
    }
    dir
  }

  /** Stage the compaction table: version 0 = the orders projection
    * REPARTITIONED to 8 small files (the small-file pathology), version
    * 1 = the same rows coalesced to 2 files, committed as an overwrite.
    * Idempotent per missing version, as [[stageTxTable]]. */
  private[graft] def stageTxCompact(s: SparkSession, d: String): String =
    stageSmallFileTable(s, d, "txcompact")

  /** Stage the two-commit transaction-log table under the data dir's
    * stage root (idempotent: a log head ≥ 1 means both commits exist —
    * commit files appear only via the atomic link publication, so a
    * half-staged table
    * is impossible to observe). Returns the table dir. */
  private[graft] def stageTxTable(s: SparkSession, d: String): String = {
    val dir = graft.Stage.dir(d, "txlog")
    val existing =
      try graft.sources.TxLog.latestVersion(dir)
      catch { case _: IllegalStateException => -1L }
    // Resume per missing version (a crash between the two commits
    // leaves head=0; re-staging version 0 would refuse — correctly).
    if (existing < 0) {
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("key"), col("o_orderpriority").as("pri"),
        col("o_totalprice").as("price"), lit(0L).as("ins"), lit(0L).as("upd"))
      graft.sources.TxLog.commitData(o, dir, 0, "append"): Unit
    }
    if (existing < 1) {
      val f0 = graft.sources.TxLog.activeFiles(dir, 0)
      graft.sources.TxLog.commitData(mergedOrdersOf(Tables.orders(s, d)),
        dir, 1, "overwrite", removes = f0): Unit
    }
    dir
  }

  /** The post-MERGE audit shared by q_merge_upsert and its bucketed
    * twin: per-priority row count, exact-cent total and per-op counts. */
  private def mergeAuditOf(merged: DataFrame): DataFrame =
    merged
      .groupBy(col("pri").as("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("price") * 100 + 0.5).cast("long")).as("total_cents"),
        sum("ins").as("n_inserted"),
        sum("upd").as("n_updated"))
      .orderBy("o_orderpriority")

  /** The q_compaction_plan kernel over ANY (file, bytes, n_docs) manifest
    * frame (Stress reuses it on a 100k-file synthetic manifest): files
    * sorted largest-first (name tie-break), assigned to `nBins`
    * equal-byte output groups by scaled cumulative fill — pure BIGINT
    * math, bin ∈ [0, nBins) by construction. The unpartitioned window is
    * correct, not a scale bug: its frame is the file MANIFEST
    * (metadata-sized — one row per file, ~10⁵ rows for a 100 TB table),
    * never table data. */
  private[graft] def compactionPlanOf(files: DataFrame, nBins: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = broadcast(files.agg(sum("bytes").as("total")))
    // Explicit ROWS frame: the default RANGE frame would let duplicate
    // (bytes, file) manifest rows share a cumulative sum that includes
    // each other's bytes, diverging from the oracle's ROWS frame and the
    // documented sequential-fill model.
    val w = Window.orderBy(col("bytes").desc, col("file"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files.crossJoin(tot)
      .withColumn("cum", sum("bytes").over(w))
      // The CASE guards ANSI divide-by-zero on an all-empty-files
      // manifest (total = 0): everything lands in bin 0, which is also
      // the correct plan for zero bytes (one trivial rewrite group).
      .withColumn("bin", expr(
        s"CAST(CASE WHEN total = 0 THEN 0 ELSE ((cum - bytes) * $nBins) DIV total END AS INT)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_files"),
        sum("bytes").as("group_bytes"),
        sum("n_docs").as("group_docs"),
        min("file").as("first_file"),
        max("file").as("last_file"))
  }

  /** The q_table_checksum body over ANY lineitem-shaped frame (Stress
    * reuses it on a 10× clone). */
  private[graft] def segmentChecksumOf(li: DataFrame): DataFrame =
    li.select(col("l_returnflag"),
        PortableHash.h60p(concat_ws("|",
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"),
          floor(col("l_quantity")).cast("long").cast("string"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").cast("string")))
          .as("h"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("h").as("content_sum"))
      .orderBy("l_returnflag")

  private val h60pKey = PortableHash.h60pSql("CAST(key AS VARCHAR)")
  private val h60pRow = PortableHash.h60pSql(
    "(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || " +
      "CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS VARCHAR) || '|' || " +
      "CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR))")

  private val mergeUpsertSql =
    s"""WITH $mergedSqlCte
        SELECT pri AS o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
               CAST(SUM(ins) AS BIGINT) AS n_inserted,
               CAST(SUM(upd) AS BIGINT) AS n_updated
        FROM merged GROUP BY 1 ORDER BY o_orderpriority"""

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "q_merge_upsert" -> mergeUpsertSql,
    // Shared verbatim: the bucketed snapshot layout must not move a cent.
    "q_merge_upsert_bucketed" -> mergeUpsertSql,
    "q_snapshot_diff" ->
      s"""WITH $mergedSqlCte,
            b AS (SELECT o_orderkey AS bk,
                         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS bcents
                  FROM orders),
            a AS (SELECT key AS ak,
                         CAST(FLOOR(price * 100 + 0.5) AS BIGINT) AS acents
                  FROM merged),
            cls AS (SELECT CASE WHEN bk IS NULL THEN 'added'
                                WHEN ak IS NULL THEN 'removed'
                                WHEN bcents <> acents THEN 'changed'
                                ELSE 'unchanged' END AS change_class,
                           COALESCE(bk, ak) AS key
                    FROM b FULL JOIN a ON bk = ak)
          SELECT change_class, CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM($h60pKey) AS BIGINT) AS key_hash_sum
          FROM cls GROUP BY 1 ORDER BY change_class""",
    // Full recomputation over the merged table — equality with Spark's
    // incremental old⊕delta path IS the gate.
    "q_mv_refresh" ->
      s"""WITH $mergedSqlCte
          SELECT pri AS o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
          FROM merged GROUP BY 1 ORDER BY o_orderpriority""",
    "q_scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                           LAG(event_type) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
                    FROM events),
            ch AS (SELECT user_id, event_type, us,
                          LEAD(us) OVER
                            (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us
                   FROM e WHERE prev_type IS NULL OR prev_type <> event_type)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
                CAST(SUM(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                CAST(SUM(CASE WHEN valid_to_us IS NOT NULL
                              THEN valid_to_us - us ELSE 0 END) AS BIGINT) AS closed_dur_us
         FROM ch GROUP BY 1 ORDER BY event_type""",
    "q_compaction_plan" ->
      """WITH files AS (SELECT source || '/' || lang AS file,
                              CAST(SUM(n_chars) AS BIGINT) AS bytes,
                              CAST(COUNT(*) AS BIGINT) AS n_docs
                       FROM documents GROUP BY source, lang),
            tot AS (SELECT CAST(SUM(bytes) AS BIGINT) AS total FROM files),
            c AS (SELECT file, bytes, n_docs, total,
                         SUM(bytes) OVER (ORDER BY bytes DESC, file
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM files CROSS JOIN tot)
         SELECT CAST(CASE WHEN total = 0 THEN 0
                     ELSE ((cum - bytes) * 8) // total END AS INT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n_files,
                CAST(SUM(bytes) AS BIGINT) AS group_bytes,
                CAST(SUM(n_docs) AS BIGINT) AS group_docs,
                MIN(file) AS first_file, MAX(file) AS last_file
         FROM c GROUP BY 1 ORDER BY bin""",
    "q_table_checksum" ->
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM($h60pRow) AS BIGINT) AS content_sum
          FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "q_retention_plan" ->
      s"""WITH snaps AS (SELECT doc_id AS sid, doc_id // 5 AS day,
                                (doc_id // 5) * 86400 + ((doc_id * 7919) % 5) * 3600 + (doc_id % 7) * 60 AS ts_sec,
                                1000 + (doc_id * 37) % 5000 AS bytes
                         FROM documents WHERE doc_id < 60),
            planned AS (SELECT sid, day, bytes,
                               ROW_NUMBER() OVER (ORDER BY ts_sec DESC, sid DESC) AS recency_rk,
                               ROW_NUMBER() OVER (PARTITION BY day
                                 ORDER BY ts_sec DESC, sid DESC) AS day_rk
                        FROM snaps),
            k AS (SELECT sid, day, bytes,
                         (recency_rk <= 5 OR day_rk = 1) AS keep FROM planned)
          SELECT day, CAST(COUNT(*) AS BIGINT) AS n_snaps,
                 CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_expired,
                 CAST(SUM(CASE WHEN keep THEN 0 ELSE bytes END) AS BIGINT) AS expired_bytes,
                 CAST(COALESCE(SUM(CASE WHEN keep THEN ${graft.functions.PortableHash.h60pSql("CAST(sid AS VARCHAR)")} END), 0) AS BIGINT) AS kept_checksum
          FROM k GROUP BY 1 ORDER BY day""",
    // Both snapshots recomputed from the raw table: version 0 IS the
    // pre-merge projection, version 1 IS the merge kernel's output —
    // the oracle never reads a log byte, so the Spark side's log
    // replay + time-travel parquet reads must reproduce them exactly.
    "q_timetravel_read" ->
      s"""WITH $mergedSqlCte,
            v0 AS (SELECT CAST(0 AS BIGINT) AS version, o_orderpriority AS pri,
                          o_orderkey AS key, o_totalprice AS price
                   FROM orders),
            v1 AS (SELECT CAST(1 AS BIGINT) AS version, pri, key, price FROM merged),
            u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
          SELECT version, pri AS o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "CAST(key AS VARCHAR)")}) AS BIGINT) AS key_checksum
          FROM u GROUP BY 1, 2 ORDER BY version, o_orderpriority""",
    // Post-compaction content ≡ the source projection, recomputed from
    // the raw table; `compacted` is the oracle's claim that the rewrite
    // strictly shrank the file manifest — the Spark side earns it from
    // the two log manifests.
    "q_txlog_compact" ->
      s"""SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "CAST(o_orderkey AS VARCHAR)")}) AS BIGINT) AS key_checksum,
                 TRUE AS compacted
          FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    // The pruned read's content ≡ the raw-table range filter (integer
    // division on both sides); `pruned` is the oracle's claim that
    // manifest skipping actually happened — the Spark side earns it
    // from the file counts readAsOfWhere reports.
    "q_txlog_stats_prune" ->
      s"""WITH m AS (SELECT MAX(o_orderkey) // 8 AS hi FROM orders),
            f AS (SELECT o_orderpriority, o_totalprice, o_orderkey
                  FROM orders, m WHERE o_orderkey BETWEEN 1 AND m.hi)
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "CAST(o_orderkey AS VARCHAR)")}) AS BIGINT) AS key_checksum,
                 TRUE AS pruned
          FROM f GROUP BY 1 ORDER BY o_orderpriority""",
    // Retained-snapshot content ≡ the source projection; `vacuumed` is
    // the oracle's claim the physical deletion happened exactly at the
    // horizon — the Spark side earns it from the filesystem.
    "q_txlog_vacuum" ->
      s"""SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "CAST(o_orderkey AS VARCHAR)")}) AS BIGINT) AS key_checksum,
                 TRUE AS vacuumed
          FROM orders GROUP BY 1 ORDER BY o_orderpriority"""
  )
}
