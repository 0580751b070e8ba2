package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function + event-analytics coverage (SURVEY.md §2 E, H-json).
  *
  * The reference has no window functions (§2 E ABSENT) — these are the
  * Spark builtins over the `events` fixture: ranking, lag/lead, running
  * aggregates, sessionization (gap > 30 min), tumbling/sliding time
  * buckets, and `from_json` on the `props` JSON-string column.
  *
  * Scale notes (100 TB): every window below is partitioned by `user_id` —
  * one shuffle on the partition key, then per-partition sorted evaluation;
  * no global sort, no driver-side state. Sessionization is the classic
  * gap-flag + running-sum formulation (two window passes over the same
  * partitioning, so Catalyst reuses one Exchange). Time-bucket aggregation
  * is algebraic → map-side partial agg before the shuffle. Skewed users
  * would be handled by AQE skew-split on the Exchange.
  */
object EventQueries extends QueryPack {
  import graft.Portable.round2

  private val byUserTime = Window.partitionBy("user_id").orderBy("ts", "event_id")

  val queries: Map[String, Q] = Map(
    // E: ranking functions per user.
    "q_window_rank" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"), col("user_id"),
          row_number().over(byUserTime).as("rn"),
          rank().over(Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))).as("value_rank"))
        .orderBy("event_id")),

    // E: lag/lead — seconds since previous event of the same user.
    "q_window_lag" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"), col("user_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(byUserTime))).as("gap_sec"),
          lead("event_type", 1).over(byUserTime).as("next_type"))
        .orderBy("event_id")),

    // E: running aggregate — cumulative value per user over time.
    "q_window_running" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"), col("user_id"),
          round2(sum("value").over(byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow))).as("running_value"),
          round2(avg("value").over(byUserTime.rowsBetween(-2, Window.currentRow))).as("avg3"))
        .orderBy("event_id")),

    // E: sessionization — gap > 30 min starts a new session; per-session
    // rollup of count/duration. Two window passes + one aggregation, all on
    // the user_id partitioning.
    "q_sessionize" -> ((s, d) => {
      val gapFlag = Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUserTime))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
               unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
      gapFlag
        .withColumn("session_id",
          sum("new_sess").over(byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("duration_sec"),
          round2(sum("value")).as("session_value"))
        .orderBy("user_id", "session_id")
    }),

    // E/H: tumbling 1-hour buckets (epoch-aligned) — counts per type.
    "q_time_bucket" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(
          (floor(unix_timestamp(col("ts")) / 3600) * 3600).as("bucket_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round2(sum("value")).as("total_value"))
        .orderBy("bucket_epoch", "event_type")),

    // E: RANGE-framed window — per user, trailing-1-hour event count and
    // value sum at every event (a range frame over epoch seconds, the
    // time-based sibling of the ROWS frames in q_window_running). The sum
    // is over integer cents (FLOOR(value*100+0.5)) because windowed
    // double sums are reduction-order-dependent across engines.
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .select(col("event_id"), col("user_id"), col("sec"),
          count(lit(1)).over(w).as("n_trailing_1h"),
          sum("cents").over(w).as("cents_trailing_1h"))
        .orderBy("event_id")
    }),

    // E: sliding windows via Spark's window() operator (1 h, slide 30 min)
    // — each event lands in 2 buckets; output start as epoch seconds.
    "q_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(
          unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"))
        .orderBy("win_start", "event_type")),

    // E/H: time-series gap filling — dense hourly axis per event type with
    // zero-filled missing buckets (sequence+explode cross the full axis,
    // left join the sparse aggregates; the axis frame is tiny → broadcast).
    "q_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val sparse = ev
        .groupBy((floor(unix_timestamp(col("ts")) / 3600) * 3600).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val axis = ev
        .agg(
          (floor(min(unix_timestamp(col("ts"))) / 3600) * 3600).as("lo"),
          (floor(max(unix_timestamp(col("ts"))) / 3600) * 3600).as("hi"))
        .select(explode(expr("sequence(lo, hi, 3600)")).as("bucket"))
        // explicit broadcast: the event-type frame is a handful of rows;
        // without the hint the plan is scale-proof only because AQE
        // rescues it — the intent belongs in the plan, not the runtime.
        .crossJoin(broadcast(ev.select("event_type").distinct()))
      axis.join(sparse, Seq("bucket", "event_type"), "left")
        .select(col("bucket"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("bucket", "event_type")
    }),

    // E: ordered funnel analysis (view → click → purchase, strictly in
    // time order within one user-day) — the product-analytics pattern
    // query. Two cumulative-max window passes over ONE (user_id, day)
    // partitioning (Catalyst reuses the exchange+sort for
    // same-partitioning windows), then a per-group collapse and a global
    // roll-up; the running-flag form is one pass where the naive
    // formulation self-joins events twice per funnel step. On the
    // fixture the steps attenuate 4006 → 1617 → 345 → 56 — a real
    // conversion table.
    // Declared binding of Graft.funnel (the parameterized form).
    "q_funnel" -> ((s, d) =>
      graft.Graft.funnel(
          Tables.events(s, d).withColumn("day", to_date(col("ts"))),
          steps = Seq("view", "click", "purchase"),
          groupCols = Seq("user_id", "day"))
        .agg(
          count(lit(1)).as("n_user_days"),
          sum("reached_view").cast("long").as("n_viewed"),
          sum("reached_click").cast("long").as("n_clicked_after_view"),
          sum("reached_purchase").cast("long").as("n_purchased_after_click"))),

    // E/H: exponentially weighted moving average (alpha = 0.5) per user —
    // the online-smoothing statistic window functions CANNOT express
    // (each step depends on the previous result, not on a frame
    // aggregate). Shape: one shuffle on the entity key, collect the
    // per-entity series (bounded per key — an entity's history, not the
    // corpus), then a deterministic LEFT FOLD in (ts, event_id) order.
    // alpha = 0.5 halves exactly in binary and the fold order is pinned,
    // so doubles are bit-identical cross-engine (DuckDB list_reduce seeds
    // with the first element — the NULL-seeded CASE below matches).
    // Unbounded streams use the incremental twin: EWMA state in
    // transformWithState (streaming/EventStreams).
    "q_ewma" -> ((s, d) =>
      graft.Graft.ewma(Tables.events(s, d), "user_id", "ts", "event_id", "value")
        .select(col("user_id"), col("n_events"),
          graft.Portable.round6(col("ewma")).as("ewma"))
        .orderBy("user_id")),

    // H: JSON extraction — from_json on the props string column.
    "q_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), max("k").as("max_k"))
        .orderBy("k_mod")),

    // E: distribution window functions — ntile/percent_rank/cume_dist.
    "q_window_distribution" -> ((s, d) => {
      val byValue = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .select(
          col("event_id"), col("event_type"),
          ntile(4).over(byValue).as("quartile"),
          graft.Portable.round6(percent_rank().over(byValue)).as("pct_rank"),
          graft.Portable.round6(cume_dist().over(byValue)).as("cume"))
        .orderBy("event_id")
    }),

    // E: first/last per user (min/max by time via window first_value).
    "q_first_last" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("user_id"),
          first("event_type").over(byUserTime.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("first_type"),
          last("event_type").over(byUserTime.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("last_type"))
        .dropDuplicates("user_id")
        .orderBy("user_id")),

    // C: cube over (event_type, day) — all 4 grouping sets. Routed via SQL
    // like q_rollup (same Expand/ambiguity note).
    "q_cube" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
        .createOrReplaceTempView("q_cube_base")
      s.sql("""SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n,
                      FLOOR(SUM(value)*100 + 0.5)/100 AS total_value
               FROM q_cube_base GROUP BY CUBE(event_type, day)
               ORDER BY event_type NULLS FIRST, day NULLS FIRST""")
    })
  )

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "q_window_rank" ->
      """SELECT event_id, user_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn,
                CAST(RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS value_rank
         FROM events ORDER BY event_id""",
    "q_window_lag" ->
      """SELECT event_id, user_id,
                CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(LAG(ts, 1) OVER w)) AS BIGINT) AS gap_sec,
                LEAD(event_type, 1) OVER w AS next_type
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""",
    "q_window_running" ->
      """SELECT event_id, user_id,
                FLOOR(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)*100 + 0.5)/100 AS running_value,
                FLOOR(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)*100 + 0.5)/100 AS avg3
         FROM events ORDER BY event_id""",
    "q_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id, value,
                  CASE WHEN LAG(ts,1) OVER w IS NULL
                            OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(LAG(ts,1) OVER w)) AS BIGINT) > 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts, value,
                  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_sec,
                FLOOR(SUM(value)*100 + 0.5)/100 AS session_value
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "q_time_bucket" ->
      """SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS bucket_epoch, event_type,
                CAST(COUNT(*) AS BIGINT) AS n,
                FLOOR(SUM(value)*100 + 0.5)/100 AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_window_range" ->
      """WITH t AS (SELECT event_id, user_id,
                           CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
                           CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS cents
                    FROM events)
         SELECT event_id, user_id, sec,
                CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h,
                CAST(SUM(cents) OVER w AS BIGINT) AS cents_trailing_1h
         FROM t
         WINDOW w AS (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q_sliding_window" ->
      """WITH expanded AS (
           SELECT CAST(FLOOR(epoch(ts)/1800)*1800 - k*1800 AS BIGINT) AS win_start, event_type
           FROM events, (SELECT UNNEST([0,1]) AS k)
           WHERE epoch(ts) < FLOOR(epoch(ts)/1800)*1800 - k*1800 + 3600)
         SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
         FROM expanded GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_gap_fill" ->
      """WITH sparse AS (
           SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS bucket, event_type,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT CAST(FLOOR(MIN(epoch(ts))/3600)*3600 AS BIGINT) AS lo,
                  CAST(FLOOR(MAX(epoch(ts))/3600)*3600 AS BIGINT) AS hi
           FROM events),
         axis AS (
           SELECT unnest(range(lo, hi + 3600, 3600)) AS bucket, t.event_type
           FROM bounds, (SELECT DISTINCT event_type FROM events) t)
         SELECT a.bucket, a.event_type, COALESCE(s.n, 0) AS n
         FROM axis a LEFT JOIN sparse s ON a.bucket = s.bucket AND a.event_type = s.event_type
         ORDER BY a.bucket, a.event_type""",
    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type,
                 MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_view
               FROM events),
            s2 AS (SELECT user_id, day, event_type,
                 MAX(CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_cav,
                 seen_view
               FROM s1),
            g AS (SELECT user_id, day,
                    MAX(seen_view) AS viewed, MAX(seen_cav) AS clicked,
                    MAX(CASE WHEN event_type = 'purchase' AND seen_cav = 1
                             THEN 1 ELSE 0 END) AS purchased
                  FROM s2 GROUP BY user_id, day)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_user_days,
                CAST(SUM(viewed) AS BIGINT) AS n_viewed,
                CAST(SUM(clicked) AS BIGINT) AS n_clicked_after_view,
                CAST(SUM(purchased) AS BIGINT) AS n_purchased_after_click
         FROM g""",
    // list_reduce seeds with the first element — the Spark side's
    // NULL-seeded CASE replicates exactly that, and both fold left in
    // (ts, event_id) order.
    "q_ewma" ->
      """WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS series
                    FROM events GROUP BY user_id)
         SELECT user_id, CAST(len(series) AS INT) AS n_events,
                FLOOR(list_reduce(series, (acc, x) -> acc*0.5 + x*0.5)*1000000 + 0.5)/1000000 AS ewma
         FROM s ORDER BY user_id""",
    "q_json" ->
      """SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_mod,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_window_distribution" ->
      """SELECT event_id, event_type,
                CAST(NTILE(4) OVER w AS INT) AS quartile,
                FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5)/1000000 AS pct_rank,
                FLOOR(CUME_DIST() OVER w * 1000000 + 0.5)/1000000 AS cume
         FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
         ORDER BY event_id""",
    "q_first_last" ->
      """WITH ranked AS (
           SELECT user_id,
                  FIRST_VALUE(event_type) OVER w AS first_type,
                  LAST_VALUE(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
                  ROW_NUMBER() OVER w AS rn
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, first_type, last_type FROM ranked WHERE rn = 1
         ORDER BY user_id""",
    "q_cube" ->
      """SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n,
                FLOOR(SUM(value)*100 + 0.5)/100 AS total_value
         FROM events GROUP BY CUBE(event_type, STRFTIME(ts, '%Y-%m-%d'))
         ORDER BY event_type NULLS FIRST, day NULLS FIRST"""
  )
}
