package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take an explicit `dir` so the same code runs at any scale
  * factor — locally `local[32]`, on a cluster against a 100 TB lake. The
  * readers are plain `spark.read.parquet` so Catalyst keeps full pushdown
  * (column pruning + predicate pushdown reach the parquet scan).
  */
object Tables {
  // Issues a stable per-session UUID with no reflection (sessionUUID is
  // private[sql] — reading it reflectively was a Spark-upgrade tripwire).
  // Weak keys: a collected session's id mapping disappears on its own.
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()
  // Liveness registry for cache eviction: key -> weak ref to its session.
  private val liveSessions = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.WeakReference[SparkSession]]()

  /** Collision-free cache key for a session (a lazily-issued UUID;
    * identityHashCode could collide between two live sessions). */
  private[graft] def sessionKey(s: SparkSession): String = {
    val id = sessionIds.synchronized {
      var v = sessionIds.get(s)
      if (v == null) { v = java.util.UUID.randomUUID().toString; sessionIds.put(s, v) }
      v
    }
    liveSessions.putIfAbsent(id, new java.lang.ref.WeakReference(s))
    id
  }

  /** True when the session that issued `key` is GC'd or stopped. An ABSENT
    * registry entry also means dead: `sessionKey` always registers the id
    * before any cache insert, so a missing key can only mean it was pruned
    * as dead by an earlier eviction pass. */
  private def sessionDead(key: String): Boolean = {
    val ref = liveSessions.get(key)
    ref == null || { val s = ref.get(); s == null || s.sparkContext.isStopped }
  }

  /** Per-session cache eviction (replaces the old wholesale `clear()` past
    * a size cap, which retained dead sessions' entries — including
    * checkpointed RDD blocks — until 4096 keys accumulated and then threw
    * away every LIVE session's entries too). Scans only once the cache has
    * real mass; a handful of live sessions never triggers it. If the scan
    * frees nothing (one long-lived session reading thousands of distinct
    * dirs/tables), a hard cap evicts entries down to half the cap rather
    * than clearing outright — everything here is re-derivable, but some
    * values (the near-dup index's checkpointed LSH/label frames) cost
    * seconds to rebuild, so keeping half bounds both the map and the
    * worst-case re-derivation. The over-cap pass spares the CALLING
    * session's entries (`liveKey`) — dropping them in iteration order
    * could evict the live session's checkpointed index frames
    * mid-benchmark (round-4 ADVICE), a correct but seconds-long perf
    * cliff — and touches them only if other sessions' entries alone can't
    * get under the cap. */
  private[graft] def evictDead[V](
      m: java.util.concurrent.ConcurrentHashMap[(String, String, String), V],
      liveKey: String): Unit =
    if (m.size > 256) {
      val it = m.keySet.iterator()
      while (it.hasNext) if (sessionDead(it.next()._1)) it.remove()
      val lit = liveSessions.entrySet.iterator()
      while (lit.hasNext) {
        val e = lit.next()
        val s = e.getValue.get()
        if (s == null || s.sparkContext.isStopped) lit.remove()
      }
      if (m.size > 4096) {
        var drop = m.size - 2048
        val dit = m.keySet.iterator()
        while (dit.hasNext && drop > 0)
          if (dit.next()._1 != liveKey) { dit.remove(); drop -= 1 }
        // Only the caller's own entries remain above the cap: the cap
        // wins over the perf cliff (an unbounded map is a leak), but
        // this is one session holding > 4096 derived frames — re-derive
        // cost, not correctness.
        if (drop > 0) {
          val sit = m.keySet.iterator()
          while (sit.hasNext && drop > 0) { sit.next(); sit.remove(); drop -= 1 }
        }
      }
    }

  private val frames =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]()
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), BuildLock]()

  /** A build lock and the number of callers holding or waiting on it. */
  private final class BuildLock { var users = 0 }

  /** Runs `body` holding the (dir, name) build lock. The entry leaves
    * `buildLocks` with its last user, so the map holds only the keys
    * being built right now. `users` changes only inside `compute`, which
    * is atomic per key. */
  private def withBuildLock[A](key: (String, String))(body: => A): A = {
    val lock = buildLocks.compute(key, (_, l) => {
      val held = if (l == null) new BuildLock else l
      held.users += 1
      held
    })
    try lock.synchronized(body)
    finally buildLocks.compute(key, (_, l) => { l.users -= 1; if (l.users == 0) null else l })
  }

  /** Every derived frame in graft — the fixture relations of [[table]],
    * the near-dup and ANN indexes, the staged codebooks — is owned here.
    *
    * Key: (session key, `dir`, `name`). A frame is a pure function of the
    * fixture under `dir`, so one is built per session and dir and shared
    * by every query that asks for `name`; the names are distinct across
    * owners (the fixture table names, `pairs`, `ivfcent`, `pqcent_<kind>`,
    * …).
    *
    * Lock: a miss builds under one lock per (`dir`, `name`), shared across
    * sessions, and checks the map again once it holds it. The codebooks'
    * stage paths are functions of (dir, name), so two sessions racing a
    * first fit serialize and the loser adopts the winner's staged bytes.
    *
    * Not `computeIfAbsent`: builds nest (`ivfpq` → `pqcent_ivfres` →
    * `ivf2` → `ivfcent` → `embeddings`), and a nested `computeIfAbsent`
    * on the same map throws "Recursive update" or deadlocks once two keys
    * share a bin. Nested build locks cannot deadlock because the build
    * graph is acyclic. A build that throws leaves no entry.
    *
    * Eviction: every call runs [[evictDead]] on the one map, so dead
    * sessions' frames go first and the caller's own frames last.
    * [[evictDir]] drops one session's frames for one dir. */
  private[graft] def derived(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val key = (sessionKey(s), dir, name)
    evictDead(frames, key._1)
    val hit = frames.get(key)
    if (hit != null) hit
    else withBuildLock((dir, name)) {
      val again = frames.get(key)
      if (again != null) again
      else { val df = build; frames.put(key, df); df }
    }
  }

  /** Drop the CALLING session's derived frames for `dir` and free the
    * blocks of those that are lazily local-checkpointed (the warm-up
    * purge). A sibling session's frames are its own. Safe because the
    * entry is removed first: nothing can reuse the truncated-lineage
    * frame afterwards. One pass over the map. */
  private[graft] def evictDir(spark: SparkSession, dir: String): Unit = {
    val key = sessionKey(spark)
    val it = frames.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == key && e.getKey._2 == dir) {
        it.remove()
        val df = e.getValue
        // Dataset.unpersist only reaches the cache manager; a
        // localCheckpoint is a persisted RDD under a LogicalRDD.
        try df.queryExecution.analyzed match {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
          case _ => df.unpersist(blocking = false)
        } catch {
          case NonFatal(t) => System.err.println(
            s"[tables] unpersist of ${e.getKey._3} in $dir failed: ${t.getClass.getName}: ${t.getMessage}")
        }
      }
    }
  }

  /** The fixture relation `dir/name.parquet`, a [[derived]] frame. It is a
    * PLAN (schema + file index), not data: `spark.read.parquet` lists the
    * files and reads the footers on every call, which at 70+ queries × 10
    * tables is pure fixed overhead, and repeated LIST calls on an object
    * store. Correct as long as the fixture files do not change under a
    * live session, which is the contract here. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    derived(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read it as raw nanos (legacy conf) and rebuild a
    * proper TimestampType column with integer division (the data is
    * µs-precision, so `ns div 1000` is lossless; float division would
    * lose low bits at 1e18 magnitudes).
    */
  /** Registers every fixture table as a temp view so the whole engine is
    * reachable from pure SQL (`spark.sql("SELECT ... FROM lineitem")`). */
  def registerViews(s: SparkSession, d: String): Unit = {
    for (n <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"))
      table(s, d, n).createOrReplaceTempView(n)
    events(s, d).createOrReplaceTempView("events")
  }

  /** Fails loudly when the session timezone is not UTC at a site about to
    * cast TIMESTAMP_NTZ → TIMESTAMP: that cast interprets the stored wall
    * clock in the SESSION timezone, so a non-UTC session would silently
    * shift every ts value (round-11 ADVICE — the nanosAsLong conf gets a
    * guarded fallback set, but the timezone assumption was unenforced).
    * Unlike nanosAsLong, the timezone is NOT force-set here: it changes
    * the meaning of every timestamp the caller's other queries touch, so
    * an explicit error beats a silent session-wide mutation. Any zone id
    * that normalizes to UTC (UTC, Etc/UTC, GMT, +00:00) is accepted. */
  private[graft] def requireUtcSession(s: SparkSession, what: String): Unit = {
    val tz = s.conf.get("spark.sql.session.timeZone")
    val isUtc =
      try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    require(isUtc,
      s"$what stores TIMESTAMP_NTZ (wall-clock) values that are normalized " +
      s"assuming a UTC session, but spark.sql.session.timeZone='$tz': the " +
      "NTZ cast would silently shift every ts by the zone offset. Build the " +
      "session with .config(\"spark.sql.session.timeZone\", \"UTC\") (all " +
      "in-repo session builders do).")
  }

  def events(s: SparkSession, d: String): DataFrame = {
    // Readers assume this session-level conf (documented in Bench/Verify/
    // SparkSpec, which set it at session build). Only set it here as a
    // fallback when absent — a guarded set, not an unconditional per-read
    // mutation of shared session state.
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (!s.conf.getOption(nanosKey).contains("true")) s.conf.set(nanosKey, "true")
    val df = table(s, d, "events")
    // The driver fixtures have shipped two physical ts encodings across
    // rounds: TIMESTAMP(NANOS) (surfaced as long by the conf above, µs
    // division is lossless) and TIMESTAMP(MICROS) isAdjustedToUTC=false
    // (surfaced as TIMESTAMP_NTZ). Normalize both to TimestampType so
    // every downstream query sees one type; sessions run in UTC, where
    // the NTZ→LTZ cast preserves the microsecond value exactly.
    // Re-materialized events tables already carry TimestampType.
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        requireUtcSession(s, s"$d/events.parquet ts")
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
