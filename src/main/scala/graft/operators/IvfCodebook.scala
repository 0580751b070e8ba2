package graft.operators

import graft.{Stage, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Learned IVF codebook: deterministic sampled spherical k-means.
  *
  * Replaces the round-4..7 stand-in centroids (`vec_id < 16`) with a
  * codebook actually fit to the corpus — the thing a real 100 TB ANN
  * pipeline runs before assignment, because a bad codebook wastes the
  * whole Σ cells² candidate budget on lopsided cells.
  *
  * Scale shape (the part that must survive 1000 executors):
  *  - The k-means input is a HASH-SAMPLED subset capped at [[SampleTarget]]
  *    rows (deterministic Bernoulli on xxhash64(vec_id) — no sort, no
  *    collect of the corpus). At 100 TB the sample is the only thing the
  *    fit ever reads past the sizing count.
  *  - The fit is two Spark jobs whatever the iteration count: the count
  *    that sizes the sample, then one collect of the sample (≤ 100k
  *    64-dim vectors ≈ 50 MB). Init and every Lloyd iteration run on the
  *    driver, split over its cores in fixed chunks — a per-iteration
  *    Spark pass over a few thousand rows was all fixed cost (planning,
  *    codegen, scheduling), and the driver's work is bounded by
  *    SampleTarget·k·dim·[[Iters]] whatever the corpus size.
  *  - The fitted codebook (k rows) is staged to parquet and read back, so
  *    every consumer — the Spark assignment AND the DuckDB oracle CTE —
  *    reads the IDENTICAL bytes. Cross-engine equality is by construction,
  *    not by re-deriving the fit in SQL (5 Lloyd iterations in a recursive
  *    CTE would be both unreadable and numerically fragile).
  *
  * Determinism: init picks the k sample vectors with the smallest
  * xxhash64(vec_id) (a seeded pseudo-random draw with no RNG state);
  * every updated centroid component is rounded to 6 dp before the next
  * iteration, which collapses the last-ulp differences a different
  * summation order can produce, so repeated fits are bit-stable. An empty
  * cluster keeps its previous centroid (no resampling — resampling would
  * reintroduce order dependence).
  *
  * Reference tie-in: the reference engine has no ANN surface at all
  * (SURVEY.md §2 extension mandate); this is the LLM-pipeline extension's
  * scale path, consumed by sim_ivf / sim_knn_ivf / sim_knn_ivf2 /
  * dedup_embed_ivf via [[SimilarityQueries.ivfScoredAssignment]].
  */
object IvfCodebook {

  /** Cells in the codebook — matches the stand-in's 16 so the recall
    * specs' Σ cells² budget math is unchanged. */
  val K = 16

  /** Lloyd iterations: 5 is past the knee on every fixture (assignment
    * churn is ~0 by iteration 4). */
  val Iters = 5

  /** Upper bound on the k-means input regardless of corpus size. 100k
    * 64-dim vectors ≈ 50 MB — a single executor's comfortable working
    * set, and 6k samples per centroid at k=16. */
  val SampleTarget = 100000L

  /** Bump whenever the fit algorithm changes its output (sampling rule,
    * init, iteration count, rounding, K): an existing stage is REUSED
    * (see fitAndStage), so bytes written by an older algorithm must land
    * under a path the newer code never reads. */
  private val FitVersion = 1

  private val cache =
    Tables.registerCache(
      new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]())

  // Per-stage-path fit lock: two SESSIONS in one JVM racing their first
  // IVF query would both miss the per-session cache and write the same
  // stage path concurrently (overwrite-mode committers clobbering each
  // other). The loser of the race now adopts the winner's bytes via
  // existingStage. Cross-PROCESS races remain excluded by the driver's
  // single-runner-per-dataset contract (see Stage's scaladoc).
  private val fitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The staged codebook parquet for `dataDir` — the oracle CTEs name
    * this path (see the packs' oracleSqlFor overrides). */
  def stagePath(dataDir: String): String =
    Stage.dir(dataDir, s"ivf_centroids_v$FitVersion")

  /** The fitted codebook as a 16-row (cid: long, w: array<double>,
    * wnrm: double) frame read from the staged parquet — fit once per
    * (session, dir), shared by every IVF consumer. */
  def centroids(s: SparkSession, d: String): DataFrame = {
    Tables.evictDead(cache, Tables.sessionKey(s))
    cache.computeIfAbsent((Tables.sessionKey(s), d, "ivfcent"), _ => fitAndStage(s, d))
  }

  private def round6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private def fitAndStage(s: SparkSession, d: String): DataFrame = {
    // The fit is deterministic, so an existing stage holds the identical
    // bytes: REUSE it instead of overwriting. Overwriting has two costs —
    // it invalidates any cached plan in another session of this JVM that
    // pins the old part files (FAILED_READ.FILE_NOT_EXIST on next use,
    // found by IvfCodebookSpec's refit test), and it re-runs the
    // fit once per JVM for output that cannot change. FitVersion in the
    // path keeps an older algorithm's bytes from being picked up; the
    // shape check below rejects a torn or foreign directory.
    val path = stagePath(d)
    fitLocks.computeIfAbsent(path, _ => new Object).synchronized {
      existingStage(s, path).getOrElse(fitInto(s, d, path))
    }
  }

  private def existingStage(s: SparkSession, path: String): Option[DataFrame] =
    try {
      if (!new java.io.File(path, "_SUCCESS").exists()) None
      else {
        val df = s.read.parquet(path)
        val n = df.count()
        if (df.columns.toSeq == Seq("cid", "w", "wnrm") && n >= 1 && n <= K)
          Some(df)
        else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def fitInto(s: SparkSession, d: String, path: String): DataFrame = {
    val cents = fitCodebook(s, SimilarityQueries.vecs(s, d), K)
    require(cents.nonEmpty, s"IVF codebook: no sample vectors in $d")
    // Stage the fitted codebook; the returned frame READS it back, so the
    // Spark plans and the DuckDB oracle consume identical bytes.
    import s.implicits._
    cents.toDF("cid", "w", "wnrm")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** The deterministic sampled spherical k-means fit over ANY
    * (vec_id, v, nrm) frame — the reusable kernel behind the staged
    * query-side codebook AND `Graft.embedNearDupIvf`'s per-call codebook
    * (arbitrary k there). Zero-norm vectors are excluded (cosine is
    * undefined for them); an empty input yields an empty codebook —
    * callers that require data assert themselves. Returns (cid, w, wnrm)
    * with cid = 0..k'-1, k' = min(k, sample size). Two Spark jobs: the
    * count that sizes the sample, and the collect of the sample. */
  def fitCodebook(s: SparkSession, vecs: DataFrame,
                  k: Int): Seq[(Long, Array[Double], Double)] = {
    require(k >= 1, s"codebook size must be >= 1, got $k")
    // Degenerate-vector guard, SAME contract as embedNearDupIvf's input
    // door (round-9): under Spark's total ordering NaN > 0 is TRUE, so a
    // bare `nrm > 0` lets a NaN-norm vector through to poison every
    // centroid sum it touches (round-9 ADVICE made the shared kernel
    // consistent with the callers).
    val e = vecs
      .filter(col("nrm") > 0 && !isnan(col("nrm")))
      .select(col("vec_id"), col("v"), col("nrm"))

    // Deterministic Bernoulli sample bounded at SampleTarget: keep rows
    // whose xxhash64 bucket (out of 1e6) falls under the sampling rate.
    // One count to size the rate — metadata-cheap next to the fit. Counted
    // off the row RDD: Dataset.count() is an aggregate, which adaptive
    // execution submits as two jobs.
    val n = e.select().queryExecution.toRdd.count()
    val sample =
      if (n <= SampleTarget) e
      else e.filter(
        pmod(xxhash64(col("vec_id")), lit(1000000L)) <
          lit((SampleTarget * 1000000L) / n))
    // The id as a long: integral ids widen losslessly (order and equality
    // kept); any other id type stands in as a second, independent hash.
    val idKey = e.schema("vec_id").dataType match {
      case ByteType | ShortType | IntegerType | LongType => col("vec_id").cast("long")
      case _ => xxhash64(lit("vec_id"), col("vec_id"))
    }
    import s.implicits._
    // The whole bounded sample in one collect; a null component reads as
    // 0 (graft_dot skips it, and Spark's sum ignores it but counts it).
    val rows = sample
      .select(xxhash64(col("vec_id")), idKey,
        expr("transform(v, x -> coalesce(CAST(x AS DOUBLE), 0D))"),
        col("nrm").cast("double"))
      .as[(Long, Long, Array[Double], Double)]
      .collect()
    lloyd(rows, k)
  }

  /** Rows assigned per task in [[lloyd]]. Fixed, so the chunking — and
    * with it the order of every floating-point sum — does not depend on
    * the driver's core count. */
  private val ChunkRows = 2048

  /** Init + [[Iters]] Lloyd passes over the collected sample (xxhash64,
    * id key, v, nrm), in plain Scala on the driver: bounded at
    * SampleTarget·k·dim·Iters multiply-adds whatever the corpus size.
    * Rules (FitVersion 1's staged bytes depend on every one):
    *  - init takes the k rows with the smallest (xxhash64(vec_id), vec_id);
    *  - a repeated vec_id counts once, as its first row;
    *  - the dot product is graft_dot's index-order fold, the cosine
    *    dot / (nrm · wnrm), and the cell the argmax cosine with ties to
    *    the smaller cid (NaN above every number, a zero divisor below);
    *  - a centroid is the per-dimension mean rounded to 6 dp, so
    *    repeated fits are bit-stable; an empty cell keeps its centroid
    *    (no resampling — resampling would reintroduce order dependence).
    * Assignment runs in fixed [[ChunkRows]] chunks across the driver's
    * cores; the per-chunk sums merge in chunk order. */
  private def lloyd(rows: Array[(Long, Long, Array[Double], Double)],
                    k: Int): Seq[(Long, Array[Double], Double)] = {
    def norm(w: Array[Double]) = math.sqrt(w.map(x => x * x).sum)
    var cents: Array[Array[Double]] = rows
      .sortBy(r => (r._1, r._2))
      .take(k)
      .map(_._3)
    val seen = new java.util.HashSet[Long]()
    val pts = rows.filter(r => seen.add(r._2))
    val dim = if (cents.isEmpty) 0 else cents(0).length
    val nChunks = (pts.length + ChunkRows - 1) / ChunkRows
    for (_ <- 1 to Iters if cents.nonEmpty) {
      val cur = cents
      val wnrm = cur.map(norm)
      val sums = new Array[Array[Array[Double]]](nChunks)
      val cnts = new Array[Array[Long]](nChunks)
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
        val sx = Array.ofDim[Double](cur.length, dim)
        val cnt = new Array[Long](cur.length)
        var i = c * ChunkRows
        val end = math.min(i + ChunkRows, pts.length)
        while (i < end) {
          val (_, _, v, nrm) = pts(i)
          val best = nearest(v, nrm, cur, wnrm)
          val acc = sx(best)
          var d = 0
          while (d < dim) { acc(d) += v(d); d += 1 }
          cnt(best) += 1
          i += 1
        }
        sums(c) = sx; cnts(c) = cnt
      }
      cents = Array.tabulate(cur.length) { cid =>
        val n = cnts.iterator.map(_(cid)).sum
        if (n == 0) cur(cid) // empty cell keeps its centroid
        else Array.tabulate(dim) { d =>
          var x = 0.0
          var c = 0
          while (c < nChunks) { x += sums(c)(cid)(d); c += 1 }
          round6d(x / n)
        }
      }
    }
    cents.toSeq.zipWithIndex.map { case (w, cid) => (cid.toLong, w, norm(w)) }
  }

  /** The cell of `v`: argmax over cids of dot(v, w) / (nrm · wnrm). */
  private def nearest(v: Array[Double], nrm: Double,
                      cents: Array[Array[Double]], wnrm: Array[Double]): Int = {
    var best = 0
    var bestCos = Double.NaN
    var bestNull = true
    var cid = 0
    while (cid < cents.length) {
      val w = cents(cid)
      if (w.length != v.length)
        throw new IllegalArgumentException(
          s"graft_dot: array length mismatch (${v.length} vs ${w.length})")
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * w(d); d += 1 }
      val den = nrm * wnrm(cid)
      if (den != 0.0) {
        val cos = dot / den
        // Spark's double order: NaN sorts above every number.
        val better = bestNull || (!bestCos.isNaN && (cos.isNaN || cos > bestCos))
        if (better) { best = cid; bestCos = cos; bestNull = false }
      }
      cid += 1
    }
    best
  }
}
