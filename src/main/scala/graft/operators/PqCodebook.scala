package graft.operators

import graft.{Stage, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Learned product-quantization codebook: deterministic sampled L2
  * k-means fit INDEPENDENTLY in each of [[M]] subspaces of the embedding.
  *
  * Product quantization is the memory side of the ANN story the IVF
  * family ([[IvfCodebook]]) leaves open: IVF prunes WHICH vectors a probe
  * scans, PQ shrinks WHAT each scanned vector costs. A 64-dim float
  * vector (256 B) encodes to [[M]]=8 centroid ids of 4 bits each —
  * 32× smaller — and a probe scores codes against a precomputed
  * 8×16-entry lookup table instead of touching the original floats
  * (asymmetric distance computation). At 100 TB the codes table is ~3 TB
  * and the probe is a map-only scan of it; the full-precision vectors are
  * only ever read once, at encode time.
  *
  * Scale shape (mirrors [[IvfCodebook]], which documents the rationale):
  * hash-sampled input capped at [[SampleTarget]]; each Lloyd iteration is
  * ONE pass over the sample for ALL M subspaces at once (the subspace id
  * is just another grouping column); per-iteration driver traffic is
  * M·K·SubDim grouped sums (1024 rows), never the data. The fitted
  * codebook (M·K rows) stages to parquet so the Spark encode and the
  * DuckDB oracle read IDENTICAL bytes rather than re-deriving the fit.
  *
  * Determinism: init takes the K sample vectors with the smallest
  * xxhash64(vec_id) and slices each into its M sub-vectors (all
  * subspaces share the draw — a per-subspace draw would add nothing but
  * RNG surface); centroid components round to 6 dp per iteration to
  * collapse shuffled-double-sum ulps; empty cells keep their previous
  * centroid. Assignment is argmin of d² = |x|² + |c|² − 2⟨x,c⟩ with ties
  * toward the smaller cid — the same (d2, cid) lexicographic rule the
  * encode path and every oracle CTE replicate.
  *
  * Reference tie-in: the reference engine has no ANN surface
  * (SURVEY.md §2 extension mandate); PQ extends the similarity family
  * consumed by sim_pq_codes / sim_pq_adc / sim_pq_recall (PqQueries).
  */
object PqCodebook {

  /** Subspaces: 8 × [[SubDim]]=8 dims covers the 64-dim embeddings. */
  val M = 8

  /** Dimensions per subspace. */
  val SubDim = 8

  /** Centroids per subspace — 8-bit codes, the standard PQ operating
    * point (a 64-dim float vector encodes to M=8 bytes, 32× smaller).
    * 4-bit (K=16) was measured first and quantizes too coarsely for any
    * usable recall on the random fixture (ADC top-100 caught 3/10 exact
    * neighbors at sf0.1); at 8 bits the 2048-entry probe LUT is still
    * one broadcast array row. */
  val K = 256

  /** Lloyd iterations; same knee argument as [[IvfCodebook.Iters]]. */
  val Iters = 5

  /** Sampled-fit bound, as [[IvfCodebook.SampleTarget]]. */
  val SampleTarget = 100000L

  /** Bump when the fit algorithm changes its output (see
    * [[IvfCodebook]]'s FitVersion scaladoc — stages are REUSED). */
  private val FitVersion = 1

  /** The staged codebook parquet for `dataDir` — oracle CTEs name this
    * path. Columns: (m: int, cid: long, w: array<double>). `kind`
    * separates independently-fit codebooks over different inputs (""
    * = the raw embeddings; "ivfres" = IVF-residuals, see IvfPqQueries). */
  def stagePath(dataDir: String, kind: String = ""): String = {
    val tag = if (kind.isEmpty) "" else s"_$kind"
    Stage.dir(dataDir, s"pq_codebook$tag" + s"_v${FitVersion}_${M}x$K")
  }

  /** Explode a (vec_id, v, ...) frame into its M sub-vectors:
    * (vec_id, m, sub) with sub = v[m·SubDim+1 .. (m+1)·SubDim] kept at
    * the source element type (graft_dot widens floats itself, exactly
    * like the oracle's CAST AS DOUBLE — see DotProduct). Shared by the
    * fit, the encode, and the probe-LUT build so the slicing rule has
    * one home. */
  private[operators] def subVectors(vecsDf: DataFrame): DataFrame =
    vecsDf.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${M - 1}), m -> slice(v, m * $SubDim + 1, $SubDim))"
    )).as(Seq("m", "sub")))

  /** The fitted codebook as an M·K-row (m, cid, w) frame read from the
    * staged parquet — fit once per (session, dir). */
  def codebook(s: SparkSession, d: String): DataFrame =
    codebookFor(s, d, "", SimilarityQueries.vecs(s, d))

  /** [[codebook]] over an ARBITRARY (vec_id, v) input, staged under
    * `kind` — the residual-quantization entry point (IvfPqQueries fits
    * one over IVF residuals). `input` is by-name: only evaluated on a
    * cache+stage miss, so consumers don't rebuild the input frame when
    * the staged bytes already exist. The frame is the [[Tables.derived]]
    * `pqcent_<kind>` of (session, dir); its build lock, per (dir, kind),
    * is per stage path, so racing sessions serialize their first fit
    * and the loser adopts the winner's stage (as in [[IvfCodebook]]). */
  def codebookFor(s: SparkSession, d: String, kind: String,
                  input: => DataFrame): DataFrame =
    Tables.derived(s, d, s"pqcent_$kind")(fitAndStage(s, d, kind, input))

  private def round6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private def fitAndStage(s: SparkSession, d: String, kind: String,
                          input: => DataFrame): DataFrame = {
    val path = stagePath(d, kind)
    existingStage(s, path).getOrElse(fitInto(s, input, path))
  }

  private def existingStage(s: SparkSession, path: String): Option[DataFrame] =
    try {
      if (!new java.io.File(path, "_SUCCESS").exists()) None
      else {
        val df = s.read.parquet(path)
        val n = df.count()
        if (df.columns.toSeq == Seq("m", "cid", "w") && n >= 1 && n <= M.toLong * K)
          Some(df)
        else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def fitInto(s: SparkSession, input: DataFrame, path: String): DataFrame = {
    val cents = fit(s, input)
    require(cents.nonEmpty, s"PQ codebook: no sample vectors for $path")
    import s.implicits._
    cents.toDF("m", "cid", "w")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** Per-call fit over an arbitrary (vec_id, v) frame, returned as the
    * (m, cid, w) codebook frame WITHOUT staging — the facade entry point
    * ([[graft.Graft.pqFit]]); the staged variants remain the
    * oracle-checked path. */
  def fitFrame(s: SparkSession, vecsDf: DataFrame): DataFrame = {
    import s.implicits._
    fit(s, vecsDf).toDF("m", "cid", "w")
  }

  /** Encode (vec_id, v) → (vec_id, codes array<int>[M]) against a
    * codebook frame: per subspace the argmin-d² centroid id,
    * d² = |x|² + |c|² − 2⟨x,c⟩, ties toward the smaller cid. The argmin
    * is min(struct(d2, cid)) — lexicographic min partial-aggregates
    * map-side, so the encode pass ships one candidate per (vector,
    * subspace) per partition, not the K-scored frame. Shared by
    * PqQueries (raw vectors), IvfPqQueries (residuals) and the facade. */
  def encode(vecsDf: DataFrame, codebook: DataFrame): DataFrame = {
    val dot = graft.functions.expressions.GraftFunctions.dotCol _
    val cb = codebook.withColumn("cc", dot(col("w"), col("w")))
    subVectors(vecsDf)
      .withColumn("xx", dot(col("sub"), col("sub")))
      .join(broadcast(cb), Seq("m"))
      .withColumn("d2", col("xx") + col("cc") - lit(2.0) * dot(col("sub"), col("w")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cid"))).as("mn"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("m"), col("mn.cid").as("code")))).as("cs"))
      .select(col("vec_id"), expr("transform(cs, s -> CAST(s.code AS INT))").as("codes"))
  }

  /** The deterministic sampled per-subspace L2 k-means. Input contract:
    * (vec_id, v) with |v| = M·SubDim. Returns (m, cid, w) rows,
    * cid = 0..k'−1 per subspace, k' = min(K, sample size). Unlike the
    * spherical IVF fit, zero vectors are legal L2 inputs and stay in. */
  private def fit(s: SparkSession, vecsDf: DataFrame): Seq[(Int, Long, Array[Double])] = {
    val e = vecsDf.select(col("vec_id"), col("v"))
    val n = e.count()
    val sample = (
      if (n <= SampleTarget) e
      else e.filter(
        pmod(xxhash64(col("vec_id")), lit(1000000L)) <
          lit((SampleTarget * 1000000L) / n))
      ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dot = graft.functions.expressions.GraftFunctions.dotCol _

      // Seeded init: the K smallest-hash sample vectors, sliced into
      // their M sub-vectors on the driver (K full vectors collected; the
      // corpus never is).
      val initVecs: Array[Array[Double]] = sample
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(K)
        .select(expr("transform(v, x -> CAST(x AS DOUBLE))").as("w"))
        .collect()
        .map(_.getSeq[Double](0).toArray)
      var cents: Array[((Int, Long), Array[Double])] =
        (for (m <- 0 until M; (w, cid) <- initVecs.zipWithIndex)
          yield ((m, cid.toLong), w.slice(m * SubDim, (m + 1) * SubDim))).toArray

      val subs = subVectors(sample)
        .withColumn("xx", dot(col("sub"), col("sub")))
        .select(col("vec_id"), col("m"), col("sub"), col("xx"))

      import s.implicits._
      for (_ <- 1 to Iters if cents.nonEmpty) {
        val centDf = cents.toSeq
          .map { case ((m, cid), w) => (m, cid, w, w.map(x => x * x).sum) }
          .toDF("m", "cid", "w", "cc")
        // Assign: argmin d² via min(struct(d2, cid)) — lexicographic min
        // IS (smallest d2, then smallest cid), and it partial-aggregates
        // map-side. Then per-(m, cell, dim) sums: M·K·SubDim rows to the
        // driver per iteration.
        val sums = subs.join(broadcast(centDf), Seq("m"))
          .withColumn("d2",
            col("xx") + col("cc") - lit(2.0) * dot(col("sub"), col("w")))
          .groupBy("vec_id", "m")
          .agg(min(struct(col("d2"), col("cid"))).as("mn"), first(col("sub")).as("sub"))
          .select(col("m"), col("mn.cid").as("cid"), posexplode(col("sub")).as(Seq("pos", "x")))
          .groupBy("m", "cid", "pos")
          .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("cnt"))
          .collect()
        val byCell = sums.groupBy(r => (r.getInt(0), r.getLong(1)))
        cents = cents.map { case (key, prev) =>
          byCell.get(key) match {
            case Some(rows) =>
              val w = new Array[Double](SubDim)
              rows.foreach { r =>
                w(r.getInt(2)) = round6d(r.getDouble(3) / r.getLong(4))
              }
              (key, w)
            case None => (key, prev) // empty cell keeps its centroid
          }
        }
      }
      cents.toSeq.map { case ((m, cid), w) => (m, cid, w) }
    } finally sample.unpersist(blocking = false)
  }
}
