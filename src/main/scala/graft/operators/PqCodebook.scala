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
  * vector (256 B) encodes to [[M]]=8 centroid ids of 8 bits each
  * ([[K]]=256) — 32× smaller — and a probe scores codes against a
  * precomputed 8×256 = 2048-entry lookup table instead of touching the
  * original floats
  * (asymmetric distance computation). At 100 TB the codes table is ~3 TB
  * and the probe is a map-only scan of it; the full-precision vectors are
  * only ever read once, at encode time.
  *
  * Scale shape: the fit is [[IvfCodebook]]'s (which documents the
  * rationale) with the L2 assignment rule — the hash-sampled input capped
  * at [[SampleTarget]] is collected once, in the same two Spark jobs as an
  * IVF fit, and the kernel ([[IvfCodebook.lloyd]]) runs on the driver once
  * per subspace: at most SampleTarget·K·SubDim·M·Iters multiply-adds
  * whatever the corpus size. The fitted codebook (M·K rows) stages to
  * parquet so the Spark encode and the DuckDB oracle read IDENTICAL bytes
  * rather than re-deriving the fit.
  *
  * Determinism: init takes the K sample vectors with the smallest
  * xxhash64(vec_id) and slices each into its M sub-vectors (all
  * subspaces share the draw — a per-subspace draw would add nothing but
  * RNG surface); centroid components round to 6 dp per iteration to
  * collapse summation-order ulps; empty cells keep their previous
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

  /** Lloyd iterations: the shared kernel's [[IvfCodebook.Iters]]. */
  val Iters = IvfCodebook.Iters

  /** Sampled-fit bound: the shared sample's [[IvfCodebook.SampleTarget]]. */
  val SampleTarget = IvfCodebook.SampleTarget

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
    * encode and the probe-LUT builds so the slicing rule has one home in
    * Spark; the fit slices its collected sample the same way. */
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
    Tables.derived(s, d, s"pqcent_$kind")(
      IvfCodebook.staged(s, stagePath(d, kind), Seq("m", "cid", "w"), M.toLong * K) {
        val cents = fit(s, input)
        require(cents.nonEmpty, s"PQ codebook: no sample vectors for ${stagePath(d, kind)}")
        import s.implicits._
        cents.toDF("m", "cid", "w")
      })

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
    * spherical IVF fit, zero vectors are legal L2 inputs and stay in.
    * Two Spark jobs (see [[IvfCodebook.sample]]); the per-point scalar
    * the L2 rule needs is |x|² of each slice, computed here. */
  private def fit(s: SparkSession, vecsDf: DataFrame): Seq[(Int, Long, Array[Double])] = {
    val smp = IvfCodebook.sample(s, vecsDf, K, lit(0D))
    def slice(v: Array[Double], m: Int) = v.slice(m * SubDim, (m + 1) * SubDim)
    (0 until M).flatMap { m =>
      val subs = smp.pts.map(slice(_, m))
      val xx = subs.map(x => IvfCodebook.dot(x, x))
      IvfCodebook.lloyd(smp.init.map(slice(_, m)), subs, xx, IvfCodebook.L2)
        .toSeq.zipWithIndex.map { case (w, cid) => (m, cid.toLong, w) }
    }
  }
}
