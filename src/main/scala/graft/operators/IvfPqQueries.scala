package graft.operators

import graft.{QueryPack, Tables}
import graft.Portable.round6
import graft.functions.PortableHash
import graft.functions.expressions.DotProduct
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ with residual encoding — the two learned structures composed
  * into the production ANN architecture (the layout FAISS-style engines
  * deploy at billion-vector scale): the IVF assignment decides WHICH
  * cells a probe scans, and PQ codes of the RESIDUAL r = v − centroid
  * compress what each scanned vector costs. Residuals are smaller and
  * better-centered than raw vectors, so the same 8×8-bit budget
  * quantizes them with less error — measured here: raw-PQ rerank@50
  * recall is 9/10/7 across the SFs (sim_pq_recall), residual IVF-PQ
  * probing half the cells reaches the same or better with a fraction of
  * the scan.
  *
  * The ADC identity that keeps the probe map-only: with v̂ = c + r̂,
  *   dot(q, v̂) = dot(q, c) + Σ_m ⟨q_m, w_{m,code_m}⟩
  * — one 16-entry per-cell constant table plus the same 2048-entry
  * residual LUT, both broadcast; candidates never touch their floats.
  *
  * Determinism: residual subtraction is exact IEEE double arithmetic on
  * both engines; everything else is the [[PqQueries]] machinery (fold
  * orders, d² form, (d2, cid) tie-break) over the residual frame, plus
  * the [[SimilarityQueries]] cosine assignment both oracles already
  * replicate.
  */
object IvfPqQueries extends QueryPack {

  /** Cells the query probes, out of [[IvfCodebook.K]]=16 — half the
    * codebook, mirroring [[SimilarityQueries.QueryNprobe]]. */
  val QueryNprobe = SimilarityQueries.QueryNprobe

  /** ADC shortlist for the rerank gate, as [[PqQueries.RerankShortlist]]. */
  val RerankShortlist = PqQueries.RerankShortlist

  /** ADC shortlist for the production refine stage — the FAISS-style
    * deployment reranks a deeper pool (top-100) than the recall gate's
    * 50: refine cost is candidates×dim regardless, and the deeper pool
    * dominates the 50-shortlist recall by construction (a superset of
    * candidates can only add exact-top-10 members). */
  val RefineShortlist = 100

  /** Measured cross-SF minimum of the reranked recall@10 (the probed
    * cells bound what ANY in-cell method can reach; the floor is exact —
    * deterministic fit, fixture and probe). */
  val RecallFloorHits = 7

  private def dot = graft.functions.expressions.GraftFunctions.dotCol _

  /** IVF residuals: r = v − centroid(cluster), cluster from the shared
    * rk=1 assignment ([[SimilarityQueries.ivfScoredAssignment]] — the
    * same cached index every IVF consumer probes). */
  private def residuals(s: SparkSession, d: String): DataFrame = {
    val asg = SimilarityQueries.ivfScoredAssignment(s, d, nprobe = 1).drop("rk")
    val cent = IvfCodebook.centroids(s, d)
      .select(col("cid").as("cluster"), col("w").as("cw"))
    asg.join(broadcast(cent), Seq("cluster"))
      .select(col("cluster"), col("vec_id"),
        expr("zip_with(v, cw, (x, y) -> CAST(x AS DOUBLE) - y)").as("v"))
  }

  /** The residual PQ codebook, fit over the residual frame and staged
    * under its own path (the oracle reads the same bytes). */
  private[operators] def residualCodebook(s: SparkSession, d: String): DataFrame =
    PqCodebook.codebookFor(s, d, "ivfres",
      residuals(s, d).select(col("vec_id"), col("v")))

  // The encoded index: (vec_id, cluster, codes array<int>[M]) — a
  // [[Tables.derived]] frame per (session, dir). At 100 TB this pair of
  // columns IS the stored index: 1 byte of cell id + M bytes of code per
  // vector.
  private[operators] def ivfpqCodes(s: SparkSession, d: String): DataFrame =
    Tables.derived(s, d, "ivfpq") {
      val res = residuals(s, d)
      PqCodebook.encode(res, residualCodebook(s, d))
        .join(res.select("vec_id", "cluster"), Seq("vec_id"))
        .localCheckpoint(eager = false)
    }

  val queries: Map[String, Q] = Map(
    // Residual-encode audit per CELL: vectors, distinct codewords, and
    // the exact (vector, subspace, code) checksum — a wrong residual
    // (bad centroid join, float-vs-double subtraction order) or a
    // misrouted vector shifts a checksum, not a recall number.
    "sim_ivfpq_codes" -> ((s, d) =>
      ivfpqCodes(s, d)
        .select(col("cluster"), col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
        .groupBy("cluster")
        .agg(
          countDistinct(col("vec_id")).as("n"),
          countDistinct(concat_ws(":", col("m"), col("code"))).as("n_codewords"),
          sum(PortableHash.h60p(concat_ws("|", col("vec_id"), col("m"), col("code"))))
            .as("checksum"))
        .orderBy("cluster")),

    // The IVF-PQ probe: top-10 by dot(q,c) + residual-ADC over the
    // QueryNprobe probed cells only. Two broadcast constants (the
    // 16-entry cell-dot table, the 2048-entry residual LUT) and a
    // map-only scan of the probed cells' codes.
    "sim_ivfpq_adc" -> ((s, d) => adcRanked(s, d).limit(10)),

    // The production pipeline's quality gate: ADC shortlist → exact
    // rerank → recall@10 vs the exact-dot top-10, floor-gated. Probing
    // 8/16 cells bounds attainable recall; the residual quantization
    // must not lose what the cells contain.
    "sim_ivfpq_recall" -> ((s, d) => {
      val e = SimilarityQueries.vecs(s, d)
      val probe = e.filter(col("vec_id") === 0).select(col("v").as("w"))
      def exactTop10(in: DataFrame): DataFrame = in
        .crossJoin(broadcast(probe))
        .withColumn("dq", dot(col("v"), col("w")))
        .orderBy(col("dq").desc, col("vec_id"))
        .limit(10)
        .select("vec_id")
      val shortlist = adcRanked(s, d).limit(RerankShortlist).select("vec_id")
      val reranked = exactTop10(e.join(broadcast(shortlist), Seq("vec_id")))
      val brute = exactTop10(e.filter(col("vec_id") =!= 0))
      reranked
        .join(brute, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(10).as("k"), col("n_hit"),
          round6(col("n_hit") / lit(10.0)).as("recall"),
          (col("n_hit") >= RecallFloorHits).as("recall_ok"))
    }),

    // The production refine stage (ANN re-ranking refinement): the ADC
    // scan's top-RefineShortlist candidates fetch their EXACT vectors
    // and re-rank by true dot(q, v) — the answer a FAISS-style engine
    // actually serves. Each output row carries the exact score beside
    // its ADC estimate (the refinement delta is visible) and whether it
    // is in the exact brute-force top-10 (so the frame ENCODES
    // recall@10 — the hash gate pins the hits, and IvfPqSpec asserts
    // it dominates the 50-shortlist gate). Cost shape: the candidate
    // fetch is a broadcast-semi probe of the vector table (100 ids ×
    // dim — never corpus²), then a 100-row local sort.
    "sim_ivfpq_refine" -> ((s, d) => {
      val e = SimilarityQueries.vecs(s, d)
      val probe = e.filter(col("vec_id") === 0).select(col("v").as("w"))
      val short = adcRanked(s, d).limit(RefineShortlist)
      val refined = e.join(broadcast(short), Seq("vec_id"))
        .crossJoin(broadcast(probe))
        .withColumn("dq", round6(dot(col("v"), col("w"))))
        .select("vec_id", "cluster", "adc", "dq")
        .orderBy(col("dq").desc, col("vec_id"))
        .limit(10)
      val brute = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("dq", dot(col("v"), col("w")))
        .orderBy(col("dq").desc, col("vec_id"))
        .limit(10)
        .select("vec_id")
      import org.apache.spark.sql.expressions.Window
      refined
        .join(broadcast(brute.withColumn("in_brute", lit(true))), Seq("vec_id"), "left")
        .na.fill(false, Seq("in_brute"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("dq").desc, col("vec_id"))))
        .select("rank", "vec_id", "cluster", "adc", "dq", "in_brute")
        .orderBy("rank")
    })
  )

  /** The ranked IVF-PQ scan: probed cells → candidates' codes →
    * celldot + residual ADC, ordered (rounded adc DESC, vec_id). */
  private def adcRanked(s: SparkSession, d: String): DataFrame = {
    val e = SimilarityQueries.vecs(s, d)
    val cent = IvfCodebook.centroids(s, d)
    val q = e.filter(col("vec_id") === 0)
    // The query's QueryNprobe nearest cells by cosine (the sim_ivf rule)
    // WITH the per-cell dot(q, c) constant the ADC identity needs.
    val cellDots = q.crossJoin(broadcast(cent))
      .withColumn("ccos", dot(col("v"), col("w")) / (col("nrm") * col("wnrm")))
      .withColumn("celldot", dot(col("v"), col("w")))
      .orderBy(col("ccos").desc, col("cid"))
      .limit(QueryNprobe)
      .select(col("cid").as("cluster"), col("celldot"))
    // Residual LUT from the RAW query slices (dot(q, r̂) expands over
    // q's subspaces against the residual codebook).
    val qsubs = PqCodebook.subVectors(q).select(col("m"), col("sub").as("qsub"))
    val lut = residualCodebook(s, d)
      .join(broadcast(qsubs), Seq("m"))
      .withColumn("part", dot(col("qsub"), col("w")))
      .select((col("m") * PqCodebook.K + col("cid")).as("idx"), col("part"))
      .agg(expr("transform(array_sort(collect_list(struct(idx, part))), s -> s.part)")
        .as("lut"))
    val adc = (Seq(col("celldot")) ++ (0 until PqCodebook.M)
      .map(m => expr(s"lut[$m * ${PqCodebook.K} + codes[$m]]"))).reduce(_ + _)
    ivfpqCodes(s, d).filter(col("vec_id") =!= 0)
      .join(broadcast(cellDots), Seq("cluster"))
      .crossJoin(broadcast(lut))
      .withColumn("adc", adc)
      .select(col("vec_id"), col("cluster"), round6(col("adc")).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
  }

  /** Shared CTE chain: IVF assignment (the knnIvfSql rule), residuals,
    * residual codebook from its staged bytes, the argmin-d² encode. */
  private def ivfpqCte(dataDir: String) =
    s"""e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        n AS (SELECT vec_id, label, v,
                     sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
              FROM e),
        cent AS (SELECT cid, w, wnrm
                 FROM read_parquet('${IvfCodebook.stagePath(dataDir)}/*.parquet')),
        asg AS (SELECT vec_id, v, nrm, cid AS cluster FROM (
                  SELECT a.vec_id, a.v, a.nrm, c.cid,
                         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                           ORDER BY ${DotProduct.sql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                  FROM n a, cent c) WHERE rk = 1),
        res AS (SELECT a.vec_id, a.cluster,
                       list_transform(range(64), i -> a.v[i + 1] - c.w[i + 1]) AS r
                FROM asg a JOIN cent c ON a.cluster = c.cid),
        rcb AS (SELECT m, cid, w,
                       list_reduce(list_transform(w, x -> x * x), (a, b) -> a + b) AS cc
                FROM read_parquet('${PqCodebook.stagePath(dataDir, "ivfres")}/*.parquet')),
        subs AS (SELECT vec_id, cluster, t.m AS m,
                        list_transform(range(${PqCodebook.SubDim}),
                          i -> r[t.m * ${PqCodebook.SubDim} + i + 1]) AS sub
                 FROM res CROSS JOIN range(${PqCodebook.M}) t(m)),
        subn AS (SELECT vec_id, cluster, m, sub,
                        list_reduce(list_transform(sub, x -> x * x), (a, b) -> a + b) AS xx
                 FROM subs),
        scored AS (SELECT s.vec_id, s.cluster, s.m, c.cid,
                          s.xx + c.cc - 2 * ${DotProduct.sql("s.sub", "c.w", PqCodebook.SubDim)} AS d2
                   FROM subn s JOIN rcb c ON s.m = c.m),
        codes AS (SELECT vec_id, cluster, m, cid AS code FROM (
                    SELECT vec_id, cluster, m, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rk
                    FROM scored) WHERE rk = 1)"""

  /** Probe CTEs: probed cells with their dot(q,c) constants, the
    * raw-query residual LUT, celldot-first left-fold ADC. */
  private def ivfpqAdcCte =
    s"""pc AS (SELECT c.cid AS cluster, ${DotProduct.sql("a.v", "c.w")} AS celldot
              FROM n a, cent c WHERE a.vec_id = 0
              ORDER BY ${DotProduct.sql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid
              LIMIT $QueryNprobe),
        qsubs AS (SELECT t.m AS m,
                         list_transform(range(${PqCodebook.SubDim}),
                           i -> v[t.m * ${PqCodebook.SubDim} + i + 1]) AS sub
                  FROM e CROSS JOIN range(${PqCodebook.M}) t(m)
                  WHERE vec_id = 0),
        lut AS (SELECT s.m, c.cid, ${DotProduct.sql("s.sub", "c.w", PqCodebook.SubDim)} AS part
                FROM qsubs s JOIN rcb c ON s.m = c.m),
        parts AS (SELECT k.vec_id, k.cluster, k.m, l.part
                  FROM codes k JOIN pc ON k.cluster = pc.cluster
                  JOIN lut l ON k.m = l.m AND k.code = l.cid
                  WHERE k.vec_id <> 0),
        adcs AS (SELECT p.vec_id, p.cluster,
                        list_reduce(list_prepend(pc.celldot, list(p.part ORDER BY p.m)),
                          (a, b) -> a + b) AS adc
                 FROM parts p JOIN pc ON p.cluster = pc.cluster
                 GROUP BY p.vec_id, p.cluster, pc.celldot)"""

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "sim_ivfpq_codes" ->
      s"""WITH ${ivfpqCte(dataDir)}
          SELECT cluster, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT CAST(m AS VARCHAR) || ':' || CAST(code AS VARCHAR)) AS BIGINT)
                   AS n_codewords,
                 CAST(SUM(${PortableHash.h60pSql(
                   "CAST(vec_id AS VARCHAR) || '|' || CAST(m AS VARCHAR) || '|' || CAST(code AS VARCHAR)")})
                   AS BIGINT) AS checksum
          FROM codes GROUP BY cluster ORDER BY cluster""",
    "sim_ivfpq_adc" ->
      s"""WITH ${ivfpqCte(dataDir)},
            $ivfpqAdcCte
          SELECT vec_id, cluster, FLOOR(adc * 1000000 + 0.5) / 1000000 AS adc
          FROM adcs ORDER BY adc DESC, vec_id LIMIT 10""",
    "sim_ivfpq_refine" ->
      s"""WITH ${ivfpqCte(dataDir)},
            $ivfpqAdcCte,
            shortlist AS (SELECT vec_id, cluster,
                                 FLOOR(adc * 1000000 + 0.5) / 1000000 AS adc
                          FROM adcs
                          ORDER BY FLOOR(adc * 1000000 + 0.5) / 1000000 DESC, vec_id
                          LIMIT $RefineShortlist),
            probe AS (SELECT v FROM e WHERE vec_id = 0),
            refined AS (SELECT s.vec_id, s.cluster, s.adc,
                               FLOOR(${DotProduct.sql("a.v", "p.v")} * 1000000 + 0.5) / 1000000 AS dq
                        FROM e a JOIN shortlist s USING (vec_id), probe p
                        ORDER BY dq DESC, s.vec_id LIMIT 10),
            brute AS (SELECT a.vec_id FROM e a, probe p WHERE a.vec_id <> 0
                      ORDER BY ${DotProduct.sql("a.v", "p.v")} DESC, a.vec_id LIMIT 10)
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY dq DESC, vec_id) AS INT) AS rank,
                 vec_id, cluster, adc, dq,
                 vec_id IN (SELECT vec_id FROM brute) AS in_brute
          FROM refined ORDER BY rank""",
    "sim_ivfpq_recall" ->
      s"""WITH ${ivfpqCte(dataDir)},
            $ivfpqAdcCte,
            ${PqQueries.rerankRecallSql(RecallFloorHits)}"""
  )
}
