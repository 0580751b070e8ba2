package graft.operators

import graft.{QueryPack, Tables}
import graft.Portable.round6
import graft.functions.PortableHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization ANN over the embeddings table — the
  * memory-compression side of the similarity family ([[PqCodebook]]
  * documents the codebook fit and the 100 TB framing).
  *
  * Three gates:
  *  - `sim_pq_codes`: the ENCODE audit — every vector's full 8-subspace
  *    code assignment, hash-checked exactly. The oracle recomputes the
  *    argmin-d² encode from the staged codebook bytes, so a wrong slice
  *    boundary, distance form, or tie-break anywhere in the encode is a
  *    checksum mismatch, not a silent recall loss.
  *  - `sim_pq_adc`: the PROBE — asymmetric distance computation. The
  *    query vector builds a 128-entry (subspace × centroid) inner-product
  *    lookup table; every encoded vector scores as the sum of 8 table
  *    entries, never touching its floats. The Spark plan is the scale
  *    shape: the LUT broadcasts as one array row, the scoring projection
  *    is whole-stage-codegen'd fixed-index array reads (no shuffle, no
  *    higher-order functions in the hot path), and top-k is
  *    TakeOrderedAndProject.
  *  - `sim_pq_recall`: recall@10 of ADC against the exact-dot top-10,
  *    floor-gated like sim_ivf_recall — the quality regression alarm.
  *
  * Determinism: every inner product on both engines is the same
  * widen-then-multiply left fold (graft_dot ≡ DuckDB list_reduce — the
  * contract DotProduct documents), d² is the literal `xx + cc − 2·xc`
  * expression on both sides, and the ADC sum adds subspace parts in
  * ascending-m order on both sides.
  */
object PqQueries extends QueryPack {

  /** ADC shortlist size for the rerank pipeline sim_pq_recall gates —
    * the production shape: ADC never RANKS the final answer, it prunes
    * the corpus to a shortlist the exact metric then reranks (at 100 TB
    * that means exact dot products over 50 vectors instead of billions).
    * Any exact-top-10 member the shortlist catches survives the exact
    * rerank by construction, so the gate measures exactly the
    * shortlist's capture rate. */
  val RerankShortlist = 50

  /** sim_pq_recall's gate: the reranked top-10 must hit at least this
    * many of the exact top-10. Measured cross-SF minimum on the fixture
    * (9/10/7 at sf0.001/0.01/0.1 — see the scaladoc on
    * [[SimilarityQueries.RecallFloorHits]] for why the random-vector
    * fixture is ANN's worst case; deterministic fit and fixture, so the
    * floor is exact, not a noise band). Direct ADC@10 without the rerank
    * measured 6/7/4 — the gap IS the rerank stage's value. */
  val RecallFloorHits = 7

  private def dot = graft.functions.expressions.GraftFunctions.dotCol _

  /** Encode every vector against the staged codebook
    * ([[PqCodebook.encode]] documents the argmin shape): the "PQ index"
    * (vec_id, codes array<int>[M]), a [[Tables.derived]] frame shared
    * by all three gates. */
  private[operators] def pqCodes(s: SparkSession, d: String): DataFrame =
    Tables.derived(s, d, "pqcodes")(
      PqCodebook.encode(SimilarityQueries.vecs(s, d), PqCodebook.codebook(s, d))
        .localCheckpoint(eager = false))

  val queries: Map[String, Q] = Map(
    // Encode audit: per label, vectors encoded, distinct codewords in
    // use (a collapsed codebook — k-means degenerating to few cells —
    // shows up here even when checksums still pass), and the exact
    // per-(vector, subspace, code) assignment checksum.
    "sim_pq_codes" -> ((s, d) => {
      val lab = SimilarityQueries.vecs(s, d).select("vec_id", "label")
      pqCodes(s, d)
        .join(lab, Seq("vec_id"))
        .select(col("label"), col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
        .groupBy("label")
        .agg(
          countDistinct(col("vec_id")).as("n"),
          countDistinct(concat_ws(":", col("m"), col("code"))).as("n_codewords"),
          sum(PortableHash.h60p(concat_ws("|", col("vec_id"), col("m"), col("code"))))
            .as("checksum"))
        .orderBy("label")
    }),

    // ADC top-10 against probe vec_id=0 by approximate inner product.
    // One broadcast row carries the whole 128-entry LUT as an array
    // ordered by m·K+cid; the score is eight codegen'd fixed-index array
    // reads summed in ascending-m order — the map-only scan of the codes
    // table that IS the PQ value proposition at 100 TB.
    "sim_pq_adc" -> ((s, d) => adcRanked(s, d).limit(10)),

    // Quality gate over the FULL production pipeline: ADC shortlist of
    // RerankShortlist candidates → exact-dot rerank of only those → top-10
    // ∩ exact-dot top-10 (the metric ADC approximates is the raw inner
    // product, so the exact baseline ranks by dot, not cosine).
    // Driver-checked every round like sim_ivf_recall: a codebook or
    // encode regression that still hash-matches its own degraded oracle
    // fails HERE.
    "sim_pq_recall" -> ((s, d) => {
      val e = SimilarityQueries.vecs(s, d)
      val probe = e.filter(col("vec_id") === 0).select(col("v").as("w"))
      def exactTop10(in: DataFrame): DataFrame = in
        .crossJoin(broadcast(probe))
        .withColumn("dq", dot(col("v"), col("w")))
        .orderBy(col("dq").desc, col("vec_id"))
        .limit(10)
        .select("vec_id")
      val shortlist = adcRanked(s, d).limit(RerankShortlist).select("vec_id")
      // Rerank: exact dot over the shortlist only — the shortlist ids
      // broadcast back against the vector table (at scale: a 50-row
      // semi-join, never a second corpus scan for scoring).
      val reranked = exactTop10(e.join(broadcast(shortlist), Seq("vec_id")))
      val brute = exactTop10(e.filter(col("vec_id") =!= 0))
      reranked
        .join(brute, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(10).as("k"), col("n_hit"),
          round6(col("n_hit") / lit(10.0)).as("recall"),
          (col("n_hit") >= RecallFloorHits).as("recall_ok"))
    })
  )

  /** The ADC scan, ranked: probe LUT as one broadcast array row, score =
    * eight codegen'd fixed-index array reads summed in ascending-m
    * order, ordered (rounded adc DESC, vec_id). Callers limit() to 10
    * (sim_pq_adc) or [[RerankShortlist]] (sim_pq_recall). */
  private def adcRanked(s: SparkSession, d: String): DataFrame = {
    val qsubs = PqCodebook.subVectors(
        SimilarityQueries.vecs(s, d).filter(col("vec_id") === 0))
      .select(col("m"), col("sub").as("qsub"))
    val lut = PqCodebook.codebook(s, d)
      .join(broadcast(qsubs), Seq("m"))
      .withColumn("part", dot(col("qsub"), col("w")))
      .select((col("m") * PqCodebook.K + col("cid")).as("idx"), col("part"))
      .agg(expr("transform(array_sort(collect_list(struct(idx, part))), s -> s.part)")
        .as("lut"))
    val adc = (0 until PqCodebook.M)
      .map(m => expr(s"lut[$m * ${PqCodebook.K} + codes[$m]]"))
      .reduce(_ + _)
    pqCodes(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(lut))
      .withColumn("adc", adc)
      .select(col("vec_id"), round6(col("adc")).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
  }

  private def subDotSql(a: String, b: String) =
    s"list_reduce(list_transform(range(${PqCodebook.SubDim}), i -> $a[i + 1] * $b[i + 1]), (x, y) -> x + y)"

  /** The shared encode CTE chain: codebook read from the staged bytes,
    * vectors sliced into subspaces, d² scored, argmin coded — the SQL
    * twin of [[pqCodes]]. */
  private def pqCte(dataDir: String) =
    s"""e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        cb AS (SELECT m, cid, w,
                      list_reduce(list_transform(w, x -> x * x), (a, b) -> a + b) AS cc
               FROM read_parquet('${PqCodebook.stagePath(dataDir)}/*.parquet')),
        subs AS (SELECT vec_id, t.m AS m,
                        list_transform(range(${PqCodebook.SubDim}),
                          i -> v[t.m * ${PqCodebook.SubDim} + i + 1]) AS sub
                 FROM e CROSS JOIN range(${PqCodebook.M}) t(m)),
        subn AS (SELECT vec_id, m, sub,
                        list_reduce(list_transform(sub, x -> x * x), (a, b) -> a + b) AS xx
                 FROM subs),
        scored AS (SELECT s.vec_id, s.m, c.cid,
                          s.xx + c.cc - 2 * ${subDotSql("s.sub", "c.w")} AS d2
                   FROM subn s JOIN cb c ON s.m = c.m),
        codes AS (SELECT vec_id, m, cid AS code FROM (
                    SELECT vec_id, m, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rk
                    FROM scored) WHERE rk = 1)"""

  /** The ADC CTE chain on top of [[pqCte]]: probe LUT, per-vector parts,
    * ascending-m left-fold sum — the SQL twin of sim_pq_adc's plan. */
  private def adcCte =
    s"""lut AS (SELECT s.m, c.cid, ${subDotSql("s.sub", "c.w")} AS part
               FROM subn s JOIN cb c ON s.m = c.m WHERE s.vec_id = 0),
        parts AS (SELECT k.vec_id, k.m, l.part
                  FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.cid
                  WHERE k.vec_id <> 0),
        adcs AS (SELECT vec_id, list_reduce(list(part ORDER BY m), (a, b) -> a + b) AS adc
                 FROM parts GROUP BY vec_id)"""

  override def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "sim_pq_codes" ->
      s"""WITH ${pqCte(dataDir)}
          SELECT e.label, CAST(COUNT(DISTINCT k.vec_id) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT CAST(k.m AS VARCHAR) || ':' || CAST(k.code AS VARCHAR)) AS BIGINT)
                   AS n_codewords,
                 CAST(SUM(${PortableHash.h60pSql(
                   "CAST(k.vec_id AS VARCHAR) || '|' || CAST(k.m AS VARCHAR) || '|' || CAST(k.code AS VARCHAR)")})
                   AS BIGINT) AS checksum
          FROM codes k JOIN e ON k.vec_id = e.vec_id
          GROUP BY e.label ORDER BY e.label""",
    "sim_pq_adc" ->
      s"""WITH ${pqCte(dataDir)},
            $adcCte
          SELECT vec_id, FLOOR(adc * 1000000 + 0.5) / 1000000 AS adc
          FROM adcs ORDER BY adc DESC, vec_id LIMIT 10""",
    "sim_pq_recall" ->
      s"""WITH ${pqCte(dataDir)},
            $adcCte,
            shortlist AS (SELECT vec_id FROM adcs
                          ORDER BY FLOOR(adc * 1000000 + 0.5) / 1000000 DESC, vec_id
                          LIMIT $RerankShortlist),
            probe AS (SELECT v FROM e WHERE vec_id = 0),
            reranked AS (SELECT a.vec_id,
                                list_reduce(list_transform(range(64), i -> a.v[i + 1] * p.v[i + 1]),
                                  (x, y) -> x + y) AS dq
                         FROM e a JOIN shortlist USING (vec_id), probe p
                         ORDER BY dq DESC, a.vec_id LIMIT 10),
            brute AS (SELECT a.vec_id,
                             list_reduce(list_transform(range(64), i -> a.v[i + 1] * p.v[i + 1]),
                               (x, y) -> x + y) AS dq
                      FROM e a, probe p WHERE a.vec_id <> 0
                      ORDER BY dq DESC, a.vec_id LIMIT 10),
            hitn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
                     FROM reranked JOIN brute USING (vec_id))
          SELECT 10 AS k, n_hit,
                 FLOOR(n_hit / 10.0 * 1000000 + 0.5) / 1000000 AS recall,
                 n_hit >= $RecallFloorHits AS recall_ok
          FROM hitn"""
  )

  val oracleSql: Map[String, String] = oracleSqlFor(graft.Stage.GateDir)
}
