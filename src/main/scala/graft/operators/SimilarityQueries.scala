package graft.operators

import graft.{QueryPack, Tables}
import graft.Portable.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (north star, BASELINE.json).
  *
  * Two paths:
  *  - `sim_topk_brute`: exact top-k cosine against a probe vector. Linear
  *    scan, broadcast probe, TakeOrderedAndProject top-k — at 100 TB this
  *    is one pass over the vectors with no shuffle of the big side, which
  *    IS the correct exact algorithm.
  *  - `sim_ivf`: the ANN scale path — IVF over a LEARNED k-means codebook
  *    ([[IvfCodebook]]: deterministic sampled spherical k-means, staged to
  *    parquet so the DuckDB oracle reads the identical codebook bytes).
  *    Vectors are assigned to their nearest centroid once (a broadcast
  *    join + argmax, i.e. the index build); a query then probes only the
  *    [[SimilarityQueries.QueryNprobe]] closest clusters — at scale this
  *    prunes the scan to nprobe/nlist of the corpus, and the assignment
  *    doubles as a partitioning key for locality.
  *
  * Dot products use the native codegen expression graft_dot (DotProduct)
  * — fold-left order matches DuckDB `list_reduce` with per-element float→
  * double widening, so doubles are bit-identical and results hash-match.
  */
object SimilarityQueries extends QueryPack {

  private[operators] def vecs(s: SparkSession, d: String): DataFrame = {
    graft.functions.expressions.GraftFunctions.ensureRegistered(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", graft.functions.expressions.GraftFunctions.normCol(col("v")))
  }

  /** dot(v, w) via the native codegen expression graft_dot (same fold
    * order as the declarative aggregate/zip_with form; see DotProduct). */
  private def cosExpr = graft.functions.expressions.GraftFunctions.dotCol(col("v"), col("w"))

  /** Cells probed by the single-probe ANN query (`sim_ivf`) out of the 16
    * learned cells — the recall/cost knob. Round-9 verdict #2 asked for a
    * recall floor near 0.8: measured recall@10 across the three SFs is
    * 5-6/10 at nprobe=4 (the fixture embeddings are random synthetic
    * vectors — near-uniform cosine neighborhoods, the documented worst
    * case for IVF, where high recall fundamentally requires scanning a
    * large corpus fraction), 6-7 at nprobe=6, and 7-9 at nprobe=8. 8 is
    * the knee on this fixture; real clustered embeddings reach the same
    * recall at far smaller nprobe/nlist. */
  val QueryNprobe = 8

  /** sim_ivf_recall's gate: recall@10 ≥ [[RecallFloorHits]]/10. Set to the
    * measured cross-SF minimum at nprobe=[[QueryNprobe]] (deterministic —
    * fixed fixture, deterministic codebook — so the floor is exact, not a
    * noise band): a codebook/probe regression that costs even one hit at
    * any SF fails the gate. */
  val RecallFloorHits = 7

  /** The IVF index build shared by sim_knn_ivf, sim_knn_ivf2 and
    * dedup_embed_ivf: score every vector against the 16 learned k-means
    * centroids ([[IvfCodebook]] — staged to parquet so the DuckDB oracle
    * reads the identical codebook bytes) and keep its `nprobe` nearest
    * cells. Returns (vec_id, v, nrm, cluster, rk ≤ nprobe), lazily
    * checkpointed so every consumer of the assignment shares one
    * materialization. Tie-break (ccos DESC, cid) and nprobe semantics
    * live HERE — the three queries' DuckDB oracles replicate this block,
    * so a change must touch this helper and the oracle CTEs together. */
  // The checkpointed nprobe=2 assignment is a [[Tables.derived]] frame
  // per (session, dir) — the IVF "index" is built once and shared by
  // sim_knn_ivf, sim_knn_ivf2 and dedup_embed_ivf, like the near-dup
  // pair index; nprobe=1 consumers filter rk = 1 off the shared frame,
  // which also reuses its materialized blocks.
  private[operators] def ivfScoredAssignment(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= 2,
      s"shared IVF index keeps rk <= 2 (and nprobe=0 probes nothing), asked for nprobe=$nprobe")
    val full = Tables.derived(s, d, "ivf2") {
      val e = vecs(s, d)
      val cent = IvfCodebook.centroids(s, d)
      val byVec = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
      e.crossJoin(broadcast(cent))
        .withColumn("ccos", cosExpr / (col("nrm") * col("wnrm")))
        .withColumn("rk", row_number().over(byVec))
        .filter(col("rk") <= 2)
        .select(col("vec_id"), col("v"), col("nrm"), col("cid").as("cluster"), col("rk"))
        .localCheckpoint(eager = false)
    }
    if (nprobe == 2) full else full.filter(col("rk") <= nprobe)
  }

  val queries: Map[String, Q] = Map(
    // Exact brute-force top-k against probe vec_id=0.
    "sim_topk_brute" -> ((s, d) => {
      val e = vecs(s, d)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("v").as("w"), col("nrm").as("wnrm"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("cos", cosExpr / (col("nrm") * col("wnrm")))
        .select(col("vec_id"), round6(col("cos")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // IVF: assign every vector to nearest of the 16 learned k-means
    // centroids; probe the QueryNprobe clusters nearest the query; exact
    // search within them. The assignment comes off the shared cached index
    // (one build for sim_ivf, sim_knn_ivf, sim_knn_ivf2 and dedup_embed_ivf).
    "sim_ivf" -> ((s, d) => {
      val e = vecs(s, d)
      val cent = IvfCodebook.centroids(s, d)
      val assigned = ivfScoredAssignment(s, d, nprobe = 1).drop("rk")
      // Query: probe = vec_id 0; its QueryNprobe nearest centroids.
      val probeClusters = e.filter(col("vec_id") === 0)
        .crossJoin(broadcast(cent))
        .withColumn("ccos", cosExpr / (col("nrm") * col("wnrm")))
        .orderBy(col("ccos").desc, col("cid"))
        .limit(QueryNprobe)
        .select(col("cid").as("cluster"))
      val probeVec = e.filter(col("vec_id") === 0)
        .select(col("v").as("w"), col("nrm").as("wnrm"))
      assigned
        .join(broadcast(probeClusters), "cluster")
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probeVec))
        .withColumn("cos", cosExpr / (col("nrm") * col("wnrm")))
        .select(col("vec_id"), col("cluster"), round6(col("cos")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // kNN self-join, brute baseline: each vector's single nearest
    // neighbor over all pairs. Kept as the exact-recall VERIFICATION
    // baseline; the declared scale path is sim_knn_ivf below (same
    // output shape, blocked by IVF cell).
    "sim_knn_join" -> ((s, d) => {
      val a = vecs(s, d).select(col("vec_id").as("qid"), col("v"), col("nrm"))
      val b = vecs(s, d).select(col("vec_id").as("cid2"), col("v").as("w"), col("nrm").as("wnrm"))
      // argmax via max(struct(cos, -id)): map-side partial aggregation
      // ships ONE candidate per vector per partition — a ranking window
      // here would shuffle every one of the n² scored pairs instead.
      // (-id ⇒ ties broken toward the smallest neighbor id, matching the
      // oracle's ORDER BY cos DESC, nn_id.)
      a.join(b, col("qid") =!= col("cid2"))
        .withColumn("cos", cosExpr / (col("nrm") * col("wnrm")))
        .groupBy("qid")
        .agg(max(struct(col("cos"), (-col("cid2")).as("negid"))).as("m"))
        .select(col("qid").as("vec_id"), (-col("m.negid")).as("nn_id"),
          round6(col("m.cos")).as("cos"))
        .orderBy("vec_id")
    }),

    // kNN join, scale path: nearest neighbor WITHIN each vector's IVF
    // cell. The sim_ivf cluster assignment is the blocking key, so the
    // join is an equi-join on `cluster` (shuffle-hash/sort-merge on the
    // cell id — Σ cells², never corpus²) and the argmax partial-aggregates
    // map-side exactly like the brute twin. The assignment is
    // localCheckpoint()ed: it is the "index build" — materialized once,
    // not recomputed per join side. Vectors alone in their cell have no
    // candidate and drop out (standard IVF semantics; the oracle
    // replicates the same blocked computation).
    "sim_knn_ivf" -> ((s, d) => {
      val assigned = ivfScoredAssignment(s, d, nprobe = 1).drop("rk")
      val a = assigned.select(col("cluster"), col("vec_id").as("qid"), col("v"), col("nrm"))
      val b = assigned.select(col("cluster"), col("vec_id").as("cid2"),
        col("v").as("w"), col("nrm").as("wnrm"))
      a.join(b, Seq("cluster"))
        .filter(col("qid") =!= col("cid2"))
        .withColumn("cos", cosExpr / (col("nrm") * col("wnrm")))
        .groupBy("qid", "cluster")
        .agg(max(struct(col("cos"), (-col("cid2")).as("negid"))).as("m"))
        .select(col("qid").as("vec_id"), col("cluster"),
          (-col("m.negid")).as("nn_id"), round6(col("m.cos")).as("cos"))
        .orderBy("vec_id")
    }),

    // HARD-NEGATIVE MINING — the contrastive-training data op (the
    // "hard negatives" every retrieval/embedding trainer mines): for
    // each vector, the highest-cosine candidate with a DIFFERENT label
    // — semantically close yet labeled apart, exactly what the loss
    // needs. Same scale shape as sim_knn_ivf (IVF-cell equi-join, never
    // corpus², map-side argmax via max(struct)) with the label
    // inequality inside the join filter, so mismatched-label pruning
    // happens before the aggregate. Vectors whose cell holds no
    // other-label candidate drop out (standard mining semantics; the
    // oracle replays the same blocked computation).
    "sim_hard_negatives" -> ((s, d) => {
      val assigned = ivfScoredAssignment(s, d, nprobe = 1).drop("rk")
        .join(vecs(s, d).select(col("vec_id"), col("label")), Seq("vec_id"))
      val a = assigned.select(col("cluster"), col("vec_id").as("qid"),
        col("label").as("qlab"), col("v"), col("nrm"))
      val b = assigned.select(col("cluster"), col("vec_id").as("cid2"),
        col("label").as("clab"), col("v").as("w"), col("nrm").as("wnrm"))
      a.join(b, Seq("cluster"))
        .filter(col("qid") =!= col("cid2") && col("qlab") =!= col("clab"))
        .withColumn("cos", cosExpr / (col("nrm") * col("wnrm")))
        .groupBy("qid")
        .agg(max(struct(col("cos"), (-col("cid2")).as("negid"))).as("m"))
        .select(col("qid").as("vec_id"), (-col("m.negid")).as("neg_id"),
          round6(col("m.cos")).as("cos"))
        .orderBy("vec_id")
    }),

    // The PERSISTED-index deployment path for IVF kNN: the scored
    // assignment is written ONCE as a parquet table bucketed on
    // `cluster` (FileSources.writeBucketed — build offline, amortized
    // across probes), and the probe is a self-join of two reads of that
    // table: both sides arrive pre-partitioned AND pre-sorted on the
    // join key, so with broadcast off the join plans as a zero-exchange
    // sort-merge (the BucketingSpec shape) — at 100 TB the index build
    // pays the one shuffle and every subsequent probe pays none.
    // Semantics are IDENTICAL to sim_knn_ivf (same oracle SQL): this
    // gate pins that the layout round-trip changes nothing.
    "sim_knn_bucketed" -> ((s, d) => {
      val tbl = graft.sources.FileSources.dirKeyedTable("graft_ivf_idx", d)
      val assigned = ivfScoredAssignment(s, d, nprobe = 1).drop("rk")
        .select(col("cluster"), col("vec_id"), col("v"), col("nrm"))
      graft.sources.FileSources.ensureBucketed(assigned, tbl, 8, Seq("cluster"),
        Some(graft.sources.FileSources.tableFingerprint(d, Seq("embeddings"))))
      val idx = s.table(tbl)
      val a = idx.select(col("cluster"), col("vec_id").as("qid"), col("v"), col("nrm"))
      val b = idx.select(col("cluster"), col("vec_id").as("cid2"),
        col("v").as("w"), col("nrm").as("wnrm"))
      a.join(b, Seq("cluster"))
        .filter(col("qid") =!= col("cid2"))
        .withColumn("cos", cosExpr / (col("nrm") * col("wnrm")))
        .groupBy("qid", "cluster")
        .agg(max(struct(col("cos"), (-col("cid2")).as("negid"))).as("m"))
        .select(col("qid").as("vec_id"), col("cluster"),
          (-col("m.negid")).as("nn_id"), round6(col("m.cos")).as("cos"))
        .orderBy("vec_id")
    }),

    // IVF index MAINTENANCE — the ANN write-back loop sim_knn_bucketed
    // builds its index FOR but never exercises: build the bucketed
    // assignment table fresh (writeBucketed — idempotent across runs,
    // separate dir-keyed name so the maintained sibling table is never
    // contaminated), assign a constructed arriving batch of NEW vectors
    // to cells against the SAME staged centroids, APPEND the batch
    // assignment into the table (FileSources.appendBucketed — the
    // per-ingest production write), then probe the batch against the
    // UPDATED index. The batch is each 10th vector NEGATED and re-keyed:
    // negation keeps the norm bit-identical while giving a
    // deterministic, generally different cell. Audit lines pin all three
    // states: batch_assigned (cell routing), batch_nn (nearest neighbor
    // within the updated cell — a skipped append loses batch-vs-batch
    // neighbors), index_after (rows + id|cell checksum — a double
    // append breaks it). The oracle recomputes everything from scratch.
    // Scale shape: batch×16 broadcast assignment, one batch-sized
    // bucketed append, probe reads the corpus side exchange-free from
    // its buckets (plan-pinned in SkewAndBucketingSpec) — only the
    // small batch shuffles.
    "sim_knn_indexed_update" -> ((s, d) => {
      import graft.sources.FileSources
      val tbl = FileSources.dirKeyedTable("graft_ivf_upd_idx", d)
      val assigned = ivfScoredAssignment(s, d, nprobe = 1).drop("rk")
        .select(col("cluster"), col("vec_id"), col("v"), col("nrm"))
      FileSources.writeBucketed(assigned, tbl, 8, Seq("cluster"))
      val cent = IvfCodebook.centroids(s, d)
      val byVec = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
      val batch = vecs(s, d).filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(v, x -> -x)").as("v"), col("nrm"))
      // Eagerly checkpointed: re-used for the append, the probe side and
      // the audit line — one evaluation of the assignment window.
      val batchAsg = batch.crossJoin(broadcast(cent))
        .withColumn("ccos", cosExpr / (col("nrm") * col("wnrm")))
        .withColumn("rk", row_number().over(byVec))
        .filter(col("rk") === 1)
        .select(col("cid").as("cluster"), col("vec_id"), col("v"), col("nrm"))
        .localCheckpoint(true)
      FileSources.appendBucketed(batchAsg, tbl, 8, Seq("cluster"))
      val cands = s.table(tbl).select(col("cluster"), col("vec_id").as("cid2"),
        col("v").as("w"), col("nrm").as("wnrm"))
      val nn = batchAsg
        .select(col("cluster"), col("vec_id").as("qid"), col("v"), col("nrm"))
        .join(cands, Seq("cluster"))
        .filter(col("qid") =!= col("cid2"))
        .withColumn("cos", cosExpr / (col("nrm") * col("wnrm")))
        .groupBy("qid")
        .agg(max(struct(col("cos"), (-col("cid2")).as("negid"))).as("m"))
        .select(col("qid"), (-col("m.negid")).as("nn_id"))
      def phaseRow(name: String, df: DataFrame, keyCol: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(graft.functions.PortableHash.h60p(keyCol)), lit(0L))
              .as("checksum"))
          .select(lit(name).as("phase"), col("n_rows"), col("checksum"))
      phaseRow("batch_assigned", batchAsg,
          concat(col("vec_id").cast("string"), lit("|"), col("cluster").cast("string")))
        .unionByName(phaseRow("batch_nn", nn,
          concat(col("qid").cast("string"), lit("|"), col("nn_id").cast("string"))))
        .unionByName(phaseRow("index_after", s.table(tbl),
          concat(col("vec_id").cast("string"), lit("|"), col("cluster").cast("string"))))
        .orderBy("phase")
    }),

    // kNN join, nprobe=2: recall knob over sim_knn_ivf. A vector near a
    // cell boundary gets a worse-than-brute neighbor when only its own
    // cell is searched; probing the second-nearest cell too recovers most
    // of that recall (asserted vs the brute baseline in
    // SimilarityRecallSpec) at exactly 2× the candidate cost — still
    // Σ cells², never corpus². One scored-assignment pass (rk ≤ 2,
    // lazily checkpointed) feeds both the probe side (both cells) and the
    // candidate side (residents, rk = 1), so the index builds once.
    "sim_knn_ivf2" -> ((s, d) => {
      val scored = ivfScoredAssignment(s, d, nprobe = 2)
      val a = scored.select(col("cluster"), col("vec_id").as("qid"), col("v"), col("nrm"))
      val b = scored.filter(col("rk") === 1)
        .select(col("cluster"), col("vec_id").as("cid2"),
          col("v").as("w"), col("nrm").as("wnrm"))
      // Pairs are unique (a resident lives in exactly one cell; the two
      // probe cells are distinct), so a plain argmax over the union of
      // both cells' candidates is the per-vector answer.
      a.join(b, Seq("cluster"))
        .filter(col("qid") =!= col("cid2"))
        .withColumn("cos", cosExpr / (col("nrm") * col("wnrm")))
        .groupBy("qid")
        .agg(max(struct(col("cos"), (-col("cid2")).as("negid"))).as("m"))
        .select(col("qid").as("vec_id"), (-col("m.negid")).as("nn_id"),
          round6(col("m.cos")).as("cos"))
        .orderBy("vec_id")
    }),

    // IVF QUALITY gate (q_hll's bounded-error pattern): recall@10 of the
    // ANN path (sim_ivf) against the exact brute top-10 (sim_topk_brute),
    // driver-checked every round — so a codebook regression that still
    // produces deterministic-but-lopsided cells fails the gate even though
    // sim_ivf itself would keep hash-matching its own (degraded) oracle.
    // Both top-10 sets are independently hash-gated queries, so the
    // intersection count is deterministic cross-engine. The floor is the
    // measured cross-SF minimum at nprobe=QueryNprobe (see the constants'
    // scaladoc for the full measured nprobe→recall curve on this
    // worst-case random-vector fixture); a broken/lopsided codebook
    // degenerates toward the QueryNprobe/16 random-scan rate.
    "sim_ivf_recall" -> ((s, d) => {
      val brute = queries("sim_topk_brute")(s, d).select("vec_id")
      val ivf = queries("sim_ivf")(s, d).select("vec_id")
      ivf.join(brute, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(10).as("k"), col("n_hit"),
          round6(col("n_hit") / lit(10.0)).as("recall"),
          (col("n_hit") >= RecallFloorHits).as("recall_ok"))
    }),

    // Int8 quantization audit: per-vector symmetric scale (127/max|x|),
    // round-trip each component, report the worst reconstruction error
    // per label — the compression-loss check an embedding pipeline runs
    // before shipping a quantized index. Map-only elementwise math; only
    // order-independent aggregates (min/max/count) so doubles stay
    // bit-identical cross-engine.
    "embed_quantize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("amax", array_max(expr("transform(v, x -> abs(x))")))
        .filter(col("amax") > 0)
        .withColumn("sc", lit(127.0) / col("amax"))
        .withColumn("err", array_max(expr(
          "transform(v, x -> abs(floor(x * sc + 0.5) / sc - x))")))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round6(max("err")).as("max_err"),
          round6(min("err")).as("min_err"))
        .orderBy("label")),

    // Per-label centroid-free stats: mean norm and count — the "index
    // statistics" pass a vector pipeline needs (and a pure agg over arrays).
    "sim_label_stats" -> ((s, d) =>
      vecs(s, d)
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          round6(avg("nrm")).as("avg_norm"),
          round6(min("nrm")).as("min_norm"),
          round6(max("nrm")).as("max_norm"))
        .orderBy("label"))
  )

  private val vecsSqlCte =
    """e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
       n AS (SELECT vec_id, label, v,
                    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
             FROM e)"""

  private def cosSql(av: String, bv: String) =
    s"list_reduce(list_transform(range(64), i -> $av[i + 1] * $bv[i + 1]), (x, y) -> x + y)"

  /** The learned-codebook CTE: the oracle reads the SAME staged parquet
    * the Spark plans read ([[IvfCodebook.stagePath]]), so both engines see
    * identical centroid bytes — the fit itself is not re-derived in SQL. */
  private[operators] def centSqlCte(dataDir: String) =
    s"cent AS (SELECT cid, w, wnrm FROM read_parquet('${IvfCodebook.stagePath(dataDir)}/*.parquet'))"

  private def knnIvfSql(dataDir: String): String =
    s"""WITH $vecsSqlCte,
            ${centSqlCte(dataDir)},
            asg AS (SELECT vec_id, v, nrm, cid AS cluster FROM (
                      SELECT a.vec_id, a.v, a.nrm, c.cid,
                             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                               ORDER BY ${cosSql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                      FROM n a, cent c) WHERE rk = 1),
            pairs AS (SELECT a.vec_id, a.cluster, b.vec_id AS nn_id,
                             ${cosSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
                      FROM asg a JOIN asg b
                        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
            ranked AS (SELECT vec_id, cluster, nn_id, cos,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, nn_id) AS rk
                       FROM pairs)
          SELECT vec_id, cluster, nn_id, FLOOR(cos*1000000 + 0.5)/1000000 AS cos
          FROM ranked WHERE rk = 1 ORDER BY vec_id"""

  override def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "sim_topk_brute" ->
      s"""WITH $vecsSqlCte,
            probe AS (SELECT v, nrm FROM n WHERE vec_id = 0),
            scored AS (SELECT a.vec_id, ${cosSql("a.v", "p.v")} / (a.nrm * p.nrm) AS cos
                       FROM n a, probe p WHERE a.vec_id <> 0)
          SELECT vec_id, FLOOR(cos*1000000 + 0.5)/1000000 AS cos FROM scored
          ORDER BY cos DESC, vec_id LIMIT 10""",
    "sim_ivf" ->
      s"""WITH $vecsSqlCte,
            ${centSqlCte(dataDir)},
            asg AS (SELECT vec_id, v, nrm, cid AS cluster FROM (
                      SELECT a.vec_id, a.v, a.nrm, c.cid,
                             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                               ORDER BY ${cosSql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                      FROM n a, cent c) WHERE rk = 1),
            pc AS (SELECT c.cid AS cluster
                   FROM n a, cent c WHERE a.vec_id = 0
                   ORDER BY ${cosSql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid LIMIT $QueryNprobe),
            probe AS (SELECT v AS w, nrm AS wnrm FROM n WHERE vec_id = 0),
            hits AS (SELECT a.vec_id, a.cluster,
                            ${cosSql("a.v", "p.w")} / (a.nrm * p.wnrm) AS cos
                     FROM asg a JOIN pc ON a.cluster = pc.cluster, probe p
                     WHERE a.vec_id <> 0)
          SELECT vec_id, cluster, FLOOR(cos*1000000 + 0.5)/1000000 AS cos FROM hits
          ORDER BY cos DESC, vec_id LIMIT 10""",
    "sim_knn_join" ->
      s"""WITH $vecsSqlCte,
            pairs AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
                             ${cosSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
                      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
            ranked AS (SELECT vec_id, nn_id, cos,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, nn_id) AS rk
                       FROM pairs)
          SELECT vec_id, nn_id, FLOOR(cos*1000000 + 0.5)/1000000 AS cos
          FROM ranked WHERE rk = 1 ORDER BY vec_id""",
    "sim_knn_ivf" -> knnIvfSql(dataDir),
    "sim_hard_negatives" ->
      s"""WITH $vecsSqlCte,
            ${centSqlCte(dataDir)},
            asg AS (SELECT vec_id, label, v, nrm, cid AS cluster FROM (
                      SELECT a.vec_id, a.label, a.v, a.nrm, c.cid,
                             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                               ORDER BY ${cosSql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                      FROM n a, cent c) WHERE rk = 1),
            pairs AS (SELECT a.vec_id, b.vec_id AS neg_id,
                             ${cosSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
                      FROM asg a JOIN asg b
                        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
                           AND a.label <> b.label),
            ranked AS (SELECT vec_id, neg_id, cos,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, neg_id) AS rk
                       FROM pairs)
          SELECT vec_id, neg_id, FLOOR(cos*1000000 + 0.5)/1000000 AS cos
          FROM ranked WHERE rk = 1 ORDER BY vec_id""",
    // Identical SQL on purpose: the bucketed-table round-trip must be
    // result-invariant — only the physical layout (and the probe plan's
    // exchange count) differs.
    "sim_knn_bucketed" -> knnIvfSql(dataDir),
    // Recomputes the whole maintenance loop from scratch: corpus
    // assignment, batch construction (negated 10th vectors, re-keyed,
    // norm reused — negation is exact in IEEE), batch assignment over
    // the same staged centroids, the UNION that models the post-append
    // index, and the batch kNN within updated cells.
    "sim_knn_indexed_update" ->
      s"""WITH $vecsSqlCte,
            ${centSqlCte(dataDir)},
            asg AS (SELECT vec_id, v, nrm, cid AS cluster FROM (
                      SELECT a.vec_id, a.v, a.nrm, c.cid,
                             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                               ORDER BY ${cosSql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                      FROM n a, cent c) WHERE rk = 1),
            bat AS (SELECT vec_id + 1000000 AS vec_id,
                           list_transform(v, x -> -x) AS v, nrm
                    FROM n WHERE vec_id % 10 = 0),
            basg AS (SELECT vec_id, v, nrm, cid AS cluster FROM (
                       SELECT b.vec_id, b.v, b.nrm, c.cid,
                              ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                ORDER BY ${cosSql("b.v", "c.w")} / (b.nrm * c.wnrm) DESC, c.cid) AS rk
                       FROM bat b, cent c) WHERE rk = 1),
            upd AS (SELECT vec_id, v, nrm, cluster FROM asg
                    UNION ALL
                    SELECT vec_id, v, nrm, cluster FROM basg),
            pairs AS (SELECT p.vec_id AS qid, u.vec_id AS nn_id,
                             ${cosSql("p.v", "u.v")} / (p.nrm * u.nrm) AS cos
                      FROM basg p JOIN upd u
                        ON p.cluster = u.cluster AND p.vec_id <> u.vec_id),
            nn AS (SELECT qid, nn_id FROM (
                     SELECT qid, nn_id,
                            ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos DESC, nn_id) AS rk
                     FROM pairs) WHERE rk = 1)
          SELECT 'batch_assigned' AS phase, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COALESCE(SUM(${graft.functions.PortableHash.h60pSql(
                   "CAST(vec_id AS VARCHAR) || '|' || CAST(cluster AS VARCHAR)")}), 0) AS BIGINT) AS checksum
          FROM basg
          UNION ALL
          SELECT 'batch_nn', CAST(COUNT(*) AS BIGINT),
                 CAST(COALESCE(SUM(${graft.functions.PortableHash.h60pSql(
                   "CAST(qid AS VARCHAR) || '|' || CAST(nn_id AS VARCHAR)")}), 0) AS BIGINT)
          FROM nn
          UNION ALL
          SELECT 'index_after', CAST(COUNT(*) AS BIGINT),
                 CAST(COALESCE(SUM(${graft.functions.PortableHash.h60pSql(
                   "CAST(vec_id AS VARCHAR) || '|' || CAST(cluster AS VARCHAR)")}), 0) AS BIGINT)
          FROM upd
          ORDER BY phase""",
    "sim_knn_ivf2" ->
      s"""WITH $vecsSqlCte,
            ${centSqlCte(dataDir)},
            sc AS (SELECT a.vec_id, a.v, a.nrm, c.cid AS cluster,
                          ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY ${cosSql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                   FROM n a, cent c),
            probes AS (SELECT vec_id, v, nrm, cluster FROM sc WHERE rk <= 2),
            asg AS (SELECT vec_id, v, nrm, cluster FROM sc WHERE rk = 1),
            pairs AS (SELECT a.vec_id, b.vec_id AS nn_id,
                             ${cosSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
                      FROM probes a JOIN asg b
                        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
            ranked AS (SELECT vec_id, nn_id, cos,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, nn_id) AS rk
                       FROM pairs)
          SELECT vec_id, nn_id, FLOOR(cos*1000000 + 0.5)/1000000 AS cos
          FROM ranked WHERE rk = 1 ORDER BY vec_id""",
    // The exact top-10 (brute CTE) and the IVF top-10 (sim_ivf's CTEs)
    // recomputed side by side; the checked value is their intersection
    // size — DuckDB computes exact top-k over list cosine like the
    // sim_topk_brute oracle.
    "sim_ivf_recall" ->
      s"""WITH $vecsSqlCte,
            ${centSqlCte(dataDir)},
            asg AS (SELECT vec_id, v, nrm, cid AS cluster FROM (
                      SELECT a.vec_id, a.v, a.nrm, c.cid,
                             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                               ORDER BY ${cosSql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                      FROM n a, cent c) WHERE rk = 1),
            pc AS (SELECT c.cid AS cluster
                   FROM n a, cent c WHERE a.vec_id = 0
                   ORDER BY ${cosSql("a.v", "c.w")} / (a.nrm * c.wnrm) DESC, c.cid LIMIT $QueryNprobe),
            probe AS (SELECT v AS w, nrm AS wnrm FROM n WHERE vec_id = 0),
            ivf AS (SELECT a.vec_id,
                           ${cosSql("a.v", "p.w")} / (a.nrm * p.wnrm) AS cos
                    FROM asg a JOIN pc ON a.cluster = pc.cluster, probe p
                    WHERE a.vec_id <> 0
                    ORDER BY cos DESC, a.vec_id LIMIT 10),
            brute AS (SELECT a.vec_id,
                             ${cosSql("a.v", "p.w")} / (a.nrm * p.wnrm) AS cos
                      FROM n a, probe p WHERE a.vec_id <> 0
                      ORDER BY cos DESC, a.vec_id LIMIT 10),
            hitn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
                     FROM ivf JOIN brute USING (vec_id))
          SELECT 10 AS k, n_hit,
                 FLOOR(n_hit / 10.0 * 1000000 + 0.5)/1000000 AS recall,
                 n_hit >= $RecallFloorHits AS recall_ok
          FROM hitn""",
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
            a AS (SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS amax
                  FROM e),
            q AS (SELECT label,
                         list_max(list_transform(v,
                           x -> abs(FLOOR(x * (127.0 / amax) + 0.5) / (127.0 / amax) - x))) AS err
                  FROM a WHERE amax > 0)
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                 FLOOR(MAX(err)*1000000 + 0.5)/1000000 AS max_err,
                 FLOOR(MIN(err)*1000000 + 0.5)/1000000 AS min_err
          FROM q GROUP BY label ORDER BY label""",
    "sim_label_stats" ->
      s"""WITH $vecsSqlCte
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                 FLOOR(AVG(nrm)*1000000 + 0.5)/1000000 AS avg_norm,
                 FLOOR(MIN(nrm)*1000000 + 0.5)/1000000 AS min_norm,
                 FLOOR(MAX(nrm)*1000000 + 0.5)/1000000 AS max_norm
          FROM n GROUP BY label ORDER BY label"""
  )

  val oracleSql: Map[String, String] = oracleSqlFor(graft.Stage.GateDir)
}
