package graft.operators

import graft.{QueryPack, Stage, Tables}
import graft.Portable.round6
import graft.functions.PortableHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Deduplication operators for LLM-data pipelines (north star, BASELINE.json):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB): none of these ever compares all O(n²) pairs of a
  * corpus. Candidates come from equi-join-able bucket keys —
  *  - MinHash: banded signatures (b=16 bands × r=2 rows over 32 seeded
  *    hashes). Pair recall at Jaccard s is 1-(1-s²)^16 (≈1-2e-5 at s=0.7,
  *    ≈1-3e-12 at the observed pair similarity ≥0.9),
  *    and a verify join computes TRUE Jaccard on candidates only, so the
  *    output equals brute force with overwhelming probability while the
  *    plan is a shuffle-join on band keys (linear in corpus + candidates).
  *  - SimHash: 60-bit signature split into 4×15-bit chunks; any pair at
  *    hamming ≤ 3 shares a chunk by pigeonhole → candidate recall is EXACT,
  *    then verify with bit_count(xor).
  *  - Embedding near-dup: blocked by `label` (at scale: by coarse
  *    quantization / LSH bucket), pairwise only within blocks.
  * All hashes are md5-derived (PortableHash) so every query here is
  * DuckDB-oracle-checkable — engine-native hashes would make results
  * unverifiable.
  */
object DedupQueries extends QueryPack {

  /** Word 3-gram shingle set (distinct), for docs with ≥ 3 tokens,
    * exploded WITH the set size carried on every row — callers join on the
    * shingle and read na/nb off the matched rows instead of re-deriving
    * sizes from extra shingle-subtree evaluations (which cost a full
    * text-parse pass each).
    *
    * Implemented as a typed flatMap: the declarative equivalent
    * (array_distinct ∘ transform(sequence(...)) ∘ explode) evaluates its
    * lambda via the INTERPRETED expression path (higher-order functions
    * don't participate in whole-stage codegen) and measured ~10× slower
    * (3.5-5 s vs 0.4 s per pass at sf0.1). This is the documented escape
    * hatch (SURVEY.md §7.0): per-partition imperative logic where
    * builtins genuinely can't hit the required speed. Output is identical
    * to the DuckDB twin: list_distinct(list_transform(range(len(toks)-2),
    *   i -> array_to_string(list_slice(toks, i+1, i+3), ' '))).
    */
  def shingleFrame(s: SparkSession, d: String, idName: String,
                           shName: String, nName: String): DataFrame =
    shingleFrameOf(s, Tables.documents(s, d), idName, shName, nName)

  private[graft] def shingleFrameOf(s: SparkSession, docs: DataFrame, idName: String,
                             shName: String, nName: String): DataFrame = {
    import s.implicits._
    docs
      .select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val set = shingleSet(text)
        val n = set.size
        set.asScala.iterator.map(sh => (id, n, sh))
      }
      .toDF(idName, nName, shName)
  }

  /** True Jaccard over candidate pairs (da, db) — the verify step for the
    * minhash LSH candidates. Each pair is joined to both documents' text
    * by id, and ONE typed map per pair shingles both sides and counts the
    * shared shingles: (da, db, na, nb, i, jac) with na, nb the distinct
    * word 3-gram counts ([[shingleFrameOf]]'s shingles) and i the
    * intersection. A pair with no shared shingle, or with a side under 3
    * tokens, emits nothing. Verify cost scales with candidates, not
    * corpus size (the property that matters at 100 TB), and the plan is
    * two id joins — no shingle rows, no join on the shingle string. */
  def jaccardOfDocs(s: SparkSession, docs: DataFrame, cand: DataFrame): DataFrame = {
    import s.implicits._
    val text = docs.select(col("doc_id"), col("text"))
    cand.select(col("da"), col("db"))
      .join(text.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .join(text.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      .select(col("da").cast("long"), col("db").cast("long"), col("ta"), col("tb"))
      .as[(Long, Long, String, String)]
      .flatMap { case (da, db, ta, tb) =>
        val a = shingleSet(ta); val b = shingleSet(tb)
        val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
        var i = 0L
        val it = small.iterator()
        while (it.hasNext) if (big.contains(it.next())) i += 1
        if (i == 0) Iterator.empty
        else Iterator.single((da, db, a.size, b.size, i))
      }
      .toDF("da", "db", "na", "nb", "i")
      .withColumn("jac", col("i") / (col("na") + col("nb") - col("i")))
  }

  /** The distinct word 3-gram shingles of `text`, empty under 3 tokens.
    * Insertion-ordered: order is irrelevant to callers (all joins, aggs
    * and set tests), but determinism helps debugging. */
  private def shingleSet(text: String): java.util.LinkedHashSet[String] = {
    val t = if (text == null) Array.empty[String] else text.split(" ", -1)
    val set = new java.util.LinkedHashSet[String](math.max(16, t.length * 2))
    var i = 0
    while (i <= t.length - 3) {
      set.add(t(i) + " " + t(i + 1) + " " + t(i + 2)); i += 1
    }
    set
  }

  /** Prefix-filtered exact Jaccard ≥ 0.5 pairs over ANY (doc_id, text)
    * frame — the dedup_prefix_jaccard kernel (see that query's comment
    * for the algorithm and the no-false-negative argument). Returns
    * (da, db, na, nb, i, jac) for every pair at or above the threshold.
    * Exposed for PrefixJaccardSpec's crafted boundary corpora.
    *
    * Candidate pruning is full PPJoin (Bayardo et al. WWW'07 / Xiao et
    * al. WWW'08), every filter exact (no false negatives) at t = 0.5:
    *  - ASYMMETRIC PREFIX filter: docs are canonically ordered by
    *    (n, doc_id); the smaller doc x PROBES with its mid-prefix (the
    *    first nx − ceil(2t/(1+t)·nx) + 1 = nx − ceil(2nx/3) + 1 rarest
    *    shingles), the larger doc y INDEXES its standard prefix (the
    *    first ny − ceil(t·ny) + 1). Exactness is the first-common-token
    *    lemma: the globally-first common shingle w sits at rank
    *    ≤ n − o + 1 in BOTH docs (every common shingle ranks ≥ w), and
    *    a qualifying pair has o ≥ alpha = ceil(t/(1+t)·(nx+ny)) ≥
    *    ceil(2t/(1+t)·nx) and o ≥ t·ny (via the length filter), so w
    *    falls inside both joined prefixes.
    *  - LENGTH filter: jac ≤ nx/ny, so a qualifying pair needs
    *    ny ≤ 2·nx — one-sided under the canonical order, applied
    *    inside the prefix join before the pair shuffle.
    *  - POSITIONAL filter: per pair, let c = matched shingles and
    *    (ra, rb) the per-doc ranks of the LAST match in the global
    *    (df, sh) order. Any common shingle outside the matched set
    *    ranks after (ra, rb) in BOTH docs (one ranked before the last
    *    match would sit inside both joined prefixes and have matched),
    *    so overlap ≤ c + min(nx − ra, ny − rb); pairs whose bound is
    *    under alpha cannot reach jac ≥ 0.5 and skip the verify.
    * Measured at sf0.1: the r17 symmetric prefix join produced 409k
    * join rows (distinct pairs, all verified); the asymmetric probe
    * halves that to 217k join rows, and length+positional pruning
    * passes 123k pairs to the verify. Query 5.3 s (r17 artifact) →
    * 2.9 s first draw / 1.80 s three-run floor (≈1.5× the 1.23 s
    * brute DuckDB draw); the rest is the plan's ~8-exchange fixed
    * floor plus the verify join, not candidate excess (cutting verify
    * pairs 410k → 123k moved wall-clock < 0.1 s). At 10× corpus the
    * filters buy 2.1× (STRESS prefix_join_10x: 29.8 → 17.5 s,
    * bit-identical pair set). */
  private[graft] def prefixJaccardPairsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Checkpoints, not style: the shingle frame feeds the df aggregate,
    // BOTH sides of the prefix self-join and BOTH sides of the verify —
    // without the cut Spark re-shingles the corpus five times (measured
    // 6.0 s → 1.9 s at sf0.1). Same for the windowed prefix (two join
    // sides) and the candidate set (the verify's driver).
    val sh = shingleFrameOf(s, docs, "doc_id", "sh", "n")
      .localCheckpoint(eager = false)
    val dfr = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfr, "sh")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
      .filter(col("rk") <= expr("n - (n + 1) DIV 2 + 1")) // index prefix, t = 0.5
      .select(col("sh"), col("doc_id"), col("n"), col("rk"))
      // NOT repartition(sh)-before-the-cut (r22 §2.4 experiment): the
      // prefix self-join below is a BroadcastHashJoin in the executed
      // plan (the mid-prefix probe side is small), so pre-partitioning
      // the checkpoint on sh only adds an exchange to its
      // materialization — measured within noise (2.42 vs 2.27 s
      // medians), plan shape unchanged. At a scale where the probe side
      // outgrows broadcast, revisit: localCheckpoint preserves
      // outputPartitioning, so this single line would then drop both
      // SMJ exchanges.
      .localCheckpoint(eager = false)
    // probe side: the mid-prefix is a PREFIX of the index prefix (it is
    // shorter for every n), so it filters out of the same ranked frame.
    val probe = prefix.filter(col("rk") <= expr("n - (2*n + 2) DIV 3 + 1"))
      .select(col("sh"), col("doc_id").as("da"),
        col("n").as("pna"), col("rk").as("rka"))
    // (ra, rb) of the LAST matched shingle fall out of max(): rank
    // follows the global (df, sh) order inside each doc, so the max-rank
    // match is the same shingle on both sides.
    val cand = probe
      .join(prefix.select(col("sh"), col("doc_id").as("db"),
        col("n").as("pnb"), col("rk").as("rkb")), "sh")
      .filter((col("pna") < col("pnb")
          || (col("pna") === col("pnb") && col("da") < col("db")))
        && col("pnb") <= col("pna") * 2) // canonical (n, id) order + length
      .groupBy("da", "db", "pna", "pnb")
      .agg(count(lit(1)).as("c"), max("rka").as("ra"), max("rkb").as("rb"))
      .filter(col("c") + least(col("pna") - col("ra"), col("pnb") - col("rb"))
        >= expr("(pna + pnb + 2) DIV 3")) // ceil((na+nb)/3), operands nonneg
      // downstream convention (and the oracle's) is id-ordered pairs
      .select(least(col("da"), col("db")).as("da"),
        greatest(col("da"), col("db")).as("db")) // consumed exactly once
    // Verify against the ALREADY-SHINGLED frame (jaccardOfDocs would
    // re-shingle the candidate docs from text — right for LSH's cheap
    // signature-derived candidates, waste here).
    val shA = sh.select(col("doc_id").as("da"), col("sh").as("sh_a"), col("n").as("na"))
    val shB = sh.select(col("doc_id").as("db2"), col("sh").as("sh_b"), col("n").as("nb"))
    cand
      .join(shA, "da")
      .join(shB, col("db") === col("db2") && col("sh_a") === col("sh_b"))
      .groupBy("da", "db", "na", "nb")
      .agg(count(lit(1)).as("i"))
      .withColumn("jac", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jac") >= 0.5)
  }

  /** 60-bit weighted SimHash per doc, one JVM pass per document.
    * The declarative formulation (explode 60 bit positions × tokens → two
    * hash aggregates) expands to 12M rows at sf0.1 and costs ~2.5 s; this
    * closure computes the identical signature (JvmHash ≡ the md5 column
    * expressions — see JvmHashSpec) in a single map with no shuffle at
    * all. DuckDB twin: simhashSqlCte below. */
  def simhashFrame(s: SparkSession, d: String): DataFrame =
    simhashFrameOf(s, Tables.documents(s, d))

  def simhashFrameOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty else Iterator.single {
        val counts = scala.collection.mutable.HashMap.empty[String, Int]
        text.split(" ", -1)
          .foreach(w => counts.update(w, counts.getOrElse(w, 0) + 1))
        val acc = new Array[Long](60)
        counts.foreach { case (w, c) =>
          val h0 = graft.functions.JvmHash.h60(w)
          var b = 0
          while (b < 60) {
            acc(b) += (if (((h0 >> b) & 1L) == 1L) c.toLong else -c.toLong); b += 1
          }
        }
        var sim = 0L
        var b = 0
        while (b < 60) { if (acc(b) > 0) sim |= (1L << b); b += 1 }
        (id, sim)
      } }
      .toDF("doc_id", "simhash")
  }

  /** Per-doc MinHash band keys (16 bands × 2 rows from 32 seeded hashes),
    * one JVM pass per document — replaces an 8M-row explode + groupBy
    * shuffle with a shuffle-free map (same output; JvmHash ≡ the column
    * expressions). */
  def minhashBandsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // JvmHash.seeded with its 32 (a_k, b_k) hoisted out of the shingle loop.
    val ca = Array.tabulate(32)(graft.functions.JvmHash.seedA)
    val cb = Array.tabulate(32)(graft.functions.JvmHash.seedB)
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = if (text == null) Array.empty[String] else text.split(" ", -1)
        if (t.length < 3) Iterator.empty
        else {
          val seen = scala.collection.mutable.HashSet.empty[String]
          val mins = Array.fill(32)(Long.MaxValue)
          var i = 0
          while (i <= t.length - 3) {
            val sh = t(i) + " " + t(i + 1) + " " + t(i + 2)
            if (seen.add(sh)) {
              val h0m = graft.functions.JvmHash.h60p(sh)
              var k = 0
              while (k < 32) {
                val hv = (ca(k) * h0m + cb(k)) % P
                if (hv < mins(k)) mins(k) = hv
                k += 1
              }
            }
            i += 1
          }
          Iterator.single((id, Array.tabulate(16)(b => mins(2 * b) * P + mins(2 * b + 1))))
        }
      }
      .toDF("doc_id", "bands")
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bkey")))
  }

  /** All (da < db) pairs within LSH buckets: group doc ids per bucket key
    * and expand combinations from the sorted id array — ONE evaluation of
    * the signature subtree (a self-join would compute it twice) and no
    * join at all; bucket membership lists are small by construction
    * (near-dup clusters).
    *
    * `maxBucket` (default: unbounded, which keeps declared-query results
    * exact) is the 100 TB adversarial-input valve: a bucket with b members
    * expands to b²/2 pairs, so one boilerplate-heavy key (every page
    * sharing a footer) can dominate the whole job. With a cap, buckets
    * larger than `maxBucket` are SKIPPED — bounded work per bucket
    * (≤ maxBucket²/2 pairs). Recall impact: a pair is lost only if EVERY
    * band/chunk that collides for it is over the cap; with 16 MinHash
    * bands (or 4 SimHash chunks) near-dup pairs keep colliding in smaller,
    * less generic buckets, and genuinely hot buckets are mostly exact
    * boilerplate better handled by exact dedup upstream. */
  private[operators] def bucketPairs(buckets: DataFrame, keyCols: Seq[String],
                                     maxBucket: Int = Int.MaxValue): DataFrame =
    buckets
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids) - 2),
             i -> transform(slice(ids, i + 2, size(ids) - i - 1),
                    y -> struct(ids[i] AS da, y AS db))))""")).as("p"))
      .select(col("p.da"), col("p.db"))
      .distinct()

  /** Connected components of the near-dup pair graph → (id, lbl) with
    * lbl = component minimum ([[componentLabelsFromPairs]]: per-partition
    * union-find contraction, min-label propagation only as a fallback). */
  def componentLabels(s: SparkSession, d: String): DataFrame = {
    // NOT computeIfAbsent: the computation itself consults the same map
    // (via minhashPairs), and ConcurrentHashMap forbids recursive updates
    // when the nested key lands in the same bin. get/putIfAbsent instead;
    // a racing duplicate computation is benign (same deterministic plan).
    val key = (Tables.sessionKey(s), d, "labels")
    val cached = indexCache.get(key)
    if (cached != null) cached
    else {
      // minhashPairs is already lazily checkpointed — selecting off it
      // shares the materialized blocks, no second checkpoint needed.
      val labels = componentLabelsFromPairs(minhashPairs(s, d).select("da", "db"))
      indexCache.putIfAbsent(key, labels)
      indexCache.get(key)
    }
  }

  /** Near-dup connected components over ANY (doc_id, text) frame. */
  def componentLabelsOf(s: SparkSession, docs: DataFrame, threshold: Double): DataFrame =
    componentLabelsFromPairs(
      minhashPairsOf(s, docs, threshold).select("da", "db").localCheckpoint(eager = false))

  /** Connected components of a precomputed (da, db) pair frame → (id,
    * lbl) with lbl = component minimum, by local contraction first
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014):
    *  - each partition runs a union-find over its own edges and maps
    *    every id it holds to its LOCAL component minimum (the root);
    *  - ONE aggregate checks whether any id got two different roots. If
    *    none did, the roots are the answer: every edge lies inside one
    *    partition's component, so the root is constant on each global
    *    component, and the global minimum is its own root;
    *  - otherwise min-label propagation ([[propagateLabels]]) runs over
    *    the contracted star edges (id — root), seeded with each id's
    *    minimum root — same components, far shorter paths.
    * The contraction-only case is one Spark action (the count); the
    * fallback adds one per propagation round. Memory per task is O(ids in the
    * partition). Output column types follow the input's. */
  private[operators] def componentLabelsFromPairs(pairs: DataFrame): DataFrame = {
    val idType = pairs.schema("da").dataType
    val s = pairs.sparkSession
    import s.implicits._
    // Lazy checkpoints: both are materialized by the count below, then
    // read by the answer (or the fallback) without recomputing.
    val roots = pairs.select(col("da").cast("long"), col("db").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(localRoots)
      .toDF("id", "root")
      .localCheckpoint(eager = false)
    val byId = roots.groupBy("id")
      .agg(min("root").as("lbl"), max("root").as("hi"))
      .localCheckpoint(eager = false)
    val split = byId.filter(col("lbl") =!= col("hi")).count()
    val labels =
      if (split == 0) byId.select(col("id"), col("lbl"))
      else {
        val star = roots.filter(col("id") =!= col("root"))
          .select(col("id").as("src"), col("root").as("dst"))
        propagateLabels(star.union(star.select(col("dst"), col("src"))),
          byId.select(col("id"), col("lbl")))
      }
    labels.select(col("id").cast(idType), col("lbl").cast(idType))
  }

  /** One partition's union-find over its (da, db) edges: every id it
    * holds, paired with the minimum id of its local component. */
  private def localRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val index = new LongIndex
    var parent = new Array[Int](64)
    var minId = new Array[Long](64)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x // path compression
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    def node(id: Long): Int = {
      val n = index.size
      val i = index.getOrAdd(id)
      if (i == n) {
        if (i == parent.length) {
          parent = java.util.Arrays.copyOf(parent, i * 2)
          minId = java.util.Arrays.copyOf(minId, i * 2)
        }
        parent(i) = i; minId(i) = id
      }
      i
    }
    edges.foreach { case (a, b) =>
      val ra = find(node(a)); val rb = find(node(b))
      if (ra != rb) {
        parent(rb) = ra
        minId(ra) = math.min(minId(ra), minId(rb))
      }
    }
    Iterator.range(0, index.size).map(i => (index.key(i), minId(find(i))))
  }

  /** Min-label propagation over a symmetric (src, dst) edge frame from
    * seed labels (id, lbl) — every id of the graph, each seeded with an
    * id of its own component. Pregel-style: each round localCheckpoint()ed
    * to truncate lineage; the driver only inspects a convergence COUNT
    * per round. */
  private def propagateLabels(edges: DataFrame, seed: DataFrame): DataFrame = {
      // All checkpoints are LAZY (eager = false): each is materialized by
      // the round's single convergence count() instead of its own eager
      // job, so a round costs ONE Spark job, not three. Lineage truncation
      // is identical — the RDD is cached on first computation, and shared
      // plan branches reference the same RDD node (computed once).
      var labels = seed
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 25) {
        val prop = edges.join(labels, col("src") === col("id"))
          .groupBy(col("dst")).agg(min("lbl").as("plbl"))
        val merged = labels
          .join(prop, col("id") === col("dst"), "left")
          .select(col("id"), col("lbl"),
            least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("nlbl"))
          .localCheckpoint(eager = false)
        val propagated = merged.select(col("id"), col("nlbl").as("lbl"))
        // Pointer jumping (label ← label's label): doubles the effective
        // reach per round, so convergence is O(log diameter) and the
        // 25-round cap covers any graph with diameter ≤ 2^25.
        val lookup = propagated.select(col("id").as("lid"), col("lbl").as("llbl"))
        val next = propagated
          .join(lookup, col("lbl") === col("lid"), "left")
          .select(col("id"), least(col("lbl"), coalesce(col("llbl"), col("lbl"))).as("lbl"))
          .localCheckpoint(eager = false)
        // One action per round: materializes merged + next and reads the
        // convergence count off the already-checkpointed `merged`.
        changed = merged.filter(col("nlbl") < col("lbl")).count()
        labels = next
        rounds += 1
      }
      require(changed == 0,
        s"componentLabels did not converge in $rounds rounds — graph diameter > 2^25?")
      labels
  }

  /** Open-addressing long → dense index map (0, 1, 2, … in insertion
    * order) on primitive arrays: the union-find's node table, without a
    * boxed key per edge endpoint. */
  private final class LongIndex {
    private var keys = new Array[Long](128)
    private var slots = Array.fill(128)(-1) // dense index, -1 = empty
    private var order = new Array[Long](64) // dense index → key
    var size = 0

    def key(i: Int): Long = order(i)

    def getOrAdd(k: Long): Int = {
      var p = slot(k)
      if (slots(p) >= 0) slots(p)
      else {
        if (size * 2 >= slots.length) { grow(); p = slot(k) }
        if (size == order.length) order = java.util.Arrays.copyOf(order, size * 2)
        keys(p) = k; slots(p) = size; order(size) = k
        size += 1
        size - 1
      }
    }

    private def slot(k: Long): Int = {
      val mask = slots.length - 1
      var p = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L)) & mask
      while (slots(p) >= 0 && keys(p) != k) p = (p + 1) & mask
      p
    }

    private def grow(): Unit = {
      val n = slots.length * 2
      keys = new Array[Long](n)
      slots = Array.fill(n)(-1)
      var i = 0
      while (i < size) {
        val p = slot(order(i))
        keys(p) = order(i); slots(p) = i
        i += 1
      }
    }
  }

  // Derived-index cache: the LSH pair set and the component labels over a
  // fixture dir are deterministic pure functions of (session, dir) — the
  // near-dup INDEX a real pipeline materializes once and reuses across
  // downstream jobs (pairs → components → canonical corpus). The cached
  // value is a lazily-checkpointed DataFrame: first action computes and
  // caches the RDD blocks; later queries over the same corpus reuse them.
  private val indexCache =
    Tables.registerCache(
      new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]())

  /** MinHash LSH pairs with true Jaccard ≥ 0.7 (shared by dedup_minhash,
    * dedup_components, dedup_canonical and dedup_contamination — computed
    * once per session+dir; keyed like Tables.relCache). The cached frame is
    * lazily CHECKPOINTED: the first action (whichever downstream query runs
    * first) materializes the pair RDD blocks, and every later consumer
    * reuses them instead of re-running the full LSH candidate+verify plan
    * (which cost dedup_contamination an extra ~1.7 s per query at sf0.1). */
  def minhashPairs(s: SparkSession, d: String): DataFrame = {
    Tables.evictDead(indexCache, Tables.sessionKey(s))
    indexCache.computeIfAbsent((Tables.sessionKey(s), d, "pairs"),
      _ => minhashPairsOf(s, Tables.documents(s, d), 0.7)
        .localCheckpoint(eager = false))
  }

  /** EXACT Jaccard over every co-shingle pair, UNFILTERED — shared by
    * dedup_ngram_jaccard (which filters ≥ 0.5) and dedup_threshold_curve
    * (which buckets the whole range): the shingle self-join is the
    * expensive part and identical in both, so it is computed once per
    * session+dir and lazily checkpointed like [[minhashPairs]]. Columns:
    * (da, db, jac).
    *
    * Storage trade-off (deliberate): unlike the ≥0.7-filtered minhashPairs
    * cache, this frame keeps EVERY co-shingle pair — quadratic in
    * hot-shingle cluster size — pinned (MEMORY_AND_DISK) for the session.
    * That is the right trade at the diagnostic scale these two queries run
    * at (the curve is documented as a hash-sample pass; at corpus scale
    * neither query should run at all — LSH replaces them), and the pin is
    * exactly the frame both queries would otherwise each recompute. A
    * pathological boilerplate corpus should go through the maxBucket-capped
    * LSH path instead, never the brute pair universe. */
  def exactJaccardPairs(s: SparkSession, d: String): DataFrame = {
    Tables.evictDead(indexCache, Tables.sessionKey(s))
    indexCache.computeIfAbsent((Tables.sessionKey(s), d, "exactjac"),
      _ => {
        val shA = shingleFrame(s, d, "da", "sh_a", "na")
        val shB = shingleFrame(s, d, "db2", "sh_b", "nb")
        shA
          .join(shB, col("sh_a") === col("sh_b") && col("da") < col("db2"))
          .groupBy(col("da"), col("db2").as("db"), col("na"), col("nb"))
          .agg(count(lit(1)).as("i"))
          .withColumn("jac", col("i") / (col("na") + col("nb") - col("i")))
          .select("da", "db", "jac")
          .localCheckpoint(eager = false)
      })
  }

  /** Fixed-point integer PageRank over an undirected pair frame (da, db;
    * each edge exactly once) — the graph_pagerank kernel, reusable by
    * Stress on synthetic hot-hub graphs. `iters` power iterations with
    * damping 0.85; ranks in 10⁻¹²-units; every step BIGINT floor-div +
    * order-independent BIGINT sums, so results are bit-stable across
    * engines, partitionings and retries. */
  private[graft] def pageRankOf(pairs: DataFrame, iters: Int = 3): DataFrame = {
    // Pairs carry each undirected edge once, so the symmetric union is
    // duplicate-free by construction.
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst")))
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // The CASE guards ANSI divide-by-zero on an empty pair graph (the
    // count row exists even when deg is empty; the result is empty
    // either way, but the agg row must still evaluate).
    val nb = broadcast(deg.agg(count(lit(1)).as("n_nodes"))
      .withColumn("base", expr(
        "CAST(CASE WHEN n_nodes = 0 THEN 0 ELSE 1000000000000 DIV n_nodes END AS BIGINT)")))
    var ranks = deg.crossJoin(nb)
      .select(col("id"), col("deg"), col("base"), col("base").as("r"))
    for (_ <- 1 to iters) {
      val shares = ranks.select(col("id").as("sid"), expr("r DIV deg").as("share"))
      val incoming = edges.join(shares, col("src") === col("sid"))
        .groupBy(col("dst")).agg(sum("share").as("incoming"))
      ranks = deg.crossJoin(nb)
        .join(incoming, col("id") === col("dst"))
        .select(col("id"), col("deg"), col("base"),
          expr("(15 * base) DIV 100 + (85 * incoming) DIV 100").as("r"))
    }
    ranks.select(col("id").as("doc_id"), col("deg").as("degree"),
      col("r").as("rank_e12"))
  }

  /** MinHash LSH near-dup pairs over ANY (doc_id, text) frame.
    * `maxBucket` (opt-in, default unbounded) skips pathological hot LSH
    * buckets — see [[bucketPairs]] for the recall trade-off. */
  def minhashPairsOf(s: SparkSession, docs: DataFrame, threshold: Double,
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    // Jaccard lives in [0, 1]: a threshold above 1 (e.g. 7 for 0.7, 70 for
    // a percentage) would return ZERO pairs — and deduplicate() would then
    // silently dedup nothing. Fail at the call instead.
    require(threshold > 0 && threshold <= 1,
      s"near-dup threshold must be in (0, 1], got $threshold")
    require(maxBucket >= 2,
      s"maxBucket below 2 can never emit a pair, got $maxBucket")
    // NOT checkpointed: the verify reads `cand` once (and a lazy cut here
    // measured within noise even when it read it three times, r22 Lab
    // medians 1.11 → 1.16 s on dedup_minhash_capped).
    val cand = bucketPairs(minhashBandsOf(s, docs), Seq("band", "bkey"), maxBucket)
    jaccardOfDocs(s, docs, cand).filter(col("jac") >= threshold)
  }

  /** SimHash near-dup pairs (hamming ≤ 3) over ANY (doc_id, text) frame —
    * the dedup_simhash query body, reusable with the `maxBucket` valve.
    *
    * Candidates come from a (chunk, ckey) SELF-EQUI-JOIN of the banded
    * signatures, not a collect_list bucket expansion: a shuffle-hash/sort
    * join on the band key is a shape AQE can skew-split when one 15-bit
    * chunk key goes hot (natural-text signatures concentrate), whereas a
    * per-bucket array of b members expands b²/2 struct pairs inside ONE
    * unsplittable task. The cheap `bit_count ≤ 3` verify runs per join
    * row BEFORE the dedup, so `dropDuplicates` only touches survivors.
    * (Quiet-box A/B at sf0.1: self-join 0.44–0.48 s vs collect_list
    * 0.57–0.80 s, identical 512 pairs.) The signature frame is lazily
    * localCheckpoint()ed so the join diamond computes signatures once. */
  def simhashPairsOf(s: SparkSession, docs: DataFrame,
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxBucket >= 2,
      s"maxBucket below 2 can never emit a pair, got $maxBucket")
    val sim = simhashFrameOf(s, docs).localCheckpoint(eager = false)
    val chunks = sim
      .select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(3))).as("chunk"))
      .withColumn("ckey", expr("shiftright(simhash, CAST(chunk * 15 AS INT)) & CAST(32767 AS BIGINT)"))
    // The adversarial-input valve (see bucketPairs): a bucket with more
    // than maxBucket members contributes NO pairs. Applied as a pre-join
    // size filter, so hot buckets never reach the pair join at all.
    val eligible =
      if (maxBucket == Int.MaxValue) chunks
      else {
        val ok = chunks.groupBy("chunk", "ckey").agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= maxBucket).select("chunk", "ckey")
        chunks.join(ok, Seq("chunk", "ckey"))
      }
    val a = eligible.select(col("chunk"), col("ckey"), col("doc_id").as("da"), col("simhash").as("pa"))
    val b = eligible.select(col("chunk"), col("ckey"), col("doc_id").as("db"), col("simhash").as("pb"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("da") < col("db"))
      .withColumn("ham", expr("CAST(bit_count(pa ^ pb) AS INT)"))
      .filter(col("ham") <= 3)
      .select("da", "db", "ham")
      .dropDuplicates("da", "db")
  }

  /** Span-level shared-8-gram windows over ANY (doc_id, text) frame — the
    * dedup_span_ngrams query body, reusable for adversarial corpora (the
    * STRESS `span_hot_gram` run). Shape notes live on the query entry:
    * typed flatMap → (gram, doc) pre-agg (lazily checkpointed so the
    * self-join diamond scans the gram stream once) → per-gram doc count →
    * equi-join; never a per-gram Window, so a corpus-wide boilerplate
    * gram skew-splits instead of landing in one unsplittable partition. */
  /** Maximal shared spans per doc pair — what contamination removal
    * actually ships (the Lee et al. "Deduplicating Training Data ..."
    * substring result, approximated by coalescing the fixed 8-gram
    * windows of [[spanSharedWindowsOf]] into maximal runs): two shared
    * windows at (pa, pb) and (pa+1, pb+1) are the SAME span, so spans
    * are islands of consecutive pa along each alignment DIAGONAL
    * (pa − pb). Emits one row per maximal span with its start in both
    * docs and its token length (windows + 7).
    *
    * Scale shape: candidate generation is the gram-keyed equi-join,
    * skew-bounded by the per-gram distinct-doc cap (`maxDocsPerGram`,
    * the hot-gram valve — boilerplate headers shared by everything
    * would otherwise quadratically explode); the island window
    * partitions by (pair, diagonal) — span-sized partitions, never the
    * corpus. */
  def spanMergedOf(s: SparkSession, docs: DataFrame,
                   maxDocsPerGram: Int = 16): DataFrame = {
    // Lazy checkpoints, the spanMergedSuffixOf/spanSharedWindowsOf
    // discipline this variant was missing: without them the pair
    // self-join diamond evaluates the corpus-linear posGrams flatMap
    // FOUR times (each side of the join carries g + eligible(g)) and
    // the eligibility aggregate twice. With g cut, eligible folds one
    // checkpointed scan; with gg cut, the self-join reads one
    // materialized filtered-gram frame from both sides.
    val g = posGramsOf(s, docs, 8).localCheckpoint(eager = false)
    val eligible = g.groupBy("gram")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDocsPerGram)
      .select("gram")
    val gg = g.join(eligible, "gram").localCheckpoint(eager = false)
    val pairs = gg.select(col("gram"), col("doc_id").as("da"), col("pos").as("pa"))
      .join(gg.select(col("gram"), col("doc_id").as("db"), col("pos").as("pb")), "gram")
      .filter(col("da") < col("db"))
      .select("da", "db", "pa", "pb")
    islandMerge(pairs)
  }

  /** Positioned sliding `n`-gram frame (doc_id, pos, gram) over ANY
    * (doc_id, text) frame — one corpus-linear typed flatMap. */
  private def posGramsOf(s: SparkSession, docs: DataFrame, n: Int): DataFrame = {
    import s.implicits._
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, toks) =>
        if (toks.length < n) Iterator.empty
        else toks.sliding(n).zipWithIndex.map { case (w, i) =>
          (id, i.toLong, w.mkString(" "))
        }
      }
      .toDF("doc_id", "pos", "gram")
  }

  /** Diagonal island-merge of shared-window pairs (da, db, pa, pb) into
    * maximal spans — the [[spanMergedOf]] tail, shared by the suffix
    * variant. The window partitions by (pair, diagonal): span-sized
    * partitions, never the corpus. */
  private def islandMerge(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("da"), col("db"), col("pa") - col("pb"))
      .orderBy("pa")
    pairs
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("da"), col("db"), (col("pa") - col("pb")).as("diag"), col("isl"))
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        count(lit(1)).as("span_windows"),
        (count(lit(1)) + lit(7)).as("span_tokens"))
      .select("da", "db", "start_a", "start_b", "span_windows", "span_tokens")
      .orderBy("da", "db", "start_a", "start_b")
  }

  /** Exact-substring span dedup with the SUFFIX-NGRAM rescue for hot
    * grams — closing the one recall gap the hot-gram valve opens.
    *
    * Why there is no other gap (the "grid" impossibility argument):
    * the windows are STRIDE-1 sliding 8-grams, not a stride-8 tiling,
    * so there is no phase alignment to evade — any shared token span
    * of length L ≥ 8 between two docs contains its own first 8 tokens
    * as a shared 8-gram, and in fact yields ALL L−7 of its windows,
    * which [[islandMerge]] coalesces back into exactly one maximal
    * span (bijection: maximal shared span of length L on diagonal
    * pa−pb ⟺ island of L−7 consecutive shared windows on that
    * diagonal). A duplicate pair can therefore only hide from
    * [[spanMergedOf]] through the `maxDocsPerGram` valve: when every
    * 8-gram of the span ALSO occurs in more than `cap` other docs
    * (boilerplate-phrase flood), the valve drops all of its windows.
    *
    * The rescue: a window whose 8-gram is hot is re-keyed by a COVERING
    * 16-GRAM — the suffix extension at offsets k ∈ [0, 8] (the 16-gram
    * starting at pos−k covers windows pos−k .. pos−k+8). Two hot
    * windows pair when any same-k covering 16-gram matches and that
    * 16-gram is itself mild (nd₁₆ ∈ [2, cap]). Exactness: for a span of
    * L ≥ 16 tokens unique to a pair, every window has at least one
    * covering 16-gram fully inside the span (k = 0 while pos ≤ end−15,
    * else k = pos − (end−15) ≤ 8), and an in-span 16-gram of a
    * pair-unique span has nd₁₆ = 2 — so the whole span is recovered.
    * Hot spans of 8–15 tokens stay dropped (far below the published
    * 50-token exact-substring granularity), and a span whose 16-grams
    * are THEMSELVES shared by > cap docs is mass duplication — the
    * quadratic-output case the valve exists for.
    *
    * Scale shape: the 16-gram pass is corpus-linear like the 8-gram
    * pass — and SKIPPED ENTIRELY (1-row driver hop on the checkpointed
    * nd8) when no gram is hot, since tier 2 joins through hot8 on both
    * sides and is then provably empty; the ×9 offset expansion applies
    * to HOT windows only; both pair joins stay capped, so no key
    * explodes past cap² rows. */
  def spanMergedSuffixOf(s: SparkSession, docs: DataFrame,
                         maxDocsPerGram: Int = 16): DataFrame = {
    val g8 = posGramsOf(s, docs, 8).localCheckpoint(eager = false)
    val nd8 = g8.groupBy("gram").agg(countDistinct("doc_id").as("nd"))
      .localCheckpoint(eager = false)
    val mild8 = nd8.filter(col("nd") >= 2 && col("nd") <= maxDocsPerGram).select("gram")
    val hot8 = nd8.filter(col("nd") > maxDocsPerGram).select("gram")
    // Tier 1: mild 8-grams, exactly the spanMergedOf path. (No gg cut
    // here, unlike spanMergedOf: with g8/nd8 already checkpointed the
    // twice-run gram×mild join measured within noise of the extra
    // materialization barrier — r22 Lab, 1.85 vs 1.90 s medians.)
    val gg = g8.join(mild8, "gram")
    val p1 = gg.select(col("gram"), col("doc_id").as("da"), col("pos").as("pa"))
      .join(gg.select(col("gram"), col("doc_id").as("db"), col("pos").as("pb")), "gram")
      .filter(col("da") < col("db"))
      .select("da", "db", "pa", "pb")
    // Adaptive skip (the AQE stance, via a 1-row driver hop on the
    // already-checkpointed nd8): the rescue tier exists FOR hot grams,
    // so when the valve never fired there is nothing to rescue and the
    // whole 16-gram pass (a second corpus-linear explode + its distinct
    // agg) is provably dead — tier 2 joins through hot8 on both sides.
    // A healthy deduped corpus has zero hot grams (sf0.1: max nd = 4);
    // the flood is the adversarial case, and only it pays for itself.
    if (nd8.filter(col("nd") > maxDocsPerGram).limit(1).isEmpty)
      return islandMerge(p1)
    val g16 = posGramsOf(s, docs, 16)
    val mild16 = g16.groupBy("gram").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDocsPerGram)
      .select(col("gram"))
    val g16m = g16.join(mild16, "gram")
      .select(col("doc_id"), col("pos").as("epos"), col("gram").as("gram16"))
      .localCheckpoint(eager = false)
    // Tier 2: hot windows re-keyed by covering mild 16-grams. The same
    // k on both sides keeps the window alignment (pa−pb = eposₐ−eposᵦ).
    val hexp = g8.join(hot8, "gram")
      .select(col("doc_id"), col("pos"),
        explode(sequence(lit(0L), lit(8L))).as("k"))
      .withColumn("epos", col("pos") - col("k"))
      .filter(col("epos") >= 0)
      .join(g16m, Seq("doc_id", "epos"))
      .select(col("gram16"), col("k"), col("doc_id"), col("pos"))
    val p2 = hexp.select(col("gram16"), col("k"), col("doc_id").as("da"), col("pos").as("pa"))
      .join(hexp.select(col("gram16"), col("k"), col("doc_id").as("db"), col("pos").as("pb")),
        Seq("gram16", "k"))
      .filter(col("da") < col("db"))
      .select("da", "db", "pa", "pb")
    islandMerge(p1.unionByName(p2).dropDuplicates("da", "db", "pa", "pb"))
  }

  def spanSharedWindowsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val gd = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, toks) =>
        if (toks.length < 8) Iterator.empty
        else toks.sliding(8).map(w => (id, w.mkString(" ")))
      }
      .toDF("doc_id", "gram")
      .groupBy("gram", "doc_id").agg(count(lit(1)).as("nw"))
      .localCheckpoint(eager = false)
    val shared = gd.groupBy("gram")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select("gram")
    gd.join(shared, "gram")
      .groupBy("doc_id")
      .agg(sum("nw").as("n_shared_windows"))
      .orderBy("doc_id")
  }

  /** The constructed arriving batch of dedup_incremental — re-keyed EXACT
    * COPIES (doc_id%10==3, must all be dropped) + genuinely-new variants
    * (doc_id%10==0, must all survive). One definition, shared by the
    * derived-frame query and its bucketed-index twin so the result-
    * invariance gate compares identical inputs. */
  private[graft] def incrementalBatchOf(docs: DataFrame): DataFrame = {
    val fresh = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(col("text"), lit(" v2 fresh")).as("text"))
    val copies = docs.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    fresh.unionByName(copies)
  }

  /** Batch 2 of the index-MAINTENANCE gate — each kind tests a distinct
    * index state: re-keyed copies of batch 1's SURVIVORS (doc_id%10==0 →
    * +5M, droppable ONLY if the write-back landed), re-keyed copies of
    * the original corpus (doc_id%10==6 → +6M, droppable via the base
    * index), and genuinely-new docs (doc_id%10==1 → +7M, must survive). */
  private[graft] def updateBatchOf(docs: DataFrame): DataFrame = {
    val dupB1 = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"),
              concat(col("text"), lit(" v2 fresh")).as("text"))
    val dupCorpus = docs.filter(col("doc_id") % 10 === 6)
      .select((col("doc_id") + 6000000L).as("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 7000000L).as("doc_id"),
              concat(col("text"), lit(" v3 new")).as("text"))
    dupB1.unionByName(dupCorpus).unionByName(fresh)
  }

  /** The constructed near-dup batch of dedup_incremental_neardup —
    * one-appended-token near-dups (doc_id%10==7, must be FLAGGED) +
    * token-reversed fresh docs (doc_id%10==4, must PASS). */
  private[graft] def neardupBatchOf(docs: DataFrame): DataFrame = {
    val near = docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 3000000L).as("doc_id"),
              concat(col("text"), lit(" appendix")).as("text"))
    val fresh = docs.filter(col("doc_id") % 10 === 4)
      .select((col("doc_id") + 4000000L).as("doc_id"),
              array_join(reverse(split(col("text"), " ")), " ").as("text"))
    near.unionByName(fresh)
  }

  /** Incremental ingest dedup over ANY batch/corpus pair — the
    * dedup_incremental query body, reusable for adversarial loads (the
    * STRESS `incremental_ingest` run): within-batch exact dedup (partial-
    * aggregated groupBy on the uniform md5 key), then LEFT ANTI against
    * the corpus's distinct content hashes. The corpus side shuffles ONCE
    * on the uniform 128-bit key; accelerators documented on the query. */
  def incrementalDedupOf(s: SparkSession, batch: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusHashes = corpus.select(md5(col("text")).as("content_hash")).distinct()
    batch
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_copies"))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .select("doc_id", "n_batch_copies")
      .orderBy("doc_id")
  }

  /** Embeddings (raw float vectors — graft_dot widens per element, so no
    * cast pass is needed and shuffled vector bytes stay halved) + L2 norm. */
  private def vecFrame(s: SparkSession, d: String, id: String, v: String, nrm: String, lbl: String): DataFrame = {
    graft.functions.expressions.GraftFunctions.ensureRegistered(s)
    Tables.embeddings(s, d)
      .select(col("vec_id").as(id), col("label").as(lbl), col("embedding").as(v))
      .withColumn(nrm, graft.functions.expressions.GraftFunctions.normCol(col(v)))
  }

  /** URL canonicalization over a frame with a `url` column: lowercase
    * scheme+host, strip the scheme's default port (keep any other),
    * collapse slash runs, strip the trailing slash (root stays `/`, an
    * empty path becomes `/`), drop utm_* tracking params, sort the
    * surviving params, drop the fragment. All codegen'd built-ins
    * (parse_url / regexp / array ops) — map-only. Returns the input
    * columns minus `url` plus `canonical_url`. */
  def canonicalUrls(df: DataFrame): DataFrame =
    df
      .withColumn("scheme", lower(expr("parse_url(url, 'PROTOCOL')")))
      .withColumn("auth", expr("parse_url(url, 'AUTHORITY')"))
      // Port = trailing :digits only. A bare `host:x` substring split
      // would corrupt bracketed IPv6 authorities — '[::1]' has colons but
      // no port, and '[::1]:8080' must yield 8080, not '1]:8080' pieces.
      .withColumn("port", regexp_extract(col("auth"), ":(\\d+)$", 1))
      .withColumn("keep_port",
        col("port") =!= "" &&
          !(col("scheme") === "http" && col("port") === "80") &&
          !(col("scheme") === "https" && col("port") === "443"))
      .withColumn("path1",
        regexp_replace(expr("parse_url(url, 'PATH')"), "/{2,}", "/"))
      .withColumn("path", when(
        regexp_replace(col("path1"), "/+$", "") === "", lit("/"))
        .otherwise(regexp_replace(col("path1"), "/+$", "")))
      .withColumn("qkept", expr(
        "array_sort(filter(split(coalesce(parse_url(url, 'QUERY'), ''), '&'), p -> p != '' AND NOT startswith(p, 'utm_')))"))
      .withColumn("canonical_url", concat(
        col("scheme"), lit("://"), lower(expr("parse_url(url, 'HOST')")),
        when(col("keep_port"), concat(lit(":"), col("port"))).otherwise(lit("")),
        col("path"),
        when(size(col("qkept")) > 0,
          concat(lit("?"), array_join(col("qkept"), "&"))).otherwise(lit(""))))
      .drop("url", "scheme", "auth", "port", "keep_port", "path1", "path", "qkept")

  // ─────────── script-aware tokenization (round-19 verdict missing #2) ───────────
  // Every text operator tokenizes via split(text, ' ') — correct for
  // space-delimited scripts, silently degenerate on zh/ja/th where a
  // whole document becomes ONE token and word-shingle dedup goes blind.
  // The published fix (data-pipeline practice since CCNet) is script
  // gating: detect the script, segment whitespace-free scripts by
  // character n-grams, and feed the SAME shingle machinery.

  /** Deterministic CJK projection of a space-delimited text: each word
    * maps to one CJK-block codepoint from its first char and length —
    * closed-form, so a staged corpus is reproducible byte-for-byte and
    * near-dup structure (shared word runs) survives into the projected
    * script exactly. */
  private[graft] def cjkOf(text: String): String =
    text.split(" ").filter(_.nonEmpty).map { w =>
      (0x4E00 + (w.charAt(0).toInt * 31 + w.length * 7) % 256).toChar
    }.mkString("")

  /** Stage the mixed-script corpus (the fixture discipline: staged
    * closed-form, both engines read the same bytes): docs with
    * id ≡ 0 (mod 4) become WHITESPACE-FREE CJK documents (the [[cjkOf]]
    * projection of their own text), the rest keep their original text;
    * ids ≡ 0 (mod 16) additionally plant a NEAR-DUP twin at
    * id + 10000000 — the projected text with its first character
    * dropped, the planted recall target a word-tokenizer provably
    * misses (the whole CJK doc is one "word"; no word shingle is ever
    * shared). The projection runs distributed (per-row pure map);
    * idempotent via marker. Returns the parquet path. */
  private[graft] def stageCjkCorpus(s: SparkSession, d: String): String = {
    val dir = Stage.dir(d, "cjk")
    val out = new java.io.File(dir, "cjk.parquet")
    val marker = new java.io.File(dir, "_STAGED_CJK_V1")
    if (!marker.exists()) {
      new java.io.File(dir).mkdirs()
      import s.implicits._
      val base = Tables.documents(s, d).select("doc_id", "text")
        .as[(Long, String)]
      val mapped = base.map { case (id, text) =>
        (id, if (id % 4 == 0) cjkOf(text) else text)
      }
      // drop(1) (never substring(1) — safe on "") plus the nonEmpty
      // filter guard empty/whitespace-only source docs (round-20
      // review finding). Twin ids live at +10⁷ — collision-free for
      // any fixture SF (the documents table tops out ~10⁵ rows; a
      // production corpus would key twins by a namespaced id).
      val twins = base.filter(_._1 % 16 == 0).map { case (id, text) =>
        (id + 10000000L, cjkOf(text).drop(1))
      }.filter(_._2.nonEmpty)
      mapped.union(twins).toDF("doc_id", "text")
        .coalesce(4).write.mode("overwrite").parquet(out.getPath)
      marker.createNewFile(): Unit
    }
    out.getPath
  }

  /** Script-gated token arrays over a (doc_id, text) frame: a doc whose
    * CJK-codepoint fraction exceeds 30% segments into CHARACTER BIGRAMS
    * (the standard whitespace-free-script shingle unit); everything
    * else keeps the word path. Integer-arithmetic threshold (10·n_cjk >
    * 3·len) so the gate has no float wobble; all codegen'd expressions,
    * map-only. Columns: (doc_id, script, toks). */
  private[graft] def scriptGatedTokens(docs: DataFrame): DataFrame =
    docs
      .withColumn("script",
        when(regexp_count(col("text"), lit("[一-鿿]")) * 10 >
             length(col("text")) * 3, lit("cjk"))
          .otherwise(lit("latin")))
      .withColumn("toks",
        when(col("script") === "cjk",
          expr("""CASE WHEN length(text) >= 2
                  THEN transform(sequence(1, length(text) - 1),
                                 i -> substring(text, i, 2))
                  ELSE array() END"""))
          .otherwise(split(col("text"), " ")))
      .select("doc_id", "script", "toks")

  /** The script-aware shingle INDEX over a (doc_id, text) frame:
    * distinct 3-token '|'-joined shingles per doc with the per-doc
    * shingle count — tokens from [[scriptGatedTokens]]. Columns:
    * (doc_id, script, sh, nsh). */
  private[graft] def scriptShingleIndexOf(docs: DataFrame): DataFrame = {
    val sh = scriptGatedTokens(docs)
      .withColumn("sh",
        explode(expr("""CASE WHEN size(toks) >= 3
                        THEN transform(sequence(1, size(toks) - 2),
                                       i -> array_join(slice(toks, i, 3), '|'))
                        ELSE array() END""")))
      .select("doc_id", "script", "sh")
      .distinct()
    val sized = sh.groupBy("doc_id", "script").agg(count(lit(1)).as("nsh"))
    sh.join(sized, Seq("doc_id", "script"))
  }

  /** Near-dup pairs (Jaccard ≥ 0.5 in floor-cents) off a
    * [[scriptShingleIndexOf]] frame — the co-shingle equi-join the
    * exact-Jaccard family uses, shared by the gate and Stress. */
  private[graft] def scriptJaccardPairsOf(withN: DataFrame): DataFrame = {
    val a = withN.select(col("doc_id").as("da"), col("script"),
      col("sh"), col("nsh").as("na"))
    val b = withN.select(col("doc_id").as("db2"), col("sh").as("sh_b"),
      col("nsh").as("nb"))
    a.join(b, col("sh") === col("sh_b") && col("da") < col("db2"))
      .groupBy(col("da"), col("db2").as("db"), col("script"),
        col("na"), col("nb"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("jac_cents",
        floor(lit(100.0) * col("n_shared") /
          (col("na") + col("nb") - col("n_shared")) + 0.5).cast("long"))
      .filter(col("jac_cents") >= 50)
      .select("da", "db", "script", "n_shared", "jac_cents")
      .orderBy("da", "db")
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: content-hash grouping, canonical = min doc_id.
    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
        .select("canonical_id", "n_copies")
        .orderBy("canonical_id")),

    // URL canonicalization dedup — the crawl-frontier dedup that runs
    // BEFORE any content fetch: the same resource hides behind case
    // variants, default ports, duplicate/trailing slashes, tracking
    // params and fragments. Messy URLs are staged closed-form from
    // doc_id (16 canonical buckets via b = doc_id % 16, with
    // id-dependent noise layered on: scheme/host case, :80/:443,
    // doubled and trailing slashes, utm_* params, reversed param
    // order, #fragments); the canonicalizer then has to UNDO all of it
    // with real parsing — lowercase scheme+host, strip the default
    // port FOR THAT SCHEME, collapse slash runs, strip the trailing
    // slash, drop utm_* params, sort the survivors, drop the fragment.
    // The oracle never parses: it recomputes the canonical form from b
    // directly, so any canonicalization miss splits a bucket and
    // changes n_docs. All built-ins (parse_url/regexp/array ops) —
    // map-only until the final uniform-key groupBy.
    "dedup_url_canonical" -> ((s, d) => {
      val b = col("doc_id") % 16
      val schemeC = when(b % 2 === 0, "http").otherwise("https")
      val hostC = concat(lit("www.example"), (b % 7).cast("string"), lit(".com"))
      val pathC = concat(lit("/p"), (b % 5).cast("string"), lit("/x"))
      val queryC = concat(lit("a="), (b % 3).cast("string"), lit("&b=2"))
      val messy = Tables.documents(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, upper(schemeC))
            .when(col("doc_id") % 3 === 1, initcap(schemeC))
            .otherwise(schemeC),
          lit("://"),
          when(col("doc_id") % 2 === 0, upper(hostC)).otherwise(hostC),
          when(col("doc_id") % 3 === 0,
            when(b % 2 === 0, lit(":80")).otherwise(lit(":443")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 2, concat(lit("/"), pathC)).otherwise(pathC),
          when(col("doc_id") % 4 === 3, lit("/")).otherwise(lit("")),
          lit("?"),
          when(col("doc_id") % 2 === 1, concat(lit("b=2&a="), (b % 3).cast("string")))
            .otherwise(queryC),
          when(col("doc_id") % 5 === 0, lit("&utm_source=track&utm_medium=m"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 2,
            concat(lit("#sec"), (col("doc_id") % 9).cast("string")))
            .otherwise(lit(""))).as("url"))
      val canon = canonicalUrls(messy)
      canon.groupBy("canonical_url")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("canonical_url")
    }),

    // Incremental ingest dedup — the dedup MODE the other dedup_* queries
    // don't cover: an arriving batch checked against the EXISTING corpus
    // rather than whole-corpus-at-once. The fixture has no second batch,
    // so one is constructed deterministically on both engines: re-keyed
    // EXACT COPIES of corpus docs (doc_id%10==3 → +2_000_000 — every one
    // must be dropped) unioned with genuinely-new variants (doc_id%10==0,
    // text + ' v2 fresh' → +1_000_000 — every one must survive), which
    // makes the gate sensitive in both directions (the fixture corpus has
    // zero exact duplicates at sf≤0.01, so a naive whole-corpus dedup
    // restated as "incremental" would pass vacuously without this).
    // Two passes: (1) within-batch exact dedup — partial-aggregated
    // groupBy on the uniform md5 key; (2) against-corpus LEFT ANTI join
    // on the same key. Scale shape at 100 TB: the corpus side is the big
    // one and shuffles ONCE on a uniform 128-bit key (no skew by
    // construction; Spark can only broadcast the right/build side of a
    // LEFT ANTI, and the corpus is never broadcast-sized). Production
    // accelerators, not needed for correctness: keep the corpus hash
    // index BUCKETED by content_hash so only the (small) batch side
    // shuffles per ingest, and/or a bloom prefilter (q_bloom_join's
    // sketch) — rows the bloom rejects are definitely-new and skip the
    // join entirely; only maybe-dup rows pay the probe.
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      incrementalDedupOf(s, incrementalBatchOf(docs), docs)
    }),

    // PRODUCTION shape of dedup_incremental: at 100 TB the corpus
    // content-hash index is a MAINTAINED bucketed table (built once,
    // updated per ingest), not a frame re-derived from the corpus on
    // every batch. This twin builds that table (writeBucketed on
    // content_hash — the one-time shuffle) and probes it with the
    // arriving batch: the LEFT ANTI sort-merge join reads the corpus
    // side pre-partitioned and pre-sorted from its buckets with ZERO
    // exchange (plan-pinned in SkewAndBucketingSpec; only the small
    // batch side shuffles, into the bucket count). Same oracle as
    // dedup_incremental — the layout round-trip changes nothing.
    "dedup_incremental_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tbl = graft.sources.FileSources.dirKeyedTable("graft_md5_idx", d)
      graft.sources.FileSources.ensureBucketed(
        docs.select(md5(col("text")).as("content_hash")).distinct(),
        tbl, 8, Seq("content_hash"),
        Some(graft.sources.FileSources.tableFingerprint(d, Seq("documents"))))
      incrementalBatchOf(docs)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_copies"))
        .join(s.table(tbl), Seq("content_hash"), "left_anti")
        .select("doc_id", "n_batch_copies")
        .orderBy("doc_id")
    }),

    // Index MAINTENANCE — the write-back loop the _indexed twins build
    // the index FOR but never exercise: ingest batch 1 against the
    // bucketed corpus index, APPEND batch 1's surviving hashes into the
    // index table (FileSources.appendBucketed — the per-ingest
    // production write), then ingest batch 2 against the UPDATED index.
    // Batch 2's three kinds each pin one index state (updateBatchOf):
    // copies of batch-1 survivors drop ONLY if the append landed, corpus
    // copies drop via the base index, fresh docs survive. The audit
    // frame reports per-phase keep counts + id checksums AND the updated
    // index's row count + content-hash sum — a stale index (append
    // skipped) breaks batch2, a DOUBLE-inserted one breaks the index
    // rows/hash line, and the oracle recomputes every line from scratch.
    // The base index is rebuilt FRESH each run (writeBucketed, not
    // ensureBucketed) so the run's append is idempotent across
    // executions and never contaminates the sibling _indexed queries'
    // maintained table (separate dir-keyed name). Scale shape: the
    // append costs one batch-sized bucketed write; both probes read the
    // corpus side exchange-free from buckets (plan-pinned).
    "dedup_incremental_indexed_update" -> ((s, d) => {
      import graft.sources.FileSources
      val docs = Tables.documents(s, d)
      val tbl = FileSources.dirKeyedTable("graft_md5_upd_idx", d)
      FileSources.writeBucketed(
        docs.select(md5(col("text")).as("content_hash")).distinct(),
        tbl, 8, Seq("content_hash"))
      def keptOf(batch: DataFrame): DataFrame = batch
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_batch_copies"))
        .join(s.table(tbl), Seq("content_hash"), "left_anti")
      // Eagerly checkpointed BEFORE the append: b1Kept is re-read for
      // both the write-back and the audit, and a lazy plan re-evaluated
      // after the append would probe the UPDATED index and report zero
      // batch-1 survivors.
      val b1Kept = keptOf(incrementalBatchOf(docs)).localCheckpoint(true)
      FileSources.appendBucketed(
        b1Kept.select("content_hash"), tbl, 8, Seq("content_hash"))
      val b2Kept = keptOf(updateBatchOf(docs))
      def phaseRow(name: String, df: DataFrame, keyCol: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(graft.functions.PortableHash.h60p(keyCol)), lit(0L))
              .as("checksum"))
          .select(lit(name).as("phase"), col("n_rows"), col("checksum"))
      phaseRow("batch1_kept", b1Kept, col("doc_id").cast("string"))
        .unionByName(phaseRow("batch2_kept", b2Kept, col("doc_id").cast("string")))
        .unionByName(phaseRow("index_after", s.table(tbl), col("content_hash")))
        .orderBy("phase")
    }),

    // Incremental NEAR-dup ingest — the LSH mode of dedup_incremental:
    // an arriving batch checked for near-duplicates of the EXISTING
    // corpus (the production ingest gate that catches lightly-edited
    // re-submissions exact hashing misses). Constructed batch, same
    // both-directions discipline as dedup_incremental: doc_id%10==7 →
    // one appended token (3-shingle Jaccard (n-2)/(n-1) ≈ 1 — every one
    // must be FLAGGED), doc_id%10==4 → token-reversed text (shingles
    // disjoint up to palindromic trigrams — every one must PASS).
    // Shape: per-doc 16×2 MinHash band keys on BOTH frames (map-only,
    // the shared JvmHash family), a bands-equi-join CORPUS × BATCH for
    // candidates (never within-frame — corpus-corpus pairs are the
    // offline dedup_minhash job, not ingest), then exact-Jaccard verify
    // on the candidates only. At 100 TB the corpus band index is
    // precomputed and bucketed by (band, bkey), so each ingest shuffles
    // only the batch's bands; the bucketPairs maxBucket valve applies
    // to a boilerplate-hot band key the same way as in dedup_minhash.
    "dedup_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val batch = neardupBatchOf(docs)
      val cand = minhashBandsOf(s, docs).as("c")
        .join(minhashBandsOf(s, batch).as("b"), Seq("band", "bkey"))
        .select(col("c.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
        // Lazy checkpoint: unlike the LSH twins' cheap signature-map
        // candidates, THIS candidate subtree carries a corpus-band
        // compute/index read, a join and a distinct exchange. The cut
        // measured ~20% (derived) / ~4% (indexed) when the verify read
        // `cand` three times (OPTIMIZATION_r22.md); the per-pair verify
        // reads it once, and the cut is not re-measured since.
        .localCheckpoint(eager = false)
      jaccardOfDocs(s, docs.unionByName(batch), cand)
        .filter(col("jac") >= 0.7)
        .select(col("db").as("batch_id"), col("da").as("corpus_id"),
                round6(col("jac")).as("jac"))
        .orderBy("batch_id", "corpus_id")
    }),

    // PRODUCTION shape of dedup_incremental_neardup: the corpus LSH band
    // index as a MAINTAINED bucketed table on (band, bkey) — each ingest
    // probes it with only the batch's band keys, the corpus side read
    // exchange-free from its buckets (the dedup_incremental_indexed
    // story, on the candidate-generation join). The exact-Jaccard verify
    // downstream is unchanged: the index only accelerates candidate
    // generation, so the oracle is identical to the derived-frame twin.
    "dedup_incremental_neardup_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val tbl = graft.sources.FileSources.dirKeyedTable("graft_band_idx", d)
      graft.sources.FileSources.ensureBucketed(
        minhashBandsOf(s, docs), tbl, 8, Seq("band", "bkey"),
        Some(graft.sources.FileSources.tableFingerprint(d, Seq("documents"))))
      val batch = neardupBatchOf(docs)
      val cand = s.table(tbl).as("c")
        .join(minhashBandsOf(s, batch).as("b"), Seq("band", "bkey"))
        .select(col("c.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
        // Lazy checkpoint: unlike the LSH twins' cheap signature-map
        // candidates, THIS candidate subtree carries a corpus-band
        // compute/index read, a join and a distinct exchange. The cut
        // measured ~20% (derived) / ~4% (indexed) when the verify read
        // `cand` three times (OPTIMIZATION_r22.md); the per-pair verify
        // reads it once, and the cut is not re-measured since.
        .localCheckpoint(eager = false)
      jaccardOfDocs(s, docs.unionByName(batch), cand)
        .filter(col("jac") >= 0.7)
        .select(col("db").as("batch_id"), col("da").as("corpus_id"),
                round6(col("jac")).as("jac"))
        .orderBy("batch_id", "corpus_id")
    }),

    // Span-level dedup — the pass AFTER doc-level dedup in a training
    // pipeline: ordered token 8-grams shared across ≥2 DISTINCT docs,
    // reported as how many of each doc's sliding windows are
    // corpus-shared (the signal exact-substring dedup uses to cut
    // repeated boilerplate spans out of otherwise-unique documents).
    // Shape: a typed flatMap (sliding windows — the measured shingle
    // justification applies), (gram, doc) pre-aggregation, a per-gram
    // doc count, and an equi-join of the two — NOT a per-gram Window:
    // a window puts every row of one gram in one UNSPLITTABLE sort
    // partition, so a corpus-wide boilerplate gram (1B docs sharing a
    // header) OOMs a task; the groupBy gets map-side partial
    // aggregation and the join gets AQE skew-split. The (gram, doc)
    // pre-agg is lazily CHECKPOINTED (the componentLabels pattern):
    // without it the self-join diamond re-computes the O(tokens) gram
    // flatMap on both branches (the re-alias gives the branches
    // distinct expr ids and typed MapPartitions doesn't canonicalize
    // across them — verified on the executed plan, and measured at
    // ~2× the query's cost in round 11); with it the first action
    // materializes the pre-agg blocks once and both the per-gram doc
    // count and the join probe read them. No join back to the
    // exploded grams and no O(n²) pair path.
    "dedup_span_ngrams" -> ((s, d) =>
      spanSharedWindowsOf(s, Tables.documents(s, d))),

    // Maximal-span coalescing of the shared 8-gram windows — span
    // starts/lengths per doc pair, island-merged along alignment
    // diagonals (see spanMergedOf). The oracle replays the identical
    // chain (gram join under the same hot-gram cap, diagonal islands
    // via ROW_NUMBER, per-island MIN/COUNT), so a span split, merged
    // across a gap, or shifted by one anywhere row-fails.
    "dedup_span_merged" -> ((s, d) =>
      spanMergedOf(s, Tables.documents(s, d))),

    // The suffix-ngram exact-substring variant: identical span output,
    // plus recovery of spans whose every 8-gram is hotter than the
    // valve (boilerplate-phrase flood) via covering mild 16-grams —
    // see spanMergedSuffixOf for the exactness argument and the spec's
    // adversarial flood corpus for the pair spanMergedOf provably
    // misses. The oracle replays both tiers (capped 8-gram join UNION
    // same-offset covering-16-gram join, DISTINCT, diagonal islands).
    "dedup_span_suffix" -> ((s, d) =>
      spanMergedSuffixOf(s, Tables.documents(s, d))),

    // MinHash + LSH near-dup: 32 seeded hashes → 16 bands × 2 rows →
    // band-key equi-join for candidates → TRUE-Jaccard verify ≥ 0.7.
    "dedup_minhash" -> ((s, d) =>
      minhashPairs(s, d)
        .select(col("da"), col("db"), round6(col("jac")).as("jac"))
        .orderBy("da", "db")),

    // The 100 TB hot-bucket valve itself, under the hash gate: identical
    // pipeline to dedup_minhash but LSH buckets over `maxBucket` members
    // are SKIPPED (bounded pair expansion per bucket — see bucketPairs).
    // The cap is 2 here, deliberately aggressive: the gate fixture's
    // largest bucket holds 4 docs, so a production-ish cap (64, the
    // STRESS-measured setting) would never fire and the gate would prove
    // nothing about the skip rule. At cap 2 exactly one fixture pair's
    // every colliding bucket is over cap, so the oracle — which applies
    // the IDENTICAL rule in SQL — only matches if the skip semantics
    // (skip, don't truncate; pairs survive via ANY under-cap bucket) are
    // right on both engines.
    "dedup_minhash_capped" -> ((s, d) =>
      minhashPairsOf(s, Tables.documents(s, d), 0.7, maxBucket = 2)
        .select(col("da"), col("db"), round6(col("jac")).as("jac"))
        .orderBy("da", "db")),

    // Connected components over the near-dup pairs — the cluster-
    // canonicalization step a real dedup pipeline runs after LSH (keep one
    // doc per component). componentLabelsFromPairs: a union-find per
    // partition contracts the graph, one aggregate checks that every id
    // got a single root, and only if not does min-label propagation run
    // over the contracted star edges, each round localCheckpoint()ed.
    // Driver only reads COUNTs — no data collects.
    "dedup_components" -> ((s, d) => {
      val labels = componentLabels(s, d)
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).cast("int").as("cluster_size"))
      labels.join(sizes, "lbl")
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
        .orderBy("doc_id")
    }),

    // Triangle counting over the near-dup pair graph — the cluster-density
    // audit after LSH: a dup cluster that is a clique (every vertex in
    // many triangles) is a true duplicate set; a chain (degree ≥ 1,
    // triangles = 0) is transitive LSH noise that canonicalization would
    // over-merge. Per vertex: pair-graph degree + triangle count.
    // Scale shape: the edge list is the SPARSE LSH output (already
    // bucket-bounded, reused from the cached pair index) and triangles
    // are two equi-joins on vertex keys — the standard distributed
    // triangle count (at larger fan-outs, order vertices by degree before
    // the wedge join to bound the Σ deg² blow-up).
    "dedup_triangles" -> ((s, d) => {
      val e = minhashPairs(s, d).select(col("da").as("a"), col("db").as("b"))
      val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("degree"))
      // Wedges a<b<c (edges keep da<db, so each triangle appears once).
      val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val tri = wedges.join(e.as("e3"),
          col("x") === col("e3.a") && col("z") === col("e3.b"))
        .select("x", "y", "z")
      val perVertex = tri.select(col("x").as("v"))
        .union(tri.select(col("y").as("v")))
        .union(tri.select(col("z").as("v")))
        .groupBy("v").agg(count(lit(1)).as("n_tri"))
      deg.join(perVertex, Seq("v"), "left")
        .na.fill(0L, Seq("n_tri"))
        .select(col("v").as("doc_id"), col("degree"), col("n_tri"))
        .orderBy("doc_id")
    }),

    // PageRank over the near-dup pair graph — centrality of each doc in
    // its duplication neighborhood (a high-rank doc is the "template"
    // many variants derive from; rank-weighted canonicalization is the
    // production follow-on to dedup_canonical_best). Three power
    // iterations with damping 0.85 in FIXED-POINT integer arithmetic:
    // ranks live in 10⁻¹²-units, each step is
    //   r' = (15·base) DIV 100 + (85·Σ_in (r_u DIV deg_u)) DIV 100,
    // base = 10¹² DIV n — every operation a BIGINT floor-div or an
    // order-independent BIGINT sum, so both engines produce bit-equal
    // ranks with no float summation order to disagree on. Scale shape:
    // per iteration one join of the (sparse, LSH-bounded) edge list
    // against the rank frame + one partial-aggregated sum on the
    // destination key — the standard distributed PageRank step; the
    // symmetric pair graph has no dangling nodes (every node has
    // deg ≥ 1 and ≥ 1 in-edge), so no dangling-mass term is needed.
    "graph_pagerank" -> ((s, d) =>
      pageRankOf(minhashPairs(s, d).select("da", "db")).orderBy("doc_id")),

    // Corpus-level similarity via the graft_minhash TypedImperativeAggregate
    // (one-pass grouped sketch, map-side partial buffers of 256 bytes per
    // group): per-language shingle-set signatures, pairwise Jaccard
    // ESTIMATE from component matches, gated against the exact Jaccard
    // (computable here; at 100 TB only the sketch path survives — the
    // exact path shuffles every distinct shingle). Oracle = exact numbers
    // + literal TRUE for the bounded-error check (the q_hll pattern).
    "lang_minhash_sim" -> ((s, d) => {
      graft.functions.expressions.GraftFunctions.ensureRegistered(s)
      // Codegen'd trigram shingling (Graft.zipNgrams — see its scaladoc
      // for why this beats the interpreted transform(sequence(...)) HOF).
      val sh = Tables.documents(s, d)
        .withColumn("tk", split(col("text"), " "))
        .filter(size(col("tk")) >= 3)
        .select(col("lang"), explode(graft.Graft.zipNgrams(col("tk"), 3)).as("t"))
        .select(col("lang"), graft.Graft.ngramText(col("t"), 3).as("sh"))
      // ONE corpus pass total: group the raw shingle stream by shingle
      // (collect_set dedups langs map-side, set ≤ #languages) and lazily
      // checkpoint it — everything downstream (sketches, sizes, pairwise
      // intersections) derives from this distinct-shingle frame. MinHash is
      // duplicate-insensitive (min over a set), so sketching the distinct
      // shingles gives the identical signature as sketching every
      // occurrence, with far fewer rows — which also lets the sketch share
      // one shuffle+aggregate with the exact per-language sizes. (The old
      // shape paid a second full scan+explode for the sketch, and before
      // that a distinct-shingle self-join — 6.1 s at sf0.1; this one is
      // ~0.9 s.)
      val grouped = sh.groupBy("sh")
        .agg(sort_array(collect_set(col("lang"))).as("langs"))
        .localCheckpoint(eager = false)
      val stats = grouped.select(col("sh"), explode(col("langs")).as("lang"))
        .groupBy("lang")
        .agg(graft.functions.expressions.GraftFunctions.minhashSketchCol(col("sh")).as("sig"),
          count(lit(1)).as("nsh"))
      val inter = grouped.filter(size(col("langs")) > 1)
        .select(explode(expr(
          """flatten(transform(sequence(0, size(langs) - 2),
               i -> transform(slice(langs, i + 2, size(langs) - i - 1),
                      y -> struct(langs[i] AS la, y AS lb))))""")).as("p"))
        .groupBy(col("p.la").as("lang_a"), col("p.lb").as("lang_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(stats.select(col("lang").as("lang_a"),
          col("nsh").as("na"), col("sig").as("sig_a"))), "lang_a")
        .join(broadcast(stats.select(col("lang").as("lang_b"),
          col("nsh").as("nb"), col("sig").as("sig_b"))), "lang_b")
        .withColumn("jac_exact", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
        .withColumn("est", expr(
          "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m)) / 32.0"))
        .select(col("lang_a"), col("lang_b"), col("n_inter"),
          round6(col("jac_exact")).as("jac"),
          (abs(col("est") - col("jac_exact")) <= 0.25).as("est_within_tol"))
        .orderBy("lang_a", "lang_b")
    }),

    // The 100 TB-safe half of lang_minhash_sim as its OWN green row
    // (round-5 VERDICT #5): sketch-only cross-language similarity with NO
    // full-shingle shuffle anywhere in the plan. One pass over the corpus
    // feeds graft_minhash's map-side partial buffers (256 B per language
    // per partition — MinHash is duplicate-insensitive, so no pre-distinct
    // is needed); the single exchange carries those partials, and the
    // pairwise stage joins a #languages-row frame with itself (broadcast).
    // Because the sketch family is the portable seeded-md5 hash, the
    // DuckDB oracle recomputes the IDENTICAL 32 component minima and the
    // estimate is value-checked exactly — not gated behind a tolerance
    // boolean like the exact-vs-estimate audit above.
    "lang_minhash_sketch" -> ((s, d) => {
      graft.functions.expressions.GraftFunctions.ensureRegistered(s)
      val sh = Tables.documents(s, d)
        .withColumn("tk", split(col("text"), " "))
        .filter(size(col("tk")) >= 3)
        .select(col("lang"), explode(graft.Graft.zipNgrams(col("tk"), 3)).as("t"))
        .select(col("lang"), graft.Graft.ngramText(col("t"), 3).as("sh"))
      val stats = sh.groupBy("lang")
        .agg(graft.functions.expressions.GraftFunctions.minhashSketchCol(col("sh")).as("sig"))
      val a = stats.select(col("lang").as("lang_a"), col("sig").as("sig_a"))
      val b = stats.select(col("lang").as("lang_b"), col("sig").as("sig_b"))
      a.join(broadcast(b), col("lang_a") < col("lang_b"))
        .withColumn("n_match", expr(
          "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))").cast("long"))
        .select(col("lang_a"), col("lang_b"), col("n_match"),
          round6(col("n_match") / 32.0).as("est"))
        .orderBy("lang_a", "lang_b")
    }),

    // Train/eval contamination: split the corpus with the deterministic
    // sampling hash (eval = hash % 100 ≥ 90) and flag eval docs that have
    // a NEAR-DUP partner (minhash Jaccard ≥ 0.7) in the train split — the
    // decontamination pass every eval-set build runs. Reuses the cached
    // pair index; the pair set is tiny relative to the corpus, so the
    // final joins broadcast at any scale.
    "dedup_contamination" -> ((s, d) => {
      val split = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          (graft.functions.PortableHash.h60(col("doc_id").cast("string")) % 100).as("h"))
      val pairs = minhashPairs(s, d).select("da", "db")
      val sym = pairs.union(pairs.select(col("db").as("da"), col("da").as("db")))
      val train = split.filter(col("h") < 90).select(col("doc_id").as("tid"))
      split.filter(col("h") >= 90)
        .join(sym, col("doc_id") === col("da"))
        .join(train, col("db") === col("tid"), "left_semi")
        .select("doc_id", "lang").distinct()
        .orderBy("doc_id")
    }),

    // N-GRAM decontamination — the published span-level protocol (the
    // word-level variant of GPT-3's 13-gram eval-overlap rule, sized at
    // 8 tokens to this fixture's doc lengths): an eval doc is flagged if
    // it shares ANY 8-token window with ANY train doc, with the count of
    // distinct overlapping windows as the contamination severity. This
    // complements dedup_contamination's doc-level LSH: a verbatim QUOTED
    // SPAN inside an otherwise different doc never reaches Jaccard 0.7
    // but is exactly what leaks an eval answer. Scale shape: the train
    // side reduces to DISTINCT grams BEFORE the join (one uniform-key
    // pre-agg), the probe is a gram-keyed left-semi equi-join —
    // skew-splittable, no window anywhere; at 100 TB the train gram set
    // additionally compresses through a bloom pre-filter (q_bloom_join's
    // shape), same join key discipline.
    "dedup_contamination_ngram" -> ((s, d) => {
      import s.implicits._
      val sp = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"),
          (graft.functions.PortableHash.h60(col("doc_id").cast("string")) % 100).as("h"))
      def grams(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.select(col("doc_id"), split(col("text"), " ").as("toks"))
          .as[(Long, Seq[String])]
          .flatMap { case (id, toks) =>
            if (toks.length < 8) Iterator.empty
            else toks.sliding(8).map(w => (id, w.mkString(" ")))
          }
          .toDF("doc_id", "gram")
      val trainGrams = grams(sp.filter(col("h") < 90)).select("gram").distinct()
      grams(sp.filter(col("h") >= 90))
        .distinct() // severity counts DISTINCT overlapping windows
        .join(trainGrams, Seq("gram"), "left_semi")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_overlap_grams"))
        .join(sp.select("doc_id", "lang"), Seq("doc_id"))
        .select("doc_id", "lang", "n_overlap_grams")
        .orderBy("doc_id")
    }),

    // The deduplicated corpus: every doc except non-canonical cluster
    // members (keep the min doc_id per near-dup component) — the actual
    // output a training-data pipeline ships. Anti join against the
    // clustered non-canonicals; at scale the components frame is tiny
    // relative to the corpus, so this broadcasts.
    "dedup_canonical" -> ((s, d) => {
      val labels = componentLabels(s, d)
      val dropIds = labels.filter(col("id") =!= col("lbl")).select(col("id").as("doc_id"))
      Tables.documents(s, d)
        .join(dropIds, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // Quality-argmax canonicalization — production dedup keeps the BEST
    // cluster member, not the lowest id: per near-dup cluster, the keeper
    // is argmax(quality, doc_id), scored with the exact text_quality
    // arithmetic (one shared definition, TextAnalysis.qualityExpr). The
    // argmax is max(struct(quality, doc_id)) — map-side partial, one
    // candidate row per cluster per partition, vs the oracle's
    // shuffle-everything window formulation. Scores are round4-ed BEFORE
    // ranking so the rank key is cross-engine-stable (text_tfidf rule).
    "dedup_canonical_best" -> ((s, d) => {
      val labels = componentLabels(s, d)
      val q = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_toks", size(col("toks")).cast("double"))
        .withColumn("n_dist", size(array_distinct(col("toks"))).cast("double"))
        .withColumn("sw",
          expr(s"size(filter(toks, t -> t IN (${TextAnalysis.enStopSql})))").cast("double"))
        .withColumn("quality",
          TextAnalysis.qualityExpr(col("n_toks"), col("n_dist"), col("sw")))
        .select(col("doc_id"), col("quality"))
      labels.join(q, labels("id") === q("doc_id"))
        .groupBy(col("lbl").as("cluster_id"))
        .agg(max(struct(col("quality"), col("doc_id"))).as("m"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_id"), col("m.doc_id").as("keep_id"),
          col("m.quality").as("keep_quality"), col("n_members"))
        .orderBy("cluster_id")
    }),

    // Threshold-tuning curve — the diagnostic a dedup pipeline runs
    // BEFORE fixing its LSH threshold: exact Jaccard over every
    // shingle-sharing pair, bucketed into deciles, with the
    // pairs-at-or-above running total (read straight off: "0.7 keeps N
    // pairs, 0.6 keeps M"). The decile key is floor(jac·10) — identical
    // IEEE double division + multiply + floor on both engines, so the
    // bucket of a boundary value like 3/5 (whose double is just UNDER
    // 0.6) is deterministic cross-engine. The co-shingle pair universe is
    // quadratic in cluster size, so at 100 TB this runs on a hash-sample
    // of the corpus (Graft.hashSample is the knob) — the curve is a
    // tuning artifact, not a production pass; the curve's shape, not its
    // absolute counts, picks the threshold.
    "dedup_threshold_curve" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = exactJaccardPairs(s, d)
        .withColumn("bucket", least(floor(col("jac") * 10), lit(9.0)).cast("int"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      // 10-row frame: the running total is metadata-sized by design.
      val w = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.withColumn("pairs_at_or_above", sum("n_pairs").over(w))
        .orderBy("bucket")
    }),

    // Brute n-gram Jaccard (baseline for minhash): one shingle equi-join
    // computes intersection sizes directly (groupBy pair + count), so the
    // shingle join happens once — not candidates-then-reverify — and the
    // frame is the session-cached exactJaccardPairs shared with
    // dedup_threshold_curve.
    "dedup_ngram_jaccard" -> ((s, d) =>
      exactJaccardPairs(s, d)
        .filter(col("jac") >= 0.5)
        .select(col("da"), col("db"), round6(col("jac")).as("jac"))
        .orderBy("da", "db")),

    // SCRIPT-AWARE near-dup over a mixed-script corpus (round-19
    // verdict missing #2): zh/ja/th documents have no spaces, so the
    // word tokenizer sees ONE giant token and word-shingle dedup goes
    // blind — the staged corpus PLANTS CJK near-dup twins (a projected
    // doc minus its first character) that the word path provably
    // cannot pair. The gate: script-detect (CJK-codepoint fraction),
    // segment CJK docs by CHARACTER BIGRAMS and latin docs by words,
    // shingle BOTH token streams identically (3-token windows) and run
    // the same co-shingle Jaccard join — one dedup pipeline, two
    // segmenters. Every planted twin must surface with script='cjk'
    // alongside whatever latin near-dups the corpus already carries;
    // the oracle replays the identical gate/segment/shingle/join rule
    // in SQL over the same staged parquet. Scale shape: the join key is
    // a 3-token shingle (sparse — alphabet² per position), candidates
    // are co-shingle pairs, never corpus²; all segmentation is
    // codegen'd transforms, map-only until the pair join.
    "dedup_script_jaccard" -> ((s, d) => {
      // The sized shingle frame is the reusable script-aware INDEX (the
      // minhashPairs discipline): BOTH pair-join sides derive from it,
      // so without the lazy checkpoint the segment+explode+distinct
      // chain runs once per side per downstream stage.
      Tables.evictDead(indexCache, Tables.sessionKey(s))
      val withN = indexCache.computeIfAbsent(
        (Tables.sessionKey(s), d, "scriptjac"),
        _ => scriptShingleIndexOf(s.read.parquet(stageCjkCorpus(s, d)))
          .localCheckpoint(eager = false))
      scriptJaccardPairsOf(withN)
    }),

    // EXACT similarity join via PREFIX FILTERING (the PPJoin/AllPairs
    // family, Xiao et al. / Bayardo et al.) — the third candidate
    // strategy next to minhash-LSH (probabilistic, misses pairs) and the
    // brute shingle join (exact, corpus²): order every doc's shingles by
    // ascending GLOBAL document frequency (rarest first, shingle text as
    // tiebreak), keep only the first n - ceil(t·n) + 1 as the PREFIX,
    // and join docs on shared prefix shingles. Any pair with Jaccard ≥ t
    // MUST share a prefix shingle (pigeonhole: two sets missing each
    // other's whole prefixes can overlap on at most n - p < ceil(t·n)
    // elements on either side), so the candidate set has NO FALSE
    // NEGATIVES — and prefixes hold each doc's RAREST shingles, so the
    // candidate join is naturally skew-light (hot boilerplate shingles
    // are exactly the ones prefix filtering excludes for large n). The
    // verify is the shared candidate-bounded jaccardOfDocs. The ORACLE
    // is deliberately the brute-force shingle join at the same
    // threshold — two INDEPENDENT algorithms must produce the identical
    // pair set, which is the no-false-negative theorem made into a
    // hash gate. Scale: df table is shingle-keyed (uniform), the
    // per-doc rank window partitions by doc, candidates are prefix-
    // bounded; the 100 TB shape throughout.
    "dedup_prefix_jaccard" -> ((s, d) =>
      prefixJaccardPairsOf(s, Tables.documents(s, d))
        .select(col("da"), col("db"), round6(col("jac")).as("jac"))
        .orderBy("da", "db")),

    // Character-level confirm pass over the LSH candidates: shingle
    // Jaccard is blind to WHERE two near-dups differ (a one-word edit and
    // a rewritten sentence can score the same), so production dedup runs
    // an edit-distance confirm on the candidate pairs before dropping
    // documents. Levenshtein is O(|a|·|b|) — quadratic, unusable as a
    // corpus-wide pass — but here it runs only on the LSH-bounded pair
    // set (each pair one row), which is exactly how the quadratic cost
    // stays out of the scale path. Emits the distance AND the confirm
    // verdict (≤5 edits) so the gate pins the DP arithmetic, not just
    // the boundary.
    "dedup_fuzzy_edit" -> ((s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"), col("text"))
      minhashPairs(s, d).select("da", "db")
        .join(t.select(col("doc_id").as("da"), col("text").as("ta")), "da")
        .join(t.select(col("doc_id").as("db"), col("text").as("tb")), "db")
        .withColumn("dist", levenshtein(col("ta"), col("tb")))
        .select(col("da"), col("db"), col("dist"),
          (col("dist") <= 5).as("confirmed"))
        .orderBy("da", "db")
    }),

    // SimHash near-dup: 4×15-bit chunk LSH (exact recall for hamming ≤ 3)
    // + bit_count verify. Declared uncapped (exact results); see
    // simhashPairsOf for the hot-bucket valve.
    "dedup_simhash" -> ((s, d) =>
      simhashPairsOf(s, Tables.documents(s, d))
        .orderBy("da", "db")),

    // The SimHash twin of dedup_minhash_capped: same `maxBucket` skip rule
    // as a pre-join bucket-size filter, oracle-applied in SQL over the identical
    // chunk buckets. Cap 2 is deliberately aggressive (the gate fixture's
    // chunk buckets reach 27 members): at cap 2 the fixture loses exactly
    // the hamming-≤3 pairs whose EVERY colliding chunk bucket is over cap
    // (13 → 9 pairs), so the gate only matches if the skip semantics —
    // skip whole over-cap buckets, keep pairs that also collide in any
    // under-cap bucket — agree on both engines.
    "dedup_simhash_capped" -> ((s, d) =>
      simhashPairsOf(s, Tables.documents(s, d), maxBucket = 2)
        .orderBy("da", "db")),

    // Per-doc SimHash signatures themselves (fingerprint surface).
    "doc_simhash" -> ((s, d) =>
      simhashFrame(s, d).orderBy("doc_id")),

    // Embedding-cosine near-dup, blocked by label (at 100 TB: block by
    // IVF/LSH bucket instead — same join shape).
    "dedup_embed" -> ((s, d) => {
      val a = vecFrame(s, d, "va", "v_a", "nrm_a", "lbl_a")
      val b = vecFrame(s, d, "vb", "v_b", "nrm_b", "lbl_b")
      a.join(b, col("lbl_a") === col("lbl_b") && col("va") < col("vb"))
        .withColumn("dot", graft.functions.expressions.GraftFunctions.dotCol(col("v_a"), col("v_b")))
        .withColumn("cos", col("dot") / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= 0.4)
        .select(col("va"), col("vb"), round6(col("cos")).as("cos"))
        .orderBy("va", "vb")
    }),

    // Embedding near-dup, IVF-cell blocked — the 100 TB path the
    // label-blocked twin above promises. Candidates are pairs whose IVF
    // cells overlap (each vector probes its 2 nearest of 16 deterministic
    // centroids, residents live in their nearest cell — the sim_knn_ivf2
    // machinery), then an exact-cosine verify over candidates only. Work is
    // Σ cells², never corpus², and nprobe is the recall knob: on the
    // fixture nprobe=2 doubles truth-pair recall vs nprobe=1 at 2× the
    // candidate cost (pinned in EmbedIvfRecallSpec). Candidate ids are
    // deduped BEFORE the verify join back to the vectors, so each
    // surviving pair pays exactly one 64-dim dot product.
    // Embedding near-dup via random-hyperplane (cosine) LSH — the
    // data-INDEPENDENT alternative to the IVF blocking below: no centroid
    // set to build or keep consistent across corpus shards, signatures
    // merge trivially, and the bit budget is the only knob. Each vector
    // gets a 16-bit signature (sign of 16 fixed md5-derived ±1
    // hyperplanes, via the codegen graft_dot against literal arrays);
    // banding 4×4 bits buckets candidates, exact cosine verifies.
    // Recall math (documented, not hidden): P[bit agrees] = 1 - θ/π, so
    // at cos 0.9 a 4-bit band collides with p≈0.54 and ≥1-of-4 bands
    // gives ~95% recall; at this fixture's 0.4-0.6 similarity range it is
    // ~50% — RHP is a HIGH-threshold tool, which is why the declared
    // scale path for this corpus stays dedup_embed_ivf. The oracle
    // replicates the same hyperplanes/banding literally, so the output
    // (candidates ∩ cos ≥ 0.4) is exact and hash-checked.
    "dedup_embed_rhp" -> ((s, d) => {
      val dot = graft.functions.expressions.GraftFunctions.dotCol _
      val e = SimilarityQueries.vecs(s, d)
      val sig = e.select(col("vec_id").as("doc_id"), rhpSigCol.as("sig"))
      val banded = sig
        .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("band"), col("sig"))
        .withColumn("bkey", expr("shiftright(sig, CAST(band * 4 AS INT)) & 15"))
      val cand = bucketPairs(banded, Seq("band", "bkey"))
        .select(col("da").as("va"), col("db").as("vb"))
      cand
        .join(e.select(col("vec_id").as("va"), col("v").as("v_a"), col("nrm").as("nrm_a")), "va")
        .join(e.select(col("vec_id").as("vb"), col("v").as("v_b"), col("nrm").as("nrm_b")), "vb")
        .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= 0.4)
        .select(col("va"), col("vb"), round6(col("cos")).as("cos"))
        .orderBy("va", "vb")
    }),

    // SemDeDup (Abbas et al. 2023) — the published SEMANTIC dedup recipe
    // verbatim: cluster the embeddings (the shared IVF k-means
    // assignment, strictly one cell each — the paper blocks by cluster),
    // connect within-cluster pairs above the cosine threshold into
    // semantic-duplicate GROUPS (connected components — the
    // dedup_components machinery over the new pair set),
    // and keep ONE representative per group: the member LEAST similar
    // to its centroid (the paper's diversity-keeping rule; round6'd
    // cosine + vec_id as the deterministic total order). Per-cluster
    // audit: members, groups, dropped count and the kept-set checksum.
    // Scale shape: pairs are Σ cells² (never corpus²), components run
    // on the sparse above-threshold edge list, and the representative
    // choice is one window over groups.
    "dedup_semdedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dot = graft.functions.expressions.GraftFunctions.dotCol _
      val cent = IvfCodebook.centroids(s, d)
      val scored = SimilarityQueries.ivfScoredAssignment(s, d, nprobe = 1)
      val withC = scored.join(broadcast(cent), scored("cluster") === cent("cid"))
        .withColumn("ccos",
          round6(dot(col("v"), col("w")) / (col("nrm") * col("wnrm"))))
        .select(col("vec_id"), col("cluster"), col("v"), col("nrm"), col("ccos"))
        // Lazy checkpoint: withC feeds BOTH sides of the within-cluster
        // pair join and the final grouping — without the cut the IVF
        // scored assignment (a per-vector centroid argmin) is evaluated
        // three times.
        .localCheckpoint(eager = false)
      val a = withC.select(col("cluster"), col("vec_id").as("qa"),
        col("v").as("v_a"), col("nrm").as("nrm_a"))
      val b = withC.select(col("cluster"), col("vec_id").as("qb"),
        col("v").as("v_b"), col("nrm").as("nrm_b"))
      val pairs = a.join(b, Seq("cluster"))
        .filter(col("qa") < col("qb"))
        .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= 0.4)
        .select(col("qa").as("da"), col("qb").as("db"))
      val labels = componentLabelsFromPairs(pairs.localCheckpoint(eager = false))
      val grouped = withC.join(labels, withC("vec_id") === labels("id"), "left")
        .withColumn("grp", coalesce(col("lbl"), col("vec_id")))
      val ranked = grouped.withColumn("rk2", row_number().over(
        Window.partitionBy("grp").orderBy(col("ccos").asc, col("vec_id").asc)))
      ranked.groupBy("cluster")
        .agg(
          count(lit(1)).as("n_vecs"),
          countDistinct("grp").as("n_groups"),
          (count(lit(1)) - countDistinct("grp")).as("n_dropped"),
          coalesce(sum(when(col("rk2") === 1,
            graft.functions.PortableHash.h60p(col("vec_id").cast("string")))), lit(0L))
            .as("kept_checksum"))
        .orderBy("cluster")
    }),

    "dedup_embed_ivf" -> ((s, d) => {
      val dot = graft.functions.expressions.GraftFunctions.dotCol _
      val e = SimilarityQueries.vecs(s, d)
      // Index build shared with the kNN queries (one definition of the
      // centroid rule / tie-break / nprobe semantics — see its scaladoc).
      val scored = SimilarityQueries.ivfScoredAssignment(s, d, nprobe = 2)
        .select(col("vec_id"), col("cluster").as("cl"), col("rk"))
      val probe = scored.select(col("cl"), col("vec_id").as("qa"))
      val own = scored.filter(col("rk") === 1).select(col("cl"), col("vec_id").as("qb"))
      val cand = probe.join(own, "cl")
        .filter(col("qa") =!= col("qb"))
        .select(least(col("qa"), col("qb")).as("va"),
          greatest(col("qa"), col("qb")).as("vb"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("va"), col("v").as("v_a"), col("nrm").as("nrm_a")), "va")
        .join(e.select(col("vec_id").as("vb"), col("v").as("v_b"), col("nrm").as("nrm_b")), "vb")
        .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= 0.4)
        .select(col("va"), col("vb"), round6(col("cos")).as("cos"))
        .orderBy("va", "vb")
    })
  )

  /** 16×64 ±1 hyperplane matrix for the RHP signature — md5-derived so
    * both engines (and any re-run) see the identical matrix; embedded as
    * literal arrays in the Spark plan AND the oracle SQL. */
  private lazy val rhpMat: IndexedSeq[IndexedSeq[Int]] =
    (0 until 16).map(b => (0 until 64).map(i =>
      if (graft.functions.JvmHash.h60(s"rhp-$b-$i") % 2 == 0) 1 else -1))

  /** sig = Σ_b [dot(v, r_b) > 0] << b over the literal hyperplanes (the
    * dot is the codegen graft_dot; CreateArray of literals folds). */
  private def rhpSigCol: org.apache.spark.sql.Column =
    (0 until 16).map { b =>
      val arr = rhpMat(b).map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
      when(expr(s"graft_dot(v, $arr)") > lit(0.0), lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** list_zip form, NOT `range(64)` + literal indexing: DuckDB rebuilds
    * an indexed literal list per ELEMENT access (~12 ms/row for 16×64 —
    * 47 s at sf0.1, found by profiling); zipping constructs it once per
    * row and keeps the same left fold, so doubles stay bit-identical. */
  private lazy val rhpSqlSig: String =
    (0 until 16).map { b =>
      val lst = rhpMat(b).map(v => s"$v.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_reduce(list_transform(list_zip(v, $lst), z -> z[1] * z[2]), (x, y) -> x + y) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")

  private val shinglesSqlCte =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
                i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))) AS s
              FROM docs WHERE len(toks) >= 3),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                 FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       jac AS (SELECT da, db, i * 1.0 / (sa.n + sb.n - i) AS jac
               FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db)"""

  private val simhashSqlCte =
    """tok AS (SELECT doc_id, tok, count(*) AS w FROM (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1, 2),
       th AS (SELECT doc_id, w, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h0 FROM tok),
       bits AS (SELECT doc_id, b.bit, SUM(CASE WHEN (h0 >> b.bit) & 1 = 1 THEN w ELSE -w END) AS v
                FROM th, (SELECT unnest(range(60)) AS bit) b GROUP BY 1, 2),
       sim AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
               FROM bits GROUP BY 1)"""

  /** dedup_incremental's oracle — shared verbatim with the
    * bucketed-index twin (result invariance is the twin's gate). */
  private val incrementalSql =
    """WITH batch AS (
           SELECT doc_id + 1000000 AS doc_id, text || ' v2 fresh' AS text
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id, text
           FROM documents WHERE doc_id % 10 = 3),
          b AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_batch_copies
                FROM batch GROUP BY 1),
          c AS (SELECT DISTINCT md5(text) AS content_hash FROM documents)
       SELECT b.doc_id, b.n_batch_copies
       FROM b ANTI JOIN c ON b.content_hash = c.content_hash
       ORDER BY doc_id"""

  /** dedup_incremental_neardup's oracle — shared verbatim with the
    * bucketed-band-index twin. */
  private val incrementalNeardupSql =
    """WITH batch AS (
           SELECT doc_id + 3000000 AS doc_id, text || ' appendix' AS text
           FROM documents WHERE doc_id % 10 = 7
           UNION ALL
           SELECT doc_id + 4000000 AS doc_id,
                  array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
           FROM documents WHERE doc_id % 10 = 4),
          cd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          csh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
                    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))) AS s
                  FROM cd WHERE len(toks) >= 3),
          bd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM batch),
          bsh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
                    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))) AS s
                  FROM bd WHERE len(toks) >= 3),
          cs AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY 1),
          bs AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY 1),
          inter AS (SELECT c.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
                    FROM csh c JOIN bsh b ON c.s = b.s GROUP BY 1, 2),
          jac AS (SELECT da, db, i * 1.0 / (cs.n + bs.n - i) AS jac
                  FROM inter JOIN cs ON cs.doc_id = da JOIN bs ON bs.doc_id = db)
       SELECT db AS batch_id, da AS corpus_id,
              FLOOR(jac * 1000000 + 0.5) / 1000000 AS jac
       FROM jac WHERE jac >= 0.7 ORDER BY batch_id, corpus_id"""

  override def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    // The IDENTICAL script-gate/segment/shingle/join rule replayed over
    // the same staged parquet: CJK fraction via regexp count (integer
    // threshold), char bigrams via correlated range unnest, word split
    // otherwise, 3-token '|'-joined shingles, distinct-shingle Jaccard
    // ≥ 0.5 in floor-cents. DuckDB range(a, b) is end-exclusive and
    // text[i:j] is 1-based inclusive — both offsets chosen to match
    // Spark's sequence/substring exactly.
    "dedup_script_jaccard" ->
      s"""WITH c AS (SELECT doc_id AS id, text
                     FROM read_parquet('${Stage.dir(dataDir, "cjk")}/cjk.parquet/*.parquet')),
            sc AS (SELECT id, text,
                     CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) * 10 >
                               length(text) * 3
                          THEN 'cjk' ELSE 'latin' END AS script
                   FROM c),
            tk AS (SELECT id, script,
                     CASE WHEN script = 'cjk'
                          THEN CASE WHEN length(text) >= 2
                               THEN list_transform(range(1, length(text)),
                                      i -> text[i:i+1])
                               ELSE [] END
                          ELSE string_split(text, ' ') END AS toks
                   FROM sc),
            sh AS (SELECT DISTINCT id, script, sh FROM (
                     SELECT id, script,
                            unnest(CASE WHEN len(toks) >= 3
                              THEN list_transform(range(1, len(toks) - 1),
                                i -> toks[i] || '|' || toks[i+1] || '|' || toks[i+2])
                              ELSE [] END) AS sh
                     FROM tk)),
            sz AS (SELECT id, COUNT(*) AS nsh FROM sh GROUP BY 1),
            pr AS (SELECT a.id AS da, b.id AS db, a.script AS script,
                          COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                   GROUP BY 1, 2, 3)
          SELECT p.da, p.db, p.script,
                 CAST(p.i AS BIGINT) AS n_shared,
                 CAST(FLOOR(100.0 * p.i / (x.nsh + y.nsh - p.i) + 0.5) AS BIGINT)
                   AS jac_cents
          FROM pr p JOIN sz x ON p.da = x.id JOIN sz y ON p.db = y.id
          WHERE FLOOR(100.0 * p.i / (x.nsh + y.nsh - p.i) + 0.5) >= 50
          ORDER BY da, db""",
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS canonical_id, CAST(COUNT(*) AS BIGINT) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY canonical_id""",
    // The oracle NEVER parses a URL: it recomputes the canonical form
    // straight from the bucket b = doc_id % 16, so every messy variant
    // the Spark side fails to normalize splits a bucket and breaks
    // n_docs/first_doc.
    "dedup_url_canonical" ->
      """WITH v AS (SELECT doc_id, doc_id % 16 AS b FROM documents),
            c AS (SELECT doc_id,
                         (CASE WHEN b % 2 = 0 THEN 'http' ELSE 'https' END)
                         || '://www.example' || CAST(b % 7 AS VARCHAR) || '.com'
                         || '/p' || CAST(b % 5 AS VARCHAR) || '/x'
                         || '?a=' || CAST(b % 3 AS VARCHAR) || '&b=2' AS canonical_url
                  FROM v)
         SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(MIN(doc_id) AS BIGINT) AS first_doc
         FROM c GROUP BY canonical_url ORDER BY canonical_url""",
    // Same constructed batch (re-keyed exact copies + ' v2 fresh'
    // variants); ANTI JOIN rather than NOT IN so the no-NULL assumption
    // never matters cross-engine. The _indexed twin shares this SQL
    // verbatim: the bucketed-index layout must not change the result.
    "dedup_incremental" -> incrementalSql,
    "dedup_incremental_indexed" -> incrementalSql,
    // The maintenance gate's oracle recomputes BOTH batches and the
    // post-append index from scratch — the updated index is modeled as
    // base-corpus hashes ∪ batch-1 survivor hashes, so a Spark-side
    // stale index (batch2 line) or double/dropped insertion (index_after
    // rows + hash sum) cannot agree with it.
    "dedup_incremental_indexed_update" ->
      s"""WITH corpus AS (SELECT DISTINCT md5(text) AS h FROM documents),
            b1 AS (SELECT doc_id + 1000000 AS doc_id, text || ' v2 fresh' AS text
                   FROM documents WHERE doc_id % 10 = 0
                   UNION ALL
                   SELECT doc_id + 2000000 AS doc_id, text
                   FROM documents WHERE doc_id % 10 = 3),
            b1g AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
                    FROM b1 GROUP BY 1),
            b1k AS (SELECT * FROM b1g ANTI JOIN corpus USING (h)),
            idx2 AS (SELECT h FROM corpus UNION ALL SELECT h FROM b1k),
            b2 AS (SELECT doc_id + 5000000 AS doc_id, text || ' v2 fresh' AS text
                   FROM documents WHERE doc_id % 10 = 0
                   UNION ALL
                   SELECT doc_id + 6000000 AS doc_id, text
                   FROM documents WHERE doc_id % 10 = 6
                   UNION ALL
                   SELECT doc_id + 7000000 AS doc_id, text || ' v3 new' AS text
                   FROM documents WHERE doc_id % 10 = 1),
            b2g AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
                    FROM b2 GROUP BY 1),
            b2k AS (SELECT * FROM b2g ANTI JOIN idx2 USING (h))
         SELECT 'batch1_kept' AS phase, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COALESCE(SUM(${graft.functions.PortableHash.h60pSql(
                  "CAST(doc_id AS VARCHAR)")}), 0) AS BIGINT) AS checksum
         FROM b1k
         UNION ALL
         SELECT 'batch2_kept', CAST(COUNT(*) AS BIGINT),
                CAST(COALESCE(SUM(${graft.functions.PortableHash.h60pSql(
                  "CAST(doc_id AS VARCHAR)")}), 0) AS BIGINT)
         FROM b2k
         UNION ALL
         SELECT 'index_after', CAST(COUNT(*) AS BIGINT),
                CAST(COALESCE(SUM(${graft.functions.PortableHash.h60pSql("h")}), 0) AS BIGINT)
         FROM idx2
         ORDER BY phase""",
    // Same constructed batch; exact cross-frame 3-shingle Jaccard over
    // corpus × batch (the LSH on the Spark side is candidates-only —
    // exact verify makes the declared result the true near-dup set, the
    // dedup_minhash pattern). Shared by the bucketed-band-index twin for
    // the same result-invariance reason.
    "dedup_incremental_neardup" -> incrementalNeardupSql,
    "dedup_incremental_neardup_indexed" -> incrementalNeardupSql,
    // Ordered 8-gram windows (1-based inclusive list_slice: i+1..i+8 for
    // i in 0..len-8 ≡ Spark's sliding(8)); a gram is "shared" when ≥2
    // DISTINCT docs carry it, and each doc counts every shared window
    // occurrence (duplicates within one doc included).
    "dedup_span_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                    WHERE len(string_split(text, ' ')) >= 8),
            g AS (SELECT doc_id,
                         unnest(list_transform(range(len(toks) - 7),
                           i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))) AS gram
                  FROM t),
            gd AS (SELECT gram, doc_id, COUNT(*) AS nw FROM g GROUP BY 1, 2),
            h AS (SELECT gram, doc_id, nw,
                         COUNT(*) OVER (PARTITION BY gram) AS nd FROM gd)
         SELECT doc_id, CAST(SUM(nw) AS BIGINT) AS n_shared_windows
         FROM h WHERE nd >= 2 GROUP BY doc_id ORDER BY doc_id""",
    // Identical gram universe and hot-gram cap as the Spark side; spans
    // are islands of consecutive pa along each (da, db, pa−pb) diagonal.
    "dedup_span_merged" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                    WHERE len(string_split(text, ' ')) >= 8),
            g AS (SELECT doc_id, i AS pos,
                         array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS gram
                  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 7)) AS i FROM t)),
            cap AS (SELECT gram FROM
                      (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
                    WHERE nd BETWEEN 2 AND 16),
            p AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
                  FROM g a JOIN cap USING (gram) JOIN g b USING (gram)
                  WHERE a.doc_id < b.doc_id),
            isl AS (SELECT da, db, pa, pb, pa - pb AS diag,
                           pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
                                                   ORDER BY pa) AS isl
                    FROM p)
          SELECT da, db, MIN(pa) AS start_a, MIN(pb) AS start_b,
                 CAST(COUNT(*) AS BIGINT) AS span_windows,
                 CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
          FROM isl GROUP BY da, db, diag, isl
          ORDER BY da, db, start_a, start_b""",
    // Two-tier replay: tier 1 is the capped 8-gram join verbatim; tier
    // 2 re-keys hot-gram windows by covering 16-grams at the same
    // offset k (0..8), mild at 16. DISTINCT before the island merge —
    // one window can be certified by several covering 16-grams.
    "dedup_span_suffix" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                    WHERE len(string_split(text, ' ')) >= 8),
            g8 AS (SELECT doc_id, i AS pos,
                          array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS gram
                   FROM (SELECT doc_id, toks, unnest(range(len(toks) - 7)) AS i FROM t)),
            g16 AS (SELECT doc_id, i AS pos,
                           array_to_string(list_slice(toks, i + 1, i + 16), ' ') AS gram16
                    FROM (SELECT doc_id, toks, unnest(range(len(toks) - 15)) AS i
                          FROM t WHERE len(toks) >= 16)),
            nd8 AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g8 GROUP BY 1),
            mild8 AS (SELECT gram FROM nd8 WHERE nd BETWEEN 2 AND 16),
            hot8 AS (SELECT gram FROM nd8 WHERE nd > 16),
            mild16 AS (SELECT gram16 FROM
                         (SELECT gram16, COUNT(DISTINCT doc_id) AS nd FROM g16 GROUP BY 1)
                       WHERE nd BETWEEN 2 AND 16),
            p1 AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
                   FROM g8 a JOIN mild8 USING (gram) JOIN g8 b USING (gram)
                   WHERE a.doc_id < b.doc_id),
            hexp AS (SELECT h.doc_id, h.pos, k.k, e.gram16
                     FROM (SELECT g.doc_id, g.pos FROM g8 g JOIN hot8 USING (gram)) h
                     CROSS JOIN (SELECT unnest(range(9)) AS k) k
                     JOIN g16 e ON e.doc_id = h.doc_id AND e.pos = h.pos - k.k
                     JOIN mild16 USING (gram16)),
            p2 AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
                   FROM hexp a JOIN hexp b ON a.gram16 = b.gram16 AND a.k = b.k
                   WHERE a.doc_id < b.doc_id),
            p AS (SELECT DISTINCT da, db, pa, pb FROM
                    (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
            isl AS (SELECT da, db, pa, pb, pa - pb AS diag,
                           pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
                                                   ORDER BY pa) AS isl
                    FROM p)
          SELECT da, db, MIN(pa) AS start_a, MIN(pb) AS start_b,
                 CAST(COUNT(*) AS BIGINT) AS span_windows,
                 CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
          FROM isl GROUP BY da, db, diag, isl
          ORDER BY da, db, start_a, start_b""",
    "dedup_contamination_ngram" ->
      """WITH s AS (SELECT doc_id, lang, text,
                           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS h
                    FROM documents),
            t AS (SELECT doc_id, h, string_split(text, ' ') AS toks FROM s
                  WHERE len(string_split(text, ' ')) >= 8),
            g AS (SELECT doc_id, h,
                         unnest(list_transform(range(len(toks) - 7),
                           i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))) AS gram
                  FROM t),
            tg AS (SELECT DISTINCT gram FROM g WHERE h < 90),
            eg AS (SELECT DISTINCT doc_id, gram FROM g WHERE h >= 90),
            hit AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap_grams
                    FROM eg e JOIN tg USING (gram) GROUP BY e.doc_id)
          SELECT h.doc_id, s.lang, h.n_overlap_grams
          FROM hit h JOIN s ON h.doc_id = s.doc_id
          ORDER BY h.doc_id""",
    "dedup_contamination" ->
      s"""WITH $shinglesSqlCte,
            pairs AS (SELECT da, db FROM jac WHERE jac >= 0.7),
            sym AS (SELECT da, db FROM pairs UNION ALL SELECT db AS da, da AS db FROM pairs),
            d AS (SELECT doc_id, lang,
                         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS h
                  FROM documents)
          SELECT DISTINCT e.doc_id, e.lang
          FROM d e JOIN sym ON sym.da = e.doc_id JOIN d t ON t.doc_id = sym.db
          WHERE e.h >= 90 AND t.h < 90
          ORDER BY e.doc_id""",
    // Exact cross-language shingle Jaccard; the minhash ESTIMATE lives only
    // on the Spark side — its ≤0.25 absolute-error contract is the checked
    // column (q_hll pattern).
    "lang_minhash_sim" ->
      """WITH tk AS (SELECT lang, string_split(text, ' ') AS t FROM documents
                     WHERE len(string_split(text, ' ')) >= 3),
            sh AS (SELECT DISTINCT lang,
                          unnest(list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
                   FROM tk),
            sz AS (SELECT lang, COUNT(*) AS n FROM sh GROUP BY lang),
            iv AS (SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_inter
                   FROM sh a JOIN sh b ON a.s = b.s AND a.lang < b.lang
                   GROUP BY 1, 2)
          SELECT lang_a, lang_b, CAST(n_inter AS BIGINT) AS n_inter,
                 FLOOR(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) * 1000000 + 0.5)/1000000 AS jac,
                 true AS est_within_tol
          FROM iv JOIN sz sa ON sa.lang = iv.lang_a
                  JOIN sz sb ON sb.lang = iv.lang_b
          ORDER BY lang_a, lang_b""",
    // Exact value twin of the Spark-side sketch: both engines compute
    // min_k over distinct shingles of the SAME portable seeded-md5 family
    // (PortableHash ≡ JvmHash ≡ this SQL), so the 32 component minima —
    // and hence the match count and estimate — are bit-identical.
    "lang_minhash_sketch" ->
      s"""WITH tk AS (SELECT lang, string_split(text, ' ') AS t FROM documents
                      WHERE len(string_split(text, ' ')) >= 3),
            sh AS (SELECT DISTINCT lang,
                          unnest(list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
                   FROM tk),
            hh AS (SELECT lang, ${h60pSql("s")} AS h FROM sh),
            comp AS (SELECT lang, ks.k AS k, MIN(${seededSql("h", "ks.k")}) AS mh
                     FROM hh, (SELECT unnest(range(32)) AS k) ks GROUP BY 1, 2),
            pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
                             CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
                      FROM comp a JOIN comp b ON a.k = b.k AND a.lang < b.lang
                      GROUP BY 1, 2)
          SELECT lang_a, lang_b, n_match,
                 FLOOR(n_match / 32.0 * 1000000 + 0.5) / 1000000 AS est
          FROM pairs ORDER BY lang_a, lang_b""",
    "dedup_components" ->
      s"""WITH RECURSIVE $shinglesSqlCte,
            pairs AS (SELECT da, db FROM jac WHERE jac >= 0.7),
            cedges AS (SELECT da AS a, db AS b FROM pairs
                       UNION SELECT db, da FROM pairs
                       UNION SELECT da, da FROM pairs
                       UNION SELECT db, db FROM pairs),
            reach(a, b) AS (SELECT a, b FROM cedges
                            UNION SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a)
          SELECT a AS doc_id, MIN(b) AS cluster_id,
                 CAST(COUNT(DISTINCT b) AS INT) AS cluster_size
          FROM reach GROUP BY a ORDER BY doc_id""",
    "dedup_canonical" ->
      s"""WITH RECURSIVE $shinglesSqlCte,
            pairs AS (SELECT da, db FROM jac WHERE jac >= 0.7),
            cedges AS (SELECT da AS a, db AS b FROM pairs
                       UNION SELECT db, da FROM pairs
                       UNION SELECT da, da FROM pairs
                       UNION SELECT db, db FROM pairs),
            reach(a, b) AS (SELECT a, b FROM cedges
                            UNION SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a),
            comp AS (SELECT a AS cdoc, MIN(b) AS cluster_id FROM reach GROUP BY a)
          SELECT d.doc_id, d.lang, d.n_chars FROM documents d
          WHERE NOT EXISTS (SELECT 1 FROM comp c
                            WHERE c.cdoc = d.doc_id AND c.cdoc <> c.cluster_id)
          ORDER BY d.doc_id""",
    // Same recursive-CTE components as dedup_canonical, keeper chosen by
    // the window formulation (quality DESC, doc_id DESC ≡ the struct max).
    "dedup_canonical_best" ->
      s"""WITH RECURSIVE $shinglesSqlCte,
            pairs AS (SELECT da, db FROM jac WHERE jac >= 0.7),
            cedges AS (SELECT da AS a, db AS b FROM pairs
                       UNION SELECT db, da FROM pairs
                       UNION SELECT da, da FROM pairs
                       UNION SELECT db, db FROM pairs),
            reach(a, b) AS (SELECT a, b FROM cedges
                            UNION SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a),
            comp AS (SELECT a AS cdoc, MIN(b) AS cluster_id FROM reach GROUP BY a),
            t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            m AS (SELECT doc_id,
                    CAST(len(toks) AS DOUBLE) AS n_toks,
                    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dist,
                    CAST(len(list_filter(toks, t -> t IN (${TextAnalysis.enStopSql}))) AS DOUBLE) AS sw
                  FROM t),
            ql AS (SELECT doc_id, ${TextAnalysis.qualitySql} AS quality FROM m),
            mem AS (SELECT c.cluster_id, c.cdoc AS doc_id, ql.quality
                    FROM comp c JOIN ql ON ql.doc_id = c.cdoc),
            rk AS (SELECT cluster_id, doc_id, quality,
                          ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id DESC) AS r,
                          CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
                   FROM mem)
          SELECT cluster_id, doc_id AS keep_id, quality AS keep_quality, n_members
          FROM rk WHERE r = 1 ORDER BY cluster_id""",
    // Oracle = brute force; the Spark side's LSH recall at observed pair
    // similarity (≥0.9) differs from 1 by < 1e-40.
    "dedup_minhash" ->
      s"""WITH $shinglesSqlCte
          SELECT da, db, FLOOR(jac*1000000 + 0.5)/1000000 AS jac FROM jac
          WHERE jac >= 0.7 ORDER BY da, db""",
    // Exact-pair twin (jac >= 0.7, the proven dedup_minhash set) + the
    // same Levenshtein DP on the same texts through DuckDB's independent
    // implementation.
    "dedup_fuzzy_edit" ->
      s"""WITH $shinglesSqlCte,
            pairs AS (SELECT da, db FROM jac WHERE jac >= 0.7),
            tx AS (SELECT p.da, p.db,
                          CAST(levenshtein(a.text, b.text) AS INT) AS dist
                   FROM pairs p
                   JOIN documents a ON a.doc_id = p.da
                   JOIN documents b ON b.doc_id = p.db)
          SELECT da, db, dist, dist <= 5 AS confirmed
          FROM tx ORDER BY da, db""",
    // Full band-key replication (portable seeded-md5 family, same as
    // lang_minhash_sketch) plus the SAME bucket-size skip rule as
    // bucketPairs: buckets with more than 2 members contribute no pairs;
    // a pair survives if ANY of its colliding buckets is under the cap.
    "dedup_minhash_capped" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
                     i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))) AS s
                   FROM docs WHERE len(toks) >= 3),
            hh AS (SELECT doc_id, ${h60pSql("s")} AS h FROM sh),
            comp AS (SELECT doc_id, ks.k AS k, MIN(${seededSql("h", "ks.k")}) AS mh
                     FROM hh, (SELECT unnest(range(32)) AS k) ks GROUP BY 1, 2),
            bands AS (SELECT a.doc_id, a.k AS band, a.mh * 1000000007 + b.mh AS bkey
                      FROM comp a JOIN comp b ON b.doc_id = a.doc_id AND b.k = a.k + 1
                      WHERE a.k % 2 = 0),
            bsz AS (SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY 1, 2),
            cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                     FROM bands a JOIN bands b
                       ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
                     JOIN bsz ON bsz.band = a.band AND bsz.bkey = a.bkey
                     WHERE bsz.n <= 2),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (SELECT c.da, c.db, count(*) AS i
                      FROM cand c JOIN sh a ON a.doc_id = c.da
                                  JOIN sh b ON b.doc_id = c.db AND b.s = a.s
                      GROUP BY 1, 2),
            jac AS (SELECT da, db, i * 1.0 / (sa.n + sb.n - i) AS jac
                    FROM inter JOIN sizes sa ON sa.doc_id = da
                               JOIN sizes sb ON sb.doc_id = db)
          SELECT da, db, FLOOR(jac*1000000 + 0.5)/1000000 AS jac FROM jac
          WHERE jac >= 0.7 ORDER BY da, db""",
    "dedup_triangles" ->
      s"""WITH $shinglesSqlCte,
            pairs AS (SELECT da, db FROM jac WHERE jac >= 0.7),
            deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
                      SELECT da AS v FROM pairs UNION ALL SELECT db FROM pairs)
                    GROUP BY v),
            tri AS (SELECT p1.da AS x, p1.db AS y, p2.db AS z
                    FROM pairs p1
                    JOIN pairs p2 ON p1.db = p2.da
                    JOIN pairs p3 ON p3.da = p1.da AND p3.db = p2.db),
            tv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
                     SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
                     UNION ALL SELECT z FROM tri)
                   GROUP BY v)
          SELECT deg.v AS doc_id, deg.degree, COALESCE(tv.n_tri, 0) AS n_tri
          FROM deg LEFT JOIN tv USING (v) ORDER BY doc_id""",
    // Three unrolled integer power-iteration steps — same fixed-point
    // recurrence as the Spark side, term for term.
    "graph_pagerank" ->
      s"""WITH $shinglesSqlCte,
            pairs AS (SELECT da, db FROM jac WHERE jac >= 0.7),
            edges AS (SELECT da AS src, db AS dst FROM pairs
                      UNION ALL SELECT db, da FROM pairs),
            deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
                    FROM edges GROUP BY 1),
            nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                          CAST(CASE WHEN COUNT(*) = 0 THEN 0
                               ELSE 1000000000000 // COUNT(*) END AS BIGINT) AS base
                   FROM deg),
            r0 AS (SELECT id, deg, base, base AS r FROM deg CROSS JOIN nb),
            i1 AS (SELECT e.dst AS id, CAST(SUM(r.r // r.deg) AS BIGINT) AS incoming
                   FROM edges e JOIN r0 r ON e.src = r.id GROUP BY 1),
            r1 AS (SELECT d.id, d.deg, nb.base,
                          (15 * nb.base) // 100 + (85 * i1.incoming) // 100 AS r
                   FROM deg d JOIN i1 ON d.id = i1.id CROSS JOIN nb),
            i2 AS (SELECT e.dst AS id, CAST(SUM(r.r // r.deg) AS BIGINT) AS incoming
                   FROM edges e JOIN r1 r ON e.src = r.id GROUP BY 1),
            r2 AS (SELECT d.id, d.deg, nb.base,
                          (15 * nb.base) // 100 + (85 * i2.incoming) // 100 AS r
                   FROM deg d JOIN i2 ON d.id = i2.id CROSS JOIN nb),
            i3 AS (SELECT e.dst AS id, CAST(SUM(r.r // r.deg) AS BIGINT) AS incoming
                   FROM edges e JOIN r2 r ON e.src = r.id GROUP BY 1),
            r3 AS (SELECT d.id, d.deg,
                          (15 * nb.base) // 100 + (85 * i3.incoming) // 100 AS r
                   FROM deg d JOIN i3 ON d.id = i3.id CROSS JOIN nb)
          SELECT id AS doc_id, deg AS degree, CAST(r AS BIGINT) AS rank_e12
          FROM r3 ORDER BY doc_id""",
    "dedup_ngram_jaccard" ->
      s"""WITH $shinglesSqlCte
          SELECT da, db, FLOOR(jac*1000000 + 0.5)/1000000 AS jac FROM jac
          WHERE jac >= 0.5 ORDER BY da, db""",
    // Deliberately the BRUTE-FORCE join: the prefix-filtered Spark plan
    // must reproduce the naive algorithm's pair set exactly (prefix
    // filtering admits no false negatives) — algorithm-independence is
    // the gate.
    "dedup_prefix_jaccard" ->
      s"""WITH $shinglesSqlCte
          SELECT da, db, FLOOR(jac*1000000 + 0.5)/1000000 AS jac FROM jac
          WHERE jac >= 0.5 ORDER BY da, db""",
    "dedup_threshold_curve" ->
      s"""WITH $shinglesSqlCte,
            b AS (SELECT CAST(LEAST(FLOOR(jac * 10), 9) AS INT) AS bucket FROM jac),
            c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
                  FROM b GROUP BY 1)
          SELECT bucket, n_pairs,
                 CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS pairs_at_or_above
          FROM c ORDER BY bucket""",
    "dedup_simhash" ->
      s"""WITH $simhashSqlCte
          SELECT a.doc_id AS da, b.doc_id AS db,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS ham
          FROM sim a JOIN sim b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          ORDER BY da, db""",
    // Same signatures, but candidates come from the 4×15-bit chunk buckets
    // with the over-cap-bucket skip rule applied in SQL: buckets with more
    // than 2 members contribute NO pairs; a pair survives via any
    // under-cap bucket it also collides in.
    "dedup_simhash_capped" ->
      s"""WITH $simhashSqlCte,
            keyed AS (SELECT doc_id, simhash, c.chunk AS chunk,
                             (simhash >> (c.chunk * 15)) & 32767 AS ckey
                      FROM sim, (SELECT unnest(range(4)) AS chunk) c),
            bsz AS (SELECT chunk, ckey, COUNT(*) AS n FROM keyed GROUP BY 1, 2),
            cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                            a.simhash AS sa, b.simhash AS sb
                     FROM keyed a JOIN keyed b
                       ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
                     JOIN bsz ON bsz.chunk = a.chunk AND bsz.ckey = a.ckey
                     WHERE bsz.n <= 2)
          SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS ham
          FROM cand WHERE bit_count(xor(sa, sb)) <= 3
          ORDER BY da, db""",
    "doc_simhash" ->
      s"""WITH $simhashSqlCte
          SELECT doc_id, simhash FROM sim ORDER BY doc_id""",
    "dedup_embed" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, label, v,
                           sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
                    FROM e),
              p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                           list_reduce(list_transform(range(64), i -> a.v[i + 1] * b.v[i + 1]),
                                       (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
                    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT va, vb, FLOOR(cos*1000000 + 0.5)/1000000 AS cos FROM p
         WHERE cos >= 0.4 ORDER BY va, vb""",
    "dedup_embed_rhp" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
            n AS (SELECT vec_id, v,
                         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
                  FROM e),
            sg AS (SELECT vec_id, $rhpSqlSig AS sig FROM n),
            keyed AS (SELECT vec_id, band, (sig >> (band * 4)) & 15 AS bkey
                      FROM (SELECT vec_id, sig, unnest([0, 1, 2, 3]) AS band FROM sg)),
            cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
                     FROM keyed a JOIN keyed b
                       ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
            p AS (SELECT c.va, c.vb,
                         list_reduce(list_transform(range(64), i -> x.v[i + 1] * y.v[i + 1]),
                                     (u, t) -> u + t) / (x.nrm * y.nrm) AS cos
                  FROM cand c JOIN n x ON c.va = x.vec_id JOIN n y ON c.vb = y.vec_id)
          SELECT va, vb, FLOOR(cos*1000000 + 0.5)/1000000 AS cos FROM p
          WHERE cos >= 0.4 ORDER BY va, vb""",
    // The SemDeDup replay: same assignment CTE, intra-cluster pairs at
    // the threshold, components via a recursive CTE, and the same
    // (round6 ccos, vec_id) representative order.
    "dedup_semdedup" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
                    FROM e),
              ${SimilarityQueries.centSqlCte(dataDir)},
              sc AS (SELECT a.vec_id, a.v, a.nrm, c.cid,
                            list_reduce(list_transform(range(64), i -> a.v[i + 1] * c.w[i + 1]),
                                        (x, y) -> x + y) / (a.nrm * c.wnrm) AS ccos_raw,
                            ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY list_reduce(list_transform(range(64), i -> a.v[i + 1] * c.w[i + 1]),
                                                   (x, y) -> x + y) / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                     FROM n a, cent c),
              asg AS (SELECT vec_id, v, nrm, cid AS cluster,
                             FLOOR(ccos_raw*1000000 + 0.5)/1000000 AS ccos
                      FROM sc WHERE rk = 1),
              pr AS (SELECT x.vec_id AS da, y.vec_id AS db
                     FROM asg x JOIN asg y
                       ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                     WHERE list_reduce(list_transform(range(64), i -> x.v[i + 1] * y.v[i + 1]),
                                       (u, t) -> u + t) / (x.nrm * y.nrm) >= 0.4),
              cedges AS (SELECT da AS a, db AS b FROM pr
                         UNION SELECT db, da FROM pr
                         UNION SELECT da, da FROM pr
                         UNION SELECT db, db FROM pr),
              reach(a, b) AS (SELECT a, b FROM cedges
                              UNION SELECT r.a, e2.b FROM reach r JOIN cedges e2 ON r.b = e2.a),
              comp AS (SELECT a AS id, MIN(b) AS lbl FROM reach GROUP BY a),
              g AS (SELECT asg.vec_id, asg.cluster, asg.ccos,
                           COALESCE(comp.lbl, asg.vec_id) AS grp
                    FROM asg LEFT JOIN comp ON comp.id = asg.vec_id),
              r AS (SELECT vec_id, cluster, grp,
                           ROW_NUMBER() OVER (PARTITION BY grp ORDER BY ccos, vec_id) AS rk2
                    FROM g)
          SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
                 CAST(COUNT(*) - COUNT(DISTINCT grp) AS BIGINT) AS n_dropped,
                 CAST(COALESCE(SUM(CASE WHEN rk2 = 1 THEN ${graft.functions.PortableHash.h60pSql("CAST(vec_id AS VARCHAR)")} END), 0) AS BIGINT) AS kept_checksum
          FROM r GROUP BY 1 ORDER BY cluster""",
    "dedup_embed_ivf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
                    FROM e),
              ${SimilarityQueries.centSqlCte(dataDir)},
              sc AS (SELECT a.vec_id, c.cid AS cl,
                            ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY list_reduce(list_transform(range(64), i -> a.v[i + 1] * c.w[i + 1]),
                                                   (x, y) -> x + y) / (a.nrm * c.wnrm) DESC, c.cid) AS rk
                     FROM n a, cent c),
              probe AS (SELECT vec_id, cl FROM sc WHERE rk <= 2),
              own AS (SELECT vec_id, cl FROM sc WHERE rk = 1),
              cand AS (SELECT DISTINCT least(a.vec_id, b.vec_id) AS va,
                                       greatest(a.vec_id, b.vec_id) AS vb
                       FROM probe a JOIN own b ON a.cl = b.cl AND a.vec_id <> b.vec_id),
              p AS (SELECT c.va, c.vb,
                           list_reduce(list_transform(range(64), i -> x.v[i + 1] * y.v[i + 1]),
                                       (u, t) -> u + t) / (x.nrm * y.nrm) AS cos
                    FROM cand c JOIN n x ON c.va = x.vec_id JOIN n y ON c.vb = y.vec_id)
         SELECT va, vb, FLOOR(cos*1000000 + 0.5)/1000000 AS cos FROM p
         WHERE cos >= 0.4 ORDER BY va, vb"""
  )

  val oracleSql: Map[String, String] = oracleSqlFor(graft.Stage.GateDir)
}
