package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing library API — parameterized operators over arbitrary
  * DataFrames (the fixture-bound `SparkEntry.queries` are thin bindings of
  * these to the driver's test tables). A reference-library user migrates
  * by calling these (or the typed `graft.mr.MapReduceJob` facade) on their
  * own data.
  *
  * Conventions: document frames carry (`doc_id`: long, `text`: string);
  * embedding frames carry (`vec_id`: long, `embedding`: array<float|double>).
  *
  * Null contract (real corpora have null text/embeddings; the round-9
  * sweep pinned every path in NullHandlingSpec — none crash):
  *  - token/signature paths (`wordCount`, `simhash`, `tfidfTopTerms`,
  *    `vocabEncode`, `topNgrams`) DROP null-text docs — `split(null)`
  *    yields no tokens, hence no signature, matching SQL semantics;
  *  - dedup treats null as un-comparable: null-text docs have no LSH
  *    signature, so `deduplicate` keeps them all (exact-hash dedup of
  *    nulls is `dedup_exact`'s job upstream, where they group);
  *  - per-doc stat paths (`tokenStats`, `packSequences`) PRESERVE the
  *    row with null stats — the caller sees which docs were skipped;
  *  - embedding paths treat null vectors as absent ([[cosineTopK]],
  *    `embedNearDupIvf`).
  */
object Graft {

  /** Word count over any text column — the flagship pipeline. */
  def wordCount(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Exact dedup: one canonical (min doc_id) row per distinct content. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")

  /** MinHash+LSH near-duplicate pairs (true Jaccard ≥ threshold).
    * `maxBucket` (opt-in) skips LSH buckets larger than the cap — bounds
    * worst-case pair expansion on boilerplate-heavy corpora at a small,
    * documented recall cost (a pair is lost only if every one of its 16
    * band collisions is over the cap). */
  def nearDupPairs(spark: SparkSession, docs: DataFrame, threshold: Double = 0.7,
                   maxBucket: Int = Int.MaxValue): DataFrame =
    operators.DedupQueries.minhashPairsOf(spark, docs, threshold, maxBucket)

  /** Near-dup clusters: (doc_id, cluster_id) via connected components. */
  def nearDupClusters(spark: SparkSession, docs: DataFrame, threshold: Double = 0.7): DataFrame =
    operators.DedupQueries.componentLabelsOf(spark, docs, threshold)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))

  /** The deduplicated corpus: drops non-canonical near-dup cluster members. */
  def deduplicate(spark: SparkSession, docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    val labels = operators.DedupQueries.componentLabelsOf(spark, docs, threshold)
    docs.join(labels.filter(col("id") =!= col("lbl")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  /** Decontamination check: eval docs that have a near-duplicate partner
    * (true Jaccard ≥ threshold) in the train corpus. `doc_id` must be
    * integral (the dedup kernels read it as Long — enforced here rather
    * than silently null-casting); ids are re-keyed by parity internally
    * so the two frames may share doc_id spaces, with `pmod` so negative
    * ids survive the round-trip. Returns the contaminated eval doc_ids. */
  def contaminated(spark: SparkSession, train: DataFrame, eval: DataFrame,
                   threshold: Double = 0.7): DataFrame = {
    for (df <- Seq(train, eval)) {
      val dt = df.schema("doc_id").dataType
      require(dt == org.apache.spark.sql.types.LongType ||
              dt == org.apache.spark.sql.types.IntegerType,
        s"contaminated requires an integral doc_id, got ${dt.catalogString}")
    }
    // |doc_id| must stay below Long.MaxValue/2 or the ×2 re-keying wraps
    // and can alias a train id onto an eval id (wrong results, silently).
    // assert_error raises AT SCAN TIME inside the distributed plan — no
    // driver-side min/max pre-pass over the corpus.
    // (Explicit two-sided bound, not abs(): abs(Long.MinValue) wraps
    // negative and would slip through.)
    val lim = Long.MaxValue / 2
    val guard = (c: org.apache.spark.sql.Column) =>
      when(c >= lim || c <= -lim,
        raise_error(concat(lit("contaminated: |doc_id| too large to re-key: "),
          c.cast("string"))).cast("long"))
        .otherwise(c)
    val t = train.select((guard(col("doc_id").cast("long")) * 2).as("doc_id"), col("text"))
    val e = eval.select((guard(col("doc_id").cast("long")) * 2 + 1).as("doc_id"), col("text"))
    val pairs = operators.DedupQueries.minhashPairsOf(spark, t.union(e), threshold)
    val sym = pairs.select(col("da").as("x"), col("db").as("y"))
      .union(pairs.select(col("db").as("x"), col("da").as("y")))
    sym.filter(pmod(col("x"), lit(2)) === 1 && pmod(col("y"), lit(2)) === 0)
      .select(expr("(x - 1) div 2").as("doc_id"))
      .distinct()
  }

  /** 60-bit SimHash signature per document. */
  def simhash(spark: SparkSession, docs: DataFrame): DataFrame =
    operators.DedupQueries.simhashFrameOf(spark, docs)

  /** Exact cosine top-k against a probe vector id.
    *
    * Degenerate vectors are ABSENT: a null embedding can neither rank (a
    * null cosine used to occupy trailing top-k slots) nor serve as the
    * probe (a null probe would null every cosine and return k arbitrary
    * rows), a zero-norm vector used to THROW (ANSI DIVIDE_BY_ZERO on
    * 0/0 — killing the whole query on one bad row), and a NaN-component
    * vector's NaN cosine — which Spark orders GREATER than every
    * double — used to take rank #1. The division is when-guarded and
    * non-finite cosines are filtered, so all of these now yield the same
    * result as if the row didn't exist (NullHandlingSpec pins each
    * case). */
  def cosineTopK(spark: SparkSession, embeddings: DataFrame, probeId: Long, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k") // limit(0) is legal → silently empty
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", functions.expressions.GraftFunctions.normCol(col("v")))
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("v").as("w"), col("nrm").as("wnrm"))
    e.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .withColumn("cos",
        // The when-guard must wrap the division, not filter after it:
        // under ANSI (Spark 4 default) a zero norm THROWS DIVIDE_BY_ZERO
        // and kills the query. The isnan filter below is load-bearing,
        // not a belt: Spark orders NaN greater than any double, so a NaN
        // norm PASSES `> 0` and its NaN cosine would rank #1 — only the
        // explicit isnan drops it (likewise NaN dots from ±Inf).
        when(col("nrm") > 0 && col("wnrm") > 0,
          functions.expressions.GraftFunctions.dotCol(col("v"), col("w")) /
            (col("nrm") * col("wnrm"))))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .select(col("vec_id"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-document token statistics (counts + lexical diversity). */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col(textCol), " ")).as("n_tokens"),
      length(col(textCol)).as("len"),
      size(array_distinct(split(col(textCol), " "))).as("n_distinct"))

  /** Build a bloom filter over a key column (binary artifact, default
    * 8 KB / 6 hashes — see BloomSketch for sizing). Aggregates map-side
    * (OR-merged partials); the artifact broadcasts to probe sides. */
  def bloomBuild(spark: SparkSession, df: DataFrame, keyCol: String): DataFrame = {
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    df.agg(functions.expressions.GraftFunctions
      .bloomAggCol(col(keyCol).cast("string")).as("bloom"))
  }

  /** Prune `df` to rows whose `keyCol` MAY be in the bloom build — the
    * runtime-filter semi-join: false ⇒ definitely absent (safe to drop),
    * true ⇒ verify with the real join. Map-only over the big side.
    *
    * The artifact frame may carry ANY number of rows (a grouped build
    * emits one filter per group): they are OR-merged into one union
    * filter before broadcasting, so the crossJoin is guaranteed
    * single-row and can never duplicate surviving probe rows. The union
    * keeps the no-false-negative contract for every constituent filter's
    * keys; mixed-parameter artifacts fail fast inside the merge. */
  def bloomProbe(spark: SparkSession, df: DataFrame, keyCol: String,
                 bloom: DataFrame): DataFrame = {
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    // Collision-proof artifact name: the probe frame may legitimately
    // carry its own "bloom" column (and drop() would silently eat it).
    // Resolve the artifact by NAME first — a positional head() would
    // silently probe the wrong column of an augmented artifact frame.
    val artCol =
      if (bloom.columns.contains("bloom")) "bloom"
      else {
        require(bloom.columns.length == 1,
          s"bloom frame needs a 'bloom' column or exactly one column, got ${bloom.columns.mkString(", ")}")
        bloom.columns.head
      }
    val art = bloom.agg(functions.expressions.GraftFunctions
      .bloomMergeCol(col(artCol)).as("__graft_bloom"))
    df.crossJoin(broadcast(art))
      .filter(functions.expressions.GraftFunctions
        .bloomContainsCol(col("__graft_bloom"), col(keyCol).cast("string")))
      .drop("__graft_bloom")
  }

  /** CDC latest-record compaction over ANY change log: the newest row
    * per `keyCol` by `orderCol`, via max(struct(...)) so partial
    * aggregation ships one candidate per key per partition (a ranking
    * window would shuffle every version). Ties on `orderCol` break by
    * the remaining columns in their original order — pass a unique
    * (orderCol) per key, or accept that documented tie-break. */
  def cdcCompact(log: DataFrame, keyCol: String, orderCol: String): DataFrame = {
    val others = log.columns.filterNot(c => c == keyCol || c == orderCol).toSeq
    val ordered = orderCol +: others
    log.groupBy(keyCol)
      .agg(max(struct(ordered.map(col): _*)).as("__m"))
      // getField, not col("__m.name"): a column name containing a dot
      // would misparse as a nested path.
      .select(col(keyCol) +: ordered.map(c => col("__m").getField(c).as(c)): _*)
  }

  /** Per-key exponential smoothing (the q_ewma recurrence) over ANY
    * frame: deterministic left fold in (`orderCol`, `tieCol`) order.
    * Use alpha = 0.5 when cross-engine bit-exactness matters (exact
    * binary halving); other alphas are fine within one engine. */
  def ewma(df: DataFrame, keyCol: String, orderCol: String, tieCol: String,
           valueCol: String, alpha: Double = 0.5): DataFrame = {
    // alpha = 0 ignores every observation (and NaN/∞ propagate): outside
    // (0, 1] the recurrence is not an EWMA — fail rather than emit
    // plausible-looking nonsense.
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    df.groupBy(keyCol)
      .agg(sort_array(collect_list(struct(col(orderCol), col(tieCol),
        col(valueCol).cast("double").as("__v")))).as("__series"))
      .select(col(keyCol),
        size(col("__series")).as("n_events"),
        expr(
          s"""aggregate(__series, CAST(NULL AS DOUBLE),
                (acc, x) -> CASE WHEN acc IS NULL THEN x.__v
                                 ELSE acc * ${1 - alpha} + x.__v * $alpha END)""").as("ewma"))
  }

  /** Ordered funnel over an event stream: how many `groupCols` groups
    * reach each step of `steps` strictly in order (cumulative-max window
    * flags — one partitioning, no self-joins). Returns one row per
    * group with a 0/1 column per step, ready for a roll-up. */
  def funnel(events: DataFrame, steps: Seq[String], groupCols: Seq[String],
             typeCol: String = "event_type", orderCols: Seq[String] = Seq("ts", "event_id")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // A repeated step would both collide on the reached_* output name and
    // let ONE event satisfy consecutive identical steps (the cumulative
    // window includes the current row) — reject rather than miscount.
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: ${steps.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = steps.zipWithIndex.foldLeft((events, lit(1))) {
      case ((df, prevSeen), (step, i)) =>
        val hit = when(col(typeCol) === step && prevSeen === 1, 1).otherwise(0)
        (df.withColumn(s"__s$i", max(hit).over(cum)), col(s"__s$i"))
    }._1
    flagged.groupBy(groupCols.map(col): _*)
      .agg(max(s"__s0").as(s"reached_${steps.head}"),
        steps.indices.tail.map(i => max(s"__s$i").as(s"reached_${steps(i)}")): _*)
  }

  /** Top-k salient terms per document by TF-IDF. Scores are rounded to
    * 1e-6 BEFORE ranking (cross-engine-stable rank keys); the corpus
    * size arrives as a broadcast 1-row frame, never a driver count. */
  def tfidfTopTerms(docs: DataFrame, k: Int, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k") // rk <= 0 matches no row → silently empty
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("w"))
    val tc = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val dl = docs.select(col(idCol).as("doc_id"), size(split(col(textCol), " ")).cast("long").as("len"))
    val dfq = tc.groupBy("w").agg(count(lit(1)).as("df"))
    val nd = broadcast(docs.agg(count(lit(1)).as("nd")))
    val byDoc = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("w"))
    tc.join(dl, "doc_id")
      .join(dfq, "w")
      .crossJoin(nd)
      .withColumn("tfidf", Portable.round6(
        (col("cnt").cast("double") / col("len").cast("double")) *
          log(col("nd").cast("double") / col("df").cast("double"))))
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("w").as("term"), col("tfidf"))
  }

  /** BM25 top-k document retrieval for a fixed bag-of-words query
    * (Robertson/Sparck-Jones, the classic probabilistic ranking; k1=1.2,
    * b=0.75). Scale shape: the token stream is FILTERED to the query
    * terms before any aggregation (map-side — the shuffled tf frame is
    * ≤ |terms| rows per doc), df is a |terms|-row broadcast, and the
    * corpus stats (N, avgdl) travel as a broadcast 1-row frame. Per-term
    * contributions are summed via per-term conditional aggregates added
    * in a FIXED left-to-right order, so the double sum is evaluation-
    * order-deterministic and cross-engine-stable; scores round to 1e-6
    * before the top-k cut (TakeOrderedAndProject, no global sort). */
  def bm25TopDocs(docs: DataFrame, terms: Seq[String], k: Int,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w").isin(terms: _*))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dl = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val dfq = broadcast(tf.groupBy("w").agg(count(lit(1)).as("df")))
    val stats = broadcast(docs.agg(count(lit(1)).as("n"),
      (sum(size(split(col(textCol), " ")).cast("long")) * lit(1.0) /
        count(lit(1))).as("avgdl")))
    val contrib =
      log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    // One conditional sum per query term, combined left-to-right: each
    // sum has at most one non-zero addend (exact), and the final + chain
    // has a pinned evaluation order — no order-dependent float drift.
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, col("contrib")).otherwise(lit(0.0))).as(s"s$i")
    }
    val scored = tf.join(dl, "doc_id")
      .join(dfq, "w")
      .crossJoin(stats)
      .withColumn("contrib", contrib)
      .groupBy("doc_id")
      .agg(perTerm.head, perTerm.tail: _*)
    val total = terms.indices.map(i => col(s"s$i")).reduceLeft(_ + _)
    scored.select(col("doc_id"), Portable.round6(total).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Build-once persisted BM25 inverted index over `dir`'s documents:
    * posting lists (w, doc_id, tf, dl — doc length DENORMALIZED into the
    * posting row, the production trick that kills the per-query dl join)
    * bucketed + sorted by term, the vocab-sized df table, and the 1-row
    * corpus stats. [[bm25TopDocs]] re-tokenizes and re-aggregates the
    * WHOLE corpus per query — the right shape for one-off scoring, a
    * scale-killer for a retrieval service. With the index, a query pays:
    * a bucket-pruned pushed-filter scan of the matching posting lists,
    * two broadcast joins (df + stats), and ONE candidate-bounded
    * exchange for the per-doc score sum. Same [[sources.FileSources
    * .ensureBucketed]] reuse/staleness contract as the dedup and ANN
    * indexes. Returns (postingsTable, dfTable, statsTable). */
  def bm25EnsureIndex(spark: SparkSession, dir: String): (String, String, String) = {
    import graft.sources.FileSources
    val docs = Tables.documents(spark, dir)
    val fp = Some(FileSources.tableFingerprint(dir, Seq("documents")))
    val postT = FileSources.dirKeyedTable("bm25_postings", dir)
    val dfT = FileSources.dirKeyedTable("bm25_df", dir)
    val statT = FileSources.dirKeyedTable("bm25_stats", dir)
    val postings = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy("w", "doc_id")
      .agg(count(lit(1)).as("tf"), min("dl").as("dl"))
    FileSources.ensureBucketed(postings, postT, 8, Seq("w"), fp)
    // df folds from the PERSISTED postings (vocab-sized output, and the
    // build never re-explodes the corpus a second time).
    FileSources.ensureBucketed(
      spark.table(postT).groupBy("w").agg(count(lit(1)).as("df")),
      dfT, 8, Seq("w"), fp)
    FileSources.ensureBucketed(
      docs.agg(count(lit(1)).as("n"),
        (sum(size(split(col("text"), " ")).cast("long")) * lit(1.0) /
          count(lit(1))).as("avgdl")),
      statT, 1, Seq("n"), fp)
    (postT, dfT, statT)
  }

  /** BM25 top-k over the PERSISTED index — identical scores to
    * [[bm25TopDocs]] (same contrib expression over the same exact tf /
    * dl / df / n / avgdl values, same pinned left-to-right term-sum
    * order), different cost: the corpus is never re-read. */
  def bm25IndexedTopDocs(spark: SparkSession, dir: String,
                         terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(k >= 1, s"k must be >= 1, got $k")
    val (postT, dfT, statT) = bm25EnsureIndex(spark, dir)
    val tf = spark.table(postT).filter(col("w").isin(terms: _*))
    val dfq = broadcast(spark.table(dfT).filter(col("w").isin(terms: _*)))
    val stats = broadcast(spark.table(statT))
    val contrib =
      log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, col("contrib")).otherwise(lit(0.0))).as(s"s$i")
    }
    val scored = tf
      .join(dfq, "w")
      .crossJoin(stats)
      .withColumn("contrib", contrib)
      .groupBy("doc_id")
      .agg(perTerm.head, perTerm.tail: _*)
    val total = terms.indices.map(i => col(s"s$i")).reduceLeft(_ + _)
    scored.select(col("doc_id"), Portable.round6(total).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Deterministic Bernoulli sample: keep rows whose md5-derived hash of
    * `keyCol` falls under `percent` — reproducible and repartition-stable
    * (never rand()). */
  def hashSample(df: DataFrame, keyCol: String, percent: Int): DataFrame = {
    // A rate outside [0, 100] silently degenerates (150 keeps everything,
    // -5 keeps nothing) — most often a fraction-vs-percent mixup (0.1
    // truncated to 0). 0 and 100 are legal explicit edges.
    require(percent >= 0 && percent <= 100,
      s"percent must be in [0, 100], got $percent")
    df.filter(functions.PortableHash.h60(col(keyCol).cast("string")) % 100 < percent)
  }

  /** Weighted training-mix sample: per-stratum keep rates (percent) over
    * `strataCol`, same deterministic md5 Bernoulli as [[hashSample]] —
    * the corpus-mixing step before pretraining, map-only at any scale. */
  def weightedSample(df: DataFrame, keyCol: String, strataCol: String,
                     rates: Map[String, Int], defaultRate: Int): DataFrame = {
    // Validated separately (not via a merged map with a sentinel key): a
    // stratum literally named like the sentinel would have its real rate
    // silently shadowed in the checked map.
    rates.foreach { case (stratum, r) =>
      require(r >= 0 && r <= 100,
        s"rate for $stratum must be in [0, 100], got $r")
    }
    require(defaultRate >= 0 && defaultRate <= 100,
      s"defaultRate must be in [0, 100], got $defaultRate")
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum, r).otherwise(acc)
    }
    df.filter(functions.PortableHash.h60(col(keyCol).cast("string")) % 100 < rate)
  }

  /** LM sequence packing ("concat then chop"): within each `packKey`
    * partition, rows in `orderCol` order fill bins of `tokensPerBin`
    * whitespace tokens; returns the input plus a `bin` column. One window
    * cumsum — the bin id doubles as the downstream shard key. */
  def packSequences(docs: DataFrame, tokensPerBin: Int, packKey: String = "lang",
                    orderCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // `div 0` is NULL in Spark SQL, not an error — a non-positive bin size
    // would silently emit null bins instead of failing.
    require(tokensPerBin > 0, s"tokensPerBin must be positive, got $tokensPerBin")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(packKey).orderBy(orderCol)
    docs
      .withColumn("__tok", size(split(col(textCol), " ")))
      .withColumn("__cum", sum("__tok").over(w))
      .withColumn("bin", expr(s"(__cum - __tok) div $tokensPerBin"))
      .drop("__tok", "__cum")
  }

  /** Corpus-wide top-k n-grams (n ≥ 1) by frequency, deterministic
    * tie-break on the gram text. Partial-aggregated count + top-k
    * (TakeOrderedAndProject) — no global sort. */
  /** array<struct> of the length-n sliding windows of a token array —
    * arrays_zip of n shifted slices, so every step is a codegen'd builtin
    * (the transform(sequence(...), i -> ...) spelling is an interpreted
    * higher-order function: per-token closure dispatch, measured ~2×
    * slower corpus-wide). Struct fields are c0..c{n-1}; struct equality
    * ≡ n-gram string equality whenever tokens can't contain the join
    * char. Callers must pre-filter size(tokens) >= n. */
  def zipNgrams(tokens: Column, n: Int): Column = {
    require(n >= 2, s"zipNgrams needs n >= 2, got $n")
    val win = size(tokens) - (n - 1)
    arrays_zip((0 until n).map(j => slice(tokens, lit(j + 1), win).as(s"c$j")): _*)
  }

  /** Space-joined n-gram text from one zipNgrams struct. */
  def ngramText(gram: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(j => gram.getField(s"c$j")): _*)

  /** Frequency-vocab tokenization: build a top-`vocabSize` whole-word
    * vocab (partial-agg count + TakeOrderedAndProject; the only global
    * ordering is a row_number over the surviving k rows) and encode every
    * document to position-ordered token ids via a BROADCAST join of that
    * tiny vocab; out-of-vocabulary tokens become -1. Returns
    * (doc_id, n_tokens, n_oov, ids: array<int>). */
  def vocabEncode(docs: DataFrame, vocabSize: Int, textCol: String = "text"): DataFrame = {
    // limit(0) is legal, so vocabSize <= 0 would silently encode EVERY
    // token as OOV (-1) rather than fail.
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), posexplode(split(col(textCol), " ")).as(Seq("p", "w")))
    val topWords = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(vocabSize)
    // row_number over a vocabSize-row frame post-limit: the single-
    // partition window is deliberate and bounded by k, not the corpus.
    val vocab = topWords
      .withColumn("id", row_number().over(Window.orderBy(col("cnt").desc, col("w"))) - 1)
      .select("w", "id")
    toks.join(broadcast(vocab), Seq("w"), "left")
      .withColumn("id", coalesce(col("id"), lit(-1)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === -1, 1).otherwise(0)).cast("long").as("n_oov"),
        expr("transform(sort_array(collect_list(struct(p, id))), x -> x.id)").as("ids"))
  }

  /** Embedding near-dup pairs blocked by IVF cell — candidates are pairs
    * whose cells overlap (each vector probes its `nprobe` nearest of
    * `nlist` centroids, residents live in their nearest cell), verified
    * by exact cosine ≥ `threshold`. Σ cells² candidate work, never
    * corpus²; candidate ids dedup BEFORE the verify join-back so each
    * surviving pair pays one dot product. Centroids come from a LEARNED
    * codebook ([[operators.IvfCodebook.fitCodebook]]: deterministic
    * sampled spherical k-means over the input).
    * Input: (vec_id, embedding: array<float|double>).
    *
    * NOTE this call is EAGER: the codebook fit runs at call time — two
    * Spark jobs over `embeddings` (a count, then one collect of a
    * ≤[[operators.IvfCodebook.SampleTarget]]-row sample), then init and
    * [[operators.IvfCodebook.Iters]] Lloyd iterations on the driver. Pass
    * a cheap/cached `embeddings` plan if calling repeatedly: the fit and
    * the returned pairs each execute it. */
  def embedNearDupIvf(spark: SparkSession, embeddings: DataFrame, threshold: Double,
                      nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    // Cosine near-dup thresholds live in (0, 1]; nprobe = 0 probes no
    // cell → zero pairs, silently. Same failure mode as the dedup guards.
    require(threshold > 0 && threshold <= 1,
      s"near-dup threshold must be in (0, 1], got $threshold")
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist=$nlist], got $nprobe")
    import org.apache.spark.sql.expressions.Window
    graft.functions.expressions.GraftFunctions.ensureRegistered(spark)
    val dot = graft.functions.expressions.GraftFunctions.dotCol _
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", graft.functions.expressions.GraftFunctions.normCol(col("v")))
      // Degenerate vectors (null, zero-norm, NaN component ⇒ NaN norm)
      // have no cosine direction AND would either throw ANSI
      // DIVIDE_BY_ZERO in every norm division downstream (zero norm —
      // one bad row used to kill the whole job) or pass EVERY
      // `cos >= threshold` verify (Spark orders NaN greater than any
      // double, so a NaN cosine "matches" all thresholds and the vector
      // pairs with everything it meets). Drop them at the door
      // (NullHandlingSpec). The isnan guard is load-bearing: NaN > 0 is
      // TRUE under Spark's total ordering, unlike Java.
      .filter(col("nrm") > 0 && !isnan(col("nrm")))
    // Learned codebook (same deterministic sampled k-means as the staged
    // query-side fit) — the first nlist vectors used to stand in here,
    // and a lopsided stand-in wastes the Σ cells² candidate budget.
    import spark.implicits._
    val cent = operators.IvfCodebook.fitCodebook(spark, e, nlist)
      .toDF("cid", "w", "wnrm")
    val byVec = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
    val scored = e.crossJoin(broadcast(cent))
      .withColumn("ccos", dot(col("v"), col("w")) / (col("nrm") * col("wnrm")))
      .withColumn("rk", row_number().over(byVec))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id"), col("cid").as("cl"), col("rk"))
      .localCheckpoint(eager = false)
    val probe = scored.select(col("cl"), col("vec_id").as("qa"))
    val own = scored.filter(col("rk") === 1).select(col("cl"), col("vec_id").as("qb"))
    val cand = probe.join(own, "cl")
      .filter(col("qa") =!= col("qb"))
      .select(least(col("qa"), col("qb")).as("va"), greatest(col("qa"), col("qb")).as("vb"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("va"), col("v").as("v_a"), col("nrm").as("nrm_a")), "va")
      .join(e.select(col("vec_id").as("vb"), col("v").as("v_b"), col("nrm").as("nrm_b")), "vb")
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("va"), col("vb"), col("cos"))
  }

  /** Temperature-balanced (α = 0.5) stratified sample — the mC4/XLM-R
    * low-resource up-weighting step: per-stratum keep rates ∝ √n instead
    * of n, realized as the same deterministic md5-Bernoulli as
    * [[hashSample]], targeting `budgetPct`% of the input overall. Both
    * the rate arithmetic AND the keep gate are the single shared
    * implementation behind the `sample_temperature` oracle gate
    * (PipelineQueries.temperatureRates / temperatureKeptOf), so the
    * facade and the declared query structurally cannot drift. Null
    * strata are sampled like any other stratum (null-safe join); the
    * rate table is one row per stratum and joins by whatever strategy
    * Catalyst picks for its size. Returns the kept rows. */
  def temperatureSample(df: DataFrame, keyCol: String, strataCol: String,
                        budgetPct: Int = 50): DataFrame = {
    val rates = operators.PipelineQueries.temperatureRates(df, strataCol, budgetPct)
    operators.PipelineQueries.temperatureKeptOf(df, keyCol, strataCol, rates)
  }

  /** Fixed-point integer PageRank over an undirected pair frame
    * (`da`, `db` — each edge exactly once): 0.85 damping, ranks in
    * 10⁻¹²-units, bit-stable across partitionings and retries. Returns
    * (doc_id, degree, rank_e12). See DedupQueries.pageRankOf. */
  def pageRank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    operators.DedupQueries.pageRankOf(pairs, iters)
  }

  /** OPTIMIZE-style compaction plan over a (file, bytes, n_docs)
    * manifest: files sorted largest-first, scaled-cumulative-filled into
    * `nBins` equal-byte rewrite groups. Metadata-sized planning — never
    * touches data. See MaintenanceQueries.compactionPlanOf. */
  def compactionPlan(files: DataFrame, nBins: Int = 8): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    operators.MaintenanceQueries.compactionPlanOf(files, nBins)
  }

  /** BPE tokenizer training: k rounds of pair-count → argmax → greedy
    * re-tokenize over the corpus vocabulary (vocab-sized frames, one
    * 1-row driver hop per round). Returns the learned merge table
    * (step, left_sym, right_sym, cnt). See TextAnalysis.bpeLearnOf. */
  def bpeLearn(spark: SparkSession, docs: DataFrame, merges: Int = 10): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    operators.TextAnalysis.bpeLearnOf(spark, docs, merges)
  }

  /** WordPiece (BERT-family) tokenizer training: like [[bpeLearn]] but
    * merges are ranked by the likelihood score count(ab)/(count(a)·
    * count(b)) in exact integer arithmetic, with '##' continuation
    * markers. Returns (step, left_sym, right_sym, cnt, ca, cb, skey).
    * See TextAnalysis.wordpieceLearnOf. */
  def wordpieceLearn(spark: SparkSession, docs: DataFrame, merges: Int = 8): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    operators.TextAnalysis.wordpieceLearnOf(spark, docs, merges)
  }

  /** WordPiece encode: learn `merges`, then greedy longest-match-first
    * encode of the vocabulary against the learned piece inventory —
    * tokens-per-word histogram with [UNK] = -1 buckets. See
    * TextAnalysis.wordpieceEncodeOf. */
  def wordpieceEncode(spark: SparkSession, docs: DataFrame, merges: Int = 4): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    operators.TextAnalysis.wordpieceEncodeOf(spark, docs, merges)
  }

  /** Unigram-LM (SentencePiece-style) Viterbi segmentation over a
    * frequency-scored piece inventory — globally optimal tilings, not
    * greedy. Words capped at 16 chars (both engines). See
    * TextAnalysis.unigramViterbiOf. */
  def unigramSegment(spark: SparkSession, docs: DataFrame): DataFrame =
    operators.TextAnalysis.unigramViterbiOf(spark, docs)

  /** Avro OCF sink on the avro core library: one codec'd shard per
    * partition through the Hadoop FileSystem API. Returns the shard
    * paths. See sources.AvroSource.writeShards. */
  def avroWrite(df: DataFrame, dir: String, codec: String = "zstandard",
                numShards: Int = 4): Seq[String] = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    sources.AvroSource.writeShards(df, dir, codec, numShards)
  }

  /** Avro OCF source: parse-as-filter over whole shards, with optional
    * READER schema (resolution rules: added-field defaults, int→long /
    * float→double promotions). See sources.AvroSource.read. */
  def avroRead(spark: SparkSession, dir: String,
               readerSchemaJson: Option[String] = None): DataFrame =
    sources.AvroSource.read(spark, dir, readerSchemaJson)

  /** LaTeX text extraction (the arXiv format): body-only, comments and
    * math stripped, wrapper commands unwrapped, escapes decoded; None →
    * row dropped (parse-as-filter). See sources.TexSource.extractTex. */
  def texExtract(tex: String): Option[String] =
    sources.TexSource.extractTex(tex)

  /** Markdown extraction: (prose text, fence count, code chars) — the
    * code/prose channel split curation routes on. See
    * sources.MarkdownSource.extractMd. */
  def mdExtract(md: String): (String, Int, Long) =
    sources.MarkdownSource.extractMd(md)

  /** CDX index build over WARC shards — per-record (offset, length)
    * rows with a built-in seek audit (every indexed slice re-parsed in
    * isolation) and an end-to-end tiling check. The Common Crawl
    * seekability artifact. See sources.WarcSource.cdxIndex. */
  def cdxIndex(spark: SparkSession, shardPaths: Seq[String],
               tolerateUnclean: Boolean = false): DataFrame = {
    require(shardPaths.nonEmpty, "cdxIndex needs at least one shard path")
    sources.WarcSource.cdxIndex(spark, shardPaths, tolerateUnclean)
  }

  /** Streaming WARC shard arrival: binaryFile FileStreamSource over the
    * shard paths → strict Content-Length parse → append parquet sink;
    * returns the sink as a batch frame of WarcSource.WarcRecord rows.
    * See EventStreams.warcRecordsLive. */
  def warcIngestLive(spark: SparkSession, shardPaths: Seq[String]): DataFrame = {
    require(shardPaths.nonEmpty, "warcIngestLive needs at least one shard path")
    streaming.EventStreams.warcRecordsLive(spark, shardPaths)
  }

  /** Build a count-min frequency sketch over a key column (binary
    * artifact: 4×509 Long counters ≈ 16 KB — see CmsSketch for the hash
    * family and the ε·N bound). Aggregates map-side into one fixed
    * buffer per task (elementwise-sum merge); the artifact broadcasts
    * to estimate sides. Grouped builds (`df.groupBy(...).agg(...)` with
    * [[functions.expressions.GraftFunctions.cmsAggCol]]) stay mergeable
    * — [[cmsEstimate]] sum-merges multi-row artifact frames. */
  def cmsBuild(spark: SparkSession, df: DataFrame, keyCol: String): DataFrame = {
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    df.agg(functions.expressions.GraftFunctions
      .cmsAggCol(col(keyCol).cast("string")).as("cms"))
  }

  /** Annotate `df` with `est_cnt` — the CMS frequency estimate of
    * `keyCol` against a [[cmsBuild]] artifact: ≥ the true count always,
    * ≤ true + ε·N with probability 1−2^−4. Map-only over the big side
    * (codegen'd min-probe against the broadcast artifact).
    *
    * The artifact frame may carry ANY number of rows (per-group or
    * per-window builds): they are sum-merged into one sketch first —
    * associative counter addition makes the merged estimates identical
    * to a single whole-stream build's. Same column-resolution contract
    * as [[bloomProbe]]. */
  def cmsEstimate(spark: SparkSession, df: DataFrame, keyCol: String,
                  cms: DataFrame): DataFrame = {
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    val artCol =
      if (cms.columns.contains("cms")) "cms"
      else {
        require(cms.columns.length == 1,
          s"cms frame needs a 'cms' column or exactly one column, got ${cms.columns.mkString(", ")}")
        cms.columns.head
      }
    val art = cms.agg(functions.expressions.GraftFunctions
      .cmsMergeCol(col(artCol)).as("__graft_cms"))
    df.crossJoin(broadcast(art))
      .withColumn("est_cnt", functions.expressions.GraftFunctions
        .cmsEstimateCol(col("__graft_cms"), col(keyCol).cast("string")))
      .drop("__graft_cms")
  }

  /** Build a KMV theta sketch over a key column (binary artifact of the
    * k=256 smallest distinct md5-h60 hashes, ≤ 2 KB). Exact below k;
    * RSE ≈ 6.3% past it. Grouped builds stay mergeable via
    * [[kmvUnion]]; artifacts intersect with [[kmvIntersect]] — the set
    * algebra HLL lacks. */
  def kmvBuild(spark: SparkSession, df: DataFrame, keyCol: String): DataFrame = {
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    df.agg(functions.expressions.GraftFunctions
      .kmvAggCol(col(keyCol).cast("string")).as("kmv"))
  }

  /** Distinct-count estimate of one artifact frame: rows are UNION-merged
    * first (the merged artifact equals the sketch of the pooled stream),
    * then estimated. Returns a 1-row (est: long) frame. */
  def kmvUnion(spark: SparkSession, sketches: DataFrame): DataFrame = {
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    val artCol =
      if (sketches.columns.contains("kmv")) "kmv"
      else {
        require(sketches.columns.length == 1,
          s"kmv frame needs a 'kmv' column or exactly one column, got ${sketches.columns.mkString(", ")}")
        sketches.columns.head
      }
    sketches
      .agg(functions.expressions.GraftFunctions.kmvMergeCol(col(artCol)).as("kmv"))
      .select(functions.expressions.GraftFunctions.kmvEstimateCol(col("kmv")).as("est"))
  }

  /** Theta-rule intersection-cardinality estimate of two 1-row artifact
    * frames (see KmvSketch.intersect). Returns a 1-row (est: long)
    * frame; exact when both sketches are exact. */
  def kmvIntersect(spark: SparkSession, a: DataFrame, b: DataFrame): DataFrame = {
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    a.select(col(a.columns.head).as("__a"))
      .crossJoin(broadcast(b.select(col(b.columns.head).as("__b"))))
      .select(functions.expressions.GraftFunctions
        .kmvIntersectCol(col("__a"), col("__b")).as("est"))
  }

  /** Fit a product-quantization codebook over an embedding frame
    * (`vec_id`, `embedCol`: array<float|double> of 64 dims — 8
    * subspaces × 8 dims at 256 centroids each; see PqCodebook for the
    * sampled deterministic fit). Returns the (m, cid, w) codebook frame
    * consumed by [[pqEncode]]/[[pqTopK]].
    *
    * NOTE this call is EAGER: the fit runs at call time — two Spark jobs
    * over `embeddings` (a count, then one collect of a
    * ≤[[operators.PqCodebook.SampleTarget]]-row sample), then the same
    * driver-side k-means kernel as [[embedNearDupIvf]]'s codebook, with
    * the L2 assignment rule, once per subspace. */
  def pqFit(spark: SparkSession, embeddings: DataFrame,
            embedCol: String = "embedding"): DataFrame =
    operators.PqCodebook.fitFrame(spark,
      embeddings.select(col("vec_id"), col(embedCol).as("v")))

  /** Encode every vector to 8 one-byte centroid ids against a [[pqFit]]
    * codebook — 32× smaller than the floats; the (vec_id, codes) frame
    * IS the stored PQ index. */
  def pqEncode(spark: SparkSession, embeddings: DataFrame, codebook: DataFrame,
               embedCol: String = "embedding"): DataFrame =
    operators.PqCodebook.encode(
      embeddings.select(col("vec_id"), col(embedCol).as("v")), codebook)

  /** Approximate top-k by inner product against a query vector, scored
    * from PQ codes alone (asymmetric distance): the query builds one
    * broadcast 2048-entry lookup-table row from the codebook; every
    * encoded vector scores as eight codegen'd fixed-index array reads —
    * a map-only scan of the codes frame, no shuffle. Serving-quality
    * answers rerank a larger k exactly (the sim_pq_recall shape). */
  def pqTopK(spark: SparkSession, codes: DataFrame, codebook: DataFrame,
             query: Array[Double], k: Int): DataFrame = {
    val M = operators.PqCodebook.M
    val S = operators.PqCodebook.SubDim
    val K = operators.PqCodebook.K
    require(query.length == M * S, s"query must have ${M * S} dims, got ${query.length}")
    require(k >= 1, s"k must be >= 1, got $k")
    functions.expressions.GraftFunctions.ensureRegistered(spark)
    val dot = functions.expressions.GraftFunctions.dotCol _
    val lut = codebook
      .withColumn("__q", typedLit(query))
      .withColumn("part", dot(expr(s"slice(__q, m * $S + 1, $S)"), col("w")))
      .select((col("m") * K + col("cid")).as("idx"), col("part"))
      .agg(expr("transform(array_sort(collect_list(struct(idx, part))), s -> s.part)")
        .as("__graft_lut"))
    val adc = (0 until M)
      .map(m => expr(s"__graft_lut[$m * $K + codes[$m]]"))
      .reduce(_ + _)
    codes.crossJoin(broadcast(lut))
      .withColumn("adc", adc)
      .drop("__graft_lut")
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }

  def topNgrams(docs: DataFrame, n: Int, k: Int, textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(k >= 1, s"k must be >= 1, got $k") // limit(0) is legal → silently empty
    val tk = docs
      .withColumn("__tk", split(col(textCol), " "))
      .filter(size(col("__tk")) >= n)
    val grams =
      if (n == 1) tk.select(explode(col("__tk")).as("ngram"))
      else tk.select(explode(zipNgrams(col("__tk"), n)).as("t"))
        .select(ngramText(col("t"), n).as("ngram"))
    grams
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)
  }

  /** EXACT Jaccard ≥ 0.5 near-dup pairs via PPJoin-style prefix
    * filtering over (doc_id, text) — the no-false-negative alternative
    * to [[nearDupPairs]]' probabilistic LSH. Run [[exactDedup]] FIRST:
    * exact-dup clusters make the true pair set quadratic (SCALE.md
    * §prefix_join_10x). Returns (da, db, na, nb, i, jac). */
  def prefixJaccardPairs(spark: SparkSession, docs: DataFrame): DataFrame =
    operators.DedupQueries.prefixJaccardPairsOf(spark, docs)

  /** Weighted directed PageRank over a host/entity edge list
    * (`src`, `dst`; multiplicities are weights): 0.85 damping, ranks in
    * 10⁻¹²-units, bit-stable. Returns (host, n_out, rank_e12). See
    * CrawlQueries.hostRankOf. */
  def hostRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    operators.CrawlQueries.hostRankOf(edges, iters)
  }

  /** PDF text extraction over (doc_id, source, pdf BINARY) rows: the
    * full xref/incremental-update/content-stream chain of
    * sources.PdfSource.extractPdf, parse-as-filter. One row per page:
    * (doc_id, source, page, n_ops, text). */
  def pdfExtract(spark: SparkSession, pdfs: DataFrame): DataFrame = {
    import spark.implicits._
    pdfs.select(col("doc_id"), col("source"), col("pdf"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, bytes) =>
        sources.PdfSource.extractPdf(bytes).toSeq.flatten.map(pg =>
          (id, src, pg.page, pg.nOps, pg.text))
      })
      .toDF("doc_id", "source", "page", "n_ops", "text")
  }

  /** DSIR importance log-weights (Xie et al. 2023) over (doc_id, text)
    * rows: hashed word uni+bigram bag, add-1 target-vs-raw bucket
    * distributions, quantized-log integer λ per doc — keep λ > 0 rows
    * (or weighted-resample by λ) to select data resembling the target.
    * `isTarget` marks the target slice (e.g. `col("lang") === "en"`, a
    * curated-subset flag). Returns (doc_id, lam). Same arithmetic as
    * the declared text_dsir_select gate (one shared kernel). */
  def dsirLogWeights(docs: DataFrame, isTarget: Column,
                     buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    operators.TextModelQueries.dsirLogWeights(docs, isTarget, buckets = buckets)
  }

  /** DOCX text extraction over (doc_id, source, docx BINARY) rows —
    * OPC package (ZIP central-directory walk) → word/document.xml →
    * the ECMA-376 WordprocessingML scanner, parse-as-filter (malformed
    * packages drop, never garble). One row per document:
    * (doc_id, source, text, n_paras). See sources.DocxSource. */
  def docxExtract(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), col("docx"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, bytes) =>
        sources.DocxSource.extractDocx(s"doc$id.docx", bytes).map {
          case (text, np) => (id, src, text, np)
        }
      })
      .toDF("doc_id", "source", "text", "n_paras")
  }

  /** Maximal shared token spans (≥ 8 tokens) per doc pair with the
    * suffix-ngram rescue for hot grams — exact-substring span dedup
    * that keeps its recall under boilerplate-phrase floods (see
    * DedupQueries.spanMergedSuffixOf for the exactness argument).
    * Returns (da, db, start_a, start_b, span_windows, span_tokens). */
  def spanSuffixPairs(spark: SparkSession, docs: DataFrame,
                      maxDocsPerGram: Int = 16): DataFrame = {
    require(maxDocsPerGram >= 2, s"maxDocsPerGram must be >= 2, got $maxDocsPerGram")
    operators.DedupQueries.spanMergedSuffixOf(spark, docs, maxDocsPerGram)
  }

  /** Transaction-log table primitives (sources.TxLog — the Delta-style
    * JSON commit log over parquet): write `df` as the data of commit
    * `version` (into a writer-unique dir, so losing a version race
    * never touches the winner's committed files) and commit it
    * atomically with the schema recorded in the trailer. `removes`
    * lists the table-relative files this commit supersedes (pass the
    * previous snapshot's files for an overwrite; empty for an append). */
  def txCommit(df: DataFrame, dir: String, version: Long,
               operation: String = "append",
               removes: Seq[String] = Nil): Long =
    sources.TxLog.commitData(df, dir, version, operation, removes)

  /** Snapshot-isolated read AS OF `version` from a transaction-log
    * table; negative version (default) reads the latest snapshot. */
  def txRead(spark: SparkSession, dir: String, version: Long = -1L): DataFrame =
    if (version < 0) sources.TxLog.readLatest(spark, dir)
    else sources.TxLog.readAsOf(spark, dir, version)

  /** The active table-relative file set of a transaction-log table at
    * `version` (the manifest a compaction/retention pass plans over). */
  def txActiveFiles(dir: String, version: Long): Seq[String] =
    sources.TxLog.activeFiles(dir, version)

  /** STATS-PRUNED snapshot read: `whereCol BETWEEN lo AND hi` with
    * files whose recorded min/max range is disjoint dropped at the
    * manifest, before Spark lists them (write the table through
    * [[txCommitStats]] to record the stats). Negative version reads
    * the latest snapshot. Returns just the frame; use
    * sources.TxLog.readAsOfWhere directly for the prune counts. */
  def txReadWhere(spark: SparkSession, dir: String, whereCol: String,
                  lo: Long, hi: Long, version: Long = -1L): DataFrame = {
    val v = if (version < 0) sources.TxLog.latestVersion(dir) else version
    sources.TxLog.readAsOfWhere(spark, dir, v, whereCol, lo, hi)._1
  }

  /** [[txCommit]] with per-file min/max/rows stats recorded on
    * `statsCol` (a long-typed column) — the write side of
    * [[txReadWhere]]'s manifest pruning. */
  def txCommitStats(df: DataFrame, dir: String, version: Long,
                    statsCol: String, operation: String = "append",
                    removes: Seq[String] = Nil): Long =
    sources.TxLog.commitData(df, dir, version, operation, removes,
      statsCol = Some(statsCol))

  /** VACUUM a transaction-log table: physically delete data files
    * unreferenced by any version ≥ `retainFrom`. Retained snapshots
    * stay readable; time travel below the horizon fails loudly at read
    * time. Returns the deleted table-relative paths. */
  def txVacuum(dir: String, retainFrom: Long): Seq[String] =
    sources.TxLog.vacuum(dir, retainFrom)

  /** RTF text extraction over (doc_id, source, rtf BINARY) rows — the
    * hand RTF 1.9 control-word parser, parse-as-filter (malformed
    * documents drop, never garble). One row per document:
    * (doc_id, source, text, n_paras). See sources.RtfSource. */
  def rtfExtract(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), col("rtf"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, bytes) =>
        sources.RtfSource.extractRtf(s"doc$id.rtf", bytes).map {
          case (text, np) => (id, src, text, np)
        }
      })
      .toDF("doc_id", "source", "text", "n_paras")
  }

  /** ODT text extraction over (doc_id, source, odt BINARY) rows —
    * ODF package (ZIP central-directory walk) → mimetype check →
    * content.xml → the ODF 1.2 text scanner, parse-as-filter
    * (malformed packages drop, never garble). One row per document:
    * (doc_id, source, text, n_paras). See sources.OdtSource. */
  def odtExtract(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), col("odt"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, bytes) =>
        sources.OdtSource.extractOdt(s"doc$id.odt", bytes).map {
          case (text, np) => (id, src, text, np)
        }
      })
      .toDF("doc_id", "source", "text", "n_paras")
  }

  /** PPTX text extraction over (doc_id, source, pptx BINARY) rows —
    * slides in numeric order, field runs dropped, parse-as-filter.
    * One row per document: (doc_id, source, text, n_slides, n_paras). */
  def pptxExtract(spark: SparkSession, decks: DataFrame): DataFrame = {
    import spark.implicits._
    decks.select(col("doc_id"), col("source"), col("pptx"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, bytes) =>
        sources.PptxSource.extractPptx(s"deck$id.pptx", bytes).map {
          case (text, ns, np) => (id, src, text, ns, np)
        }
      })
      .toDF("doc_id", "source", "text", "n_slides", "n_paras")
  }

  /** EPUB chapter extraction over (doc_id, source, epub BINARY) rows —
    * the OCF container walk (container.xml → OPF → spine order) plus
    * the codegen'd htmlToText strip. One row per chapter:
    * (doc_id, source, chap_idx, href, text). */
  def epubExtract(spark: SparkSession, books: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = books.select(col("doc_id"), col("source"), col("epub"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, bytes) =>
        sources.EpubSource.extractEpub(s"book$id.epub", bytes).toSeq.flatten
          .map { case (k, href, xhtml) => (id, src, k, href, xhtml) }
      })
      .toDF("doc_id", "source", "chap_idx", "href", "xhtml")
    operators.TextAnalysis.htmlToText(rows, "xhtml", "text")
  }

  /** XLSX cell extraction over (doc_id, source, xlsx BINARY) rows —
    * shared strings resolved, formulas' cached values taken,
    * parse-as-filter. One row per cell:
    * (doc_id, source, row, col, ref, kind, value). */
  def xlsxExtract(spark: SparkSession, books: DataFrame): DataFrame = {
    import spark.implicits._
    books.select(col("doc_id"), col("source"), col("xlsx"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, src, bytes) =>
        sources.XlsxSource.extractXlsx(s"book$id.xlsx", bytes).toSeq.flatten
          .map(c => (id, src, c.row, c.col, c.ref, c.kind, c.value))
      })
      .toDF("doc_id", "source", "row", "col", "ref", "kind", "value")
  }
}
