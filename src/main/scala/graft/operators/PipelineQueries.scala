package graft.operators

import graft.{QueryPack, Tables}
import graft.Portable.round2
import org.apache.spark.sql.functions._

/** Pipeline-operations pack: data-quality profiling and deterministic
  * sampling — the plumbing every large-scale training-data pipeline runs
  * before/after the analytic operators.
  *
  * Sampling uses the portable md5-derived hash (PortableHash), NOT
  * rand()/TABLESAMPLE: the sample is a pure function of the row key, so
  * it is reproducible run-to-run, stable under repartitioning, and
  * oracle-checkable — exactly the properties corpus subsampling needs.
  */
object PipelineQueries extends QueryPack {

  /** Per-stratum α=0.5 temperature rates — the sample_temperature
    * arithmetic, shared with the Graft.temperatureSample facade so the
    * declared gate and the user API cannot drift. All integer-exact:
    * w = isqrt(n·10⁶) via floor(sqrt) plus a ±1 BIGINT correction (a
    * 1-ulp cross-engine sqrt disagreement cannot move the floor), mix and
    * keep rates as ppm BIGINT divisions; the overall budget is
    * `budgetPct`% of the input rows. Returns one row per stratum:
    * (strataCol, n_docs, w, mix_ppm, rate_ppm). */
  private[graft] def temperatureRates(df: org.apache.spark.sql.DataFrame,
                                      strataCol: String,
                                      budgetPct: Int): org.apache.spark.sql.DataFrame = {
    require(budgetPct >= 1 && budgetPct <= 100,
      s"budgetPct must be in [1, 100], got $budgetPct")
    val nl = df.groupBy(strataCol).agg(count(lit(1)).as("n_docs"))
    // Exact integer sqrt of x = n_docs·10⁶: double sqrt is correctly
    // rounded, so floor(sqrt(x)) is off by at most one — the two CASE
    // arms repair both directions with pure BIGINT comparisons.
    val wl = nl
      .withColumn("x", col("n_docs") * lit(1000000L))
      .withColumn("b", floor(sqrt(col("x").cast("double"))).cast("long"))
      .withColumn("w",
        when((col("b") + 1) * (col("b") + 1) <= col("x"), col("b") + 1)
          .when(col("b") * col("b") > col("x"), col("b") - 1)
          .otherwise(col("b")))
      .select(col(strataCol), col("n_docs"), col("w"))
    val tot = broadcast(wl.agg(sum("w").as("sum_w"), sum("n_docs").as("n")))
    wl.crossJoin(tot)
      .withColumn("mix_ppm", expr("CAST((w * 1000000) DIV sum_w AS BIGINT)"))
      .withColumn("rate_ppm",
        expr(s"LEAST(CAST(1000000 AS BIGINT), (((n * $budgetPct) DIV 100) * mix_ppm) DIV n_docs)"))
      .select(col(strataCol), col("n_docs"), col("w"), col("mix_ppm"), col("rate_ppm"))
  }

  /** The md5-Bernoulli keep gate over a precomputed rate table — the ONE
    * place the gate expression lives (shared by the sample_temperature
    * query and Graft.temperatureSample, so the facade and the declared
    * query structurally cannot drift). The stratum join is NULL-SAFE: a
    * null stratum gets its own rate row and its rows are sampled like any
    * other stratum's (a null-unsafe join would count null rows in the
    * budget but never sample them). Internal columns use reserved names
    * so an input frame carrying its own rate_ppm column is untouched. No
    * forced broadcast: the rate table has one row per stratum, and
    * Catalyst picks broadcast vs shuffle by its size (a declared 5-strata
    * gate broadcasts; a million-domain stratification shuffles safely). */
  private[graft] def temperatureKeptOf(df: org.apache.spark.sql.DataFrame,
                                       keyCol: String, strataCol: String,
                                       rates: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val r = rates.select(col(strataCol).as("__graft_stratum"),
      col("rate_ppm").as("__graft_rate_ppm"))
    df.join(r, df(strataCol) <=> col("__graft_stratum"))
      .filter(graft.functions.PortableHash.h60(col(keyCol).cast("string"))
        % 1000000 < col("__graft_rate_ppm"))
      .drop("__graft_stratum", "__graft_rate_ppm")
  }

  val queries: Map[String, Q] = Map(
    // Column-level quality profile of lineitem (null counts, ranges).
    "dq_profile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("null_qty"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1).otherwise(0)).as("bad_discount"),
          round2(min("l_extendedprice")).as("min_price"),
          round2(max("l_extendedprice")).as("max_price"),
          countDistinct(col("l_returnflag")).as("n_flags"))),

    // Deterministic ~10% Bernoulli sample keyed on doc_id.
    "sample_hash" -> ((s, d) =>
      graft.Graft.hashSample(Tables.documents(s, d), "doc_id", 10)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Salted two-phase aggregation over a deliberately hot key:
    // l_returnflag has 3 values, so a naive groupBy lands ~1/3 of the
    // table on single reducers at 100 TB. SkewUtils.saltedCountSum splits
    // each key over 16 salt buckets (partial agg) then combines 16 rows
    // per key (final agg). The salt is deterministic (hash of l_orderkey)
    // and the summed column is integral, so salting is INVISIBLE in the
    // result — the oracle is the plain GROUP BY.
    "q_skew_agg" -> ((s, d) =>
      SkewUtils.saltedCountSum(
          Tables.lineitem(s, d),
          col("l_returnflag"), col("l_orderkey"),
          floor(col("l_quantity")).cast("long"))
        .select(col("k").as("l_returnflag"), col("cnt"), col("total"))
        .orderBy("l_returnflag")),

    // Weighted training-mix sampling: per-language keep rates (en 50%,
    // rest 20%) — the corpus-mixing step before pretraining. Same
    // md5-keyed deterministic Bernoulli as sample_hash, so the mix is
    // reproducible, repartition-stable, and auditable; map-only at any
    // scale (the rate lookup is a CASE on the stratum column).
    "sample_weighted" -> ((s, d) =>
      graft.Graft.weightedSample(Tables.documents(s, d), "doc_id", "lang",
          Map("en" -> 50), defaultRate = 20)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Sequence packing (LM pretraining "concat then chop"): per language,
    // documents in doc_id order fill 2048-token bins; a doc starts a new
    // bin when the running total crosses the boundary. One window cumsum
    // partitioned by the pack key + an integer division — no shuffle
    // beyond the window's, deterministic, and the bin id doubles as the
    // downstream shard/partition key.
    "pack_sequences" -> ((s, d) =>
      graft.Graft.packSequences(Tables.documents(s, d), tokensPerBin = 2048)
        .withColumn("tok", size(split(col("text"), " ")))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("bin_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "bin")),

    // Salted fact⋈dim join over the same hot-key concern as q_skew_agg:
    // SkewUtils.saltedJoin spreads each join key over salt buckets (the
    // small side is exploded × buckets, still tiny), so one hot order key
    // cannot pin a reducer. The salt source is the companion column that
    // varies WITHIN a join key — here l_linenumber, which in TPC-H takes
    // ≤7 values per order, so buckets = 8 (a bigger bucket count would
    // pay extra dim duplication for no extra spread; real hot keys need a
    // companion with matching cardinality). Results are identical to the
    // plain join — the oracle IS the plain join. Integer-cent sums.
    "q_skew_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      SkewUtils.saltedJoin(li, o, "l_orderkey", "o_orderkey", col("l_linenumber"), 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // EXACT-k uniform sample per stratum: rank docs within each language
    // by their md5 hash (a deterministic random permutation) and keep the
    // first 10 — unbiased unlike sample_stratified's first-k-by-id, still
    // fully reproducible and repartition-stable, exact group sizes unlike
    // Bernoulli sampling. One ranking window on the stratum key.
    "sample_exact_k" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(graft.functions.PortableHash.h60(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy("lang", "rk")
    }),

    // Stratified sample: first 5 docs per language by doc_id (ranking
    // window — one exchange on the stratum key).
    "sample_stratified" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy("lang", "rk")
    }),

    // CDC latest-record compaction — the lakehouse upsert/merge read
    // path: collapse a change log to the newest version per key. The
    // argmax is max(struct(ts, ...)): map-side partial aggregation ships
    // ONE candidate row per key per partition, where the window-rank
    // formulation (the oracle's) shuffles every version. (ts, event_id)
    // is unique, so the struct max is deterministic.
    "q_cdc_compact" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"),
          count(lit(1)).as("n_versions"))
        .select(col("user_id"), col("m.event_id").as("last_event_id"),
          col("m.event_type").as("last_type"), round2(col("m.value")).as("last_value"),
          col("n_versions"))
        .orderBy("user_id")),

    // Deterministic 80/10/10 train/val/test split assignment — the
    // pipeline's final routing step, keyed on the same md5 hash as the
    // samplers (repartition-stable, reproducible, leakage-free by
    // construction: a doc's split is a pure function of its id).
    "q_split_assign" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("h", graft.functions.PortableHash.h60(col("doc_id").cast("string")) % 100)
        .withColumn("split",
          when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
        .orderBy("lang", "split")),

    // Temperature-balanced language mixing (the mC4/XLM-R α-sampling
    // step, α = 0.5): per-language weights ∝ √n_l instead of n_l, so
    // low-resource languages are up-weighted in the training mix. All
    // arithmetic is integer-EXACT: w_l = isqrt(n_l·10⁶) (≈ 1000·√n_l) via
    // floor(sqrt) plus a ±1 correction step, so a 1-ulp double-sqrt
    // disagreement between engines cannot move the floor; mix and keep
    // rates are ppm BIGINT divisions; the kept set is the deterministic
    // md5-Bernoulli of the samplers above gated on rate_ppm. Shape at
    // 100 TB: one partial-agg count pass + a map-only filter against a
    // broadcast 5-row rate table + one final agg — the mix plan itself is
    // metadata-sized. Budget = N/2 docs overall.
    "sample_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val rates = temperatureRates(docs, "lang", budgetPct = 50)
      val kept = temperatureKeptOf(docs, "doc_id", "lang", rates)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(graft.functions.PortableHash.h60p(col("doc_id").cast("string")))
            .as("kept_sum"))
      // Left join from the rate table: a language whose rate rounds to
      // zero still reports its (0, 0) row instead of vanishing. Null-safe
      // so a null-lang stratum's kept counts pair with its rate row.
      rates.join(kept.withColumnRenamed("lang", "__graft_klang"),
          col("lang") <=> col("__graft_klang"), "left_outer")
        .select(col("lang"), col("n_docs"), col("w"), col("mix_ppm"), col("rate_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_sum"), lit(0L)).as("kept_sum"))
        .orderBy("lang")
    }),

    // Training-mix apportionment — the "data recipe" step every
    // pretraining run executes: given per-source mix WEIGHTS and a
    // global token BUDGET (one third of the corpus here), split the
    // budget across sources with the LARGEST-REMAINDER method
    // (Hamilton apportionment: floor(B·w/W) per source, the leftover
    // tokens going one each to the largest (B·w) mod W remainders,
    // ties to the alphabetically-first source) — integer-exact, and
    // the per-source targets sum to B EXACTLY, which naive independent
    // rounding cannot guarantee. Each source then fills its target
    // greedily in deterministic hash order (h60 of doc_id — a seeded
    // random permutation both engines share), keeping docs while the
    // running token sum stays within target. Output: per-source
    // weight, exact target, selected docs/tokens and the membership
    // checksum. Scale shape: one map-side-combined groupBy for source
    // totals (a tiny frame where all apportionment math happens), one
    // per-source window for the greedy fill, one final aggregate —
    // the corpus is scanned once and shuffled once.
    // The end-to-end TEXT pipeline from the ARRIVAL format — the text
    // twin of mm_wds_pipeline: WARC shards (bodies = HTML pages built
    // around the corpus text, some docs re-crawled under alias URIs) →
    // charset-aware HTTP extraction → BOILERPLATE block filtering (the
    // text_boilerplate jusText rules: the staged nav <div> dies on
    // anchor density alone, the footer on length, and the one content
    // <p> survives iff the article itself passes length + stopword
    // density — the kept blocks reconstitute the article text exactly,
    // which the downstream md5 dedup implicitly gates) → Gopher-style
    // hard quality rules → CCNet LM perplexity tail gate (self-scored
    // on the quality survivors) → exact content dedup (drops the
    // re-crawl aliases) → α=0.5 temperature mix at 50% budget. Emits
    // the per-lang funnel — every stage's count plus the final
    // membership checksum — reusing each stage's exact arithmetic
    // (boilerplateBlocks, qualityRuleFlags, lmDocScores,
    // temperatureRates/KeptOf), so this gate pins the COMPOSITION, not
    // re-implementations. Scale shape: one task per WARC shard at
    // ingest, then the same plans as the component gates; stages share
    // scans via localCheckpoint.
    "pipeline_crawl_corpus" -> ((s, d) => {
      import graft.functions.PortableHash
      val paths = graft.sources.WarcSource.stageCrawlFixture(
        s, d, graft.Stage.dir(d, "crawl_corpus"))
      val fetched = graft.sources.WarcSource.httpTexts(s, paths)
        .withColumn("crawl_id",
          regexp_extract(col("uri"), "/d(\\d+)$", 1).cast("long"))
        .withColumn("clang",
          regexp_extract(col("uri"), "crawl\\.example/([a-z]+)/", 1))
        .select(col("crawl_id"), col("clang").as("lang"),
          col("text").as("html"))
        .localCheckpoint(eager = false)
      // Boilerplate stage: block-score each page with the exact
      // text_boilerplate arithmetic, keep content blocks, reconstitute
      // the article (the staged page has at most one kept block; min()
      // is just the degenerate aggregate over that one row).
      val content = TextAnalysis.boilerplateBlocks(
          fetched, TextAnalysis.BoilerplateStopsCorpus)
        .filter(col("kept"))
        .groupBy("crawl_id", "lang")
        .agg(min("vis").as("text"))
        .localCheckpoint(eager = false)
      val kept1 = TextAnalysis.qualityRuleFlags(content)
        .filter(col("keep")).select("crawl_id", "lang", "text")
        .localCheckpoint(eager = false)
      // LM perplexity gate: the text_lm_buckets tercile rule — score
      // every quality survivor with the self-trained bigram LM, rank by
      // micro-average surprisal (RankUtils.globalRank — the same
      // distributed rank, no SinglePartition funnel) and DROP the tail
      // third (the most-surprising bucket; CCNet mixes head-heavy).
      // Deliberately the bucket rule, not the 1.1x tail FLAG: after the
      // hard quality rules the survivors are homogeneous enough that
      // the flag fires on nobody — a dead stage proves nothing, while
      // the tercile cut bites by construction.
      val scores = TextModelQueries.lmDocScores(
        s, kept1.withColumnRenamed("crawl_id", "doc_id"))
        .withColumn("surprisal", expr("(-q_sum) * 1000000 div n_bi"))
      val ranked = RankUtils.globalRank(scores,
        Seq(col("surprisal").asc, col("doc_id").asc))
      val cuts = ranked.agg(count(lit(1)).as("n"))
        .withColumn("e2", expr("2 * (n div 3) + least(n % 3, 2)"))
        .select("e2")
      val lmKeptIds = ranked.crossJoin(broadcast(cuts))
        .filter(col("rank") <= col("e2"))
        .select(col("doc_id").as("crawl_id"))
      val kept2 = kept1.join(lmKeptIds, Seq("crawl_id"), "left_semi")
        .localCheckpoint(eager = false)
      val uniq = kept2.groupBy(md5(col("text")).as("h"))
        .agg(min("crawl_id").as("crawl_id"), min("lang").as("lang"),
          count(lit(1)).as("n_copies"))
        .localCheckpoint(eager = false)
      val rates = temperatureRates(uniq, "lang", budgetPct = 50)
      val mixed = temperatureKeptOf(
        uniq.select("crawl_id", "lang"), "crawl_id", "lang", rates)
      // Six per-stage aggregates + five broadcast left-joins,
      // deliberately NOT fused: the r22 tagged-union + one-conditional-
      // aggregate rewrite (one exchange instead of six, bit-identical
      // output) measured 2.27 -> 2.49 s (7-draw Lab medians) — the wide
      // union barrier costs more than the AQE-coalesced tiny exchanges
      // plus broadcast latency it removes, closing r21's "funnel fusion"
      // open item with numbers.
      val f0 = fetched.groupBy("lang").agg(count(lit(1)).as("n_fetched"))
      val f0b = content.groupBy("lang").agg(count(lit(1)).as("n_boiler"))
      val f1 = kept1.groupBy("lang").agg(count(lit(1)).as("n_quality"))
      val f2 = kept2.groupBy("lang").agg(count(lit(1)).as("n_lm_kept"))
      val f3 = uniq.groupBy("lang").agg(count(lit(1)).as("n_unique"),
        sum(col("n_copies") - 1).as("n_dups_dropped"))
      val f4 = mixed.groupBy("lang").agg(count(lit(1)).as("n_mixed"),
        sum(PortableHash.h60p(col("crawl_id").cast("string"))).as("mixed_checksum"))
      f0.join(f0b, Seq("lang"), "left")
        .join(f1, Seq("lang"), "left")
        .join(f2, Seq("lang"), "left")
        .join(f3, Seq("lang"), "left")
        .join(f4, Seq("lang"), "left")
        .na.fill(0L, Seq("n_boiler", "n_quality", "n_lm_kept", "n_unique",
          "n_dups_dropped", "n_mixed", "mixed_checksum"))
        .orderBy("lang")
    }),

    // Token-BALANCED shard assignment for distributed training — the
    // complement of q_shard_manifest's hash sharding: hash spreads docs
    // uniformly by COUNT but long-document skew leaves shards with
    // unequal token loads (stragglers in a data-parallel epoch).
    // Longest-processing-time-style round-robin fixes it: global rank
    // by (tokens DESC, doc_id) via RankUtils.globalRank (parallel
    // range-partitioned sort — NO SinglePartition funnel), shard =
    // (rank-1) % 8, so the 8 heaviest docs land on 8 different shards
    // and so on down the order. The per-shard audit carries doc/token
    // totals and a membership checksum, plus the global max-min token
    // spread cross-joined back (1-row broadcast) so the balance claim
    // is IN the gate: round-robin over the sorted order bounds the
    // spread by ~one max-document, where hash sharding's spread grows
    // with corpus skew.
    "pipeline_shard_balance" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      val ranked = RankUtils.globalRank(docs,
        Seq(col("toks").desc, col("doc_id").asc), rankCol = "rk")
      val shards = ranked
        .withColumn("shard", ((col("rk") - 1) % 8).cast("int"))
        .groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum("toks").as("token_sum"),
          min("toks").as("min_toks"), max("toks").as("max_toks"),
          sum(graft.functions.PortableHash.h60p(col("doc_id").cast("string"))).as("doc_checksum"))
      val spread = broadcast(shards.agg(
        (max("token_sum") - min("token_sum")).as("token_spread")))
      shards.crossJoin(spread).orderBy("shard")
    }),

    // SEQUENCE PACKING for LLM pretraining — the concat-and-chunk step
    // that turns a deduped corpus into fixed-length training sequences:
    // concatenate documents in a deterministic order (doc_id), slice the
    // token stream into L=128-token sequences, and audit the packing —
    // how many documents each sequence touches (attention-mask
    // fragmentation), how many sequences are exactly full (all but the
    // tail, by construction — pinned in the gate), token conservation,
    // and a membership checksum. The document start offsets come from
    // RankUtils.globalPrefixSum (parallel range-partitioned scan — the
    // weighted sibling of globalRank, NO SinglePartition funnel); a doc
    // then explodes into its ~toks/L covered sequences map-side with the
    // exact per-sequence token overlap, and everything downstream is
    // ordinary codegen'd aggregation. Scale: one range exchange for the
    // offsets, one hash exchange on seq — both linear; the explode
    // fan-out is bounded by total_tokens/L.
    "pipeline_seq_pack" -> ((s, d) => {
      val L = 128L
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      val pre = RankUtils.globalPrefixSum(docs, Seq(col("doc_id").asc),
        col("toks"), prefixCol = "tok_start")
      val frag = pre
        .withColumn("seq", explode(sequence(
          expr(s"tok_start div $L"),
          expr(s"(tok_start + toks - 1) div $L"))))
        .withColumn("fill",
          least(col("tok_start") + col("toks"), (col("seq") + 1) * L)
            - greatest(col("tok_start"), col("seq") * L))
      val seqs = frag.groupBy("seq").agg(
        count(lit(1)).as("n_docs"),
        sum("fill").as("fill"),
        sum(graft.functions.PortableHash.h60p(col("doc_id").cast("string")))
          .as("dck"))
      seqs.groupBy(col("n_docs").as("docs_per_seq")).agg(
        count(lit(1)).as("n_seqs"),
        sum("fill").as("token_sum"),
        sum(when(col("fill") === L, 1L).otherwise(0L)).as("n_full"),
        sum(col("seq") * 31 + col("dck")).as("seq_checksum"))
        .orderBy("docs_per_seq")
    }),

    "pipeline_token_mix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      val tot = docs.agg(expr("sum(toks) div 3").as("b"))
      val srcs = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("avail"))
        .withColumn("w", substring(col("source"), 4, 10).cast("long") % 4 + 1)
      val wsum = srcs.agg(sum("w").as("wtot"))
      val appor = srcs.crossJoin(broadcast(tot)).crossJoin(broadcast(wsum))
        .withColumn("base", expr("b * w div wtot")) // integer division: exact
        .withColumn("rem", (col("b") * col("w")) % col("wtot"))
      val leftover = appor.agg((max("b") - sum("base")).as("r"))
      val targets = appor.crossJoin(broadcast(leftover))
        .withColumn("rrk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .withColumn("target_tokens",
          col("base") + when(col("rrk") <= col("r"), 1L).otherwise(0L))
        .select("source", "w", "n_docs", "avail", "target_tokens")
      val fill = Window.partitionBy("source")
        .orderBy(graft.functions.PortableHash.h60(col("doc_id").cast("string")), col("doc_id"))
      val sel = docs
        .withColumn("cum", sum("toks").over(
          fill.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(targets.select("source", "target_tokens")), Seq("source"))
        .filter(col("cum") <= col("target_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("sel_docs"), sum("toks").as("sel_tokens"),
          sum(graft.functions.PortableHash.h60p(col("doc_id").cast("string")))
            .as("sel_checksum"))
      targets.join(sel, Seq("source"), "left")
        .select(col("source"), col("w"), col("n_docs"), col("avail"),
          col("target_tokens"),
          coalesce(col("sel_docs"), lit(0L)).as("sel_docs"),
          coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"),
          coalesce(col("sel_checksum"), lit(0L)).as("sel_checksum"))
        .orderBy("source")
    }),

    // Robust outlier audit — the DQ pass that flags anomalous numeric
    // rows without letting the anomalies poison the threshold (mean/
    // stddev shift under the very outliers they hunt; median/MAD do
    // not). med = p50(cents), MAD = p50(|cents − med|), outlier ⇔
    // |x − med| > 3·MAD. Exact-integer inputs keep both engines'
    // interpolated medians bit-equal (values end in .0/.5).
    //
    // Shape at 100 TB — ONE native aggregation (RobustStatsAgg, a
    // TypedImperativeAggregate): the buffer is the group's value→count
    // DOMAIN map, so the partial agg IS the map-side reduction to the
    // value domain (what an explicit (flag, cents, n) pre-aggregate
    // would ship, minus its extra shuffle), the merge is a count-map
    // union, and med/MAD/outlier counts all come out of one finalize
    // over the merged domain. Replaces the r13 three-pass plan (two
    // grouped percentiles + two broadcast-joined re-scans of the
    // table, the engine's heaviest batch query at 2.4 s warm) with a
    // single stage: raw scan → domain-map partial agg → 3-buffer merge
    // → finalize. Memory per buffer = per-group value domain, bounded
    // for integer cents at any row scale.
    "dq_outliers" -> ((s, d) => {
      graft.functions.expressions.GraftFunctions.ensureRegistered(s)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
        .groupBy("l_returnflag")
        .agg(expr("graft_robust_stats(cents)").as("rs"))
        .select(col("l_returnflag"),
          col("rs.n_rows").as("n_rows"),
          col("rs.med").as("med_cents"),
          col("rs.mad").as("mad_cents"),
          col("rs.n_outliers").as("n_outliers"),
          col("rs.max_out").as("max_out_cents"))
        .orderBy("l_returnflag")
    }),

    // Equi-width histogram of order totals — the distribution profile a
    // DQ pass materializes per numeric column. One partial-aggregated
    // shuffle on a ≤13-value key; identical floor arithmetic on both
    // engines (DuckDB has no width_bucket — and Spark's computes
    // (x-min)/step with its own float rounding, so the shared-expression
    // form is the cross-engine-stable one).
    "q_histogram" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          least(floor(col("o_totalprice") / 50000.0), lit(11.0)).cast("int"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n"),
          round2(min("o_totalprice")).as("lo"),
          round2(max("o_totalprice")).as("hi"))
        .orderBy("bucket")),

    // Distribution-drift monitor — per ingest source, the L1 distance of
    // its language mix from the corpus-wide mix, in EXACT integer
    // arithmetic: |p_s(l) − p(l)| = |c_sl·N − c_l·N_s| / (N_s·N), so the
    // summed numerator is a BIGINT (no float summation order to disagree
    // on) and the final ppm is one integer division. Missing languages
    // contribute their full corpus share (the grid is a broadcast
    // langs×sources cross join over two tiny distinct frames — a plain
    // groupBy would silently skip them). The shape at 100 TB: two
    // partial-aggregated count passes + a grid-sized join.
    "dq_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cl = docs.groupBy("lang").agg(count(lit(1)).as("c_l"))
      val cs = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      val csl = docs.groupBy("source", "lang").agg(count(lit(1)).as("c_sl"))
      val n = broadcast(docs.agg(count(lit(1)).as("n")))
      broadcast(cs).crossJoin(broadcast(cl))
        .join(csl, Seq("source", "lang"), "left_outer")
        .crossJoin(n)
        .withColumn("term",
          abs(coalesce(col("c_sl"), lit(0L)) * col("n") - col("c_l") * col("n_s")))
        .groupBy("source")
        .agg(min("n_s").as("n_docs"), min("n").as("n_corpus"),
          sum("term").as("drift_num"))
        .withColumn("drift_ppm",
          expr("CAST((drift_num * 1000000) DIV (n_docs * n_corpus) AS BIGINT)"))
        .select("source", "n_docs", "drift_num", "drift_ppm")
        .orderBy("source")
    }),

    // Shard manifest — the validation artifact a distributed write emits:
    // docs route to 16 shards by the deterministic md5 hash (the same
    // family as the samplers, so shard assignment is repartition-stable
    // and auditable), and each shard's manifest row carries count, byte
    // sum, an order-independent content checksum (h60p over doc_id +
    // content hash — q_table_checksum's discipline) and the key range.
    // Re-validating a 100 TB write = one map-only scan + a 16-row
    // exchange; a lost, duplicated, or cross-shard-misrouted doc moves
    // its shard's sum.
    "q_shard_manifest" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("shard",
          (graft.functions.PortableHash.h60(col("doc_id").cast("string")) % 16).cast("int"))
        .withColumn("h", graft.functions.PortableHash.h60p(
          concat_ws("|", col("doc_id").cast("string"), md5(col("text")))))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("bytes"),
          sum("h").as("content_sum"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")),

    // Z-order (Morton) clustering audit — the multi-dimensional data
    // layout that makes parquet min/max row-group pruning work on EITHER
    // predicate dimension. Interleave the low 8 bits of two key dims into
    // a 16-bit z-value, assign fixed z-ranges to 32 would-be files
    // (map-only — the real write path is repartitionByRange(z) +
    // sortWithinPartitions(z) + write), and report each file's per-dim
    // min/max — the stats a scan would prune on. Pure integer bit math,
    // so the DuckDB oracle is bit-exact.
    "q_zorder" -> ((s, d) =>
      Tables.lineitem(s, d)
        .withColumn("x", expr("CAST(l_partkey % 256 AS INT)"))
        .withColumn("y", expr("CAST(l_suppkey % 256 AS INT)"))
        .withColumn("z", expr(graft.Portable.mortonInterleaveSql("x", "y")))
        .withColumn("file_id", expr("CAST(z div 2048 AS INT)"))
        .groupBy("file_id")
        .agg(
          count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("file_id"))
  )

  // Spark-side interleave: graft.Portable.mortonInterleaveSql (shared
  // with FileSources.writeZOrdered so layout and audit can't drift).
  /** The same interleave in DuckDB's operator syntax (<< >> &). */
  private def zInterleaveDuck(xe: String, ye: String): String =
    (0 until 8).map(i =>
      s"((($xe >> $i) & 1) << ${2 * i}) + ((($ye >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "dq_profile" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty,
                CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
                FLOOR(MIN(l_extendedprice)*100 + 0.5)/100 AS min_price,
                FLOOR(MAX(l_extendedprice)*100 + 0.5)/100 AS max_price,
                CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags
         FROM lineitem""",
    "sample_exact_k" ->
      """SELECT lang, rk, doc_id FROM (
           SELECT lang, doc_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                             doc_id) AS INT) AS rk
           FROM documents)
         WHERE rk <= 10 ORDER BY lang, rk""",
    "q_skew_join" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_skew_agg" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
                CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS total
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "sample_weighted" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
               < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
         ORDER BY doc_id""",
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
                    FROM documents),
            c AS (SELECT doc_id, lang, tok,
                         SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM t)
          SELECT lang, CAST((cum - tok) // 2048 AS BIGINT) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(tok) AS BIGINT) AS bin_tokens,
                 MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
          FROM c GROUP BY 1, 2 ORDER BY lang, bin""",
    "sample_hash" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 10
         ORDER BY doc_id""",
    "sample_stratified" ->
      """SELECT lang, rk, doc_id FROM (
           SELECT lang, doc_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS INT) AS rk
           FROM documents)
         WHERE rk <= 5 ORDER BY lang, rk""",
    "q_cdc_compact" ->
      """SELECT user_id, last_event_id, last_type,
                FLOOR(last_value*100 + 0.5)/100 AS last_value, n_versions
         FROM (SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                      value AS last_value,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rk,
                      CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_versions
               FROM events)
         WHERE rk = 1 ORDER BY user_id""",
    "q_split_assign" ->
      """WITH h AS (SELECT lang, doc_id,
                           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS hh
                    FROM documents)
         SELECT lang,
                CASE WHEN hh < 80 THEN 'train' WHEN hh < 90 THEN 'val' ELSE 'test' END AS split,
                CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS first_doc
         FROM h GROUP BY 1, 2 ORDER BY lang, split""",
    "dq_drift" ->
      """WITH cl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c_l FROM documents GROUP BY 1),
            cs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY 1),
            csl AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c_sl
                    FROM documents GROUP BY 1, 2),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
            grid AS (SELECT s.source, l.lang, s.n_s, l.c_l FROM cs s CROSS JOIN cl l),
            j AS (SELECT g.source, g.n_s, nn.n,
                         ABS(COALESCE(c.c_sl, 0) * nn.n - g.c_l * g.n_s) AS term
                  FROM grid g
                  LEFT JOIN csl c ON c.source = g.source AND c.lang = g.lang
                  CROSS JOIN nn)
         SELECT source, MIN(n_s) AS n_docs,
                CAST(SUM(term) AS BIGINT) AS drift_num,
                CAST((SUM(term) * 1000000) // (MIN(n_s) * MIN(n)) AS BIGINT) AS drift_ppm
         FROM j GROUP BY 1 ORDER BY source""",
    "q_shard_manifest" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
                 CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS INT) AS shard,
                 ${graft.functions.PortableHash.h60pSql("(CAST(doc_id AS VARCHAR) || '|' || md5(text))")} AS h
               FROM documents)
         SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS bytes,
                CAST(SUM(h) AS BIGINT) AS content_sum,
                MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         FROM t GROUP BY 1 ORDER BY shard""",
    "pipeline_shard_balance" ->
      s"""WITH t AS (SELECT doc_id,
                            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
                     FROM documents),
            r AS (SELECT doc_id, toks,
                         ROW_NUMBER() OVER (ORDER BY toks DESC, doc_id) AS rk
                  FROM t),
            sh AS (SELECT CAST((rk - 1) % 8 AS INT) AS shard,
                          CAST(COUNT(*) AS BIGINT) AS n_docs,
                          CAST(SUM(toks) AS BIGINT) AS token_sum,
                          CAST(MIN(toks) AS BIGINT) AS min_toks,
                          CAST(MAX(toks) AS BIGINT) AS max_toks,
                          CAST(SUM(${graft.functions.PortableHash.h60pSql(
                            "CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS doc_checksum
                   FROM r GROUP BY 1),
            sp AS (SELECT MAX(token_sum) - MIN(token_sum) AS token_spread FROM sh)
         SELECT sh.*, CAST(sp.token_spread AS BIGINT) AS token_spread
         FROM sh CROSS JOIN sp ORDER BY shard""",
    // Concat-and-chunk replayed closed-form: exclusive cumsum over the
    // doc_id order, each doc laterally exploded into its covered
    // 128-token sequences with the exact overlap, then the same
    // two-level aggregation.
    "pipeline_seq_pack" ->
      s"""WITH docs AS (SELECT doc_id,
                               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
                        FROM documents),
            pre AS (SELECT doc_id, toks,
                           CAST(COALESCE(SUM(toks) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             0) AS BIGINT) AS tok_start
                    FROM docs),
            sqs AS (SELECT doc_id, toks, tok_start,
                           unnest(range(tok_start // 128,
                                        (tok_start + toks - 1) // 128 + 1)) AS seq
                    FROM pre),
            frag AS (SELECT doc_id, seq,
                            LEAST(tok_start + toks, (seq + 1) * 128)
                              - GREATEST(tok_start, seq * 128) AS fill
                     FROM sqs),
            sq AS (SELECT seq, CAST(COUNT(*) AS BIGINT) AS n_docs,
                          CAST(SUM(fill) AS BIGINT) AS fill,
                          SUM(${graft.functions.PortableHash.h60pSql(
                            "CAST(doc_id AS VARCHAR)")}) AS dck
                   FROM frag GROUP BY 1)
          SELECT n_docs AS docs_per_seq, CAST(COUNT(*) AS BIGINT) AS n_seqs,
                 CAST(SUM(fill) AS BIGINT) AS token_sum,
                 CAST(SUM(CASE WHEN fill = 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
                 CAST(SUM(seq * 31 + dck) AS BIGINT) AS seq_checksum
          FROM sq GROUP BY 1 ORDER BY docs_per_seq""",
    "pipeline_token_mix" ->
      s"""WITH docs AS (SELECT doc_id, source,
                               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
                        FROM documents),
            tot AS (SELECT SUM(toks) // 3 AS b FROM docs),
            srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                            CAST(SUM(toks) AS BIGINT) AS avail,
                            CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w
                     FROM docs GROUP BY 1),
            ws AS (SELECT SUM(w) AS wtot FROM srcs),
            ap AS (SELECT source, n_docs, avail, w, b,
                          (b * w) // wtot AS base, (b * w) % wtot AS rem
                   FROM srcs CROSS JOIN tot CROSS JOIN ws),
            lo AS (SELECT MAX(b) - SUM(base) AS r FROM ap),
            tg AS (SELECT source, w, n_docs, avail,
                          CAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source) <= r
                                      THEN 1 ELSE 0 END AS BIGINT) AS target_tokens
                   FROM ap CROSS JOIN lo),
            fill AS (SELECT doc_id, source, toks,
                            SUM(toks) OVER (PARTITION BY source
                              ORDER BY ${graft.functions.PortableHash.h60Sql("CAST(doc_id AS VARCHAR)")}, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
                     FROM docs),
            sel AS (SELECT f.source, CAST(COUNT(*) AS BIGINT) AS sel_docs,
                           CAST(SUM(f.toks) AS BIGINT) AS sel_tokens,
                           CAST(SUM(${graft.functions.PortableHash.h60pSql("CAST(f.doc_id AS VARCHAR)")}) AS BIGINT) AS sel_checksum
                    FROM fill f JOIN tg USING (source)
                    WHERE f.cum <= tg.target_tokens GROUP BY 1)
          SELECT source, w, n_docs, avail, target_tokens,
                 COALESCE(sel_docs, 0) AS sel_docs,
                 COALESCE(sel_tokens, 0) AS sel_tokens,
                 COALESCE(sel_checksum, 0) AS sel_checksum
          FROM tg LEFT JOIN sel USING (source) ORDER BY source""",
    "sample_temperature" ->
      s"""WITH nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
            sq AS (SELECT lang, n_docs, n_docs * 1000000 AS x,
                          CAST(FLOOR(SQRT(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT) AS b
                   FROM nl),
            w AS (SELECT lang, n_docs,
                         CASE WHEN (b + 1) * (b + 1) <= x THEN b + 1
                              WHEN b * b > x THEN b - 1
                              ELSE b END AS w
                  FROM sq),
            tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w,
                           CAST(SUM(n_docs) AS BIGINT) AS n FROM w),
            rates AS (SELECT lang, n_docs, w,
                             (w * 1000000) // sum_w AS mix_ppm,
                             LEAST(CAST(1000000 AS BIGINT),
                                   ((n // 2) * ((w * 1000000) // sum_w)) // n_docs) AS rate_ppm
                      FROM w CROSS JOIN tot),
            kept AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
                            CAST(SUM(${graft.functions.PortableHash.h60pSql("CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS kept_sum
                     FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
                     WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                           % 1000000 < r.rate_ppm
                     GROUP BY 1)
          SELECT r.lang, r.n_docs, r.w, r.mix_ppm, r.rate_ppm,
                 COALESCE(k.n_kept, 0) AS n_kept,
                 COALESCE(k.kept_sum, 0) AS kept_sum
          FROM rates r LEFT JOIN kept k ON r.lang IS NOT DISTINCT FROM k.lang
          ORDER BY r.lang""",
    "dq_outliers" ->
      """WITH li AS (SELECT l_returnflag,
                            CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
                     FROM lineitem),
            med AS (SELECT l_returnflag, CAST(quantile_cont(cents, 0.5) AS DOUBLE) AS med
                    FROM li GROUP BY 1),
            wm AS (SELECT li.l_returnflag, cents, med, ABS(cents - med) AS adev
                   FROM li JOIN med USING (l_returnflag)),
            mad AS (SELECT l_returnflag, CAST(quantile_cont(adev, 0.5) AS DOUBLE) AS mad
                    FROM wm GROUP BY 1)
         SELECT w.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
                MIN(med) AS med_cents, MIN(mad) AS mad_cents,
                CAST(SUM(CASE WHEN adev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                COALESCE(MAX(CASE WHEN adev > mad * 3 THEN cents END),
                         CAST(-1 AS BIGINT)) AS max_out_cents
         FROM wm w JOIN mad USING (l_returnflag)
         GROUP BY 1 ORDER BY w.l_returnflag""",
    "q_histogram" ->
      """SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 11) AS INT) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS n,
                FLOOR(MIN(o_totalprice)*100 + 0.5)/100 AS lo,
                FLOOR(MAX(o_totalprice)*100 + 0.5)/100 AS hi
         FROM orders GROUP BY 1 ORDER BY bucket""",
    "q_zorder" ->
      s"""WITH b AS (SELECT CAST(l_partkey % 256 AS INT) AS x,
                            CAST(l_suppkey % 256 AS INT) AS y
                     FROM lineitem),
            zz AS (SELECT x, y, ${zInterleaveDuck("x", "y")} AS z FROM b)
          SELECT CAST(z // 2048 AS INT) AS file_id,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 MIN(x) AS min_x, MAX(x) AS max_x,
                 MIN(y) AS min_y, MAX(y) AS max_y
          FROM zz GROUP BY 1 ORDER BY file_id""",

    // Replays the whole crawl funnel from the parquet table: the staged
    // WARC membership (even doc_ids, % 10 == 4 re-crawled as +1
    // aliases), the quality rules, the LM tail flag over the quality
    // survivors, exact dedup by content md5, and the α=0.5 temperature
    // gate at 50% budget — each stage's arithmetic verbatim from its
    // component oracle.
    "pipeline_crawl_corpus" -> {
      val stopSum = TextAnalysis.enStopCaseSumSql
      val h60cid = graft.functions.PortableHash.h60Sql("CAST(u.cid AS VARCHAR)")
      val h60pcid = graft.functions.PortableHash.h60pSql("CAST(cid AS VARCHAR)")
      s"""WITH base AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
            crawl AS (SELECT doc_id * 10 AS cid, lang, text FROM base
                      UNION ALL
                      SELECT doc_id * 10 + 1 AS cid, lang, text FROM base
                      WHERE doc_id % 10 = 4),
            -- boilerplate stage: the staged page's nav/footer blocks are
            -- dropped by construction (anchor density / length); the one
            -- content <p> reconstitutes the article text exactly and
            -- survives iff the article passes the jusText length +
            -- stopword-density rules (anchor_chars = 0 for it).
            boiler AS (SELECT cid, lang, text FROM crawl
                       WHERE length(text) >= 40
                         AND len(list_filter(string_split(text, ' '),
                               t -> t IN (${TextAnalysis.BoilerplateStopsCorpus
                                 .map(w => s"'$w'").mkString(", ")}))) * 100
                             >= len(string_split(text, ' ')) * 20),
            qt AS (SELECT cid, lang, text, string_split(text, ' ') AS toks,
                          CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_ch
                   FROM boiler),
            qm AS (SELECT cid, lang, text, n_ch,
                          CAST(len(toks) AS BIGINT) AS n_words,
                          CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
                          CAST($stopSum AS BIGINT) AS n_stop
                   FROM qt),
            keep1 AS (SELECT cid, lang, text FROM qm
                      WHERE n_words BETWEEN 30 AND 100000
                        AND n_ch >= n_words * 3 AND n_ch <= n_words * 10
                        AND n_alpha * 5 >= n_words * 4 AND n_stop >= 2),
            lt AS (SELECT cid, lang, string_split(text, ' ') AS toks FROM keep1
                   WHERE len(string_split(text, ' ')) >= 2),
            lb AS (SELECT cid, lang, toks[i] AS w1, toks[i + 1] AS w2
                   FROM (SELECT cid, lang, toks, unnest(range(1, len(toks))) AS i FROM lt)),
            bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM lb GROUP BY 1, 2),
            uc AS (SELECT w1, SUM(c12) AS c1 FROM bc GROUP BY 1),
            v AS (SELECT COUNT(DISTINCT w) AS vsz FROM
                    (SELECT unnest(string_split(text, ' ')) AS w FROM keep1)),
            lm AS (SELECT bc.w1, bc.w2,
                          CAST(FLOOR(ln((c12 + 1.0) / (c1 + vsz)) * 10000) AS BIGINT) AS q
                   FROM bc JOIN uc USING (w1) CROSS JOIN v),
            ldb AS (SELECT cid, lang, w1, w2, COUNT(*) AS k FROM lb GROUP BY 1, 2, 3, 4),
            ds AS (SELECT cid, CAST(SUM(k) AS BIGINT) AS n_bi,
                          CAST(SUM(k * q) AS BIGINT) AS q_sum
                   FROM ldb JOIN lm USING (w1, w2) GROUP BY 1),
            rk AS (SELECT cid,
                          NTILE(3) OVER (ORDER BY ((-q_sum) * 1000000) // n_bi, cid) AS bucket
                   FROM ds),
            keep2 AS (SELECT k.cid, k.lang, k.text
                      FROM keep1 k JOIN rk ON rk.cid = k.cid
                      WHERE rk.bucket <= 2),
            uniq AS (SELECT MIN(cid) AS cid, MIN(lang) AS lang,
                            CAST(COUNT(*) AS BIGINT) AS n_copies
                     FROM keep2 GROUP BY md5(text)),
            nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM uniq GROUP BY 1),
            sq AS (SELECT lang, n_docs, n_docs * 1000000 AS x,
                          CAST(FLOOR(SQRT(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT) AS b
                   FROM nl),
            w AS (SELECT lang, n_docs,
                         CASE WHEN (b + 1) * (b + 1) <= x THEN b + 1
                              WHEN b * b > x THEN b - 1
                              ELSE b END AS w
                  FROM sq),
            wtot AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w,
                            CAST(SUM(n_docs) AS BIGINT) AS n FROM w),
            rates AS (SELECT lang, n_docs, w,
                             (w * 1000000) // sum_w AS mix_ppm,
                             LEAST(CAST(1000000 AS BIGINT),
                                   (((n * 50) // 100) * ((w * 1000000) // sum_w)) // n_docs) AS rate_ppm
                      FROM w CROSS JOIN wtot),
            mixed AS (SELECT u.cid, u.lang FROM uniq u JOIN rates r ON u.lang = r.lang
                      WHERE $h60cid % 1000000 < r.rate_ppm),
            f0 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_fetched FROM crawl GROUP BY 1),
            f0b AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_boiler FROM boiler GROUP BY 1),
            f1 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_quality FROM keep1 GROUP BY 1),
            f2 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lm_kept FROM keep2 GROUP BY 1),
            f3 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_unique,
                          CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_dropped
                   FROM uniq GROUP BY 1),
            f4 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_mixed,
                          CAST(SUM($h60pcid) AS BIGINT) AS mixed_checksum
                   FROM mixed GROUP BY 1)
          SELECT f0.lang, f0.n_fetched,
                 COALESCE(f0b.n_boiler, 0) AS n_boiler,
                 COALESCE(f1.n_quality, 0) AS n_quality,
                 COALESCE(f2.n_lm_kept, 0) AS n_lm_kept,
                 COALESCE(f3.n_unique, 0) AS n_unique,
                 COALESCE(f3.n_dups_dropped, 0) AS n_dups_dropped,
                 COALESCE(f4.n_mixed, 0) AS n_mixed,
                 COALESCE(f4.mixed_checksum, 0) AS mixed_checksum
          FROM f0 LEFT JOIN f0b USING (lang) LEFT JOIN f1 USING (lang)
               LEFT JOIN f2 USING (lang)
               LEFT JOIN f3 USING (lang) LEFT JOIN f4 USING (lang)
          ORDER BY f0.lang"""
    }
  )
}
