package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical language-model operators for corpus curation — the two
  * model-based filters every large pretraining pipeline runs after the
  * hard rules (text_quality_rules) and before dedup:
  *
  *   - `text_lm_perplexity`: CCNet-style n-gram-LM perplexity filtering
  *     (Wenzek et al. 2020) — train a bigram LM over the corpus, score
  *     every document by its average token log-probability, flag the
  *     high-perplexity tail. Here the LM trains on the corpus it scores
  *     (self-scoring), which is the standard bootstrap when no curated
  *     reference corpus exists yet.
  *   - `text_nb_classify`: a multinomial Naive Bayes document classifier
  *     (the fastText-style linear text filter reduced to its count-based
  *     ancestor) — train per-class token likelihoods with add-1
  *     smoothing, score docs as quantized log-likelihood sums + prior,
  *     argmax with a deterministic tie-break, emit the confusion matrix
  *     against the labeled truth.
  *
  * Cross-engine determinism: every log-probability is quantized ONCE per
  * model parameter — `FLOOR(ln(p) * 10000)` as BIGINT ("deci-milli-log")
  * — and everything downstream (per-doc scores, corpus totals, argmax,
  * the tail-flag threshold) is pure 64-bit integer arithmetic, so
  * reduction order can never change a result. The only doubles are the
  * single `ln` per (bigram | token×class) TYPE: both engines divide
  * exact integer-valued doubles (IEEE-identical) and take `ln` within
  * 1 ulp, so a quantization-boundary straddle needs the true value
  * within ~1e-11 of an integer — negligible over the bounded type
  * space, and far safer than summing raw doubles (order-dependent).
  *
  * Scale shape (100 TB): the MODELS are vocabulary-sized — |V|² bigram
  * types, |V|×L class likelihoods — i.e. megabytes when the corpus is
  * terabytes, so scoring is a broadcast join onto the token/bigram
  * frame. The corpus pays exactly two wide exchanges per query: one
  * partial-aggregated groupBy to count model statistics and one to
  * re-aggregate per (doc, class). No windows over the corpus (the NB
  * argmax window partitions by doc_id over L=5 rows per doc), no
  * driver hops, no collect.
  */
object TextModelQueries extends QueryPack {

  /** Quantization scale for log-probabilities (see object doc). */
  private val Q = 10000

  val queries: Map[String, Q] = Map(
    // CCNet-style perplexity filter. LM: bigram with add-1 smoothing,
    //   p(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V)
    // where c(w1·) counts w1 as bigram CONTEXT (positions 1..n-1) and V
    // is the corpus-wide distinct-token count. Per-doc score = sum of
    // quantized bigram logprobs over OCCURRENCES; the flag compares
    // integer micro-average SURPRISALS (negated logprobs — positive,
    // so both engines' integer division agrees):
    //   doc_micro · 10 > corp_micro · 11
    // i.e. "this doc's avg logprob is below 1.1× the corpus average"
    // (logprobs are negative: 1.1× the average means noticeably more
    // surprising than typical — the filter CCNet applies at the
    // 'tail' perplexity bucket). Self-calibrating: no fixture-tuned
    // constant. Output is the per-lang audit: docs scored, bigram
    // mass, total quantized logprob, flagged count, and an
    // order-independent h60p checksum pinning WHICH docs were flagged.
    "text_lm_perplexity" -> ((s, d) => lmPerplexityAudit(s, Tables.documents(s, d))),

    // The CCNet head/middle/tail split — what the perplexity score is
    // FOR: rank every document by its LM micro-average logprob
    // (q_sum·1e6 div n_bi — integer division of already-quantized
    // sums, so the ranking key is BIGINT on both engines; doc_id breaks
    // exact ties) and cut the corpus into three equal-count buckets.
    // head = most fluent (highest avg logprob), tail = most
    // surprising; downstream mixing samples head-heavy. Output: per
    // (lang, bucket) counts, token mass and the membership checksum —
    // a one-doc boundary shift anywhere hash-fails.
    //
    // NOT a global ntile window (the round-15 weak plan): NTILE over
    // an unpartitioned window funnels the whole per-document frame
    // through ONE task (Exchange SinglePartition) — a single-task sort
    // of 10⁹+ rows at corpus scale. Instead the bucket is assigned
    // from the document's exact global rank, computed distributed by
    // [[globalRank]] (parallel range-partitioned sort + broadcast
    // per-partition offsets), and compared against the two NTILE
    // boundary ranks derived in closed form from the corpus count —
    // identical membership to the oracle's NTILE(3), no funnel.
    "text_lm_buckets" -> ((s, d) => {
      // The ranking key negates q_sum first so the integer division runs
      // on POSITIVES — Spark's `div` truncates toward zero while
      // DuckDB's `//` floors, and they only agree above zero. Ascending
      // surprisal = descending fluency, so bucket 1 is the head.
      val scored = lmDocScores(s, Tables.documents(s, d))
        .withColumn("surprisal", expr("(-q_sum) * 1000000 div n_bi"))
      val ranked = RankUtils.globalRank(scored,
        Seq(col("surprisal").asc, col("doc_id").asc))
      // NTILE(3) boundary ranks: base size n div 3, the first n%3
      // buckets take one extra row. e1/e2 are the last ranks of
      // buckets 1 and 2 — a 1-row frame, broadcast onto every doc.
      val cuts = ranked.agg(count(lit(1)).as("n"))
        .withColumn("e1", expr("n div 3 + if(n % 3 >= 1, 1, 0)"))
        .withColumn("e2", expr("2 * (n div 3) + least(n % 3, 2)"))
        .select("e1", "e2")
      val ds = ranked.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          when(col("rank") <= col("e1"), 1)
            .when(col("rank") <= col("e2"), 2)
            .otherwise(3))
      ds.groupBy("lang", "bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_bi").as("bigram_mass"),
          sum(PortableHash.h60p(col("doc_id").cast("string"))).as("member_checksum"))
        .orderBy("lang", "bucket")
    }),

    // Multinomial Naive Bayes over the labeled corpus (label = lang).
    // Train: per-class token likelihoods with add-1 smoothing over the
    // SHARED vocabulary grid (every (w, class) pair scored, zero counts
    // included — the grid is vocab × classes, built by a cross join of
    // two TINY distinct frames and LEFT-joining the observed counts),
    // plus quantized class log-priors. Score: per-doc per-class
    //   score = q_prior(l) + Σ_w k_w · q(w|l)
    // — all BIGINT. Predict: argmax with ties broken toward the
    // alphabetically-first class (a total order both engines share).
    // Output: the confusion matrix (lang_true, lang_pred, n) with an
    // h60p membership checksum per cell. NOTE on this fixture: the
    // generator draws tokens independently of lang, so the learned
    // likelihoods are near-uniform and the matrix mostly collapses to
    // the prior argmax — the gate pins the ESTIMATOR (smoothing, grid
    // zeros, quantization, tie-break); NbClassifierSpec drives the same
    // body over a crafted corpus with genuinely disjoint class
    // vocabularies and pins perfect-recovery + the zero-count path.
    "text_nb_classify" -> ((s, d) => nbConfusion(s, Tables.documents(s, d))),

    // Cavnar-Trenkle character-n-gram profile classification (the
    // classic "textcat" algorithm, Cavnar & Trenkle 1994) — the third
    // language-ID family next to the stopword heuristic (text_lang_id)
    // and the token-level Naive Bayes: per language, rank the top-30
    // char TRIGRAMS by frequency; per document, rank its own top-30;
    // distance = Σ over doc-profile grams of |rank_doc − rank_lang|,
    // with a fixed out-of-place penalty of 30 for grams absent from the
    // language profile; predict argmin (ties to the alphabetically-
    // first language). All integer arithmetic — counts, ranks under a
    // (count DESC, gram ASC) total order, absolute differences — so the
    // oracle replays it exactly. NOTE on this fixture: the generator's
    // lexical distributions are lang-independent, so profiles are
    // near-identical and the matrix mostly collapses — the gate pins
    // the ESTIMATOR (ranking, the out-of-place penalty, tie-breaks);
    // CtClassifierSpec drives the same body over crafted corpora with
    // genuinely distinct character distributions and pins recovery.
    // Scale: profiles are (langs × 30) rows — broadcast; the corpus
    // pays the gram explode + two uniform-key groupBys + one per-doc
    // rank window; the doc×lang distance frame is |docs|·|langs|.
    "text_lang_profile" -> ((s, d) => ctConfusion(s, Tables.documents(s, d))),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every document
    // by how much more likely its hashed-n-gram bag is under a TARGET
    // distribution than under the raw-corpus distribution, and keep the
    // docs the ratio favors. Features are word unigrams + space-joined
    // bigrams hashed into B = 1024 buckets (the paper's hashed n-gram
    // reduction); the target here is the corpus's own 'en' slice — the
    // standard bootstrap when the curated target set is a slice of what
    // you already have. Model: add-1-smoothed bucket distributions,
    // each log-probability quantized ONCE per bucket (FLOOR(ln·10⁴),
    // the file-wide determinism discipline), per-doc importance
    // log-weight λ = Σ_k n_k·(lp_k − lq_k) in pure BIGINT, keep ⇔
    // λ > 0 (more target-like than corpus-average). Report per lang:
    // doc/kept counts, λ range/sum, kept-id checksum — the en slice
    // keeps ~43% while every other lang keeps ~4%, so the gate pins
    // real discrimination, not a constant. Scale shape (100 TB): the
    // MODEL is B rows — megabytes against terabytes — so scoring is a
    // broadcast join onto the feature stream; the corpus pays one
    // explode pass (checkpointed once for the count and score
    // consumers), one bucket groupBy, one per-doc groupBy.
    "text_dsir_select" -> ((s, d) =>
      dsirLogWeights(Tables.documents(s, d), col("lang") === "en",
        carry = Seq("lang"))
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("lam") > 0, 1L).otherwise(0L)).as("n_kept"),
          sum("lam").as("weight_sum"),
          min("lam").as("min_w"), max("lam").as("max_w"),
          sum(when(col("lam") > 0,
            PortableHash.h60p(col("doc_id").cast("string"))).otherwise(0L))
            .as("kept_checksum"))
        .orderBy("lang")))

  /** DSIR importance log-weights (Xie et al. 2023) — the ONE place the
    * arithmetic lives (shared by the declared text_dsir_select gate and
    * the Graft.dsirLogWeights facade, so the two structurally cannot
    * drift). Features: word unigrams + space-joined adjacent bigrams of
    * `textCol`, hashed into `buckets` buckets via the portable md5 hash;
    * model: add-1-smoothed target (rows where `isTarget`) vs raw bucket
    * distributions, each log-probability quantized once per bucket
    * (FLOOR(ln·10⁴) BIGINT); per-doc λ = Σ_k n_k·(lp_k − lq_k), pure
    * integer downstream. Returns one row per doc: (doc_id, carry…, lam).
    * `carry` columns must be constant per doc_id (reduced with max).
    * Scale: the model is `buckets` rows (broadcast), the corpus pays one
    * checkpointed explode, one bucket groupBy and one per-doc groupBy. */
  private[graft] def dsirLogWeights(docs: DataFrame, isTarget: Column,
                                    carry: Seq[String] = Seq.empty,
                                    buckets: Int = 1024,
                                    textCol: String = "text"): DataFrame = {
    val B = buckets
    val base = docs.select(
      (Seq(col("doc_id"), isTarget.as("__t"), split(col(textCol), " ").as("tk"))
        ++ carry.map(col)): _*)
    def keep(extra: Column) =
      Seq(col("doc_id"), col("__t"), extra.as("f")) ++ carry.map(col)
    val uni = base.select(keep(explode(col("tk"))): _*)
    val bi = base.filter(size(col("tk")) >= 2)
      .withColumn("g", explode(graft.Graft.zipNgrams(col("tk"), 2)))
      .select(keep(graft.Graft.ngramText(col("g"), 2)): _*)
    val feat = uni.union(bi)
      .withColumn("k", PortableHash.h60(col("f")) % B)
      .drop("f")
      .localCheckpoint(eager = false) // counts + scoring share one explode
    val tcnt = feat.filter(col("__t"))
      .groupBy("k").agg(count(lit(1)).as("ct"))
    val acnt = feat.groupBy("k").agg(count(lit(1)).as("ca"))
    val tot = broadcast(feat.agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("t_tot"),
      count(lit(1)).as("a_tot")))
    val model = acnt.join(tcnt, Seq("k"), "left")
      .na.fill(0L, Seq("ct")).crossJoin(tot)
      .withColumn("lpq",
        floor(log((col("ct") + lit(1.0)) / (col("t_tot") + lit(B.toDouble))) * Q)
          - floor(log((col("ca") + lit(1.0)) / (col("a_tot") + lit(B.toDouble))) * Q))
      .select("k", "lpq")
    val aggs = carry.map(c => max(col(c)).as(c)) :+ sum("lpq").as("lam")
    feat.join(broadcast(model), Seq("k"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*) // carry cols constant per doc
  }

  /** Cavnar-Trenkle confusion body over ANY (doc_id, lang, text) frame
    * — exposed for CtClassifierSpec's crafted corpora.
    *
    * Plan shape (rewritten after the first version benched 6.6 s at
    * sf0.1 from THREE serialized localCheckpoint jobs plus a
    * matched/doc-size/left-join-fill dance): ONE job — the doc profile
    * crossed with the tiny language list, LEFT-joined against the
    * broadcast language profiles, the out-of-place penalty applied as a
    * per-row coalesce, then dist/argmin/confusion as plain aggregates.
    * The gram explode is evaluated once per profile branch (two corpus
    * map-scans — cheaper than materializing a checkpoint between them). */
  private[graft] def ctConfusion(s: SparkSession, docs0: DataFrame): DataFrame = {
    val K = 30
    val docs = docs0.select(col("doc_id"), col("lang"), col("text"))
      .filter(length(col("text")) >= 3) // sequence(1,0) would DESCEND
    // Char-trigram stream via arrays_zip of three shifted char slices —
    // codegen'd end-to-end; the interpreted transform(sequence(...),
    // substring) HOF formulation measured 2-3× slower (the
    // text_ngram_stats lesson, re-confirmed here).
    val grams = docs
      .withColumn("ch", split(col("text"), ""))
      .select(col("doc_id"), col("lang"),
        explode(graft.Graft.zipNgrams(col("ch"), 3)).as("t"))
      .select(col("doc_id"), col("lang"),
        concat(col("t.c0"), col("t.c1"), col("t.c2")).as("g"))
    // Both profiles re-explode the gram stream — deliberately: the r22
    // shared-(doc_id,lang,g)-pre-agg + lazy checkpoint variant (one
    // explode feeding both profiles, lang counts folded from doc
    // counts) measured SLOWER at power (9-draw Lab medians 1.39 s
    // current vs 1.58 s shared; in-battery 1.41 vs 2.02) — the
    // materialization barrier on the ~95%-distinct (doc,gram) frame
    // costs more than the codegen'd second explode it saves, the same
    // §2.2/§2.1 r21 outcome from a third cut point.
    val langProf = grams.groupBy("lang", "g").agg(count(lit(1)).as("c"))
      .withColumn("rl", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("g"))))
      .filter(col("rl") <= K).select(col("lang").as("cand"), col("g"), col("rl"))
    val docProf = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .withColumn("rd", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("g"))))
      .filter(col("rd") <= K).select("doc_id", "g", "rd")
    val langs = docs.select(col("lang").as("cand")).distinct()
    val pred = docProf.crossJoin(broadcast(langs))
      .join(broadcast(langProf), Seq("cand", "g"), "left")
      .withColumn("contrib",
        coalesce(abs(col("rd") - col("rl")), lit(K.toLong)))
      .groupBy("doc_id", "cand").agg(sum("contrib").as("dist"))
      .groupBy("doc_id")
      .agg(min(struct(col("dist"), col("cand"))).as("best"))
      .select(col("doc_id"), col("best.cand").as("lang_pred"),
        col("best.dist").as("dist"))
    docs.select("doc_id", "lang").join(pred, "doc_id")
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("dist").as("dist_sum"),
        sum(PortableHash.h60p(col("doc_id").cast("string"))).as("member_checksum"))
      .orderBy("lang", "lang_pred")
  }

  /** The text_lm_perplexity body over ANY (doc_id, lang, text) frame —
    * exposed so NbClassifierSpec can plant a gibberish document (all
    * singleton bigrams) in a repetitive corpus and pin that the flag
    * catches exactly it. */
  /** Per-document LM scores — (doc_id, lang, n_bi, q_sum) — the frame
    * both text_lm_perplexity (tail flag) and text_lm_buckets (ntile
    * split) consume. */
  private[graft] def lmDocScores(s: SparkSession, docs: DataFrame): DataFrame = {
    val t = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    val b = t
      .select(col("doc_id"), col("lang"),
        explode(graft.Graft.zipNgrams(col("toks"), 2)).as("g"))
      .select(col("doc_id"), col("lang"),
        col("g.c0").as("w1"), col("g.c1").as("w2"))
    val bc = b.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // Context counts fold from the bigram-type frame — no second pass
    // over the exploded corpus (bc is vocab²-bounded).
    val uc = bc.groupBy("w1").agg(sum("c12").as("c1"))
    // V counts distinct tokens over ALL positions (incl. 1-token docs).
    val v = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(countDistinct("w").as("vsz"))
    val lm = bc.join(uc, "w1").crossJoin(broadcast(v))
      .withColumn("q",
        floor(log((col("c12") + lit(1.0)) / (col("c1") + col("vsz"))) * Q))
      .select("w1", "w2", "q")
    val db = b.groupBy("doc_id", "lang", "w1", "w2").agg(count(lit(1)).as("k"))
    db.join(broadcast(lm), Seq("w1", "w2"))
      .groupBy("doc_id", "lang")
      .agg(sum("k").as("n_bi"), sum(col("k") * col("q")).as("q_sum"))
  }

  private[graft] def lmPerplexityAudit(s: SparkSession, docs: DataFrame): DataFrame = {
    // ds feeds both the corpus total and the flag pass, so the plan
    // carries the lmDocScores subtree twice — deliberately NOT
    // checkpointed: the r22 Lab A/B (both run orders) measured the lazy
    // cut ~10% SLOWER (0.91-1.00 s → 1.04-1.12 s medians) — the
    // duplicated work is cheap codegen'd explodes over a column-pruned
    // scan, cheaper than the materialization barrier (the r21 §2.1
    // lesson, reconfirmed from a different cut point).
    val ds = lmDocScores(s, docs)
    val tot = ds.agg(sum("n_bi").as("nn"), sum("q_sum").as("qq"))
    // Overflow-safe threshold: the naive cross-multiplication
    // q_sum·nn·10 < qq·n_bi·11 exceeds int64 once the corpus carries
    // ~10^9 bigrams. Instead compare per-mille MICRO-AVERAGES on
    // NEGATED (positive) values — Spark div truncates toward zero and
    // DuckDB // floors, agreeing only above zero. doc_micro is safe to
    // ~20M-token documents; corp_micro splits the division so the
    // remainder term bounds at nn·10^6, safe to ~10^12 corpus bigrams.
    ds.crossJoin(broadcast(tot))
      .withColumn("doc_micro", expr("(-q_sum) * 1000000 div n_bi"))
      .withColumn("corp_micro",
        expr("((-qq) div nn) * 1000000 + ((-qq) % nn) * 1000000 div nn"))
      .withColumn("flagged", col("doc_micro") * 10 > col("corp_micro") * 11)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bi").as("n_bigrams"),
        sum("q_sum").as("q_logprob_sum"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        coalesce(sum(when(col("flagged"),
          PortableHash.h60p(col("doc_id").cast("string")))), lit(0L))
          .as("flagged_checksum"))
      .orderBy("lang")
  }

  /** The text_nb_classify body over ANY (doc_id, lang, text) frame —
    * exposed so NbClassifierSpec can drive it over a crafted corpus
    * whose class vocabularies actually discriminate. */
  private[graft] def nbConfusion(s: SparkSession, docs: DataFrame): DataFrame = {
    // Checkpoint, not style: the tokenized frame feeds BOTH the
    // class×vocab trainer (cwl) and the per-doc scorer (dt) — without
    // the cut Spark re-explodes the corpus once per consumer (the
    // prefixJaccardPairsOf pattern; measured 3.5 s → ~1.9 s at sf0.1).
    val tk = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("w"))
      .localCheckpoint(eager = false)
    val cwl = tk.groupBy(col("lang").as("lang_model"), col("w"))
      .agg(count(lit(1)).as("c_wl"))
    // Class token totals and the vocabulary both fold from the tiny
    // (class × vocab) count frame — one corpus explode feeds the whole
    // trainer (dt below is the second and last).
    val nl = cwl.groupBy("lang_model").agg(sum("c_wl").as("n_l"))
    val vocab = cwl.select("w").distinct()
    val v = vocab.agg(count(lit(1)).as("vsz"))
    val dl = docs.groupBy(col("lang").as("lang_model")).agg(count(lit(1)).as("d_l"))
    val dtot = docs.agg(count(lit(1)).as("d_all"))
    val prior = dl.crossJoin(broadcast(dtot))
      .withColumn("qp", floor(log(col("d_l") / col("d_all").cast("double")) * Q))
      .select("lang_model", "qp")
    val grid = vocab.crossJoin(dl.select("lang_model"))
      .join(cwl, Seq("lang_model", "w"), "left")
      .na.fill(0L, Seq("c_wl"))
      .join(nl, "lang_model")
      .crossJoin(broadcast(v))
      .withColumn("qw",
        floor(log((col("c_wl") + lit(1.0)) / (col("n_l") + col("vsz"))) * Q))
      .select("lang_model", "w", "qw")
    val dt = tk.groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("k"))
    val scores = dt.join(broadcast(grid), "w")
      .groupBy(col("doc_id"), col("lang"), col("lang_model"))
      .agg(sum(col("k") * col("qw")).as("s0"))
      .join(broadcast(prior), "lang_model")
      .withColumn("score", col("s0") + col("qp"))
    val pred = scores.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang_model"))))
      .filter(col("rk") === 1)
    pred.groupBy(col("lang").as("lang_true"), col("lang_model").as("lang_pred"))
      .agg(count(lit(1)).as("n"),
        sum(PortableHash.h60p(col("doc_id").cast("string"))).as("cell_checksum"))
      .orderBy("lang_true", "lang_pred")
  }

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    // The same integer rank/out-of-place arithmetic replayed from
    // scratch: char trigrams, (count DESC, gram ASC) ranks, penalty 30,
    // argmin with the lexicographic tie-break.
    "text_lang_profile" ->
      s"""WITH d AS (SELECT doc_id, lang, text FROM documents WHERE length(text) >= 3),
            g AS (SELECT doc_id, lang, substr(text, CAST(i.i AS INT), 3) AS g
                  FROM d, LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i) i),
            lp AS (SELECT lang AS cand, g, rl FROM
                     (SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
                        ORDER BY COUNT(*) DESC, g) AS rl
                      FROM g GROUP BY lang, g)
                   WHERE rl <= 30),
            dp AS (SELECT doc_id, g, rd FROM
                     (SELECT doc_id, g, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY COUNT(*) DESC, g) AS rd
                      FROM g GROUP BY doc_id, g)
                   WHERE rd <= 30),
            dn AS (SELECT doc_id, COUNT(*) AS n_g FROM dp GROUP BY 1),
            langs AS (SELECT DISTINCT cand FROM lp),
            mt AS (SELECT dp.doc_id, lp.cand, SUM(ABS(dp.rd - lp.rl)) AS m_dist,
                          COUNT(*) AS m_cnt
                   FROM dp JOIN lp ON dp.g = lp.g GROUP BY 1, 2),
            ap AS (SELECT dn.doc_id, l.cand,
                          COALESCE(m.m_dist, 0) + (dn.n_g - COALESCE(m.m_cnt, 0)) * 30 AS dist
                   FROM dn CROSS JOIN langs l
                   LEFT JOIN mt m ON m.doc_id = dn.doc_id AND m.cand = l.cand),
            best AS (SELECT doc_id, cand AS lang_pred, dist FROM
                       (SELECT doc_id, cand, dist,
                               ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY dist, cand) AS rk
                        FROM ap)
                     WHERE rk = 1)
         SELECT d.lang, b.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(b.dist) AS BIGINT) AS dist_sum,
                CAST(SUM(${PortableHash.h60pSql("CAST(d.doc_id AS VARCHAR)")}) AS BIGINT) AS member_checksum
         FROM best b JOIN d ON b.doc_id = d.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_lm_perplexity" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
                     WHERE len(string_split(text, ' ')) >= 2),
            b AS (SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
                  FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM t)),
            bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
            uc AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
            v AS (SELECT COUNT(DISTINCT w) AS vsz FROM
                    (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
            lm AS (SELECT bc.w1, bc.w2,
                          CAST(FLOOR(ln((c12 + 1.0) / (c1 + vsz)) * $Q) AS BIGINT) AS q
                   FROM bc JOIN uc USING (w1) CROSS JOIN v),
            db AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS k FROM b GROUP BY 1, 2, 3, 4),
            ds AS (SELECT doc_id, lang, CAST(SUM(k) AS BIGINT) AS n_bi,
                          CAST(SUM(k * q) AS BIGINT) AS q_sum
                   FROM db JOIN lm USING (w1, w2) GROUP BY 1, 2),
            tot AS (SELECT CAST(SUM(n_bi) AS BIGINT) AS nn,
                           CAST(SUM(q_sum) AS BIGINT) AS qq FROM ds),
            f AS (SELECT doc_id, lang, n_bi, q_sum,
                         (((-q_sum) * 1000000) // n_bi) * 10 >
                           (((-qq) // nn) * 1000000 + (((-qq) % nn) * 1000000) // nn) * 11 AS flagged
                  FROM ds CROSS JOIN tot)
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_bi) AS BIGINT) AS n_bigrams,
                 CAST(SUM(q_sum) AS BIGINT) AS q_logprob_sum,
                 CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
                 CAST(COALESCE(SUM(CASE WHEN flagged THEN ${PortableHash.h60pSql("CAST(doc_id AS VARCHAR)")} END), 0) AS BIGINT) AS flagged_checksum
          FROM f GROUP BY lang ORDER BY lang""",

    "text_lm_buckets" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
                     WHERE len(string_split(text, ' ')) >= 2),
            b AS (SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
                  FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM t)),
            bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
            uc AS (SELECT w1, SUM(c12) AS c1 FROM bc GROUP BY 1),
            v AS (SELECT COUNT(DISTINCT w) AS vsz FROM
                    (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
            lm AS (SELECT bc.w1, bc.w2,
                          CAST(FLOOR(ln((c12 + 1.0) / (c1 + vsz)) * $Q) AS BIGINT) AS q
                   FROM bc JOIN uc USING (w1) CROSS JOIN v),
            db AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS k FROM b GROUP BY 1, 2, 3, 4),
            ds AS (SELECT doc_id, lang, CAST(SUM(k) AS BIGINT) AS n_bi,
                          CAST(SUM(k * q) AS BIGINT) AS q_sum
                   FROM db JOIN lm USING (w1, w2) GROUP BY 1, 2),
            rk AS (SELECT doc_id, lang, n_bi,
                          NTILE(3) OVER (ORDER BY ((-q_sum) * 1000000) // n_bi, doc_id) AS bucket
                   FROM ds)
          SELECT lang, CAST(bucket AS INT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_bi) AS BIGINT) AS bigram_mass,
                 CAST(SUM(${PortableHash.h60pSql("CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS member_checksum
          FROM rk GROUP BY 1, 2 ORDER BY lang, bucket""",

    "text_nb_classify" ->
      s"""WITH tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
            cwl AS (SELECT lang AS lang_model, w, COUNT(*) AS c_wl FROM tk GROUP BY 1, 2),
            nl AS (SELECT lang AS lang_model, COUNT(*) AS n_l FROM tk GROUP BY 1),
            vocab AS (SELECT DISTINCT w FROM tk),
            v AS (SELECT COUNT(*) AS vsz FROM vocab),
            dl AS (SELECT lang AS lang_model, COUNT(*) AS d_l FROM documents GROUP BY 1),
            dtot AS (SELECT COUNT(*) AS d_all FROM documents),
            prior AS (SELECT lang_model,
                             CAST(FLOOR(ln(d_l / CAST(d_all AS DOUBLE)) * $Q) AS BIGINT) AS qp
                      FROM dl CROSS JOIN dtot),
            grid AS (SELECT g.lang_model, g.w,
                            CAST(FLOOR(ln((COALESCE(cwl.c_wl, 0) + 1.0) / (nl.n_l + v.vsz)) * $Q) AS BIGINT) AS qw
                     FROM (SELECT lang_model, w FROM dl CROSS JOIN vocab) g
                     LEFT JOIN cwl ON cwl.lang_model = g.lang_model AND cwl.w = g.w
                     JOIN nl ON nl.lang_model = g.lang_model
                     CROSS JOIN v),
            dt AS (SELECT doc_id, lang, w, COUNT(*) AS k FROM tk GROUP BY 1, 2, 3),
            sc AS (SELECT dt.doc_id, dt.lang, grid.lang_model,
                          CAST(SUM(dt.k * grid.qw) AS BIGINT) + MIN(prior.qp) AS score
                   FROM dt JOIN grid ON grid.w = dt.w
                   JOIN prior ON prior.lang_model = grid.lang_model
                   GROUP BY 1, 2, 3),
            pred AS (SELECT doc_id, lang, lang_model,
                            ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang_model) AS rk
                     FROM sc)
          SELECT lang AS lang_true, lang_model AS lang_pred,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(${PortableHash.h60pSql("CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS cell_checksum
          FROM pred WHERE rk = 1
          GROUP BY 1, 2 ORDER BY lang_true, lang_pred""",

    // DSIR replayed: unigram + adjacent-bigram features hashed into
    // 1024 buckets, add-1 target ('en') and raw distributions with one
    // FLOOR(ln·10⁴) per bucket, integer per-doc log-weight sums, the
    // λ > 0 keep gate, the same per-lang report.
    "text_dsir_select" ->
      s"""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
            uni AS (SELECT doc_id, lang, unnest(t) AS f FROM tk),
            bi AS (SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS f
                   FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i FROM tk)),
            feat AS (SELECT doc_id, lang,
                            ${PortableHash.h60Sql("f")} % 1024 AS k
                     FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
            tcnt AS (SELECT k, COUNT(*) AS ct FROM feat WHERE lang = 'en' GROUP BY 1),
            acnt AS (SELECT k, COUNT(*) AS ca FROM feat GROUP BY 1),
            tot AS (SELECT (SELECT COUNT(*) FROM feat WHERE lang = 'en') AS t_tot,
                           (SELECT COUNT(*) FROM feat) AS a_tot),
            model AS (SELECT a.k,
                             CAST(FLOOR(ln((COALESCE(t.ct, 0) + 1.0) / (tot.t_tot + 1024.0)) * $Q) AS BIGINT)
                               - CAST(FLOOR(ln((a.ca + 1.0) / (tot.a_tot + 1024.0)) * $Q) AS BIGINT) AS lpq
                      FROM acnt a LEFT JOIN tcnt t ON a.k = t.k CROSS JOIN tot),
            sc AS (SELECT f.doc_id, MAX(f.lang) AS lang,
                          CAST(SUM(m.lpq) AS BIGINT) AS lam
                   FROM feat f JOIN model m ON f.k = m.k GROUP BY 1)
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN lam > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(lam) AS BIGINT) AS weight_sum,
                 CAST(MIN(lam) AS BIGINT) AS min_w,
                 CAST(MAX(lam) AS BIGINT) AS max_w,
                 CAST(SUM(CASE WHEN lam > 0
                           THEN ${PortableHash.h60pSql("CAST(doc_id AS VARCHAR)")}
                           ELSE 0 END) AS BIGINT) AS kept_checksum
          FROM sc GROUP BY 1 ORDER BY lang""")
}
