package graft.operators

import graft.{QueryPack, Tables}
import graft.Portable.{round4, round6}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (north star):
  * language-ID heuristic, quality scoring, token counting (whitespace +
  * regex), document fingerprinting (rolling hash).
  *
  * Everything is a codegen'd builtin expression over the `text` column —
  * no UDFs, so whole-stage codegen spans the full projection and the scan
  * prunes to the columns used. At 100 TB these are embarrassingly
  * parallel map-only passes (zero shuffles except the final stats
  * aggregations).
  */
object TextAnalysis extends QueryPack {

  // Tiny per-language stopword inventories for the n-gram/stopword
  // language-ID heuristic. Deliberately small + deterministic.
  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "las", "y", "un", "una"))

  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")

  /** Doc-level rule flags behind text_quality_rules (thresholds in the
    * query's comment): input any (doc_id, text, ...) frame; adds the
    * four `r_*` booleans and their conjunction `keep`. All integer
    * arithmetic (ratio thresholds cross-multiplied) — exposed at this
    * scope so the crafted-corpus spec can force each rule to bite (the
    * synthetic fixture only exercises word-count and stopwords). */
  private[graft] def qualityRuleFlags(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_ch", length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("n_alpha",
        expr("size(filter(toks, t -> t rlike '[a-z]'))").cast("long"))
      .withColumn("n_stop",
        stop("en").map(w => array_contains(col("toks"), w).cast("long")).reduce(_ + _))
      .withColumn("r_wc", col("n_words").between(30L, 100000L))
      .withColumn("r_mwl",
        col("n_ch") >= col("n_words") * 3 && col("n_ch") <= col("n_words") * 10)
      .withColumn("r_alpha", col("n_alpha") * 5 >= col("n_words") * 4)
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("keep",
        col("r_wc") && col("r_mwl") && col("r_alpha") && col("r_stop"))

  /** The text_quality score over (n_toks, n_dist, sw) DOUBLE columns —
    * ONE definition shared by text_quality, the cleaning funnel and
    * dedup_canonical_best so the three can't drift. */
  private[operators] def qualityExpr(nToks: org.apache.spark.sql.Column,
      nDist: org.apache.spark.sql.Column,
      sw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round4(
      least(nToks / 100.0, lit(1.0)) * 0.4 +
      (nDist / nToks) * 0.3 +
      least(sw / nToks * 5.0, lit(1.0)) * 0.3)

  /** English stopword IN-list fragment for oracle SQL reuse. */
  private[operators] def enStopSql: String = inList(stop("en"))

  /** English stopword presence-count fragment over a `toks` list column
    * — the quality-rule n_stop, shared by the text_quality_rules oracle
    * and the composed pipeline_crawl_corpus oracle. */
  private[operators] def enStopCaseSumSql: String = stop("en")
    .map(w => s"(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** DuckDB twin of [[qualityExpr]] over columns n_toks/n_dist/sw. */
  private[operators] val qualitySql: String =
    "FLOOR((LEAST(n_toks / 100.0, 1.0) * 0.4 + (n_dist / n_toks) * 0.3 + " +
      "LEAST(sw / n_toks * 5.0, 1.0) * 0.3) * 10000 + 0.5) / 10000"

  /** The composed cleaning funnel over ANY (doc_id, source, text) frame —
    * extracted from the `pipeline_clean_corpus` closure so the spec can
    * drive it over a crafted corpus with KNOWN exact duplicates and
    * boilerplate (the parquet fixtures contain only near-dups, which the
    * exact-dedup stage correctly passes through). */
  private[operators] def cleanCorpusFunnel(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val en = inList(stop("en")); val de = inList(stop("de"))
    val es = inList(stop("es")); val fr = inList(stop("fr"))
    val flagged = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
      .withColumn("is_canon", col("rk") === 1)
      .withColumn("tg", graft.Graft.zipNgrams(col("toks"), 3))
      .withColumn("pass_rep", col("is_canon") && col("n_toks") >= 3 &&
        floor((size(col("tg")).cast("long") - size(array_distinct(col("tg"))).cast("long"))
          * 10000 / size(col("tg"))) < 3000)
      .withColumn("n_dist", size(array_distinct(col("toks"))).cast("double"))
      .withColumn("sw",
        expr(s"size(filter(toks, t -> t IN ($en)))").cast("double"))
      .withColumn("quality",
        qualityExpr(col("n_toks").cast("double"), col("n_dist"), col("sw")))
      .withColumn("pass_q", col("pass_rep") && col("quality") >= 0.3)
      .withColumn("s_de", expr(s"size(filter(toks, t -> t IN ($de)))"))
      .withColumn("s_en", expr(s"size(filter(toks, t -> t IN ($en)))"))
      .withColumn("s_es", expr(s"size(filter(toks, t -> t IN ($es)))"))
      .withColumn("s_fr", expr(s"size(filter(toks, t -> t IN ($fr)))"))
      .withColumn("best", greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr")))
      .withColumn("is_clean", col("pass_q") && col("best") > 0 &&
        col("s_de") < col("best") && col("s_en") === col("best"))
    flagged.groupBy("source").agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("is_canon"), 1L).otherwise(0L)).as("n_canon"),
      sum(when(col("pass_rep"), 1L).otherwise(0L)).as("n_dedup_rep"),
      sum(when(col("pass_q"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("is_clean"), 1L).otherwise(0L)).as("n_clean"),
      sum(when(col("is_clean"), col("n_toks").cast("long")).otherwise(0L)).as("clean_tokens"))
      .orderBy("source")
  }

  /** Block-level boilerplate scoring behind text_boilerplate (the
    * jusText/trafilatura recipe): segment `in`'s `html` column into
    * <p>/<div> blocks, score each on length, link density (chars inside
    * <a> vs visible chars) and stopword density. One output row per
    * block: (input columns..., j, anchor_chars, total_chars, words,
    * stops, kept) where kept = total_chars ≥ 40 AND anchor_chars ≤ 30%
    * of total AND stopwords ≥ 20% of words (boundaries inclusive, all
    * thresholds cross-multiplied integer math). Pure codegen'd
    * expressions — regexp_extract_all + posexplode for the split, a
    * higher-order aggregate for anchor chars, filter() for stopwords —
    * so the pass is map-only. The stopword LIST is a parameter exactly
    * as in jusText (its per-language stoplists are the algorithm's one
    * tunable); the default is text_boilerplate's English function
    * words, and pipeline_crawl_corpus passes the corpus's own
    * function-word list. Exposed at this scope so BoilerplateSpec
    * can force each of the three rules to bite in isolation over
    * crafted pages (the staged fixture exercises them jointly). */
  private[graft] val BoilerplateStopsEn: Seq[String] =
    Seq("the", "a", "of", "to", "in", "and")

  /** The staged corpus's ten most frequent tokens — its function words
    * for jusText purposes (the synthetic corpus has no natural-language
    * closed class; frequency rank is how jusText-style stoplists are
    * derived for such domains). Used by pipeline_crawl_corpus and its
    * oracle, and by the staged crawl pages' nav block. */
  private[graft] val BoilerplateStopsCorpus: Seq[String] =
    Seq("join", "hash", "row", "batch", "scan",
      "customer", "column", "filter", "small", "slow")

  private[graft] def boilerplateBlocks(
      in: DataFrame, stops: Seq[String] = BoilerplateStopsEn): DataFrame =
    in.select(in.columns.map(col).toSeq :+
        posexplode(expr(
          "regexp_extract_all(html, '(?s)<(?:p|div)>(.*?)</(?:p|div)>', 1)"))
          .as(Seq("j", "inner")): _*)
      .withColumn("anchor_chars", expr(
        """aggregate(regexp_extract_all(inner, '(?is)<a[^>]*>(.*?)</a>', 1),
                     CAST(0 AS BIGINT), (a, x) -> a + length(x))"""))
      .withColumn("vis", trim(regexp_replace(
        regexp_replace(col("inner"), "<[^>]+>", " "), "\\s+", " ")))
      .withColumn("total_chars", length(col("vis")).cast("long"))
      .withColumn("toks", split(col("vis"), " "))
      .withColumn("words", size(col("toks")).cast("long"))
      .withColumn("stops", expr(
        s"CAST(size(filter(toks, t -> t IN (${inList(stops)}))) AS BIGINT)"))
      .withColumn("kept",
        col("total_chars") >= 40 &&
          col("anchor_chars") * 100 <= col("total_chars") * 30 &&
          col("stops") * 100 >= col("words") * 20)

  /** HTML -> visible text over `in`'s `src` column, result in `out`:
    * script/style elements removed WITH contents first (their bodies may
    * contain quoted tags and raw < > & that are NOT markup), then
    * comments, then remaining tags become spaces, THEN entities decode
    * (&lt; &gt; &quot; &#39; &nbsp; before &amp; — the reverse order
    * double-decodes "&amp;lt;"), finally whitespace collapses. Pure
    * regexp_replace chain: map-only and codegen'd. */
  def htmlToText(in: DataFrame, src: String, out: String): DataFrame = {
    val noScript = regexp_replace(col(src), "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    in.withColumn(out, trim(regexp_replace(ent, "\\s+", " ")))
      .drop(src)
  }

  val queries: Map[String, Q] = Map(
    // Boilerplate removal at the BLOCK level — the jusText/trafilatura
    // recipe every HTML-to-corpus pipeline runs between raw markup and
    // quality filtering: segment the page into <p>/<div> blocks, score
    // each on length, LINK DENSITY (chars inside <a> vs visible chars)
    // and stopword density, keep only content-like blocks. The staged
    // pages mix content paragraphs (with and without an inline link —
    // one variant sits exactly ON the 20% stopword boundary), link-farm
    // nav <div>s (high link density AND short AND stopword-free: wrong
    // on any one rule still drops them, so the gate pins all three) and
    // a short footer line. Everything is codegen'd expressions — block
    // split via regexp_extract_all + posexplode, anchor chars via a
    // higher-order aggregate, stopwords via filter() — map-only until
    // the final per-source aggregate; the oracle replays the block
    // feature model closed-form and never touches HTML.
    "text_boilerplate" -> ((s, d) => {
      val staged = Tables.documents(s, d).select(col("doc_id"), col("source"),
        expr("""concat_ws('', transform(sequence(0, CAST(3 + doc_id % 4 AS INT)),
                 j -> CASE CAST((doc_id + j) % 4 AS INT)
                   WHEN 0 THEN '<p>' || repeat('the quick data point ',
                                CAST(3 + (doc_id + j) % 5 AS INT)) || 'done now.</p>'
                   WHEN 1 THEN '<p>' || repeat('the quick data point ',
                                CAST(3 + (doc_id + j) % 5 AS INT))
                                || 'done now. <a href=''/ref''>source</a></p>'
                   WHEN 2 THEN '<div>' || concat_ws(' | ',
                                transform(sequence(1, CAST(3 + (doc_id + j) % 3 AS INT)),
                                  i -> '<a href=''/n''>tab</a>')) || '</div>'
                   ELSE '<p>copyright 2026 example corp</p>' END))""").as("html"))
      boilerplateBlocks(staged).groupBy("source").agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("total_chars")).otherwise(0L)).as("kept_chars"),
        sum(when(!col("kept"), col("total_chars")).otherwise(0L)).as("dropped_chars"),
        sum("anchor_chars").as("anchor_chars"),
        sum(when(col("kept"),
          graft.functions.PortableHash.h60p(concat_ws(":", col("doc_id"), col("j"))))
          .otherwise(0L)).as("kept_checksum"))
        .orderBy("source")
    }),

    // Unicode normalization BEFORE content hashing — the dedup-fidelity
    // step: the same logical text arrives from different sources in
    // composed (U+00E9 'é') and decomposed (e + U+0301 combining acute)
    // forms, byte-different but canonically equal, so raw-md5 exact
    // dedup silently keeps both. The staged corpus pairs docs 2k/2k+1
    // on the same logical string — even ids composed (NFC), odd ids
    // decomposed (NFD) with TWO combining marks (é and å) — plus an
    // unpaired singleton per id%5==0 pinning that NFC never
    // over-merges. Normalization is java.text.Normalizer NFC in a
    // typed map (Spark has no builtin normalizer — the documented
    // mapPartitions escape hatch); the oracle replays the staged forms
    // via chr() and DuckDB's independent nfc_normalize, so the two
    // Unicode implementations must agree on every hash. Raw-group vs
    // NFC-group counts make the missed-duplicate claim a checked
    // number, not prose.
    "text_nfc_dedup" -> ((s, d) => {
      import s.implicits._
      val comp = "caf\u00e9 \u00e5rbok x" // NFC: one code point per accent
      val decomp = "cafe\u0301 a\u030arbok x" // NFD: base + combining mark
      val staged = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 5 === 0,
            concat(lit("solo "), col("doc_id").cast("string"), lit(" \u00e9")))
            .when(col("doc_id") % 2 === 0,
              concat(lit(comp + " "), (col("doc_id") / 2).cast("long").cast("string")))
            .otherwise(
              concat(lit(decomp + " "), (col("doc_id") / 2).cast("long").cast("string")))
            .as("text"))
      val norm = staged.as[(Long, String, String)]
        .mapPartitions(_.map { case (id, src, t) =>
          (id, src, t,
            java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))
        })
        .toDF("doc_id", "source", "text", "nfc")
      norm.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_raw_groups"),
        countDistinct(md5(col("nfc"))).as("n_nfc_groups"),
        sum(length(col("text"))).as("raw_chars"),
        sum(length(col("nfc"))).as("nfc_chars"),
        sum(graft.functions.PortableHash.h60p(
          concat_ws(":", col("doc_id"), md5(col("nfc"))))).as("nfc_checksum"))
    }),

    // The composed end-to-end corpus-cleaning pass — what a user actually
    // runs before training: exact dedup (canonical doc per content hash)
    // → boilerplate filter (duplicate-trigram rate < 30%) → quality floor
    // (the text_quality score ≥ 0.3) → English-only — emitting a per-
    // source FUNNEL (survivors after each stage) plus the clean token
    // count, so the drop cost of every stage is auditable in one result.
    // Each stage reuses the exact arithmetic of its standalone gate
    // (dedup_exact, text_repetition, text_quality, text_lang_id), so this
    // gate pins the COMPOSITION, not new math. One scan, one uniform
    // md5-key window shuffle, one aggregate: at 100 TB the cleaning pass
    // is two exchanges total, and every filter is a flag on the same
    // cached row — no per-stage rescans.
    "pipeline_clean_corpus" -> ((s, d) =>
      cleanCorpusFunnel(Tables.documents(s, d))),

    // Language ID: stopword-hit ratio per language, argmax (ties → first
    // alphabetically; all-zero → 'unknown').
    "text_lang_id" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val scored = Tables.documents(s, d)
        .withColumn("toks", toks)
        .withColumn("n_toks", size(col("toks")))
      val withScores = stop.keys.toSeq.sorted.foldLeft(scored) { (df, lang) =>
        df.withColumn(s"s_$lang",
          expr(s"size(filter(toks, t -> t IN (${inList(stop(lang))})))"))
      }
      withScores
        .withColumn("best", greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr")))
        .withColumn("lang_guess",
          when(col("best") === 0, "unknown")
            .when(col("s_de") === col("best"), "de")
            .when(col("s_en") === col("best"), "en")
            .when(col("s_es") === col("best"), "es")
            .otherwise("fr"))
        .select(col("doc_id"), col("lang_guess"), col("best").as("hits"))
        .orderBy("doc_id")
    }),

    // Quality score: length saturation + lexical diversity + stopword rate.
    "text_quality" -> ((s, d) => {
      val toks = split(col("text"), " ")
      Tables.documents(s, d)
        .withColumn("toks", toks)
        .withColumn("n_toks", size(col("toks")).cast("double"))
        .withColumn("n_dist", size(array_distinct(col("toks"))).cast("double"))
        .withColumn("sw",
          expr(s"size(filter(toks, t -> t IN (${inList(stop("en"))})))").cast("double"))
        .withColumn("quality", qualityExpr(col("n_toks"), col("n_dist"), col("sw")))
        .select(col("doc_id"), col("quality"))
        .orderBy("doc_id")
    }),

    // Hard RULE battery in the Gopher-filter style (Rae et al. 2021's
    // published heuristics), complementing text_quality's soft score:
    // each rule is a pass/fail boolean in INTEGER arithmetic (ratio
    // thresholds as cross-multiplications — no doubles anywhere), the
    // keep decision is their conjunction, and the per-language audit
    // carries one fail-count per rule plus a kept-set checksum, so a
    // threshold drifting by one document anywhere is a hash mismatch.
    // Rules (thresholds tuned to BITE on this fixture): word count in
    // [30, 100k]; mean word length in [3, 10] (3n ≤ chars ≤ 10n);
    // ≥80% words contain a letter (5·alpha ≥ 4·n); ≥2 distinct
    // stopwords present. Map-only scan + one small groupBy — the
    // pre-training corpus filter shape at any scale.
    "text_quality_rules" -> ((s, d) => {
      import graft.functions.PortableHash
      qualityRuleFlags(Tables.documents(s, d)).groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(!col("r_wc"), 1L).otherwise(0L)).as("fail_word_count"),
          sum(when(!col("r_mwl"), 1L).otherwise(0L)).as("fail_mean_word_len"),
          sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("fail_alpha_frac"),
          sum(when(!col("r_stop"), 1L).otherwise(0L)).as("fail_stopwords"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when(col("keep"),
            PortableHash.h60p(col("doc_id").cast("string")))), lit(0L)).as("kept_checksum"))
        .orderBy("lang")
    }),

    // Token counting three ways: whitespace, alpha-word regex, BPE-ish
    // fixed-width chunk regex.
    "text_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_alpha"),
          size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).as("n_bpe"))
        .orderBy("doc_id")),

    // Document chunking with overlap — the RAG/pretraining chunking pass:
    // fixed 64-token windows every 48 tokens (16-token overlap), emitted
    // as (doc_id, chunk_idx, tok_start, n_tokens, chunk_hash). Map-only:
    // the explode amplifies each doc by ceil(n/48) rows (bounded, no
    // shuffle), slice+array_join+md5 are codegen'd builtins, and the
    // md5 chunk_hash is exactly what a downstream chunk-level exact
    // dedup (dedup_exact's shape) or chunk→embedding join keys on. At
    // 100 TB this is an embarrassingly parallel pass whose output is
    // ~2% of input bytes (hashes, not text) unless the chunk text is
    // carried — a caller who needs the text adds the slice column and
    // pays the 1.33x overlap amplification in the sink, not a shuffle.
    "text_chunks" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("toks"), col("n"),
          posexplode(expr("sequence(0, n - 1, 48)")).as(Seq("chunk_idx", "tok_start")))
        .select(
          col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("tok_start").cast("long").as("tok_start"),
          least(lit(64), col("n") - col("tok_start")).cast("long").as("n_tokens"),
          md5(array_join(expr("slice(toks, tok_start + 1, 64)"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")),

    // C4-style cross-document line dedup — the boilerplate rule ("drop
    // any line occurring three or more times in the corpus") that
    // strips headers, cookie banners and license blurbs from crawl
    // text. The corpus has no newlines, so the line unit is the
    // non-overlapping 4-token segment (the same segmentation both
    // engines derive); a segment appearing in >= 3 DISTINCT docs is
    // boilerplate and removed. Unlike dedup_span_ngrams (which FLAGS
    // shared overlapping windows) this executes the removal and emits
    // the cleaned-doc accounting: surviving segments, surviving tokens
    // and the kept-index checksum that pins WHICH segments were cut.
    // Scale shape: segment building is map-only array expressions; the
    // frequency pass is one uniform-key groupBy (partial-aggregated)
    // over segment strings; the boilerplate set is tiny by construction
    // (only corpus-repeated segments survive the HAVING), so the join
    // back is broadcast-able and AQE picks that up at runtime.
    "text_line_dedup" -> ((s, d) => {
      val segs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("n"),
          posexplode(expr(
            "transform(sequence(0, int((n - 1) / 4)), g -> array_join(slice(toks, g * 4 + 1, 4), ' '))"))
            .as(Seq("seg_idx", "seg")))
        .withColumn("seg_tokens", least(lit(4), col("n") - col("seg_idx") * 4))
      val boiler = segs.groupBy("seg")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 3)
        .select(col("seg"), lit(1).as("boiler"))
      segs.join(boiler, Seq("seg"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_segments"),
          sum(when(col("boiler").isNull, 1).otherwise(0)).as("n_kept"),
          sum(when(col("boiler").isNull, col("seg_tokens")).otherwise(0)).as("kept_tokens"),
          sum(when(col("boiler").isNull, col("seg_idx").cast("long")).otherwise(0L)).as("kept_idx_sum"))
        .orderBy("doc_id")
    }),

    // HTML -> text extraction — the step between a crawl fetch and every
    // text op above (the WET/trafilatura role): strip <script>/<style>
    // WITH their contents, strip comments, replace remaining tags with
    // whitespace, decode entities (AFTER tag removal — the order is the
    // classic bug), collapse whitespace. Staged HTML wraps each doc's
    // leading tokens in a real page: the <script> body contains a
    // quoted "</div>" (a generic tag-stripper that runs first leaks
    // "var a = ...") plus raw < > && that would corrupt a
    // decode-entities-first pipeline; the comment hides doc-keyed junk.
    // The oracle never parses HTML: it rebuilds the expected visible
    // text from the token model, so any extraction miss changes the
    // md5. All regexp_replace built-ins — map-only, codegen'd.
    "text_html_extract" -> ((s, d) => {
      val staged = Tables.documents(s, d).select(col("doc_id"), expr(
        """concat(
           '<html><head><title>t', CAST(doc_id AS STRING),
           '</title><script type="text/javascript">var a = "</div>"; if (a < 2 && 1 > 0) {}</script>',
           '<style>.c { color: red; } #x > span { top: 0; }</style></head><body><h1>',
           array_join(slice(split(text, ' '), 1, 3), ' '),
           '</h1><p class="a">',
           array_join(slice(split(text, ' '), 4, 5), ' '),
           ' &amp; <b>', array_join(slice(split(text, ' '), 9, 12), ' '),
           '</b></p><!-- hidden ', CAST(doc_id AS STRING), ' --></body></html>')""")
        .as("html"))
      htmlToText(staged, "html", "x")
        .select(col("doc_id"),
          size(split(col("x"), " ")).as("n_tokens"),
          length(col("x")).cast("long").as("n_chars"),
          md5(col("x")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // Document fingerprint: rolling polynomial hash over md5-derived token
    // hashes — a stable 30-bit content signature (PortableHash).
    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("""aggregate(
                    transform(split(text, ' '),
                      t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 1000000007),
                    CAST(0 AS BIGINT),
                    (acc, h) -> (acc * 1000003 + h) % 1000000007)""").as("fingerprint"))
        .orderBy("doc_id")),

    // Per-document repetition score — the LM-quality filter that kills
    // boilerplate/spam (Gopher-style "fraction of duplicate n-grams"):
    // 1 - distinct_trigrams/total_trigrams, in basis points (integer
    // arithmetic → oracle-exact; a float ratio would be fine too, the
    // division is deterministic, but bps keeps the sort key integral).
    // Map-only: both counts come from one array expression per row.
    "text_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("tk", split(col("text"), " "))
        .filter(size(col("tk")) >= 3)
        // Codegen'd trigram windows (Graft.zipNgrams). No concat needed:
        // struct equality ≡ trigram string equality (tokens can't contain
        // the split char), so array_distinct over the structs counts
        // exactly the distinct trigrams.
        .withColumn("tg", graft.Graft.zipNgrams(col("tk"), 3))
        .select(col("doc_id"),
          size(col("tg")).as("n_trigrams"),
          size(array_distinct(col("tg"))).as("n_distinct"),
          // long arithmetic: int (dups × 10000) overflows past ~214k
          // duplicate trigrams — exactly the mega-boilerplate docs this
          // filter exists to catch.
          floor((size(col("tg")).cast("long") - size(array_distinct(col("tg"))).cast("long"))
            * 10000 / size(col("tg"))).cast("long").as("dup_bps"))
        .orderBy("doc_id")),

    // Corpus-wide top-k bigrams — the n-gram frequency pass LM data work
    // leans on (boilerplate detection, contamination checks). explode +
    // count + TakeOrderedAndProject: partial aggregation combines
    // map-side, the top-k never global-sorts, and the bigram key space is
    // uniform — no hot reducer at any scale.
    "text_ngram_stats" -> ((s, d) =>
      graft.Graft.topNgrams(Tables.documents(s, d), n = 2, k = 20)
        .withColumnRenamed("ngram", "bigram")),

    // Vocabulary build + token-id encoding — the tokenization step of an
    // LM data pipeline at its simplest (frequency vocab, greedy whole-word
    // ids, OOV = -1). Scale shape: the vocab is a partial-aggregated word
    // count + TakeOrderedAndProject top-k (no global sort of the distinct
    // words; the only full ordering is a row_number over the k surviving
    // rows), and the encode is a BROADCAST join of that k-row vocab
    // against the exploded corpus. Ids are emitted as a CSV string (a
    // scalar column stays comparable across engines; the per-doc order is
    // pinned by token position).
    // Declared binding of Graft.vocabEncode; ids emitted as a CSV scalar
    // (an array column would break the driver's value compare).
    "text_vocab_encode" -> ((s, d) =>
      graft.Graft.vocabEncode(Tables.documents(s, d), vocabSize = 20)
        .withColumn("ids_csv", expr("array_join(transform(ids, x -> CAST(x AS STRING)), ',')"))
        .drop("ids")
        .orderBy("doc_id")),

    // BPE merge-pair counting — the inner loop of byte-pair-encoding
    // tokenizer training: count adjacent character pairs across the
    // corpus, weighted by word frequency; the top pair is the next merge.
    // The scale-critical trick is counting over the VOCABULARY, not the
    // corpus: one uniform-key word count collapses the corpus to distinct
    // words (vocab-sized — ~10⁶ rows even at 100 TB), and the quadratic-
    // looking pair explosion runs over that small frame only. Top-20 by
    // (count, pair) — a deterministic rank key, TakeOrderedAndProject.
    "text_bpe_pairs" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      words
        .select(col("freq"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    }),

    // The FULL BPE tokenizer-training loop (text_bpe_pairs is one
    // iteration of its inner counting step): k=10 rounds of
    // count-pairs → pick top merge → re-tokenize the vocabulary. Scale
    // shape is the PageRank driver-loop pattern: every round runs over
    // the VOCABULARY frame (corpus collapsed once by an uniform-key word
    // count — vocab-sized even at 100 TB), the per-round shuffle is a
    // partial-aggregated pair count, only the 1-row argmax ever reaches
    // the driver, and the re-tokenized vocab is localCheckpoint()ed so
    // lineage stays flat across rounds. The oracle unrolls the same 10
    // rounds as CTE stages whose list_reduce fold is proven ≡ the greedy
    // left-to-right merge (BpeLearnSpec property).
    "text_bpe_learn" -> ((s, d) =>
      bpeLearnOf(s, Tables.documents(s, d), k = 10)),

    // BYTE-level BPE with a GPT-2-style regex pretokenizer — the
    // tokenizer recipe LLM pipelines actually train (bytes, not chars,
    // as the base alphabet; spaces attach to the following word;
    // contractions split). k=8 merge rounds over the pretoken
    // vocabulary; symbols are hex-coded UTF-8 bytes so merges crossing
    // multi-byte character boundaries are first-class (pinned in
    // BpeLearnSpec). Same 100 TB shape as text_bpe_learn.
    "text_bpe_bytes" -> ((s, d) =>
      bpeBytesLearnOf(s, Tables.documents(s, d), k = 8)),

    // The ENCODE side of BPE: apply k=3 learned merges and gate the
    // resulting tokenization via a tokens-per-word histogram whose h60p
    // word-hash sums pin WHICH words landed in each bucket. k=3 (not 10)
    // keeps the oracle's unrolled re-tokenization CTE proportionate —
    // the application semantics are identical at any k and the k=10
    // loop itself is already gated by text_bpe_learn.
    "text_bpe_encode" -> ((s, d) =>
      bpeEncodeOf(s, Tables.documents(s, d), k = 3)),

    // WordPiece tokenizer training — the BERT-family counterpart of
    // text_bpe_learn: the same vocab-sized merge loop, but the argmax is
    // the LIKELIHOOD score count(ab)/(count(a)·count(b)) rather than the
    // raw pair count — the merge that most increases corpus likelihood
    // under a unigram piece model wins, so a rare-but-exclusive pair
    // beats a frequent-but-independent one (WordPieceSpec pins a corpus
    // where the two objectives disagree). Continuation pieces carry the
    // BERT '##' marker; a merge's symbol drops the marker from its right
    // half ('##o'+'##r' → '##or'). Cross-engine determinism: the score
    // ranks by floor(cnt·10¹²/(ca·cb)) in EXACT integer arithmetic
    // (Spark decimal `div`, DuckDB HUGEINT `//`) — no float ever enters
    // the ordering, and ties break on (a, b). Scale shape =
    // text_bpe_learn: vocab-sized frames, per-round partial-aggregated
    // shuffles, one 1-row argmax driver hop per round, localCheckpoint'd
    // lineage.
    "text_wordpiece_learn" -> ((s, d) =>
      wordpieceLearnOf(s, Tables.documents(s, d), k = 8)),

    // The ENCODE side of WordPiece — greedy LONGEST-MATCH-FIRST against
    // the learned piece inventory (the algorithm BERT tokenizers ship).
    // This is NOT merge replay: greedy grabs the longest piece at each
    // position, and a word with no matching piece at some position is
    // [UNK] (bucket -1), exactly like production WordPiece
    // (WordPieceSpec pins a vocabulary where greedy and merge replay
    // disagree, and an UNK case). k=4 keeps the oracle's learn-chain
    // CTE proportionate — apply semantics are k-independent and the
    // k=8 loop is gated by text_wordpiece_learn. The piece inventory is
    // alphabet-sized (base chars ×2 + k merges), so it ships as a
    // closure constant and the per-word scan is map-only; the oracle
    // re-derives the same pieces via the learn CTEs, precomputes the
    // longest hop per (word, position) non-recursively, and walks the
    // hops with a recursive CTE — UNK words are exactly those whose
    // walk never reaches the word's end.
    "text_wordpiece_encode" -> ((s, d) =>
      wordpieceEncodeOf(s, Tables.documents(s, d), k = 4)),

    // Unigram-LM (SentencePiece-style) Viterbi segmentation — the third
    // subword family beside BPE and WordPiece, and the one that picks a
    // GLOBALLY optimal tiling instead of greedy/merge-order choices.
    // Inventory: every substring ≤4 chars of the vocabulary kept at a
    // corpus count ≥5 (single chars always kept, so every word tiles —
    // the unigram models ship their base alphabet for the same reason).
    // Scores are an integer log2 surrogate of the unigram log-prob:
    // s(p) = bitlen(count(p)) − bitlen(Σcount) — bin() string length on
    // both engines, so no float/ln enters the DP. Viterbi maximizes
    // (Σ s(p), −n_tokens) lexicographically; ties beyond that can pick
    // different tilings but never a different (score, count), which is
    // all the histogram reads. The piece inventory is
    // tokenizer-vocabulary-sized → a broadcast artifact; the per-word DP
    // is map-only. Oracle: the DP unrolled as 16 position CTEs (words
    // are capped at 16 chars on BOTH sides — stated, not hidden), each
    // taking the lexicographic list-max over the ≤4 pieces that can end
    // at that position. UnigramSpec pins the optimal-vs-greedy split and
    // the tie rule.
    "text_unigram_viterbi" -> ((s, d) =>
      unigramViterbiOf(s, Tables.documents(s, d))),

    // Stopword filtering — the token-scrub pass an indexing/featurization
    // pipeline runs before vocabulary work. Map-only array ops (filter +
    // slice + join), no UDFs; reports before/after counts plus the head
    // of the kept stream so content (not just counts) is hash-checked.
    "text_stopword_filter" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("kept", expr(s"filter(toks, t -> NOT t IN (${inList(stop("en"))}))"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(col("kept")).as("n_kept"),
          expr("array_join(slice(kept, 1, 5), ' ')").as("head_kept"))
        .orderBy("doc_id")),

    // TF-IDF top terms per document — the canonical salience score a text
    // pipeline computes for keyword extraction / near-dup feature vectors.
    // Scale shape: two partial-aggregated shuffles (term counts on
    // (doc_id, w), document frequency on w — both uniform key spaces), the
    // corpus size N arrives as a broadcast 1-row frame (never a driver
    // .count() round trip), and doc lengths come map-only from the same
    // scan. Scores are rounded to 1e-6 BEFORE ranking so the ranking key
    // is cross-engine-identical (a raw double sort key could flip ranks on
    // a last-ulp difference in ln()).
    // Declared binding of Graft.tfidfTopTerms (the parameterized form).
    "text_tfidf" -> ((s, d) =>
      graft.Graft.tfidfTopTerms(Tables.documents(s, d), k = 3)
        .orderBy("doc_id", "rk")),

    // BM25 top-20 retrieval for a fixed 3-term query (mixed document
    // frequencies: common / mid / rare) — the search-side twin of
    // text_tfidf. See Graft.bm25TopDocs for the scale shape (map-side
    // term filter, broadcast df + corpus stats, order-pinned double sum,
    // top-k cut instead of a global sort).
    "text_bm25" -> ((s, d) =>
      graft.Graft.bm25TopDocs(Tables.documents(s, d),
        Seq("spark", "vector", "dup"), k = 20)),

    // The PERSISTED-index twin of text_bm25 — identical oracle, probe
    // cost instead of corpus cost: posting lists (tf + denormalized doc
    // length) live in a bucketed-by-term table built once per corpus
    // snapshot (ensureBucketed reuse + fingerprint staleness), so a
    // query pays a bucket-pruned pushed-filter scan of its terms'
    // postings, two broadcast joins, and one candidate-bounded exchange
    // — never a corpus re-tokenization. The production retrieval shape
    // dedup (_indexed) and ANN (sim_knn_bucketed) already have;
    // Bm25IndexSpec pins the probe plan's exchanges to the candidate
    // frame.
    "text_bm25_indexed" -> ((s, d) =>
      graft.Graft.bm25IndexedTopDocs(s, d, Seq("spark", "vector", "dup"), k = 20)),

    // Corpus-level aggregate stats (the reduce side of text analysis).
    "text_corpus_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks").cast("long")).as("total_tokens"),
          round4(avg("n_toks")).as("avg_tokens"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")),

    // PII redaction — the scrub pass a training pipeline runs before any
    // text leaves the lake: emails / NANP-style phones / IPv4 literals
    // replaced by typed placeholders, with per-doc match counts and an
    // md5 over the scrubbed text so the gate checks the REDACTED CONTENT
    // itself, not just the counts. The fixture corpus carries no PII, so
    // each doc is first augmented with deterministic synthetic PII
    // derived from doc_id — identically on both engines — which makes
    // every regex branch provably fire on every row (two emails, one
    // exercising dots in the local part; one phone; one IP). Map-only
    // codegen'd regexp builtins over one projection: zero shuffles, the
    // scan prunes to (doc_id, text), and at 100 TB this is the
    // embarrassingly-parallel pass it should be. Patterns stay inside
    // the RE2/Java common subset (char classes + bounded repetition, no
    // backrefs/lookaround) so both engines match identically.
    "text_pii_scrub" -> ((s, d) => {
      val aug = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or "), col("doc_id").cast("string"),
        lit(".admin@mail-host.org call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.7"))
      val scrubbed =
        regexp_replace(
          regexp_replace(
            regexp_replace(col("aug"), PiiEmailRe, "<EMAIL>"),
            PiiPhoneRe, "<PHONE>"),
          PiiIpRe, "<IP>")
      Tables.documents(s, d)
        .withColumn("aug", aug)
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("aug"), lit(PiiEmailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("aug"), lit(PiiPhoneRe), lit(0))).as("n_phones"),
          size(regexp_extract_all(col("aug"), lit(PiiIpRe), lit(0))).as("n_ips"),
          md5(scrubbed).as("scrub_hash"))
        .orderBy("doc_id")
    })
  )

  // Shared by text_bm25 and text_bm25_indexed: the index changes the
  // execution shape, never the answer.
  private val Bm25OracleSql =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
            tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
                   WHERE w IN ('spark', 'vector', 'dup') GROUP BY 1, 2),
            dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                   FROM documents),
            dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
            st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                          SUM(len(string_split(text, ' '))) * 1.0 / COUNT(*) AS avgdl
                   FROM documents),
            c AS (SELECT tf.doc_id, tf.w,
                         ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
                           (tf.tf * 2.2) /
                           (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS contrib
                  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (w) CROSS JOIN st),
            sc AS (SELECT doc_id,
                          SUM(CASE WHEN w = 'spark' THEN contrib ELSE 0.0 END) AS s0,
                          SUM(CASE WHEN w = 'vector' THEN contrib ELSE 0.0 END) AS s1,
                          SUM(CASE WHEN w = 'dup' THEN contrib ELSE 0.0 END) AS s2
                   FROM c GROUP BY 1)
         SELECT doc_id, FLOOR((s0 + s1 + s2) * 1000000 + 0.5) / 1000000 AS score
         FROM sc ORDER BY score DESC, doc_id LIMIT 20"""

  // RE2-and-Java-compatible PII patterns (shared by the Spark query and
  // its DuckDB oracle below; DuckDB's regexp engine is RE2).
  private val PiiEmailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PiiPhoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
  private val PiiIpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** One greedy left-to-right application of merge (a, b) → a+b over a
    * symbol sequence — the standard BPE re-tokenization step: scan
    * resumes AFTER a merged pair, so overlapping occurrences ("aaa" under
    * (a,a)) merge like the reference algorithm, not like replace-all. */
  /** The text_wordpiece_learn body over ANY documents-shaped frame: k
    * rounds of score-ranked merge over the BERT-style decomposition.
    * Returns (step, left_sym, right_sym, cnt, ca, cb, skey) per round. */
  def wordpieceLearnOf(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    wpLoop(s, wpVocab0(s, docs), k)._1
      .toDF("step", "left_sym", "right_sym", "cnt", "ca", "cb", "skey")
      .orderBy("step")
  }

  /** The text_wordpiece_encode body: learn k merges, then greedy
    * longest-match-first encode of the vocabulary against the learned
    * piece inventory, reported as a tokens-per-word histogram (-1 =
    * [UNK]) with freq and word-hash pins. */
  def wordpieceEncodeOf(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val vocab = wpLoop(s, wpVocab0(s, docs), k)._2
    // The piece inventory is ALPHABET-sized (base chars ×2 + k merged
    // pieces) — the justified collect: a tokenizer vocabulary is a
    // broadcast artifact at apply time, never a distributed frame.
    val pieces = vocab.flatMap(_._3).distinct().collect().toSet
    vocab.map { case (w, f, _) => (w, f, wpGreedy(w, pieces)) }
      .toDF("word", "freq", "n_tokens")
      .groupBy("n_tokens")
      .agg(count(lit(1)).as("n_words"),
        sum("freq").as("freq_sum"),
        sum(graft.functions.PortableHash.h60p(col("word"))).as("word_hash_sum"))
      .orderBy("n_tokens")
  }

  /** BERT-style initial decomposition: first char plain, continuations
    * '##'-prefixed. Done in DataFrame SQL (substring) so the char
    * addressing matches the oracle's exactly. */
  private def wpVocab0(s: SparkSession, docs: DataFrame):
      org.apache.spark.sql.Dataset[(String, Long, Seq[String])] = {
    import s.implicits._
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), expr(
        "transform(sequence(1, length(word)), i -> " +
        "IF(i = 1, substring(word, 1, 1), concat('##', substring(word, i, 1))))").as("syms"))
      .as[(String, Long, Seq[String])]
  }

  /** The k-round WordPiece merge loop: bpeLoop's shape, with the argmax
    * key floor(cnt·10¹²/(ca·cb)) — count(a)/count(b) are the symbol
    * frequencies over the CURRENT vocab decomposition, freq-weighted,
    * recounted each round. Exact decimal arithmetic keeps the ranking
    * float-free and engine-identical. */
  private def wpLoop(s: SparkSession,
                     vocab0: org.apache.spark.sql.Dataset[(String, Long, Seq[String])],
                     k: Int):
      (Seq[(Int, String, String, Long, Long, Long, Long)],
       org.apache.spark.sql.Dataset[(String, Long, Seq[String])]) = {
    import s.implicits._
    var vocab = vocab0.localCheckpoint(eager = false)
    val merges = Seq.newBuilder[(Int, String, String, Long, Long, Long, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val df = vocab.toDF("word", "freq", "syms")
      val symCnt = df.select(col("freq"), explode(col("syms")).as("sym"))
        .groupBy("sym").agg(sum("freq").as("c"))
      val top = df.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .join(symCnt.select(col("sym").as("a"), col("c").as("ca")), "a")
        .join(symCnt.select(col("sym").as("b"), col("c").as("cb")), "b")
        .withColumn("skey", expr(
          "CAST((CAST(cnt AS DECIMAL(38,0)) * 1000000000000) div " +
          "(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) AS BIGINT)"))
        .orderBy(col("skey").desc, col("a"), col("b"))
        .limit(1).collect() // the 1-row argmax — the loop's only driver hop
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        val a = r.getAs[String]("a"); val b = r.getAs[String]("b")
        merges += ((step, a, b, r.getAs[Long]("cnt"), r.getAs[Long]("ca"),
          r.getAs[Long]("cb"), r.getAs[Long]("skey")))
        val m = a + b.stripPrefix("##")
        vocab = vocab.map { case (w, f, syms) => (w, f, applyWpMerge(syms, a, b, m)) }
          .localCheckpoint(eager = false)
        step += 1
      }
    }
    (merges.result(), vocab)
  }

  /** text_unigram_viterbi body: frequency-scored piece inventory, exact
    * integer Viterbi per vocab word, tokens-per-word histogram with
    * score and word-hash pins. Word length capped at [2, 16] on both
    * engines (the oracle unrolls one CTE per position). */
  def unigramViterbiOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")).between(2, 16))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].localCheckpoint(eager = false)
    val kept = words.toDF("word", "freq")
      .select(col("freq"), explode(expr(
        "flatten(transform(sequence(1, length(word)), i -> " +
        "transform(sequence(i, least(length(word), i + 3)), " +
        "j -> substring(word, i, j - i + 1))))")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .filter(length(col("piece")) === 1 || col("cnt") >= 5)
      .localCheckpoint(eager = false)
    // The inventory is tokenizer-vocabulary-sized (substrings ≤4 chars
    // above a count floor) — a broadcast artifact at apply time, same
    // justification as wordpieceEncodeOf's piece set.
    val blt = java.lang.Long.toBinaryString(
      kept.agg(sum("cnt")).as[Long].collect()(0)).length
    val scores: Map[String, Long] = kept
      .select(col("piece"), length(expr("bin(cnt)")).cast("long").as("bl"))
      .as[(String, Long)].collect()
      .map { case (p, bl) => p -> (bl - blt) }.toMap
    words.map { case (w, f) =>
      val (sc, nt) = unigramViterbi(w, scores)
      (w, f, sc, nt)
    }.toDF("word", "freq", "sc", "n_tokens")
      .groupBy("n_tokens")
      .agg(count(lit(1)).as("n_words"),
        sum("freq").as("freq_sum"),
        sum("sc").as("score_sum"),
        sum(graft.functions.PortableHash.h60p(col("word"))).as("word_hash_sum"))
      .orderBy("n_tokens")
  }

  /** Exact Viterbi: maximize (Σ piece score, −n_tokens) lexicographically
    * over all tilings of `word` by scored pieces (max piece length 4).
    * Lexicographic order is preserved under the additive step, so
    * per-position DP is optimal. Single chars are always in the
    * inventory, so every word tiles. */
  private[graft] def unigramViterbi(word: String,
                                    scores: Map[String, Long]): (Long, Int) = {
    val n = word.length
    val sc = Array.fill(n + 1)(Long.MinValue)
    val nt = Array.fill(n + 1)(Int.MaxValue)
    sc(0) = 0L
    nt(0) = 0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(4, i)) {
        val j = i - l
        if (sc(j) != Long.MinValue) scores.get(word.substring(j, i)).foreach { s =>
          val cs = sc(j) + s
          val cn = nt(j) + 1
          if (cs > sc(i) || (cs == sc(i) && cn < nt(i))) { sc(i) = cs; nt(i) = cn }
        }
        l += 1
      }
      i += 1
    }
    (sc(n), nt(n))
  }

  /** applyBpeMerge with an explicit merged symbol (WordPiece drops the
    * '##' marker from the right half, so a+b is NOT the symbol). */
  private[graft] def applyWpMerge(syms: Seq[String], a: String, b: String,
                                  m: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += m; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Greedy longest-match-first WordPiece encode: token count for
    * `word` against `pieces` (word-initial pieces plain, continuations
    * '##'-prefixed), or -1 when some position has no matching piece
    * ([UNK] — production WordPiece drops the whole word to UNK, not
    * just the failing position). */
  private[graft] def wpGreedy(word: String, pieces: Set[String]): Int = {
    var pos = 0
    var n = 0
    while (pos < word.length) {
      var l = word.length - pos
      var found = -1
      while (l >= 1 && found < 0) {
        // A word-initial match must be a NON-continuation piece: a word
        // literally starting with "##" may not borrow a '##'-marked
        // vocabulary entry at position 0 (the oracle's hop CTE applies
        // the same `NOT LIKE '##%'` guard — both engines UNK it).
        val cand =
          if (pos == 0) word.substring(0, l)
          else "##" + word.substring(pos, pos + l)
        if ((pos > 0 || !cand.startsWith("##")) && pieces.contains(cand)) found = l
        l -= 1
      }
      if (found < 0) return -1
      pos += found
      n += 1
    }
    n
  }

  private[graft] def applyBpeMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** The shared BPE training core: k rounds of pair-count → 1-row
    * argmax → greedy re-tokenize over the (word, freq, syms) vocabulary
    * frame, returning BOTH the learned merge table and the final
    * re-tokenized vocabulary (the word column rides along so the encode
    * gate can hash actual words per token-count bucket). */
  private def bpeVocabAfter(s: SparkSession, docs: DataFrame, k: Int):
      (Seq[(Int, String, String, Long)],
       org.apache.spark.sql.Dataset[(String, Long, Seq[String])]) = {
    import s.implicits._
    val vocab0 = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // Char decomposition via substring, NOT split(word, "") — Spark's
      // regex split appends a trailing empty symbol ("abc" → a,b,c,"")
      // that would poison every pair ending the word.
      .select(col("word"), col("freq"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"))
      .as[(String, Long, Seq[String])]
    bpeLoop(s, vocab0, k)
  }

  /** The k-round merge loop shared by the char-level and byte-level
    * trainers: works on ANY (word, freq, syms) vocabulary, whatever the
    * symbols are (chars or hex-coded UTF-8 bytes). */
  private def bpeLoop(s: SparkSession,
                      vocab0: org.apache.spark.sql.Dataset[(String, Long, Seq[String])],
                      k: Int):
      (Seq[(Int, String, String, Long)],
       org.apache.spark.sql.Dataset[(String, Long, Seq[String])]) = {
    import s.implicits._
    var vocab = vocab0.localCheckpoint(eager = false)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val top = vocab.toDF("word", "freq", "syms")
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // the 1-row argmax — the loop's only driver hop
      if (top.isEmpty) exhausted = true // degenerate corpus: no pairs left
      else {
        val a = top(0).getString(0); val b = top(0).getString(1)
        merges += ((step, a, b, top(0).getLong(2)))
        vocab = vocab.map { case (w, f, syms) => (w, f, applyBpeMerge(syms, a, b)) }
          .localCheckpoint(eager = false)
        step += 1
      }
    }
    (merges.result(), vocab)
  }

  /** The text_bpe_learn body over ANY documents-shaped frame: k rounds of
    * pair-count → 1-row argmax → greedy re-tokenize. Returns the learned
    * merge table (step, left_sym, right_sym, cnt). The argmax tie-break
    * is (cnt DESC, a, b) — a total order both engines share on the ASCII
    * fixture vocabulary. */
  def bpeLearnOf(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    bpeVocabAfter(s, docs, k)._1
      .toDF("step", "left_sym", "right_sym", "cnt").orderBy("step")
  }

  /** The ENCODE side of BPE — apply k learned merges and audit the
    * resulting tokenization: tokens-per-word histogram with word count,
    * corpus frequency mass, and an order-independent h60p word-hash sum
    * per bucket (so the gate pins WHICH words landed at each token
    * count, not just how many). Vocab-level, like the learn: documents
    * re-tokenize by a broadcast-join of this vocab at serving time, so
    * the audit never explodes the corpus. */
  def bpeEncodeOf(s: SparkSession, docs: DataFrame, k: Int): DataFrame =
    bpeVocabAfter(s, docs, k)._2
      .toDF("word", "freq", "syms")
      .select(col("word"), col("freq"), size(col("syms")).as("n_tokens"))
      .groupBy("n_tokens")
      .agg(count(lit(1)).as("n_words"),
        sum("freq").as("freq_sum"),
        sum(graft.functions.PortableHash.h60p(col("word"))).as("word_hash_sum"))
      .orderBy("n_tokens")

  /** GPT-2-STYLE pretokenizer pattern, lookahead-free so Java regex
    * (Spark) and RE2 (DuckDB) run it identically: contraction suffixes,
    * then space-attached letter / digit / punctuation runs, then
    * whitespace runs. The one departure from GPT-2's published pattern
    * is dropping the `\s+(?!\S)` alternative (RE2 has no lookahead), so
    * a multi-space gap keeps ALL its spaces in the whitespace token
    * instead of donating the last one to the following word. */
  private[graft] val BytePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** UTF-8 bytes of a pretoken as fixed-width lowercase hex symbols —
    * the byte-level BPE alphabet. Hex keeps merged symbols (plain
    * concatenation) unambiguous and gives both engines the same ASCII
    * sort for the argmax tie-break. */
  private[graft] def utf8HexSyms(w: String): Seq[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toSeq.map(b => f"${b & 0xFF}%02x")

  /** BYTE-level BPE learn (the tokenizer LLM pipelines actually train —
    * GPT-2/BPE-on-bytes): GPT-2-style regex pretokenization (spaces
    * attach to the following word; contractions split), UTF-8 bytes as
    * the initial symbols, then the SAME vocab-sized merge loop as the
    * char-level trainer. Scale shape identical to text_bpe_learn: the
    * corpus collapses to a pretoken vocabulary once, every round is a
    * partial-aggregated pair count over that frame, one 1-row argmax
    * driver hop per round. Multi-byte characters are just byte runs —
    * merges freely cross character boundaries (pinned in BpeLearnSpec). */
  def bpeBytesLearnOf(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val vocab0 = docs
      .select(explode(regexp_extract_all(col("text"),
        lit(BytePretokenPattern), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .map { case (w, f) => (w, f, utf8HexSyms(w)) }
    bpeLoop(s, vocab0, k)._1
      .toDF("step", "left_sym", "right_sym", "cnt").orderBy("step")
  }

  /** The k BPE rounds as a DuckDB CTE prefix (shared by the learn and
    * encode oracles; `word` rides through every stage). Each v{r}
    * applies merge t{r} via a list_reduce fold over singleton-list
    * elements — replace-last-when-(a,b) — which equals the greedy
    * left-to-right merge because a merged symbol a||b can never equal
    * the pair's left element a (BpeLearnSpec pins the equivalence on
    * randomized sequences). TOTAL on pair-exhausted corpora: t{r} is a
    * LEFT JOIN (not CROSS), so when no mergeable pair remains the round
    * passes the vocabulary through unchanged — matching the Spark
    * side's early-exit (bpeVocabAfter's `exhausted`) instead of
    * emptying every later v{r} (BpeLearnSpec pins the degenerate
    * corpus). */
  private def bpeRoundsCte(k: Int): String =
    s"""${bpeCharV0Cte},
        ${bpeRoundsOnly(k)}"""

  /** Char-level w/v0 prefix (the original text_bpe_* alphabet). */
  private def bpeCharV0Cte: String =
    """w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              WHERE length(word) >= 2 GROUP BY 1),
        v0 AS (SELECT word, freq, list_transform(range(length(word)),
                        i -> substring(word, i+1, 1)) AS syms FROM w)"""

  /** Byte-level w/v0 prefix: GPT-2-style pretokens, UTF-8 bytes derived
    * arithmetically from code points (DuckDB strings are code-point
    * addressable; the CASE is the UTF-8 encoding algorithm, RFC 3629),
    * hex-coded to match utf8HexSyms. */
  private def bpeByteV0Cte: String = {
    val pat = BytePretokenPattern.replace("'", "''")
    def h(e: String) = s"lpad(lower(hex($e)), 2, '0')"
    s"""w AS (SELECT pt AS word, CAST(COUNT(*) AS BIGINT) AS freq
              FROM (SELECT unnest(regexp_extract_all(text, '$pat')) AS pt FROM documents)
              GROUP BY 1),
        v0 AS (SELECT word, freq,
                 flatten(list_transform(
                   list_transform(range(length(word)), i -> unicode(substring(word, i+1, 1))),
                   cp -> CASE
                     WHEN cp < 128 THEN [${h("cp")}]
                     WHEN cp < 2048 THEN [${h("192 + cp//64")}, ${h("128 + cp%64")}]
                     WHEN cp < 65536 THEN [${h("224 + cp//4096")}, ${h("128 + (cp//64)%64")}, ${h("128 + cp%64")}]
                     ELSE [${h("240 + cp//262144")}, ${h("128 + (cp//4096)%64")}, ${h("128 + (cp//64)%64")}, ${h("128 + cp%64")}]
                   END)) AS syms
               FROM w)"""
  }

  /** Each v{r} (two consumers: p{r+1} and v{r+1}) and t{r} are
    * MATERIALIZED: without the hint DuckDB re-inlines the chain per
    * reference, which is exponential in k (measured: text_bpe_bytes'
    * k=8 oracle 10.8 s plain → 0.12 s materialized at sf0.1). An
    * inflated oracle draw would pad the bench denominator, so the
    * cheap form is the honest one. */
  private def bpeRoundsOnly(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS (SELECT u.pair[1] AS a, u.pair[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
                  FROM (SELECT freq, unnest(list_transform(range(len(syms)-1),
                              i -> [syms[i+1], syms[i+2]])) AS pair
                        FROM v${r - 1} WHERE len(syms) >= 2) u
                  GROUP BY 1, 2),
            t$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
            v$r AS MATERIALIZED (SELECT word, freq,
                           CASE WHEN t.a IS NULL THEN syms ELSE
                             list_reduce(list_transform(syms, s -> [s]),
                               (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
                                           THEN list_append(acc[1:len(acc)-1], t.a || t.b)
                                           ELSE list_concat(acc, x) END)
                           END AS syms
                    FROM v${r - 1} LEFT JOIN t$r t ON TRUE)"""
    }.mkString(",\n")
    rounds
  }

  private def bpeLearnSql(k: Int): String = {
    val unions = (1 to k).map(r =>
      s"SELECT $r AS step, a AS left_sym, b AS right_sym, cnt FROM t$r")
      .mkString("\n         UNION ALL ")
    s"""WITH ${bpeRoundsCte(k)}
         $unions ORDER BY step"""
  }

  /** text_bpe_bytes' oracle: byte-level v0, same unrolled rounds. */
  private def bpeBytesLearnSql(k: Int): String = {
    val unions = (1 to k).map(r =>
      s"SELECT $r AS step, a AS left_sym, b AS right_sym, cnt FROM t$r")
      .mkString("\n         UNION ALL ")
    s"""WITH ${bpeByteV0Cte},
         ${bpeRoundsOnly(k)}
         $unions ORDER BY step"""
  }

  /** text_bpe_encode's oracle: the same k rounds, then the final
    * vocabulary's tokens-per-word histogram with the h60p word-hash sum
    * pinning bucket membership. */
  private def bpeEncodeSql(k: Int): String =
    s"""WITH ${bpeRoundsCte(k)}
        SELECT CAST(len(syms) AS INT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(freq) AS BIGINT) AS freq_sum,
               CAST(SUM(${graft.functions.PortableHash.h60pSql("word")}) AS BIGINT) AS word_hash_sum
        FROM v$k GROUP BY 1 ORDER BY n_tokens"""

  /** WordPiece w/v0 prefix: BERT-style decomposition — first char
    * plain, continuations '##'-prefixed. */
  private def wpV0Cte: String =
    """w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              WHERE length(word) >= 2 GROUP BY 1),
        v0 AS (SELECT word, freq, list_transform(range(length(word)),
                  i -> CASE WHEN i = 0 THEN substring(word, 1, 1)
                            ELSE '##' || substring(word, i + 1, 1) END) AS syms
               FROM w)"""

  /** k WordPiece rounds: per round, symbol counts over the current
    * decomposition (c), pair counts (p), the exact-integer likelihood
    * key (s), the 1-row argmax with its merged symbol (t), and the
    * re-tokenized vocab (v) — the same fold-left merge the BPE rounds
    * use, appending t.m instead of a||b. */
  private def wpRoundsCte(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""c$r AS MATERIALIZED (SELECT s AS sym, CAST(SUM(freq) AS BIGINT) AS c
                  FROM (SELECT freq, unnest(syms) AS s FROM v${r - 1}) GROUP BY 1),
          p$r AS (SELECT u.pair[1] AS a, u.pair[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
                  FROM (SELECT freq, unnest(list_transform(range(len(syms)-1),
                              i -> [syms[i+1], syms[i+2]])) AS pair
                        FROM v${r - 1} WHERE len(syms) >= 2) u
                  GROUP BY 1, 2),
          s$r AS (SELECT p.a, p.b, p.cnt, ca.c AS ca, cb.c AS cb,
                         CAST((CAST(p.cnt AS HUGEINT) * 1000000000000) //
                              (CAST(ca.c AS HUGEINT) * CAST(cb.c AS HUGEINT)) AS BIGINT) AS skey
                  FROM p$r p JOIN c$r ca ON ca.sym = p.a JOIN c$r cb ON cb.sym = p.b),
          t$r AS MATERIALIZED (SELECT a, b, cnt, ca, cb, skey,
                         a || CASE WHEN b LIKE '##%' THEN substring(b, 3) ELSE b END AS m
                  FROM s$r ORDER BY skey DESC, a, b LIMIT 1),
          v$r AS MATERIALIZED (SELECT word, freq,
                         CASE WHEN t.a IS NULL THEN syms ELSE
                           list_reduce(list_transform(syms, s -> [s]),
                             (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
                                         THEN list_append(acc[1:len(acc)-1], t.m)
                                         ELSE list_concat(acc, x) END)
                         END AS syms
                  FROM v${r - 1} LEFT JOIN t$r t ON TRUE)"""
    }.mkString(",\n")
    s"""$wpV0Cte,
        $rounds"""
  }

  private def wpLearnSql(k: Int): String = {
    val unions = (1 to k).map(r =>
      s"SELECT $r AS step, a AS left_sym, b AS right_sym, cnt, ca, cb, skey FROM t$r")
      .mkString("\n         UNION ALL ")
    s"""WITH ${wpRoundsCte(k)}
         $unions ORDER BY step"""
  }

  /** Greedy longest-match encode replay: the learn chain derives the
    * piece inventory, `hop` precomputes the longest match per (word,
    * position) NON-recursively (aggregates are barred from recursive
    * terms), and the recursive walk follows single-successor hops —
    * words whose walk never reaches the end are [UNK]. */
  private def wpEncodeSql(k: Int): String =
    s"""WITH RECURSIVE ${wpRoundsCte(k)},
        pieces AS MATERIALIZED (SELECT DISTINCT s AS p
                  FROM (SELECT unnest(syms) AS s FROM v$k)),
        pos AS (SELECT word, unnest(range(length(word))) AS pos FROM w),
        hop AS MATERIALIZED (
          SELECT o.word, o.pos,
                 MAX(CASE WHEN o.pos = 0 THEN length(pc.p) ELSE length(pc.p) - 2 END) AS step
          FROM pos o JOIN pieces pc ON
            CASE WHEN o.pos = 0
                 THEN pc.p NOT LIKE '##%' AND pc.p = substring(o.word, 1, length(pc.p))
                 ELSE pc.p LIKE '##%' AND length(pc.p) > 2
                      AND substring(pc.p, 3) = substring(o.word, o.pos + 1, length(pc.p) - 2)
            END
          GROUP BY o.word, o.pos),
        r AS (
          SELECT word, 0 AS pos, 0 AS n FROM w
          UNION ALL
          SELECT r.word, r.pos + h.step, r.n + 1
          FROM r JOIN hop h ON h.word = r.word AND h.pos = r.pos),
        done AS (SELECT word, n FROM r WHERE pos = length(word)),
        enc AS (SELECT w.word, w.freq, COALESCE(d.n, -1) AS n_tokens
                FROM w LEFT JOIN done d USING (word))
        SELECT CAST(n_tokens AS INT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(freq) AS BIGINT) AS freq_sum,
               CAST(SUM(${graft.functions.PortableHash.h60pSql("word")}) AS BIGINT) AS word_hash_sum
        FROM enc GROUP BY 1 ORDER BY n_tokens"""

  /** text_unigram_viterbi oracle: the DP unrolled positionally — dp$i
    * holds each word's lexicographic-best (score, −tokens) over tilings
    * of its first i chars, taking the list-max over the ≤4 pieces that
    * can end at position i. Words are length-capped at 16 = the CTE
    * count. bin() string length is the shared integer log2. */
  private def unigramViterbiSql(maxLen: Int): String = {
    val dps = (1 to maxLen).map { i =>
      val branches = (1 to math.min(4, i)).map { l =>
        val j = i - l
        s"""SELECT d.word, d.sc, d.nt, substring(d.word, ${j + 1}, $l) AS frag
                  FROM dp$j d WHERE length(d.word) >= $i"""
      }.mkString("\n              UNION ALL ")
      s"""dp$i AS MATERIALIZED (
            SELECT word, k[1] AS sc, -k[2] AS nt FROM (
              SELECT u.word, max([u.sc + p.s, -(u.nt + 1)]) AS k
              FROM ($branches) u
              JOIN pscore p ON p.piece = u.frag
              GROUP BY u.word) q)"""
    }.mkString(",\n")
    val fin = (1 to maxLen).map(i =>
      s"SELECT word, sc, nt, $i AS i FROM dp$i").mkString("\n         UNION ALL ")
    s"""WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              WHERE length(word) BETWEEN 2 AND $maxLen GROUP BY 1),
        sub AS (SELECT freq, substring(word, i.range + 1, l.range + 1) AS piece
                FROM w, range($maxLen) i, range(4) l
                WHERE i.range + l.range + 1 <= length(word)),
        kept AS MATERIALIZED (
          SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM sub GROUP BY 1
          HAVING length(piece) = 1 OR CAST(SUM(freq) AS BIGINT) >= 5),
        tot AS (SELECT CAST(length(bin(CAST(SUM(cnt) AS BIGINT))) AS BIGINT) AS blt FROM kept),
        pscore AS MATERIALIZED (
          SELECT piece, CAST(length(bin(cnt)) AS BIGINT) - (SELECT blt FROM tot) AS s
          FROM kept),
        dp0 AS (SELECT word, CAST(0 AS BIGINT) AS sc, CAST(0 AS BIGINT) AS nt FROM w),
        $dps,
        fin AS (SELECT w.word, w.freq, d.sc, d.nt
                FROM w JOIN ($fin) d
                ON d.word = w.word AND d.i = length(w.word))
        SELECT CAST(nt AS INT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(freq) AS BIGINT) AS freq_sum,
               CAST(SUM(sc) AS BIGINT) AS score_sum,
               CAST(SUM(${graft.functions.PortableHash.h60pSql("word")}) AS BIGINT) AS word_hash_sum
        FROM fin GROUP BY 1 ORDER BY n_tokens"""
  }

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    // The staged composed/decomposed forms rebuilt via chr(), normalized
    // by DuckDB's INDEPENDENT nfc_normalize — the two Unicode
    // implementations (ICU-derived vs java.text.Normalizer) must agree
    // on every md5.
    "text_nfc_dedup" ->
      s"""WITH t AS (SELECT doc_id,
                CASE WHEN doc_id % 5 = 0
                       THEN 'solo ' || doc_id || ' ' || chr(233)
                     WHEN doc_id % 2 = 0
                       THEN 'caf' || chr(233) || ' ' || chr(229) || 'rbok x ' || (doc_id // 2)
                     ELSE 'cafe' || chr(769) || ' a' || chr(778) || 'rbok x ' || (doc_id // 2)
                END AS text
              FROM documents),
            n AS (SELECT doc_id, text, nfc_normalize(text) AS nfc FROM t)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_groups,
                CAST(COUNT(DISTINCT md5(nfc)) AS BIGINT) AS n_nfc_groups,
                CAST(SUM(length(text)) AS BIGINT) AS raw_chars,
                CAST(SUM(length(nfc)) AS BIGINT) AS nfc_chars,
                CAST(SUM(${graft.functions.PortableHash.h60pSql(
                  "doc_id || ':' || md5(nfc)")}) AS BIGINT) AS nfc_checksum
         FROM n""",
    // The oracle replays the BLOCK FEATURE MODEL closed-form — per block
    // type it derives visible chars / words / anchor chars / stopword
    // hits arithmetically from (doc_id, j) and never parses HTML, so a
    // Spark-side extraction miss (anchor text leaking into vis, entity
    // order, whitespace collapse, block split) shifts a count or the
    // membership checksum. Block model: type 0 content (r repeats of a
    // 21-char 4-word phrase + 'done now.'), type 1 content + 6-char
    // anchor, type 2 link-farm nav (k 3-char anchors, ' | '-joined),
    // type 3 short footer (27 chars, 4 words, 0 stopwords).
    "text_boilerplate" ->
      s"""WITH b AS (SELECT d.doc_id, d.source, j.j,
                            CAST((d.doc_id + j.j) % 4 AS INT) AS typ,
                            CAST(3 + (d.doc_id + j.j) % 5 AS BIGINT) AS r,
                            CAST(3 + (d.doc_id + j.j) % 3 AS BIGINT) AS k
                     FROM documents d,
                          LATERAL (SELECT unnest(range(0, 4 + d.doc_id % 4)) AS j) j),
            f AS (SELECT doc_id, source, j,
                         CASE typ WHEN 0 THEN 21*r + 9
                                  WHEN 1 THEN 21*r + 16
                                  WHEN 2 THEN 6*k - 3
                                  ELSE 27 END AS total_chars,
                         CASE typ WHEN 1 THEN 6
                                  WHEN 2 THEN 3*k
                                  ELSE 0 END AS anchor_chars,
                         CASE typ WHEN 0 THEN 4*r + 2
                                  WHEN 1 THEN 4*r + 3
                                  WHEN 2 THEN 2*k - 1
                                  ELSE 4 END AS words,
                         CASE WHEN typ IN (0, 1) THEN r ELSE 0 END AS stops
                  FROM b),
            kf AS (SELECT *,
                          (total_chars >= 40 AND anchor_chars * 100 <= total_chars * 30
                             AND stops * 100 >= words * 20) AS kept
                   FROM f)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_blocks,
                CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN kept THEN total_chars ELSE 0 END) AS BIGINT) AS kept_chars,
                CAST(SUM(CASE WHEN NOT kept THEN total_chars ELSE 0 END) AS BIGINT) AS dropped_chars,
                CAST(SUM(anchor_chars) AS BIGINT) AS anchor_chars,
                CAST(SUM(CASE WHEN kept THEN ${graft.functions.PortableHash.h60pSql(
                  "CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} ELSE 0 END) AS BIGINT) AS kept_checksum
         FROM kf GROUP BY source ORDER BY source""",
    // The funnel composes the EXACT per-stage arithmetic of dedup_exact
    // (md5 canonical), text_repetition (trigram dup rate), text_quality
    // (round4'd score), text_lang_id ('en' = best>0 ∧ s_de<best ∧
    // s_en=best — the standalone gate's tie-break order).
    "pipeline_clean_corpus" ->
      s"""WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
                               md5(text) AS h
                        FROM documents),
            c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rk
                  FROM base),
            m AS (SELECT doc_id, source, toks, len(toks) AS n_toks,
                         (rk = 1) AS is_canon,
                         CASE WHEN len(toks) >= 3 THEN
                           list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                         END AS tg
                  FROM c),
            f AS (SELECT *,
                         is_canon AND n_toks >= 3 AND
                           FLOOR((len(tg) - len(list_distinct(tg))) * 10000.0 / len(tg)) < 3000 AS pass_rep,
                         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dist,
                         CAST(len(list_filter(toks, t -> t IN (${inList(stop("en"))}))) AS DOUBLE) AS sw,
                         len(list_filter(toks, t -> t IN (${inList(stop("de"))}))) AS s_de,
                         len(list_filter(toks, t -> t IN (${inList(stop("en"))}))) AS s_en,
                         len(list_filter(toks, t -> t IN (${inList(stop("es"))}))) AS s_es,
                         len(list_filter(toks, t -> t IN (${inList(stop("fr"))}))) AS s_fr
                  FROM m),
            q AS (SELECT *,
                         FLOOR((LEAST(n_toks / 100.0, 1.0) * 0.4 +
                                (n_dist / n_toks) * 0.3 +
                                LEAST(sw / n_toks * 5.0, 1.0) * 0.3) * 10000 + 0.5) / 10000 AS quality,
                         GREATEST(s_de, s_en, s_es, s_fr) AS best
                  FROM f),
            fl AS (SELECT *,
                          pass_rep AND quality >= 0.3 AS pass_q,
                          pass_rep AND quality >= 0.3 AND best > 0
                            AND s_de < best AND s_en = best AS is_clean
                   FROM q)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw,
                CAST(SUM(CASE WHEN is_canon THEN 1 ELSE 0 END) AS BIGINT) AS n_canon,
                CAST(SUM(CASE WHEN pass_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup_rep,
                CAST(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                CAST(SUM(CASE WHEN is_clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
                CAST(SUM(CASE WHEN is_clean THEN n_toks ELSE 0 END) AS BIGINT) AS clean_tokens
         FROM fl GROUP BY source ORDER BY source""",
    // The oracle rebuilds the expected VISIBLE text from the token
    // model (title 't{id}', tokens 1-3, 4-8, a decoded '&', tokens
    // 9-20, single-spaced) — it never parses HTML, so a Spark-side
    // extraction miss (script leak, entity order, whitespace) changes
    // the md5.
    "text_html_extract" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            vis AS (SELECT doc_id,
                           trim(regexp_replace(
                             't' || CAST(doc_id AS VARCHAR) || ' ' ||
                             array_to_string(t[1:3], ' ') || ' ' ||
                             array_to_string(t[4:8], ' ') || ' & ' ||
                             array_to_string(t[9:20], ' '),
                             ' +', ' ', 'g')) AS x
                    FROM tk)
         SELECT doc_id, CAST(len(string_split(x, ' ')) AS INT) AS n_tokens,
                CAST(len(x) AS BIGINT) AS n_chars, md5(x) AS text_md5
         FROM vis ORDER BY doc_id""",
    // Segment unit identical both sides: non-overlapping 4-token
    // slices, the last one partial. DuckDB list slicing t[a:b] is
    // 1-based inclusive and clips at the end exactly like Spark's
    // slice(toks, start, 4).
    "text_line_dedup" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            seg AS (SELECT doc_id, g.g AS seg_idx,
                           array_to_string(t[g.g*4+1 : g.g*4+4], ' ') AS seg,
                           LEAST(4, len(t) - g.g*4) AS seg_tokens
                    FROM tk, LATERAL (SELECT unnest(range((len(t)+3)//4)) AS g) g),
            freq AS (SELECT seg FROM seg GROUP BY seg
                     HAVING COUNT(DISTINCT doc_id) >= 3),
            fl AS (SELECT s.doc_id, s.seg_idx, s.seg_tokens,
                          (f.seg IS NOT NULL) AS boiler
                   FROM seg s LEFT JOIN freq f USING (seg))
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
                CAST(SUM(CASE WHEN NOT boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN NOT boiler THEN seg_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
                CAST(SUM(CASE WHEN NOT boiler THEN seg_idx ELSE 0 END) AS BIGINT) AS kept_idx_sum
         FROM fl GROUP BY doc_id ORDER BY doc_id""",
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
                    WHERE len(string_split(text, ' ')) >= 3),
            g AS (SELECT doc_id,
                         list_transform(range(1, len(tk) - 1),
                           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) AS tg
                  FROM t)
          SELECT doc_id,
                 CAST(len(tg) AS INT) AS n_trigrams,
                 CAST(len(list_distinct(tg)) AS INT) AS n_distinct,
                 CAST(FLOOR((len(tg) - len(list_distinct(tg))) * 10000.0 / len(tg)) AS BIGINT) AS dup_bps
          FROM g ORDER BY doc_id""",
    "text_vocab_encode" ->
      """WITH toks AS (SELECT doc_id,
                              unnest(string_split(text, ' ')) AS w,
                              unnest(range(len(string_split(text, ' ')))) AS p
                       FROM documents),
            vc AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
                   ORDER BY cnt DESC, w LIMIT 20),
            vocab AS (SELECT w, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) - 1 AS id FROM vc),
            enc AS (SELECT t.doc_id, t.p, COALESCE(v.id, -1) AS id
                    FROM toks t LEFT JOIN vocab v ON t.w = v.w)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(COUNT(*) FILTER (WHERE id = -1) AS BIGINT) AS n_oov,
                string_agg(CAST(id AS VARCHAR), ',' ORDER BY p) AS ids_csv
         FROM enc GROUP BY doc_id ORDER BY doc_id""",
    "text_bpe_pairs" ->
      """WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                    WHERE length(word) >= 2 GROUP BY 1),
            p AS (SELECT unnest(list_transform(range(length(word) - 1),
                            i -> substr(word, i + 1, 2))) AS pair, freq
                  FROM w)
         SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
         FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""",
    "text_bpe_learn" -> bpeLearnSql(10),
    "text_bpe_bytes" -> bpeBytesLearnSql(8),
    "text_bpe_encode" -> bpeEncodeSql(3),
    "text_wordpiece_learn" -> wpLearnSql(8),
    "text_wordpiece_encode" -> wpEncodeSql(4),
    "text_unigram_viterbi" -> unigramViterbiSql(16),
    "text_ngram_stats" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
            b AS (SELECT unnest(list_transform(range(1, len(tk)),
                                i -> tk[i] || ' ' || tk[i + 1])) AS bigram FROM t)
          SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
          FROM b GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""",
    "text_lang_id" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            sc AS (SELECT doc_id,
                     len(list_filter(toks, t -> t IN (${inList(stop("de"))}))) AS s_de,
                     len(list_filter(toks, t -> t IN (${inList(stop("en"))}))) AS s_en,
                     len(list_filter(toks, t -> t IN (${inList(stop("es"))}))) AS s_es,
                     len(list_filter(toks, t -> t IN (${inList(stop("fr"))}))) AS s_fr
                   FROM t)
          SELECT doc_id,
                 CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                      WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
                      WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
                      WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
                      ELSE 'fr' END AS lang_guess,
                 CAST(GREATEST(s_de, s_en, s_es, s_fr) AS INT) AS hits
          FROM sc ORDER BY doc_id""",
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            m AS (SELECT doc_id,
                    CAST(len(toks) AS DOUBLE) AS n_toks,
                    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dist,
                    CAST(len(list_filter(toks, t -> t IN (${inList(stop("en"))}))) AS DOUBLE) AS sw
                  FROM t)
          SELECT doc_id, $qualitySql AS quality
          FROM m ORDER BY doc_id""",
    "text_quality_rules" -> {
      val stopSum = enStopCaseSumSql
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks,
                            CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_ch
                     FROM documents),
            m AS (SELECT doc_id, lang, n_ch,
                         CAST(len(toks) AS BIGINT) AS n_words,
                         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
                         CAST($stopSum AS BIGINT) AS n_stop
                  FROM t),
            r AS (SELECT doc_id, lang,
                         (n_words BETWEEN 30 AND 100000) AS r_wc,
                         (n_ch >= n_words * 3 AND n_ch <= n_words * 10) AS r_mwl,
                         (n_alpha * 5 >= n_words * 4) AS r_alpha,
                         (n_stop >= 2) AS r_stop
                  FROM m),
            k AS (SELECT doc_id, lang, r_wc, r_mwl, r_alpha, r_stop,
                         (r_wc AND r_mwl AND r_alpha AND r_stop) AS keep
                  FROM r)
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
                 CAST(SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
                 CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_frac,
                 CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
                 CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(COALESCE(SUM(CASE WHEN keep THEN ${graft.functions.PortableHash.h60pSql("CAST(doc_id AS VARCHAR)")} END), 0) AS BIGINT) AS kept_checksum
          FROM k GROUP BY lang ORDER BY lang"""
    },
    "text_token_count" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
                CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha,
                CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INT) AS n_bpe
         FROM documents ORDER BY doc_id""",
    "text_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                           len(string_split(text, ' ')) AS n FROM documents),
              e AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS tok_start FROM t)
         SELECT doc_id,
                CAST(tok_start // 48 AS BIGINT) AS chunk_idx,
                CAST(tok_start AS BIGINT) AS tok_start,
                CAST(LEAST(64, n - tok_start) AS BIGINT) AS n_tokens,
                md5(array_to_string(list_slice(toks, tok_start + 1, tok_start + 64), ' ')) AS chunk_hash
         FROM e ORDER BY doc_id, chunk_idx""",
    "text_fingerprint" ->
      """SELECT doc_id,
                list_reduce(
                  list_concat([CAST(0 AS BIGINT)],
                    list_transform(string_split(text, ' '),
                      t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1000000007)),
                  (acc, h) -> (acc * 1000003 + h) % 1000000007) AS fingerprint
         FROM documents ORDER BY doc_id""",
    "text_stopword_filter" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            k AS (SELECT doc_id, toks,
                         list_filter(toks, t -> NOT t IN (${inList(stop("en"))})) AS kept
                  FROM t)
          SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
                 CAST(len(kept) AS INT) AS n_kept,
                 array_to_string(list_slice(kept, 1, 5), ' ') AS head_kept
          FROM k ORDER BY doc_id""",
    // Identical expression tree as Graft.bm25TopDocs, term contributions
    // combined in the same pinned left-to-right order.
    "text_bm25" -> Bm25OracleSql,
    // The indexed twin must return the SAME answer the direct scorer
    // does — one oracle SQL, two Spark plans.
    "text_bm25_indexed" -> Bm25OracleSql,
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
            tc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM toks GROUP BY doc_id, w),
            dl AS (SELECT doc_id, len(string_split(text, ' ')) AS len FROM documents),
            dfq AS (SELECT w, COUNT(*) AS df FROM tc GROUP BY w),
            nd AS (SELECT COUNT(*) AS nd FROM documents),
            sc AS (SELECT tc.doc_id, tc.w,
                          FLOOR(((CAST(tc.cnt AS DOUBLE) / CAST(dl.len AS DOUBLE)) *
                                 ln(CAST(nd.nd AS DOUBLE) / CAST(dfq.df AS DOUBLE)))*1000000 + 0.5)/1000000 AS tfidf
                   FROM tc JOIN dl USING (doc_id) JOIN dfq USING (w) CROSS JOIN nd),
            rk AS (SELECT doc_id, w, tfidf,
                          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, w) AS INT) AS rk
                   FROM sc)
         SELECT doc_id, rk, w AS term, tfidf FROM rk WHERE rk <= 3
         ORDER BY doc_id, rk""",
    "text_corpus_stats" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                FLOOR(AVG(len(string_split(text, ' ')))*10000 + 0.5)/10000 AS avg_tokens,
                MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    // Same deterministic PII augmentation, same RE2-subset patterns;
    // DuckDB regexp_replace needs the explicit 'g' flag to match Spark's
    // replace-all semantics.
    "text_pii_scrub" ->
      s"""WITH a AS (SELECT doc_id,
                            text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                            '@example.com or ' || CAST(doc_id AS VARCHAR) ||
                            '.admin@mail-host.org call +1-555-' ||
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                            ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7' AS aug
                     FROM documents)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(aug, '$PiiEmailRe')) AS INT) AS n_emails,
                 CAST(len(regexp_extract_all(aug, '$PiiPhoneRe')) AS INT) AS n_phones,
                 CAST(len(regexp_extract_all(aug, '$PiiIpRe')) AS INT) AS n_ips,
                 md5(regexp_replace(regexp_replace(regexp_replace(aug,
                       '$PiiEmailRe', '<EMAIL>', 'g'),
                       '$PiiPhoneRe', '<PHONE>', 'g'),
                       '$PiiIpRe', '<IP>', 'g')) AS scrub_hash
          FROM a ORDER BY doc_id"""
  )
}
