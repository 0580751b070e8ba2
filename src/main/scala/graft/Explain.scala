package graft

import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans for the headline queries to a markdown
  * file — the ".explain and iterate" evidence trail (see SCALE.md and
  * PlanSpec for the asserted properties). Usage:
  *   sbt "runMain graft.Explain [sfDir] [outFile]"
  */
object Explain {
  private val headline = Seq(
    "wordcount", "q1_agg", "q_filter_project", "q3_join", "q_topk_orders",
    "q_window_rank", "q_sessionize", "q_asof_join",
    "dedup_minhash", "sim_topk_brute", "sim_ivf", "sim_knn_join",
    "sim_knn_ivf", "q_skew_agg", "q_skew_join", "pack_sequences",
    "text_ngram_stats", "lang_minhash_sim", "mm_embed_topk",
    "mm_audio_energy", "sample_hash", "dedup_embed_ivf", "text_vocab_encode",
    "q_bloom_join", "q_zorder", "text_tfidf", "q_funnel", "q_ewma",
    "dedup_embed_rhp", "dedup_triangles", "dedup_minhash_capped",
    "stream_funnel_join", "q_gap_fill",
    // round 9 (stream_windowed_live is EXCLUDED by design: its plan is a
    // streaming sink read-back — the interesting execution is the
    // micro-batch run itself, exercised by the gate, not a batch plan).
    "dedup_simhash_capped", "sim_ivf_recall",
    // round 11 (the stream_*_live gates stay EXCLUDED for the round-9
    // reason above): the marker-walk decode — a typed mapPartitions
    // pushdown barrier feeding a codegen'd aggregate — and the span-level
    // dedup (flatMap gram stream → pre-agg → window → per-doc sum).
    "mm_jpeg_meta", "dedup_span_ngrams",
    // round 12: the full-pixel decode paths (typed mapPartitions decode →
    // codegen'd integer aggregate — the plan shape every pixel gate
    // shares) and the incremental near-dup ingest (corpus×batch bands
    // join, never within-frame).
    "mm_png_pixels", "mm_resize_exec", "dedup_incremental_neardup",
    // round 12 close: the composed cleaning funnel (one scan → window →
    // aggregate) and the persisted bucketed ANN probe (FileSourceScan of
    // the bucketed table on both join sides, SelectedBucketsCount shown).
    "pipeline_clean_corpus", "sim_knn_bucketed",
    // round 12 third session: the maintenance pack's MERGE/diff join
    // shapes and checksum map-only shape, the BM25 broadcast pattern,
    // and the fuzzy-edit confirm over the cached LSH pair frame.
    "q_merge_upsert", "q_snapshot_diff", "q_table_checksum", "text_bm25",
    "dedup_fuzzy_edit",
    // round 12 fourth session: the temperature-mix two-pass shape
    // (broadcast rate table → map-only filter), the metadata-sized
    // compaction window, and the iterated PageRank join+partial-agg step.
    "sample_temperature", "q_compaction_plan", "graph_pagerank",
    // round 12 fifth session: the WARC whole-shard read→parse shape, the
    // GIF block-walk decode feeding a codegen'd aggregate, and the
    // threshold curve's exact-jaccard join + tiny running-total window.
    "warc_ingest", "mm_gif_meta", "dedup_threshold_curve",
    // round 13: the GIF LZW pixel decode (typed mapPartitions decode →
    // codegen'd aggregate) and the persisted-ingest-index / bucketed
    // MERGE probes (bucketed corpus scan, batch-side-only exchange).
    // text_bpe_learn is deliberately NOT here: its result frame is the
    // driver-collected merge table, so its "plan" is a LocalTableScan —
    // the interesting shape is each ROUND's pair count, which shares
    // text_bpe_pairs' plan, and an Explain entry would pay the whole
    // 10-round learn for a meaningless dump.
    "mm_gif_pixels", "mm_jpeg_coeffs", "mm_mp4_samples",
    "dedup_incremental_indexed",
    "dedup_incremental_neardup_indexed", "q_merge_upsert_bucketed",
    // round 14: the rebuilt one-pass robust-stats plan (the r13 verdict's
    // only scale-killer — now scan → domain-map partial agg → 3-buffer
    // merge, no joins, no second scan), the C4 line-dedup removal shape
    // (segment explode → uniform-key frequency pre-agg → broadcast-able
    // join back), the URL canonicalizer (map-only parse chain → uniform
    // groupBy), and the HTML extractor (pure codegen'd regexp chain —
    // the plan should be scan → project → sort, nothing else).
    "dq_outliers", "text_line_dedup", "dedup_url_canonical",
    "text_html_extract",
    // round 15: the rewritten simhash candidate join (skew-splittable
    // (chunk, ckey) self-equi-join, hamming verify INSIDE the join —
    // replacing the unsplittable collect_list bucket expansion), the
    // zstd WARC ingest (whole-shard read → multi-frame unzstd → framing
    // parse → codegen'd aggregate), the WebDataset end-to-end pipeline
    // (tar member walk → PNG decode-as-filter → fingerprint dedup with
    // one groupBy), the mixed baseline+progressive JPEG gate, and the
    // ANN maintenance loop's post-append probe (batch-side-only
    // exchange against the bucketed IVF table).
    "dedup_simhash", "warc_zst_ingest", "mm_wds_pipeline",
    "mm_jpeg_coeffs_progressive", "sim_knn_indexed_update",
    // round 15 second session: the CMS probe (broadcast 16 KB artifact →
    // codegen'd min-probe projection over the top-k frame), the PQ ADC
    // scan (codes scan → broadcast LUT row → fixed-index array-read
    // projection → TakeOrderedAndProject, NO shuffle — the map-only
    // claim PqSpec pins), its IVF-PQ composition (adds the per-cell
    // constant broadcast join, candidates confined to probed cells),
    // and the compressed WebDataset walk (whole-shard read → gunzip →
    // block walk → codegen'd audit aggregate). stream_cms_live stays
    // EXCLUDED for the round-9 live-gate reason.
    "q_cms_freq", "sim_pq_adc", "sim_ivfpq_adc", "tgz_ingest",
    // Round 15 third wave: the span decontamination join (train grams
    // pre-distinct → gram-keyed left-semi probe, no windows), the hard
    // quality-rule battery (pure map-only scan → one small groupBy),
    // and the ADPCM codec gate (typed mapPartitions decode → codegen'd
    // aggregate, the pixel-gate plan family).
    "dedup_contamination_ngram", "text_quality_rules", "mm_wav_adpcm",
    // round 15 fourth session: the statistical-LM filters (two wide
    // exchanges + broadcast model join), the KMV sketch set algebra
    // (map-side 2 KB buffers + broadcast artifacts), the composed
    // crawl-frontier funnel (map-only XML+canonicalize → dedup groupBy
    // → broadcast rules join → per-host window), hard-negative mining
    // (IVF-cell equi-join + map-side argmax), the apportioned token
    // mix (tiny apportionment frame + one per-source fill window), and
    // the distributed parquet-footer scan.
    "text_lm_perplexity", "text_nb_classify", "q_kmv_distinct",
    "q_kmv_overlap", "crawl_frontier_pipeline", "sim_hard_negatives",
    "pipeline_token_mix", "parquet_footer_audit", "text_srt_cues",
    "mm_exif_meta", "mm_ogg_pages", "mm_flac_meta", "zip_ingest",
    "xml_ingest", "q_retention_plan",
    // round 15 fourth session close: SemDeDup (IVF-blocked pairs →
    // iterative components → representative window), the WDS audio
    // funnel (tar walk → typed PCM decode → dedup join-back), and the
    // perplexity-bucket split (one corpus-wide ntile window over the
    // shared LM score frame).
    "dedup_semdedup", "mm_wds_audio_pipeline", "text_lm_buckets",
    // round 16: the distributed-rank bucket split (rangepartitioning,
    // no SinglePartition funnel — the r15 weak plan closed), the
    // charset-aware WET decode (one task per shard → codegen'd agg),
    // the FLAC frame decode (typed mapPartitions decode → aggregate,
    // the pixel-gate family), the persisted-BM25 probe (bucket-pruned
    // posting scan, candidate-only exchange), the maximal-span island
    // merge (gram equi-join → per-(pair,diagonal) window), and the
    // composed crawl funnel from WARC arrival.
    "warc_charset_extract", "mm_flac_pcm", "text_bm25_indexed",
    "dedup_span_merged", "pipeline_crawl_corpus",
    // round 16 second wave: the aHash image near-dup (typed decode →
    // banded self-join, the simhash candidate shape), the host link
    // graph (map-only extract/resolve chain → uniform edge groupBy),
    // and the block-level boilerplate scorer (posexplode + higher-order
    // aggregates, map-only to one per-source groupBy).
    "mm_ahash_dedup", "crawl_link_graph", "text_boilerplate",
    // round 16 third wave: the host-rank power iteration (edge⋈rank
    // join + dst-keyed partial agg per step, rank frames host-sized)
    // and the balanced shard plan (ONE range-partition exchange via
    // globalRank, then a uniform groupBy — no rank funnel).
    "crawl_host_rank", "pipeline_shard_balance",
    // round 16 fourth wave: the spectral gates — typed decode →
    // codegen'd aggregate (mm_audio_dft) and the banded perceptual-hash
    // candidate join (mm_phash_dedup, the simhash/ahash shape).
    "mm_audio_dft", "mm_phash_dedup",
    // round 16 fifth wave: the prefix-filtered exact similarity join —
    // df groupBy → per-doc rank window → prefix self-equi-join →
    // candidate-bounded verify (no corpus², no LSH misses).
    "dedup_prefix_jaccard",
    // round 16 sixth wave: the PDF extraction pass — typed parse-as-
    // filter mapPartitions → codegen'd aggregate (the codec-gate plan
    // family; the parsing depth lives in PdfSource, not the plan).
    "pdf_extract",
    // round 16 seventh wave: the whole-file multiline CSV read (one
    // task per file — the documented splittability trade) and the
    // textcat classifier (broadcast profiles, per-doc rank window,
    // doc×lang distance frame).
    "csv_multiline_roundtrip", "text_lang_profile",
    // and the NFC-normalized dedup audit (typed normalize map → one
    // global aggregate).
    "text_nfc_dedup",
    // round 18 late session: the Avro OCF round-trip (whole-shard
    // parse-as-filter → codegen'd checksum aggregate — the tar/warc
    // shard-read family over a hand-built reader) and the unigram
    // Viterbi segmenter (vocab-sized frames: word groupBy → piece
    // explode/aggregate for the broadcast inventory → typed per-word DP
    // map → histogram groupBy). text_wordpiece_learn/encode stay out
    // for text_bpe_learn's reason: driver-loop merge tables whose
    // per-round shape IS text_bpe_pairs' plan.
    "avro_roundtrip", "text_unigram_viterbi",
    // round 18 late, second wave: the CDX build (whole-shard walk with
    // per-record slice re-parses → codegen'd audit aggregate), the
    // notebook parse (whole-file scan → from_json projection →
    // posexplode → aggregate — all builtins, no UDF barrier), and the
    // LaTeX scanner (typed parse-as-filter map → aggregate, the
    // pdf_extract family).
    "warc_cdx_index", "ipynb_extract", "tex_extract",
    // round 18: the persisted image-ingest probe (bucketed band-index
    // scan, batch-side-only exchange — the dedup_incremental_indexed
    // family) and the byte-level BPE's per-round pair count shape is
    // text_bpe_pairs' (its learn loop is driver-collected like
    // text_bpe_learn, so no Explain entry — same reason).
    "mm_ahash_incremental",
    // round 18 continuation: the pHash ingest probe (the aHash twin,
    // same bucketed-scan plan family) and the sequence-packing report
    // (globalPrefixSum range exchange + map-side explode → seq groupBy).
    "mm_phash_incremental", "pipeline_seq_pack",
    // DSIR selection: one checkpointed feature explode feeding bucket
    // counts and scoring, the 1024-row model broadcast back, one
    // per-doc aggregate — the broadcast-model curation plan family.
    "text_dsir_select",
    // round 19: the DOCX composition (whole-file ZIP walk → typed
    // parse-as-filter map → aggregate, the pdf/tex family), the ANN
    // refine stage (broadcast candidate probe → 100-row local sort —
    // candidates×dim, never corpus), the time-travel read (two
    // log-replayed distributed parquet scans → one aggregate), and the
    // suffix-rescued span merge (two corpus-linear gram passes, capped
    // pair joins, per-(pair,diagonal) island window).
    "docx_extract", "sim_ivfpq_refine", "q_timetravel_read",
    "dedup_span_suffix",
    // round 19 second wave: the two remaining OPC extractors (the
    // docx plan family — whole-file ZIP walk → typed parse-as-filter
    // map → aggregate), compaction and vacuum executed through the
    // transaction log (log-replayed parquet scan → one aggregate).
    "xlsx_extract", "pptx_extract", "q_txlog_compact", "q_txlog_vacuum",
    "epub_extract",
    // the mixed front door: one binary scan -> typed dispatch map ->
    // codegen'd strip on the epub branch -> union -> one aggregate.
    "pipeline_mixed_extract",
    // round 20: the two new extractors (the docx plan family — whole-file
    // scan → typed parse-as-filter map → aggregate), the stats-pruned
    // transaction-log read (3 files scanned off an 8-file manifest,
    // predicate still applied), and the script-gated shingle join (one
    // staged scan → codegen'd segment transforms → distinct shingles →
    // co-shingle pair join — the exact-jaccard family with two
    // segmenters).
    "odt_extract", "rtf_extract", "ods_extract", "q_txlog_stats_prune",
    "dedup_script_jaccard")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "EXPLAIN.md"
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# EXPLAIN — formatted physical plans (headline queries)\n\n")
    sb.append(s"Generated by `graft.Explain` on `$sfDir`. Load-bearing plan\n")
    sb.append("properties are asserted in PlanSpec; SCALE.md explains why each\n")
    sb.append("shape is the one we want at 100 TB.\n")
    for (name <- headline) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$formatted```\n")
    }
    // The bucketed-index probes again with auto-broadcast OFF: at the
    // fixture SF the optimizer rightly broadcasts the tiny index, but
    // the 100 TB plan is the bucketed sort-merge side with NO exchange —
    // dump that shape explicitly (it is also spec-pinned in
    // SkewAndBucketingSpec under the same conf).
    val smjSess = spark.newSession()
    smjSess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (name <- Seq("dedup_incremental_indexed",
                     "dedup_incremental_neardup_indexed",
                     "q_merge_upsert_bucketed", "sim_knn_bucketed")) {
      val df = SparkEntry.queries(name)(smjSess, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name (auto-broadcast OFF — the at-scale bucketed shape)\n\n```\n$formatted```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
