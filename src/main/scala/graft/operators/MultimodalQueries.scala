package graft.operators

import graft.QueryPack
import graft.Portable.round4
import graft.functions.expressions.DotProduct
import graft.multimodal.{HammingBands, MediaPipeline}
import org.apache.spark.sql.functions._

/** Queries over the multimodal (binary media) pipeline.
  *
  * Two corpora (see MediaPipeline): the METADATA queries (mm_meta_stats /
  * mm_frame_sample / mm_resize_plan / mm_png_meta / mm_jpeg_meta) decode
  * the container-staged table — doc_id % 4 == 0 payloads carry a REAL
  * 54-byte little-endian BMP header, doc_id % 4 == 1 a REAL 48-byte JPEG
  * prefix (SOI + APP0 + COM + SOF0 — found by a marker WALK, not a fixed
  * offset) and doc_id % 4 == 2 a REAL 33-byte BIG-endian PNG
  * signature+IHDR (verified CRC), whose width/height Spark PARSES from
  * the bytes while the oracle replicates the staging arithmetic from
  * doc_id (a wrong parse offset, endianness, or segment skip breaks the
  * hash match); doc_id % 4 == 3 falls back to the deterministic stub,
  * whose arithmetic the oracle models from strlen(text) — documents are
  * ASCII, so utf-8 byte length == n_chars.
  * The BYTE-level queries (content dedup, audio energy, the feature
  * pipeline) read the raw headerless table: payload == text bytes there.
  */
object MultimodalQueries extends QueryPack {

  val queries: Map[String, Q] = Map[String, Q](
    // Per-source media statistics after the mapPartitions decode pass
    // (mixed-format corpus: real BMP header parse + stub fallback).
    "mm_meta_stats" -> ((s, d) =>
      MediaPipeline.decoded(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_media"),
          sum("bytes").as("total_bytes"),
          round4(avg("width")).as("avg_width"),
          round4(avg("height")).as("avg_height"),
          max("n_frames").as("max_frames"))
        .orderBy("source")),

    // Frame sampling: every 5th frame of each payload — explode of a
    // generated sequence, the shape a video pipeline uses before per-frame
    // feature extraction.
    "mm_frame_sample" -> ((s, d) =>
      MediaPipeline.decoded(s, d)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
        .filter(col("frame_idx") % 5 === 0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled_frames"))
        .orderBy("source")),

    // Full multimodal→vector pipeline: decode (stub) → per-media feature
    // vector (the place a real model would embed frames; here a
    // deterministic arithmetic 8-dim signature so it stays
    // oracle-checkable) → cosine similarity against the doc_id=0 probe via
    // the native graft_dot expression → exact top-10. Demonstrates the
    // binary column feeding the similarity-search path end-to-end.
    "mm_embed_topk" -> ((s, d) => {
      graft.functions.expressions.GraftFunctions.ensureRegistered(s)
      def featOf(decoded: org.apache.spark.sql.DataFrame) = decoded
        .withColumn("fv", expr(
          "transform(sequence(0, 7), j -> CAST((bytes * (j + 3) + width * j + height) % 97 AS DOUBLE) / 97.0)"))
        .withColumn("nrm", sqrt(call_function("graft_dot", col("fv"), col("fv"))))
      // Probe branch filters BELOW the decode barrier: the doc_id=0
      // predicate reaches the parquet scan, so building the broadcast
      // probe costs one pruned row — not a second full-corpus decode pass
      // (the typed mapPartitions blocks pushdown from above).
      val probe = featOf(MediaPipeline.decodedOf(s,
          MediaPipeline.mediaTable(s, d).filter(col("doc_id") === 0)))
        .select(col("fv").as("pv"), col("nrm").as("pnrm"))
      // The feature pipeline reads the RAW (headerless) table on both
      // sides: its signature is a stand-in for a learned embedding over
      // payload bytes, so the container staging stays out of it.
      featOf(MediaPipeline.decodedOf(s, MediaPipeline.mediaTable(s, d)))
        .filter(col("doc_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("cos", call_function("graft_dot", col("fv"), col("pv")) / (col("nrm") * col("pnrm")))
        .select(col("doc_id"), graft.Portable.round6(col("cos")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id"))
        .limit(10)
    }),

    // Windowed byte energy over the raw payload — the audio shape (RMS
    // per frame window) run on real bytes through the typed mapPartitions
    // batch loop: each payload splits into 256-byte windows, each window
    // reports its byte count and integral energy sum (integer math —
    // order-independent, oracle-exact). A real audio pipeline swaps the
    // byte stream for PCM samples; the plumbing (iterator-batched decode,
    // flatMap to per-window rows, no shuffle until the ORDER BY) is what
    // this pins.
    "mm_audio_energy" -> ((s, d) =>
      MediaPipeline.decodePass(s, MediaPipeline.mediaTable(s, d))(r =>
        r.media.grouped(256).zipWithIndex.map { case (chunk, w) =>
          (r.doc_id, w, chunk.length, chunk.map(b => (b & 0xff).toLong).sum)
        })
        .toDF("doc_id", "win", "n_bytes", "sum_bytes")
        .orderBy("doc_id", "win")),

    // Resize plan: target bounding box 224×224 preserving aspect ratio —
    // pure metadata arithmetic (the real resize would be a mapInPandas/
    // mapPartitions kernel over the binary column).
    "mm_resize_plan" -> ((s, d) =>
      MediaPipeline.decoded(s, d)
        .withColumn("scale",
          least(lit(224.0) / col("width"), lit(224.0) / col("height")))
        .select(
          col("doc_id"),
          col("width"), col("height"),
          floor(col("width") * col("scale")).cast("int").as("out_w"),
          floor(col("height") * col("scale")).cast("int").as("out_h"))
        .orderBy("doc_id")),

    // Audio metadata pass: every 3rd doc is staged with a REAL 44-byte
    // canonical PCM WAV header (sample-rate/channels from doc_id
    // arithmetic the oracle replicates); Spark PARSES rate, channels and
    // data-chunk length from the bytes and derives frames + duration via
    // integer floor math. Non-audio payloads are dropped by the parse
    // itself (see the zero-byte argument on decodeWav), so the decoder —
    // not row position — decides what counts as audio.
    "mm_wav_meta" -> ((s, d) =>
      MediaPipeline.decodedWav(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_audio"),
          sum("bytes").as("total_bytes"),
          round4(avg("sample_rate")).as("avg_rate"),
          sum("n_samples").as("total_samples"),
          max("duration_ms").as("max_duration_ms"))
        .orderBy("source")),

    // PNG metadata pass over the SAME mixed corpus the BMP queries read:
    // every doc_id % 4 == 2 payload is staged with a real big-endian
    // signature+IHDR (CRC verified); Spark re-derives width/height/
    // bit-depth/color-type by PARSING the bytes — opposite endianness
    // from BMP/WAV, so a byte-order bug that BMP can't catch fails this
    // hash. Non-PNG payloads (bare AND BMP-staged) are dropped by the
    // parse itself.
    "mm_png_meta" -> ((s, d) =>
      MediaPipeline.decodedPng(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_png"),
          sum("bytes").as("total_bytes"),
          round4(avg("width")).as("avg_width"),
          round4(avg("height")).as("avg_height"),
          max("bit_depth").as("max_depth"),
          max("color_type").as("max_color"))
        .orderBy("source")),

    // JPEG metadata pass over the SAME mixed corpus: every doc_id % 4 == 1
    // payload is staged with a real SOI + APP0 + COM + SOF0 prefix; Spark
    // re-derives width/height/precision/components by WALKING the marker
    // sequence (the COM segment between APP0 and SOF means a fixed-offset
    // read lands mid-segment and fails the hash). Non-JPEG payloads (bare
    // AND BMP/PNG-staged) are dropped by the parse itself.
    "mm_jpeg_meta" -> ((s, d) =>
      MediaPipeline.decodedJpeg(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_jpeg"),
          sum("bytes").as("total_bytes"),
          round4(avg("width")).as("avg_width"),
          round4(avg("height")).as("avg_height"),
          max("precision").as("max_precision"),
          max("n_components").as("max_components"))
        .orderBy("source")),

    // Movie-metadata pass: every 3rd doc is staged with a REAL ISO-BMFF
    // box tree (ftyp + skippable free boxes + moov/mvhd; brand/timescale/
    // duration from doc_id arithmetic the oracle replicates); Spark
    // re-derives them by WALKING the boxes — recursive (moov's children
    // are boxes), version-dependent (mvhd v1 rows carry durations above
    // u32 range, so only a real 64-bit read matches), and size-form-
    // dependent (id%9==0 rows use the u64 largesize). Grouping by the
    // PARSED brand makes the gate sensitive to the ftyp read too.
    "mm_mp4_meta" -> ((s, d) =>
      MediaPipeline.decodedMp4(s, d)
        .groupBy("source", "brand")
        .agg(
          count(lit(1)).as("n_video"),
          sum("bytes").as("total_bytes"),
          round4(avg("timescale")).as("avg_timescale"),
          max("duration").as("max_duration"),
          max("duration_ms").as("max_duration_ms"))
        .orderBy("source", "brand")),

    // Animation-metadata pass: every 3rd doc is staged as a COMPLETE GIF
    // (magic + LE logical screen descriptor + optional global palette +
    // extension/image-descriptor block sequence + trailer, payload
    // appended after the trailer as trailing junk); Spark re-derives the
    // metadata by WALKING the blocks — frame counting requires skipping
    // every length-prefixed LZW sub-block chain exactly, and the fixture
    // varies palettes (absent / global / LOCAL on one frame), graphic-
    // control and comment extensions so each skip is load-bearing.
    // data_bytes (total sub-block payload) pins the length walk itself.
    "mm_gif_meta" -> ((s, d) =>
      MediaPipeline.decodedGif(s, d)
        .groupBy("source", "version")
        .agg(
          count(lit(1)).as("n_gifs"),
          sum(col("width").cast("long") * col("height")).as("px_sum"),
          max("gct_colors").as("max_colors"),
          sum(col("n_frames").cast("long")).as("frames_total"),
          sum("data_bytes").as("data_total"))
        .orderBy("source", "version")),

    // Binary content dedup — exact dedup on the raw payload bytes (md5
    // over the binary column, BEFORE any decode), reporting the storage a
    // dedup pass reclaims. Map-only hash + one uniform-key shuffle; at
    // 100 TB this is the first pass any media lake runs, and the hash key
    // makes the group-by skew-free regardless of payload size skew.
    "mm_content_dedup" -> ((s, d) =>
      MediaPipeline.mediaTable(s, d)
        .select(col("doc_id"), md5(col("media")).as("content_hash"),
          length(col("media")).cast("long").as("nbytes"))
        .groupBy("content_hash")
        .agg(
          min("doc_id").as("canonical_id"),
          count(lit(1)).as("n_copies"),
          (sum("nbytes") - max("nbytes")).as("bytes_reclaimed"))
        .select("canonical_id", "n_copies", "bytes_reclaimed")
        .orderBy("canonical_id")),

    // TIFF/EXIF metadata pass — the EIGHTH container, and the first
    // DUAL-ENDIAN one: ids % 3 == 1 are staged as complete TIFF 6.0
    // files ("II" little / "MM" big by id parity) with IFD0 (width,
    // height, make, orientation, X-resolution rational, EXIF pointer),
    // an EXIF sub-IFD (ISO, exposure rational) and for ids % 5 == 0 a
    // chained thumbnail IFD1 the walk must count. Spark re-derives
    // every value by WALKING the directories — offsets in FILE byte
    // order, inline values LEFT-packed in the 4-byte field, out-of-line
    // value areas placed BEFORE the IFD on odd ids, trailing junk
    // quoting the "II*\0" magic — while the oracle replays the doc_id
    // value model. Grouping by the PARSED endian splits every statistic
    // across the two byte orders, so a single-endian reader cannot
    // match both rows.
    "mm_exif_meta" -> ((s, d) =>
      MediaPipeline.decodedTiff(s, d)
        .groupBy("source", "endian")
        .agg(
          count(lit(1)).as("n_tiff"),
          sum("bytes").as("total_bytes"),
          sum(col("width").cast("long")).as("w_sum"),
          sum(col("height").cast("long")).as("h_sum"),
          max("orientation").as("max_orient"),
          sum("res_q").as("res_q_sum"),
          sum(col("iso").cast("long")).as("iso_sum"),
          sum(col("exp_den").cast("long")).as("exp_den_sum"),
          sum(col("n_ifds").cast("long")).as("ifds_sum"),
          sum(graft.functions.PortableHash.h60p(col("make"))).as("make_checksum"))
        .orderBy("source", "endian")),

    // FLAC metadata pass — the TENTH container: ids % 3 == 0 staged as
    // real FLAC metadata sections. The walk decodes STREAMINFO's PACKED
    // bitfields (20-bit rate / 3-bit channels / 5-bit bps / 36-bit
    // total samples — ids % 4 == 0 stage counts past 2^32, so a 32-bit
    // read fails), walks block headers by 24-bit BE length honoring the
    // is-last flag (junk after it quotes "fLaC"), accounts PADDING, and
    // decodes the VORBIS_COMMENT block whose lengths are LITTLE-endian
    // inside the otherwise big-endian container — the dual of TIFF's
    // declared-order trap. The audio-md5 signature and ARTIST comment
    // feed checksums; the oracle replays the value model including
    // md5('flac-' || id).
    "mm_flac_meta" -> ((s, d) =>
      MediaPipeline.decodedFlac(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_flac"),
          sum("bytes").as("total_bytes"),
          sum(col("sample_rate").cast("long")).as("rate_sum"),
          sum(col("channels").cast("long")).as("ch_sum"),
          sum(col("bps").cast("long")).as("bps_sum"),
          sum("total_samples").as("samples_sum"),
          sum("pad_len").as("pad_sum"),
          sum(col("n_blocks").cast("long")).as("blocks_sum"),
          sum(graft.functions.PortableHash.h60p(col("audio_md5"))).as("md5_checksum"),
          sum(graft.functions.PortableHash.h60p(col("artist"))).as("artist_checksum"))
        .orderBy("source")),

    // The WebDataset AUDIO pipeline — the audio twin of mm_wds_pipeline,
    // proving the arrival-format path for SOUND: tar shards → member
    // walk (one task per shard) → REAL 16-bit PCM WAV decode as the
    // filter stage (JSON sidecars drop out; mono and stereo both live
    // via the aid pool) → per-member sample statistics incl. the
    // sum-of-squares energy and channel-aware moments → content dedup
    // on the decoded-PCM signature (the WAV pool repeats across shards,
    // so the dedup genuinely drops copies). Per-site funnel: members →
    // wav count → decoded stats → uniques/dups/canonical checksum. The
    // oracle replays the shard model and the pcmSample arithmetic.
    "mm_wds_audio_pipeline" -> ((s, d) => {
      val paths = MediaPipeline.stageWdsAudioFixture(graft.Stage.dir(d, "wds_audio"))
      def site(c: org.apache.spark.sql.Column) = concat(lit("s"),
        (regexp_extract(c, "wdsa(\\d+)\\.tar", 1).cast("int") % 4).cast("string"))
      val m = graft.sources.TarSource.members(s, paths)
        .filter(col("typeflag") === "0")
        .withColumn("site", site(col("file")))
        .localCheckpoint(eager = false) // member audit + decode share one walk
      val memberAgg = m.groupBy("site").agg(
        count(lit(1)).as("n_members"),
        sum(when(col("name").endsWith(".wav"), 1L).otherwise(0L)).as("n_wav"))
      val dec = MediaPipeline.decodedWavMembers(s, m)
        .withColumn("site", site(col("file")))
        .localCheckpoint(eager = false) // audit + dedup share one decode
      val decAgg = dec.groupBy("site").agg(
        count(lit(1)).as("n_decoded"),
        sum("n_samples").as("samples_total"),
        sum("sum_abs").as("abs_total"),
        sum("sum_sq").as("energy_total"),
        sum("mom0").as("mom0_total"),
        sum(col("channels").cast("long")).as("ch_total"))
      val canon = dec
        .groupBy("n_samples", "sum_abs", "sum_sq", "mom0", "mom1", "channels")
        .agg(min("name").as("cname"), count(lit(1)).as("n_copies"))
      val dedupAgg = canon
        .join(dec.select(col("name").as("cname"), col("site")), Seq("cname"))
        .groupBy("site").agg(
          count(lit(1)).as("n_uniq"),
          sum(col("n_copies") - 1).as("n_dups_dropped"),
          sum(graft.functions.PortableHash.h60p(col("cname"))).as("canon_checksum"))
      memberAgg.join(decAgg, Seq("site"))
        .join(dedupAgg, Seq("site"), "left")
        .na.fill(0L, Seq("n_uniq", "n_dups_dropped", "canon_checksum"))
        .orderBy("site")
    }),

    // Ogg page-walk pass — the NINTH container (RFC 3533), the framing
    // layer under Vorbis/Opus: ids % 3 == 2 staged as 1-4 page streams
    // with REAL Ogg CRCs (forward 0x04c11db7 — zlib's reflected CRC
    // fails every page), varied lacing tables (packets completed per
    // page = sub-255 lacing count, exact-multiple 0-terminators
    // included), packets SPANNING pages with the continuation flag
    // enforced consistent both ways, BOS/EOS discipline (trailing junk
    // after EOS quotes "OggS" — a walk that doesn't stop at the flag
    // desyncs into the decoy), and a (seq+1)-weighted granule moment
    // pinning the 64-bit LE reads. The oracle replays the page model
    // including per-byte payload sums.
    "mm_ogg_pages" -> ((s, d) =>
      MediaPipeline.decodedOgg(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_streams"),
          sum("bytes").as("total_bytes"),
          sum(col("n_pages").cast("long")).as("pages_sum"),
          sum("n_packets").as("packets_sum"),
          sum(col("n_spanning").cast("long")).as("spanning_sum"),
          sum("payload_bytes").as("payload_bytes"),
          sum("payload_sum").as("payload_sum"),
          sum("granule_moment").as("granule_moment"),
          sum("serial").as("serial_sum"))
        .orderBy("source"))
  ) ++ pixelQueries

  // Pixel/sample DECODE gates (round 12): the staged payloads are COMPLETE
  // files whose pixel/sample bytes come from closed-form doc_id arithmetic
  // (MediaPipeline.pxByte / pcmSample); Spark re-derives every statistic by
  // PARSING the bytes — stride padding, bottom-up rows and B,G,R order for
  // BMP; a tokenizing ASCII header (with a comment line) and top-down RGB
  // for PPM; little-endian SIGNED 16-bit samples for PCM — while the oracle
  // recomputes the same sums from the value model via lateral range().
  // r_moment (position-weighted) makes ANY coordinate mistake fatal;
  // tl_luma pins the top-left pixel, which in a bottom-up BMP lives at the
  // start of the LAST file row. All-integer outputs: the hashes are exact.
  /** Decoded hash frame → one row per (doc, band) for a HammingBands
    * layout — the ONE banding projection the offline self-joins and the
    * persisted ingest indexes share (per family), so the two sides of
    * an index can never band differently. */
  private def bandRows(dec: org.apache.spark.sql.DataFrame,
                       bands: Seq[graft.multimodal.HammingBands.Band]): org.apache.spark.sql.DataFrame =
    dec.select(col("doc_id"), col("h_hi"), col("h_lo"),
        explode(sequence(lit(0), lit(bands.length - 1))).as("ck"))
      .withColumn("cv", expr(graft.multimodal.HammingBands.sparkCaseSql(bands)))

  /** aHash banding: the 9-band (t+1 for the ≤8 verify) layout. */
  private[graft] def ahashBandRows(dec: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bandRows(dec, graft.multimodal.HammingBands.ahash)

  /** pHash banding: the 7-band (t+1 for the ≤6 verify) layout. */
  private[graft] def phashBandRows(dec: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bandRows(dec, graft.multimodal.HammingBands.phash)

  private def pixelQueries: Map[String, Q] = Map(
    // The WebDataset END-TO-END pipeline: tar shards (the arrival
    // format) → member walk (TarSource.members, one task per shard) →
    // REAL PNG pixel decode (decode-as-filter: the .json sidecars drop
    // out) → per-image features → content dedup on the decoded pixel
    // fingerprint (w, h, channel sums, moment — the payload-md5 key is
    // not oracle-computable, the decoded fingerprint is). Per-site
    // funnel row: member audit → decoded counts/pixel sums → deduped
    // uniques, duplicates dropped, canonical-name checksum and a
    // feature checksum over the DEDUPED set. Canonical = min member
    // name globally; its site claims the unique (sites s3's shards
    // carry only re-occurrences, so its dedup columns are legitimately
    // zero — pinned via the LEFT join + fill). Scale shape: one task
    // per shard, map-only decode, one fingerprint groupBy; everything
    // after the decode is ordinary codegen'd aggregation.
    "mm_wds_pipeline" -> ((s, d) => {
      val paths = MediaPipeline.stageWdsFixture(graft.Stage.dir(d, "wds_media"))
      val m = graft.sources.TarSource.members(s, paths)
        .filter(col("typeflag") === "0")
        .withColumn("site", concat(lit("s"),
          (regexp_extract(col("file"), "wds(\\d+)\\.tar", 1).cast("int") % 4)
            .cast("string")))
        .localCheckpoint(eager = false) // member audit + decode share one walk
      val memberAgg = m.groupBy("site").agg(
        count(lit(1)).as("n_members"),
        sum(when(col("name").endsWith(".png"), 1L).otherwise(0L)).as("n_png"))
      val decoded = MediaPipeline.decodedPngMembers(s, m)
        .localCheckpoint(eager = false) // audit + dedup share one decode
      val decAgg = decoded.groupBy("site").agg(
        count(lit(1)).as("n_decoded"),
        sum(col("width").cast("long") * col("height")).as("n_px"),
        sum("r_sum").as("r_total"),
        sum("r_moment").as("moment_total"))
      val canon = decoded
        .groupBy("width", "height", "r_sum", "g_sum", "b_sum", "r_moment")
        .agg(min("name").as("cname"), count(lit(1)).as("n_copies"),
          max("tl_luma").as("tl_luma"))
      val dedupAgg = canon
        .join(decoded.select(col("name").as("cname"), col("site")), Seq("cname"))
        .groupBy("site").agg(
          count(lit(1)).as("n_uniq"),
          sum(col("n_copies") - 1).as("n_dups_dropped"),
          sum(graft.functions.PortableHash.h60p(col("cname"))).as("canon_checksum"),
          sum(col("r_sum") * 3 + col("g_sum") * 5 + col("b_sum") * 7
            + col("width").cast("long") * col("height") + col("tl_luma"))
            .as("feat_checksum"))
      memberAgg.join(decAgg, Seq("site"))
        .join(dedupAgg, Seq("site"), "left")
        .na.fill(0L, Seq("n_uniq", "n_dups_dropped", "canon_checksum", "feat_checksum"))
        .orderBy("site")
    }),

    // IMAGE near-duplicate detection via the 8×8 AVERAGE HASH (aHash) —
    // the visual member of the perceptual-dedup family and the image twin
    // of dedup_simhash: decode the staged mosaic BMPs (REAL pixel parse —
    // stride, bottom-up rows, B,G,R), integer-luma 8×8 block means, 64-bit
    // hash split into two nonnegative 32-bit halves (no signed-bit-63
    // hazard in either engine), then BANDED candidates (9 disjoint 6-8-bit
    // bands = t+1 for the t = 8 verify, so recall is GUARANTEED by
    // pigeonhole — see HammingBands; never corpus²) verified at
    // hamming ≤ 8 BEFORE the pair dedup, exactly the simhash
    // self-equi-join shape AQE can skew-split. The staged families of
    // four variants guarantee real near-dups; the oracle replays block
    // means, hash packing, banding and hamming closed-form. Scale:
    // per-band buckets shuffle-partition, the verify is
    // candidate-bounded, audits are ordinary codegen'd aggs.
    "mm_ahash_dedup" -> ((s, d) => {
      val dec = MediaPipeline.decodedAhash(s, d)
        .localCheckpoint(eager = false) // audit + candidate join share one decode
      val nb = graft.multimodal.HammingBands.ahash.length
      val chunks = dec
        .select(col("doc_id"), col("source"), col("h_hi"), col("h_lo"),
          explode(sequence(lit(0), lit(nb - 1))).as("ck"))
        .withColumn("cv", expr(
          graft.multimodal.HammingBands.sparkCaseSql(graft.multimodal.HammingBands.ahash)))
      val a = chunks.select(col("ck"), col("cv"), col("doc_id").as("da"),
        col("source").as("src"), col("h_hi").as("ha_hi"), col("h_lo").as("ha_lo"))
      val b = chunks.select(col("ck"), col("cv"), col("doc_id").as("db"),
        col("h_hi").as("hb_hi"), col("h_lo").as("hb_lo"))
      val pairs = a.join(b, Seq("ck", "cv"))
        .filter(col("da") < col("db"))
        .withColumn("ham", expr(
          "CAST(bit_count(ha_hi ^ hb_hi) + bit_count(ha_lo ^ hb_lo) AS BIGINT)"))
        .filter(col("ham") <= 8)
        .select("da", "db", "src", "ham")
        .dropDuplicates("da", "db")
      val imgAgg = dec.groupBy("source").agg(
        count(lit(1)).as("n_img"),
        sum(col("h_hi") * 3 + col("h_lo") * 5).as("hash_checksum"),
        sum("moment").as("moment_sum"))
      val pairAgg = pairs.groupBy(col("src").as("source")).agg(
        count(lit(1)).as("n_pairs"),
        sum("ham").as("hamming_sum"),
        sum(col("da") * 31 + col("db")).as("pair_checksum"))
      imgAgg.join(pairAgg, Seq("source"), "left")
        .na.fill(0L, Seq("n_pairs", "hamming_sum", "pair_checksum"))
        .orderBy("source")
    }),

    // PRODUCTION shape of mm_ahash_dedup — the PERSISTED image-dedup
    // ingest gate (the image twin of dedup_incremental_neardup_indexed):
    // the corpus aHash band index is a MAINTAINED bucketed table on
    // (ck, cv) — each arriving image batch probes it with only the
    // batch's band rows, the corpus side read EXCHANGE-FREE from its
    // buckets (plan-pinned in PlanSpec). The staged batch exercises both
    // directions: doc_id%10==7 → one-block-edited re-submissions that
    // must FLAG at hamming ≤ 8; doc_id%10==4 → transposed-layout fresh
    // images that must PASS (see MediaPipeline.ahashBatchPxValue). Same
    // t+1 (9-band) HammingBands layout as the offline job, so recall at
    // the threshold is guaranteed, and the oracle replays both value
    // models + banding closed-form.
    "mm_ahash_incremental" -> ((s, d) => {
      val corpus = MediaPipeline.decodedAhash(s, d)
      val tbl = graft.sources.FileSources.dirKeyedTable("graft_ahash_band_idx", d)
      graft.sources.FileSources.ensureBucketed(
        ahashBandRows(corpus), tbl, 8, Seq("ck", "cv"),
        Some(graft.sources.FileSources.tableFingerprint(d, Seq("documents"))))
      val batch = MediaPipeline.decodedAhashOf(s, MediaPipeline.ahashBatchStaged(s, d))
      val probe = ahashBandRows(batch)
        .select(col("ck"), col("cv"), col("doc_id").as("batch_id"),
          col("h_hi").as("hb_hi"), col("h_lo").as("hb_lo"))
      s.table(tbl)
        .join(probe, Seq("ck", "cv"))
        .withColumn("ham", expr(
          "CAST(bit_count(h_hi ^ hb_hi) + bit_count(h_lo ^ hb_lo) AS BIGINT)"))
        .filter(col("ham") <= 8)
        .select(col("batch_id"), col("doc_id").as("corpus_id"), col("ham"))
        .dropDuplicates("batch_id", "corpus_id")
        .orderBy("batch_id", "corpus_id")
    }),

    // IMAGE near-dup via the DCT PERCEPTUAL HASH (pHash) — the spectral
    // member of the family: 8×8 block means → integer DCT-II (the
    // hardcoded Dct8 table) → median-thresholded 63 AC coefficients.
    // The staged families are brightness/contrast-edited copies — the
    // photometric edit class pHash is invariant to BY CONSTRUCTION (DC
    // excluded, median scales with contrast) and the edit class the
    // aHash fixture does not exercise; integer requantization leaves
    // within-family hamming ≤ 6 while cross-family sits ≈ 31. Same
    // banded candidate shape as mm_ahash_dedup but 7 disjoint 8-11-bit
    // bands = t+1 for the t = 6 verify (guaranteed recall, see
    // HammingBands; verify INSIDE the join, AQE-skew-splittable); the
    // oracle replays block means, the separable DCT, the median rank
    // and the banding closed-form.
    "mm_phash_dedup" -> ((s, d) => {
      val dec = MediaPipeline.decodedPhash(s, d)
        .localCheckpoint(eager = false) // audit + candidate join share one decode
      val nb = graft.multimodal.HammingBands.phash.length
      val chunks = dec
        .select(col("doc_id"), col("source"), col("h_hi"), col("h_lo"),
          explode(sequence(lit(0), lit(nb - 1))).as("ck"))
        .withColumn("cv", expr(
          graft.multimodal.HammingBands.sparkCaseSql(graft.multimodal.HammingBands.phash)))
      val a = chunks.select(col("ck"), col("cv"), col("doc_id").as("da"),
        col("source").as("src"), col("h_hi").as("ha_hi"), col("h_lo").as("ha_lo"))
      val b = chunks.select(col("ck"), col("cv"), col("doc_id").as("db"),
        col("h_hi").as("hb_hi"), col("h_lo").as("hb_lo"))
      val pairs = a.join(b, Seq("ck", "cv"))
        .filter(col("da") < col("db"))
        .withColumn("ham", expr(
          "CAST(bit_count(ha_hi ^ hb_hi) + bit_count(ha_lo ^ hb_lo) AS BIGINT)"))
        .filter(col("ham") <= 6)
        .select("da", "db", "src", "ham")
        .dropDuplicates("da", "db")
      val imgAgg = dec.groupBy("source").agg(
        count(lit(1)).as("n_img"),
        sum(col("h_hi") * 3 + col("h_lo") * 5).as("hash_checksum"),
        sum("moment").as("moment_sum"))
      val pairAgg = pairs.groupBy(col("src").as("source")).agg(
        count(lit(1)).as("n_pairs"),
        sum("ham").as("hamming_sum"),
        sum(col("da") * 31 + col("db")).as("pair_checksum"))
      imgAgg.join(pairAgg, Seq("source"), "left")
        .na.fill(0L, Seq("n_pairs", "hamming_sum", "pair_checksum"))
        .orderBy("source")
    }),

    // PRODUCTION shape of mm_phash_dedup — the PERSISTED pHash ingest
    // gate (spectral twin of mm_ahash_incremental): the corpus pHash
    // band index is a MAINTAINED bucketed table on (ck, cv); each
    // arriving image batch probes it with only the batch's band rows,
    // the corpus side read EXCHANGE-FREE from its buckets (plan-pinned
    // in SkewAndBucketingSpec). The staged batch exercises the edit
    // class pHash exists for: doc_id%10==7 → a second photometric round
    // (block-level contrast ×55/50) that must FLAG at hamming ≤ 6
    // (measured worst distance 2); doc_id%10==4 → transposed-layout
    // fresh content that must PASS (measured global minimum corpus
    // distance 12 — see MediaPipeline.phashBatchPxValue). Same t+1
    // (7-band) HammingBands layout as the offline job, so recall at the
    // threshold is guaranteed; the oracle replays both value models,
    // the integer DCT and the banding closed-form.
    "mm_phash_incremental" -> ((s, d) => {
      val corpus = MediaPipeline.decodedPhash(s, d)
      val tbl = graft.sources.FileSources.dirKeyedTable("graft_phash_band_idx", d)
      graft.sources.FileSources.ensureBucketed(
        phashBandRows(corpus), tbl, 8, Seq("ck", "cv"),
        Some(graft.sources.FileSources.tableFingerprint(d, Seq("documents"))))
      val batch = MediaPipeline.decodedPhashOf(s, MediaPipeline.phashBatchStaged(s, d))
      val probe = phashBandRows(batch)
        .select(col("ck"), col("cv"), col("doc_id").as("batch_id"),
          col("h_hi").as("hb_hi"), col("h_lo").as("hb_lo"))
      s.table(tbl)
        .join(probe, Seq("ck", "cv"))
        .withColumn("ham", expr(
          "CAST(bit_count(h_hi ^ hb_hi) + bit_count(h_lo ^ hb_lo) AS BIGINT)"))
        .filter(col("ham") <= 6)
        .select(col("batch_id"), col("doc_id").as("corpus_id"), col("ham"))
        .dropDuplicates("batch_id", "corpus_id")
        .orderBy("batch_id", "corpus_id")
    }),

    "mm_bmp_pixels" -> ((s, d) =>
      MediaPipeline.decodedBmpPixels(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_img"),
          sum(col("width") * col("height")).as("n_px"),
          sum("r_sum").as("r_total"),
          sum("g_sum").as("g_total"),
          sum("b_sum").as("b_total"),
          sum("r_moment").as("moment_total"),
          sum("tl_luma").as("tl_luma_total"))
        .orderBy("source")),

    "mm_ppm_pixels" -> ((s, d) =>
      MediaPipeline.decodedPpmPixels(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_img"),
          sum(col("width") * col("height")).as("n_px"),
          sum("r_sum").as("r_total"),
          sum("g_sum").as("g_total"),
          sum("b_sum").as("b_total"),
          sum("r_moment").as("moment_total"),
          sum("tl_luma").as("tl_luma_total"))
        .orderBy("source")),

    // The COMPRESSED-format pixel decode: a complete RGB PNG per staged
    // doc — chunk walk over verified CRCs, BOTH IDAT chunks concatenated,
    // zlib inflation (java.util.zip.Inflater — in the JVM, no codec lib
    // needed), and scanline unfiltering where each image cycles all five
    // PNG filter types. Sub/Average/Paeth predict from RECONSTRUCTED
    // neighbors, so one wrong predictor corrupts every later scanline and
    // the moment column catches it.
    "mm_png_pixels" -> ((s, d) =>
      MediaPipeline.decodedPngPixels(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_img"),
          sum(col("width") * col("height")).as("n_px"),
          sum("r_sum").as("r_total"),
          sum("g_sum").as("g_total"),
          sum("b_sum").as("b_total"),
          sum("r_moment").as("moment_total"),
          sum("tl_luma").as("tl_luma_total"))
        .orderBy("source")),

    // The SECOND compressed-format pixel decode: a complete GIF89a per
    // staged doc — block walk, 256-entry global palette, and a pure-JVM
    // GIF-LZW decode (variable-width codes LSB-first, CLEAR resets, the
    // KwKwK code==next case — which the staged index runs force in EVERY
    // image) followed by palette indirection. The oracle recomputes the
    // palette-composed pixel model closed-form; the moment column makes
    // any code-width, reset, or palette-offset mistake fatal.
    "mm_gif_pixels" -> ((s, d) =>
      MediaPipeline.decodedGifPixels(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_img"),
          sum(col("width") * col("height")).as("n_px"),
          sum("r_sum").as("r_total"),
          sum("g_sum").as("g_total"),
          sum("b_sum").as("b_total"),
          sum("r_moment").as("moment_total"),
          sum("tl_luma").as("tl_luma_total"))
        .orderBy("source")),

    // The honest MP4 gate below the metadata walk: codec payloads stay
    // stubbed (their decode is not bit-deterministic), but the DEMUX
    // layer — the stts/stsz/stco sample tables that place and time every
    // sample — is pure big-endian integers. Staged files carry a real
    // ftyp→moov→trak→mdia→minf→stbl tree (tkhd/hdlr/stsd as skip boxes)
    // with tables from a closed-form model; the decoder re-reads them
    // and enforces the spec's cross-table consistency (Σ stts counts ==
    // stsz count); the i·size moment pins the per-sample order.
    "mm_mp4_samples" -> ((s, d) =>
      MediaPipeline.decodedMp4Samples(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_video"),
          sum(col("n_samples").cast("long")).as("samples_total"),
          sum("total_bytes").as("bytes_total"),
          max("max_size").as("max_sample"),
          sum("dur_units").as("dur_units_total"),
          sum(col("timescale").cast("long")).as("ts_sum"),
          sum(col("n_chunks").cast("long")).as("chunks_total"),
          sum("chunk_off_sum").as("chunk_off_total"),
          sum("size_moment").as("moment_total"),
          sum("stsc_moment").as("stsc_moment_total"),
          sum(col("has_ctts").cast("long")).as("n_ctts"),
          sum("ctts_sum").as("ctts_sum_total"),
          sum("ctts_moment").as("ctts_moment_total"))
        .orderBy("source")),

    // The fMP4/DASH half of the demux gate: fragmented files have NO
    // monolithic stbl — every moof ships its own timing/size tables.
    // Staged files exercise the full §8.8.8 default precedence (trun
    // per-sample > tfhd fragment default > mvex/trex movie default),
    // both tfdt versions, and real default-base-is-moof data offsets;
    // the decoder ENFORCES tfdt == cumulative decode duration, the
    // data_offset arithmetic, and an exact per-fragment mdat fit, so
    // the global-index size moment pins the precedence chain and
    // fragment order end to end.
    "mm_mp4_fragments" -> ((s, d) =>
      MediaPipeline.decodedMp4Fragments(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_video"),
          sum(col("n_frags").cast("long")).as("frags_total"),
          sum("seq_sum").as("seq_total"),
          sum(col("n_samples").cast("long")).as("samples_total"),
          sum("total_bytes").as("bytes_total"),
          sum("dur_total").as("dur_units_total"),
          sum("size_moment").as("moment_total"),
          sum("tfdt_sum").as("tfdt_total"),
          sum("data_off_sum").as("data_off_total"),
          sum(col("timescale").cast("long")).as("ts_sum"))
        .orderBy("source")),

    // The honest JPEG gate, one layer below pixels: the entropy layer —
    // Huffman scan decode with the Annex K.3 tables, DC prediction,
    // EOB/ZRL/(run,size) expansion, one's-complement EXTEND, and
    // dequantization — IS bit-exact by spec (only the IDCT is not, see
    // NOTES.md). Staged baseline JPEGs are synthesized directly from a
    // closed-form quantized-coefficient model (no float DCT anywhere);
    // Spark recovers the dequantized coefficients from real bytes, the
    // oracle recomputes the model; the block·64+index moment makes a
    // wrong prediction, run expansion, table or quant step fatal.
    "mm_jpeg_coeffs" -> ((s, d) =>
      MediaPipeline.decodedJpegCoeffs(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_img"),
          sum(col("n_blocks").cast("long")).as("n_blocks"),
          sum("dc_sum").as("dc_total"),
          sum("ac_abs_sum").as("ac_abs_total"),
          sum("n_nonzero_ac").as("nz_total"),
          sum("moment").as("moment_total"))
        .orderBy("source")),

    // The PROGRESSIVE (SOF2) entropy gate: the same corpus with half the
    // staged files re-encoded as T.81 Annex G scan scripts — DC
    // first/refinement (arithmetic-shift point transform), per-band AC
    // first scans (EOBn run codes, magnitude-shift point transform,
    // custom Huffman table: K.3 has no EOBn>0 symbols), per-band AC
    // refinement (zero-history runs + interleaved correction bits). The
    // script ends at Al=0, so every file reconstructs the SAME
    // closed-form coefficients and the baseline oracle applies to the
    // mixed corpus verbatim — the gate pins that the progressive decode
    // is bit-equal to the sequential one, not merely plausible.
    "mm_jpeg_coeffs_progressive" -> ((s, d) =>
      MediaPipeline.decodedJpegCoeffsMixed(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_img"),
          sum(col("n_blocks").cast("long")).as("n_blocks"),
          sum("dc_sum").as("dc_total"),
          sum("ac_abs_sum").as("ac_abs_total"),
          sum("n_nonzero_ac").as("nz_total"),
          sum("moment").as("moment_total"))
        .orderBy("source")),

    // The EXECUTED resize (mm_resize_plan only plans dims): decode the
    // staged BMP pixel arrays and nearest-neighbor-sample each to a 4×4
    // thumbnail — downscale and upscale in the same integer-floor rule —
    // then aggregate thumbnail channel sums + a position-weighted moment
    // per source. Map-only over the staged corpus, one uniform shuffle.
    "mm_resize_exec" -> ((s, d) =>
      MediaPipeline.resizedBmpThumbs(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_img"),
          sum("t_r").as("thumb_r"),
          sum("t_g").as("thumb_g"),
          sum("t_b").as("thumb_b"),
          sum("t_moment").as("thumb_moment"))
        .orderBy("source")),

    // MP3 frame walk — the seventh container (crawl audio). The gate
    // covers the two things every real MP3 reader must get right: the
    // ID3v2 SYNCSAFE size (7 bits per byte; staged tags always exceed
    // 127 bytes so the encoding is live) and the VBR frame-length
    // arithmetic from the public bitrate table (the walk must land
    // exactly on end-of-stream). kbps_total prices the table lookup
    // per frame; the TIT2 title round-trips through the tag walk.
    "mm_mp3_frames" -> ((s, d) =>
      MediaPipeline.decodedMp3(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_audio"),
          sum(col("n_frames").cast("long")).as("frames_total"),
          sum("data_bytes").as("bytes_total"),
          sum("kbps_sum").as("kbps_total"),
          sum(col("n_padded").cast("long")).as("padded_total"),
          sum("duration_ms").as("dur_ms_total"),
          sum(col("sample_rate").cast("long")).as("sr_sum"),
          sum(col("id3_bytes").cast("long")).as("id3_total"),
          sum(graft.functions.PortableHash.h60p(col("title"))).as("title_checksum"),
          // r15 depth: tag-version mix (v2.3/v2.4 syncsafe frame sizes),
          // Xing VBR header presence, the verified 100-entry seek-TOC
          // byte sum, and the quality word — all recomputed closed-form
          // by the oracle (the TOC needs windowed prefix sums over the
          // frame-length model).
          sum(col("tag_ver").cast("long")).as("ver_sum"),
          sum(col("has_vbr").cast("long")).as("n_vbr"),
          sum("toc_sum").as("toc_total"),
          sum(col("vbr_quality").cast("long")).as("quality_total"))
        .orderBy("source")),

    // Keyframe (sync-sample) extraction — the demux step frame-sampling
    // keys on: decode only keyframes, seek to sync points. Half the
    // staged MP4s carry an stss (strides 2..4); the other half pin the
    // §8.6.2 default that EVERY sample is sync. sync_bytes ties the
    // 1-based stss numbers to the stsz sizes, so an off-by-one in the
    // index conversion is fatal.
    "mm_mp4_keyframes" -> ((s, d) =>
      MediaPipeline.decodedMp4Sync(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_video"),
          sum(col("has_stss").cast("long")).as("n_with_stss"),
          sum(col("n_sync").cast("long")).as("sync_total"),
          sum("sync_sum").as("sync_sum_total"),
          sum("sync_bytes").as("sync_bytes_total"))
        .orderBy("source")),

    // Windowed audio energy — the post-decode feature extraction (VAD
    // framing, silence trimming) over the same staged PCM the sample
    // gate decodes: 16-frame windows, per-window Σ s² across channels;
    // the w·E_w moment pins window boundaries and order.
    "mm_wav_energy" -> ((s, d) =>
      MediaPipeline.decodedWavEnergy(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_audio"),
          sum(col("n_windows").cast("long")).as("windows_total"),
          sum("e_total").as("energy_total"),
          max("e_max").as("max_window_energy"),
          sum("e_moment").as("moment_total"))
        .orderBy("source")),

    // IMA ADPCM — a REAL compressed audio codec, bit-exact by spec (see
    // MediaPipeline's ADPCM scaladoc): per-source audit over the decoded
    // streams. The oracle replays the full predictor/step recurrence as
    // an integer fold with the state packed into one BIGINT, so any
    // wrong table entry, clamp, sign or index update diverges the chain.
    "mm_wav_adpcm" -> ((s, d) =>
      MediaPipeline.decodedAdpcm(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_audio"),
          sum(col("n_blocks").cast("long")).as("n_blocks"),
          sum("n_samples").as("n_samples"),
          sum("s_sum").as("s_sum"),
          sum("pred_moment").as("pred_moment"))
        .orderBy("source")),

    // FLAC frame decode — the lossless codec gate: constant / verbatim /
    // fixed / LPC subframes, Rice residuals (+ escape), all four stereo
    // decorrelation modes, wasted bits, UTF-8 frame numbers, CRC-8/16
    // verified. n_md5_ok pins the WHOLE chain: STREAMINFO's audio MD5 is
    // recomputed from the decoded PCM, so one wrong sample anywhere
    // zeroes the column. The oracle replays the closed-form model the
    // encoder consumed; lossless-by-spec means sample-exact agreement.
    "mm_flac_pcm" -> ((s, d) =>
      MediaPipeline.decodedFlacPcm(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_audio"),
          sum(col("md5_ok").cast("long")).as("n_md5_ok"),
          sum(when(col("channels") === 2, 1L).otherwise(0L)).as("n_stereo"),
          sum(col("n_frames").cast("long")).as("n_frames"),
          sum("n_samples").as("total_samples"),
          sum("sum_abs").as("sum_abs"),
          sum("sum_sq").as("sum_sq"),
          max("max_s").as("max_s"),
          min("min_s").as("min_s"),
          sum("moment").as("moment_total"))
        .orderBy("source")),

    // Spectral featurization — the step after raw decode in any audio
    // pipeline (tone/silence detection, band energies for VAD or music
    // filtering): channel-0 correlation against the 16-periodic
    // cosine/sine basis at bins 1..3, in exact integer arithmetic via
    // the hardcoded Cos16 twiddle table (see its scaladoc for why the
    // table is literal, not computed — the cos(3π/2) floor trap). Bin
    // powers square through a 128-bit intermediate; the per-doc
    // dominant bin feeds a census so a single sample slipping one frame
    // (which rotates the basis phase) flips some doc's argmax. The
    // decode is the typed mapPartitions family every codec gate shares;
    // everything after is one codegen'd per-source aggregate. Oracle
    // replays the sample model × the same table closed-form, squaring
    // in HUGEINT.
    "mm_audio_dft" -> ((s, d) =>
      MediaPipeline.decodedWavDft(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_audio"),
          sum("n_frames").as("total_frames"),
          sum("x1").as("sum_x1"), sum("p1_e6").as("sum_p1"),
          sum("x2").as("sum_x2"), sum("p2_e6").as("sum_p2"),
          sum("x3").as("sum_x3"), sum("p3_e6").as("sum_p3"),
          sum(when(col("dom_bin") === 1, 1L).otherwise(0L)).as("n_dom1"),
          sum(when(col("dom_bin") === 2, 1L).otherwise(0L)).as("n_dom2"),
          sum(when(col("dom_bin") === 3, 1L).otherwise(0L)).as("n_dom3"))
        .orderBy("source")),

    "mm_wav_pcm" -> ((s, d) =>
      MediaPipeline.decodedWavPcm(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_audio"),
          sum(when(col("channels") === 2, 1L).otherwise(0L)).as("n_stereo"),
          sum("n_samples").as("total_samples"),
          sum("sum_abs").as("sum_abs"),
          sum("sum_sq").as("sum_sq"),
          max("max_s").as("max_s"),
          min("min_s").as("min_s"),
          sum("mom0").as("mom0_total"),
          sum("mom1").as("mom1_total"))
        .orderBy("source"))
  )

  // Oracle mirrors decodeStub arithmetic on strlen(text) (ASCII ⇒
  // byte length == char length).
  /** Corpus aHash model as a DuckDB CTE chain ending in
    * hash(id, source, h_hi, h_lo, moment) — single-sourced between
    * mm_ahash_dedup and mm_ahash_incremental so the two oracles cannot
    * drift. Block means from the mosaic arithmetic (the ±3
    * column-parity ripple cancels exactly over every 8-wide block; only
    * the moment carries the constant −6144 parity term, derived in
    * MediaPipeline), then hash packing. */
  /** The pHash DCT→median→hash CTE chain over a block-means CTE
    * `blk`(id, bi, bm), emitted with prefix `p` so one statement can run
    * it twice (the incremental oracle's corpus and batch sides). Same
    * arithmetic as the mm_phash_dedup oracle: separable integer DCT-II
    * against dct8Sql (generated from the Dct8 array), median = the
    * 32nd-smallest of the 63 AC values under the (value, index) total
    * order, bit = strictly above the median. */
  private def phashChainSql(p: String, blk: String): String = {
    def D(u: String, x: String) = graft.multimodal.MediaPipeline.dct8Sql(u, x)
    s"""${p}tt AS (SELECT id, bi%8 AS x, dv.range AS v,
                          SUM(bm * ${D("dv.range", "bi//8")}) AS t
                   FROM $blk, range(8) dv GROUP BY 1, 2, 3),
            ${p}cf AS (SELECT id, du.range AS u, v,
                          SUM(t * ${D("du.range", "x")}) AS c
                   FROM ${p}tt, range(8) du GROUP BY 1, 2, 3),
            ${p}md AS (SELECT id, c AS med FROM
                     (SELECT id, c, ROW_NUMBER() OVER (PARTITION BY id
                        ORDER BY c, u*8 + v) AS rk
                      FROM ${p}cf WHERE NOT (u = 0 AND v = 0))
                   WHERE rk = 32),
            ${p}hash AS (SELECT f.id,
                            CAST(SUM(CASE WHEN u*8 + v BETWEEN 1 AND 31 AND c > med
                                          THEN (CAST(1 AS BIGINT) << (31 - (u*8 + v))) ELSE 0 END) AS BIGINT) AS h_hi,
                            CAST(SUM(CASE WHEN u*8 + v >= 32 AND c > med
                                          THEN (CAST(1 AS BIGINT) << (63 - (u*8 + v))) ELSE 0 END) AS BIGINT) AS h_lo
                     FROM ${p}cf f JOIN ${p}md m ON f.id = m.id GROUP BY f.id)"""
  }

  private val ahashCorpusHashCte: String =
    """img AS (SELECT doc_id AS id, source FROM documents),
            base AS (SELECT id, source, b.range AS bi,
                            (((id//4)*37 + bi*11 + (bi*bi)%7) % 200) + 23 AS bb
                     FROM img, range(64) b),
            blk AS (SELECT id, source, bi,
                           bb + CASE WHEN (id%4) >= 1 AND bi = ((id//4)+17) % 64
                                     THEN CASE WHEN bb < 128 THEN 90 ELSE -90 END ELSE 0 END
                              + CASE WHEN (id%4) >= 2 AND bi = ((id//4)+34) % 64
                                     THEN CASE WHEN bb < 128 THEN 90 ELSE -90 END ELSE 0 END
                              + CASE WHEN (id%4) >= 3 AND bi = ((id//4)+51) % 64
                                     THEN CASE WHEN bb < 128 THEN 90 ELSE -90 END ELSE 0 END AS bm
                    FROM base),
            gm AS (SELECT id, SUM(bm)//64 AS gmean FROM blk GROUP BY id),
            hash AS (SELECT blk.id, ANY_VALUE(source) AS source,
                            CAST(SUM(CASE WHEN bi < 32 AND bm >= gmean
                                          THEN (CAST(1 AS BIGINT) << (31 - bi)) ELSE 0 END) AS BIGINT) AS h_hi,
                            CAST(SUM(CASE WHEN bi >= 32 AND bm >= gmean
                                          THEN (CAST(1 AS BIGINT) << (63 - bi)) ELSE 0 END) AS BIGINT) AS h_lo,
                            CAST(SUM(bm * (512*(bi%8) + 32768*(bi//8) + 14624)) - 6144 AS BIGINT) AS moment
                     FROM blk JOIN gm ON blk.id = gm.id GROUP BY blk.id)"""

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    // ASCII text ⇒ byte value == codepoint; windows replicated with list
    // slices over the per-char codes.
    "mm_audio_energy" ->
      """WITH c AS (SELECT doc_id,
                           list_transform(range(1, length(text) + 1),
                             i -> ascii(text[i])) AS codes
                    FROM documents),
            w AS (SELECT doc_id, codes,
                         unnest(range(0, CAST(ceil(len(codes) / 256.0) AS BIGINT))) AS win
                  FROM c)
          SELECT doc_id, CAST(win AS INT) AS win,
                 CAST(len(list_slice(codes, win*256 + 1,
                   LEAST((win + 1)*256, len(codes)))) AS INT) AS n_bytes,
                 CAST(list_sum(list_slice(codes, win*256 + 1,
                   LEAST((win + 1)*256, len(codes)))) AS BIGINT) AS sum_bytes
          FROM w ORDER BY doc_id, win""",
    // Mixed-format corpus: doc_id%4=0 is BMP-staged (bytes grow by the
    // 54-byte header), doc_id%4=1 JPEG-staged (+48-byte SOI+APP0+COM+SOF0
    // prefix), doc_id%4=2 PNG-staged (+33 bytes); width/height are what
    // the staging WROTE — the Spark side re-derives them by parsing the
    // header bytes (LE fixed-offset for BMP, BE fixed-offset for PNG, a
    // marker WALK for JPEG) — and a single-image container is one frame;
    // doc_id%4=3 models the stub arithmetic on strlen.
    "mm_meta_stats" ->
      """WITH m AS (SELECT doc_id, source, strlen(text) AS b FROM documents),
            meta AS (SELECT doc_id, source,
                            CAST(b + CASE WHEN doc_id % 4 = 0 THEN 54
                                          WHEN doc_id % 4 = 1 THEN 48
                                          WHEN doc_id % 4 = 2 THEN 33
                                          ELSE 0 END AS BIGINT) AS bytes,
                            CASE WHEN doc_id % 4 = 0 THEN (doc_id % 600) + 20
                                 WHEN doc_id % 4 = 1 THEN ((doc_id * 7) % 640) + 16
                                 WHEN doc_id % 4 = 2 THEN ((doc_id * 5) % 512) + 16
                                 ELSE (b % 640) + 16 END AS width,
                            CASE WHEN doc_id % 4 = 0 THEN ((doc_id * 3) % 400) + 20
                                 WHEN doc_id % 4 = 1 THEN ((doc_id * 13) % 360) + 16
                                 WHEN doc_id % 4 = 2 THEN ((doc_id * 11) % 384) + 16
                                 ELSE ((b * 7) % 480) + 16 END AS height,
                            CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 1
                                 ELSE (b % 30) + 1 END AS n_frames
                     FROM m)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_media,
                CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                FLOOR(AVG(width)*10000 + 0.5)/10000 AS avg_width,
                FLOOR(AVG(height)*10000 + 0.5)/10000 AS avg_height,
                CAST(MAX(n_frames) AS INT) AS max_frames
         FROM meta GROUP BY source ORDER BY source""",
    "mm_frame_sample" ->
      """WITH m AS (SELECT doc_id, source,
                           CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 1
                                ELSE (strlen(text) % 30) + 1 END AS n_frames
                    FROM documents),
            fr AS (SELECT source, unnest(range(n_frames)) AS frame_idx FROM m)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled_frames
         FROM fr WHERE frame_idx % 5 = 0 GROUP BY source ORDER BY source""",
    // payload = utf-8 bytes of ASCII text ⇒ md5(blob) == md5(text) and
    // byte length == strlen.
    "mm_content_dedup" ->
      """SELECT MIN(doc_id) AS canonical_id,
                CAST(COUNT(*) AS BIGINT) AS n_copies,
                CAST(SUM(strlen(text)) - MAX(strlen(text)) AS BIGINT) AS bytes_reclaimed
         FROM documents GROUP BY md5(text) ORDER BY canonical_id""",
    // The WDS-audio model: shard f carries 4+(f%3) samples, each a WAV
    // from the 10-stream pool (aid = 4·((f·3+i·5)%10)); per-aid stats
    // replay pcmSample over frames × channels; dedup groups by the same
    // decoded-stats tuple the Spark side keys on.
    "mm_wds_audio_pipeline" ->
      s"""WITH sh AS (SELECT unnest(range(12)) AS f),
            mem AS (SELECT f, unnest(range(4 + f % 3)) AS i FROM sh),
            w AS (SELECT f, i, f * 100 + i AS key,
                         4 * ((f * 3 + i * 5) % 10) AS aid FROM mem),
            pool AS (SELECT DISTINCT aid FROM w),
            dims AS (SELECT aid, (aid % 50) + 10 AS n,
                            ((aid // 4) % 2) + 1 AS ch FROM pool),
            fr AS (SELECT aid, n, ch, unnest(range(n)) AS fi FROM dims),
            sp AS (SELECT aid, n, ch, fi, unnest(range(ch)) AS cc FROM fr),
            sv AS (SELECT aid, n, ch, fi, cc,
                          ((aid * 7 + fi * 31 + cc * 17) % 65521) - 32760 AS s
                   FROM sp),
            stats AS (SELECT aid, MAX(n * ch) AS n_samples,
                             SUM(ABS(s)) AS sum_abs, SUM(s * s) AS sum_sq,
                             SUM(CASE WHEN cc = 0 THEN fi * s ELSE 0 END) AS mom0,
                             SUM(CASE WHEN cc = 1 THEN fi * s ELSE 0 END) AS mom1,
                             MAX(ch) AS channels
                      FROM sv GROUP BY aid),
            rows_ AS (SELECT w.f, 's' || (w.f % 4) AS site,
                             'd' || w.f || '/a' || w.key || '.wav' AS name,
                             st.n_samples, st.sum_abs, st.sum_sq, st.mom0,
                             st.mom1, st.channels
                      FROM w JOIN stats st USING (aid)),
            ma AS (SELECT site, CAST(COUNT(*) * 2 AS BIGINT) AS n_members,
                          CAST(COUNT(*) AS BIGINT) AS n_wav
                   FROM rows_ GROUP BY 1),
            da AS (SELECT site, CAST(COUNT(*) AS BIGINT) AS n_decoded,
                          CAST(SUM(n_samples) AS BIGINT) AS samples_total,
                          CAST(SUM(sum_abs) AS BIGINT) AS abs_total,
                          CAST(SUM(sum_sq) AS BIGINT) AS energy_total,
                          CAST(SUM(mom0) AS BIGINT) AS mom0_total,
                          CAST(SUM(channels) AS BIGINT) AS ch_total
                   FROM rows_ GROUP BY 1),
            canon AS (SELECT n_samples, sum_abs, sum_sq, mom0, mom1, channels,
                             MIN(name) AS cname, COUNT(*) AS n_copies
                      FROM rows_ GROUP BY 1, 2, 3, 4, 5, 6),
            ded AS (SELECT r.site, c.cname, c.n_copies
                    FROM canon c JOIN rows_ r ON r.name = c.cname),
            dd AS (SELECT site, CAST(COUNT(*) AS BIGINT) AS n_uniq,
                          CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_dropped,
                          CAST(SUM(${graft.functions.PortableHash.h60pSql("cname")}) AS BIGINT) AS canon_checksum
                   FROM ded GROUP BY 1)
          SELECT site, n_members, n_wav, n_decoded, samples_total, abs_total,
                 energy_total, mom0_total, ch_total,
                 CAST(COALESCE(n_uniq, 0) AS BIGINT) AS n_uniq,
                 CAST(COALESCE(n_dups_dropped, 0) AS BIGINT) AS n_dups_dropped,
                 CAST(COALESCE(canon_checksum, 0) AS BIGINT) AS canon_checksum
          FROM ma JOIN da USING (site) LEFT JOIN dd USING (site)
          ORDER BY site""",
    // The staged-FLAC value model: bytes = 4 magic + 38 STREAMINFO +
    // (4 + pad) PADDING + 56 VORBIS_COMMENT + 10 junk prefix + strlen.
    "mm_flac_meta" ->
      s"""WITH t AS (SELECT doc_id AS id, source, strlen(text) AS b
                     FROM documents WHERE doc_id % 3 = 0),
            m AS (SELECT id, source,
                         CASE CAST(id % 6 AS INT)
                              WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
                              WHEN 3 THEN 44100 WHEN 4 THEN 48000 ELSE 96000 END AS rate,
                         1 + id % 8 AS ch,
                         8 + (id % 5) * 4 AS bps,
                         CASE WHEN id % 4 = 0 THEN 30000000000 + id * 1000
                              ELSE id * 100000 + 12345 END AS ns,
                         id % 50 AS pad,
                         md5('flac-' || id) AS h,
                         'artist' || (id % 5) AS artist,
                         112 + (id % 50) + b AS bytes
                  FROM t)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_flac,
                 CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                 CAST(SUM(rate) AS BIGINT) AS rate_sum,
                 CAST(SUM(ch) AS BIGINT) AS ch_sum,
                 CAST(SUM(bps) AS BIGINT) AS bps_sum,
                 CAST(SUM(ns) AS BIGINT) AS samples_sum,
                 CAST(SUM(pad) AS BIGINT) AS pad_sum,
                 CAST(SUM(3) AS BIGINT) AS blocks_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql("h")}) AS BIGINT) AS md5_checksum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql("artist")}) AS BIGINT) AS artist_checksum
          FROM m GROUP BY 1 ORDER BY source""",
    // The staged-Ogg page model from doc_id arithmetic: per page p of
    // stream id, lacing = [r3 if closing] ++ [255,255,r1,r2] ++ [255 if
    // open], so payload L and completed-packet counts are closed-form;
    // payload byte i is (id*31+p*7+i) % 251, summed via a lateral range.
    // Stream bytes = sum(27 + nseg + L) + the 10-byte junk prefix +
    // strlen(text).
    "mm_ogg_pages" ->
      """WITH t AS (SELECT doc_id AS id, source, strlen(text) AS b
                    FROM documents WHERE doc_id % 3 = 2),
            pg AS (SELECT id, source, b, unnest(range(1 + id % 4)) AS p,
                          1 + id % 4 AS n FROM t),
            m AS (SELECT id, source, b, p, n,
                         (p % 2 = 1 AND p < n - 1) AS op,
                         (p % 2 = 0 AND p >= 2) AS cl,
                         (id + p * 17) % 255 AS r1,
                         1 + (id * 3 + p * 29) % 254 AS r2,
                         (id + p) % 200 AS r3,
                         (id * 1000 + p * 137) % 100000 AS gran
                  FROM pg),
            m2 AS (SELECT *, CASE WHEN cl THEN r3 ELSE 0 END + 510 + r1 + r2 +
                             CASE WHEN op THEN 255 ELSE 0 END AS L,
                            4 + CASE WHEN cl THEN 1 ELSE 0 END +
                            CASE WHEN op THEN 1 ELSE 0 END AS nseg
                   FROM m),
            ps AS (SELECT id, p, SUM((id * 31 + p * 7 + i) % 251) AS psum
                   FROM (SELECT id, p, unnest(range(L)) AS i FROM m2)
                   GROUP BY 1, 2),
            doc AS (SELECT m2.id, m2.source, MAX(m2.n) AS n_pages,
                           SUM(2 + CASE WHEN m2.cl THEN 1 ELSE 0 END) AS n_packets,
                           SUM(CASE WHEN m2.cl THEN 1 ELSE 0 END) AS n_span,
                           SUM(m2.L) AS pb, SUM(ps.psum) AS psums,
                           SUM((m2.p + 1) * m2.gran) AS gm,
                           SUM(27 + m2.nseg + m2.L) AS stream_bytes,
                           MAX(m2.b) AS b
                    FROM m2 JOIN ps ON ps.id = m2.id AND ps.p = m2.p
                    GROUP BY 1, 2)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_streams,
                 CAST(SUM(stream_bytes + 10 + b) AS BIGINT) AS total_bytes,
                 CAST(SUM(n_pages) AS BIGINT) AS pages_sum,
                 CAST(SUM(n_packets) AS BIGINT) AS packets_sum,
                 CAST(SUM(n_span) AS BIGINT) AS spanning_sum,
                 CAST(SUM(pb) AS BIGINT) AS payload_bytes,
                 CAST(SUM(psums) AS BIGINT) AS payload_sum,
                 CAST(SUM(gm) AS BIGINT) AS granule_moment,
                 CAST(SUM((id * 7919) % 100000) AS BIGINT) AS serial_sum
          FROM doc GROUP BY 1 ORDER BY source""",
    // The staged-TIFF value model from doc_id arithmetic; bytes = 144-byte
    // fixed structure (header 8 + IFD0 78 + EXIF IFD 30 + value area 28)
    // + 18 when the thumbnail IFD1 is chained + 9 junk bytes + strlen.
    "mm_exif_meta" ->
      s"""WITH t AS (SELECT doc_id AS id, source, strlen(text) AS b
                     FROM documents WHERE doc_id % 3 = 1),
            m AS (SELECT id, source,
                         CASE WHEN id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
                         (id * 9) % 2000 + 16 AS w,
                         (id * 17) % 1500 + 16 AS h,
                         id % 8 + 1 AS orient,
                         'graft-cam-' || (id % 7) AS make,
                         ((72 + id % 300) * 1000) // (1 + id % 3) AS res_q,
                         100 + (id % 32) * 25 AS iso,
                         30 + id % 200 AS exp_den,
                         CASE WHEN id % 5 = 0 THEN 2 ELSE 1 END AS n_ifds,
                         144 + CASE WHEN id % 5 = 0 THEN 18 ELSE 0 END + 9 + b AS bytes
                  FROM t)
          SELECT source, endian, CAST(COUNT(*) AS BIGINT) AS n_tiff,
                 CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                 CAST(SUM(w) AS BIGINT) AS w_sum,
                 CAST(SUM(h) AS BIGINT) AS h_sum,
                 CAST(MAX(orient) AS INT) AS max_orient,
                 CAST(SUM(res_q) AS BIGINT) AS res_q_sum,
                 CAST(SUM(iso) AS BIGINT) AS iso_sum,
                 CAST(SUM(exp_den) AS BIGINT) AS exp_den_sum,
                 CAST(SUM(n_ifds) AS BIGINT) AS ifds_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql("make")}) AS BIGINT) AS make_checksum
          FROM m GROUP BY 1, 2 ORDER BY source, endian""",
    "mm_embed_topk" ->
      s"""WITH meta AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes,
                              (strlen(text) % 640) + 16 AS width,
                              ((strlen(text) * 7) % 480) + 16 AS height
                       FROM documents),
            feat AS (SELECT doc_id,
                            list_transform(range(8),
                              j -> CAST((bytes * (j + 3) + width * j + height) % 97 AS DOUBLE) / 97.0) AS fv
                     FROM meta),
            n AS (SELECT doc_id, fv,
                         sqrt(list_reduce(list_transform(fv, x -> x * x), (a, b) -> a + b)) AS nrm
                  FROM feat),
            probe AS (SELECT fv AS pv, nrm AS pnrm FROM n WHERE doc_id = 0),
            scored AS (SELECT a.doc_id,
                              ${DotProduct.sql("a.fv", "p.pv", 8)} / (a.nrm * p.pnrm) AS cos
                       FROM n a, probe p WHERE a.doc_id <> 0)
          SELECT doc_id, FLOOR(cos*1000000 + 0.5)/1000000 AS cos FROM scored
          ORDER BY cos DESC, doc_id LIMIT 10""",
    // PNG staging arithmetic replicated from doc_id (width/height the
    // staging WROTE; bytes = strlen + 33-byte signature+IHDR; bit depth 8
    // and color type 6 are what the staging writes and the parse must
    // read back from single bytes at offsets 24/25).
    "mm_png_meta" ->
      """WITH p AS (SELECT doc_id, source, strlen(text) AS b
                    FROM documents WHERE doc_id % 4 = 2),
            meta AS (SELECT source, CAST(b + 33 AS BIGINT) AS bytes,
                            ((doc_id * 5) % 512) + 16 AS width,
                            ((doc_id * 11) % 384) + 16 AS height
                     FROM p)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_png,
                CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                FLOOR(AVG(width)*10000 + 0.5)/10000 AS avg_width,
                FLOOR(AVG(height)*10000 + 0.5)/10000 AS avg_height,
                CAST(8 AS INT) AS max_depth,
                CAST(6 AS INT) AS max_color
         FROM meta GROUP BY source ORDER BY source""",
    // JPEG staging arithmetic replicated from doc_id (width/height the
    // staging WROTE into the SOF0 segment; bytes = strlen + the 48-byte
    // SOI+APP0+COM+SOF0 prefix; precision 8 and 3 components are what the
    // staging writes and the marker walk must read back from inside the
    // SOF payload — after skipping the variable APP0 and COM segments).
    "mm_jpeg_meta" ->
      """WITH j AS (SELECT doc_id, source, strlen(text) AS b
                    FROM documents WHERE doc_id % 4 = 1),
            meta AS (SELECT source, CAST(b + 48 AS BIGINT) AS bytes,
                            ((doc_id * 7) % 640) + 16 AS width,
                            ((doc_id * 13) % 360) + 16 AS height
                     FROM j)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_jpeg,
                CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                FLOOR(AVG(width)*10000 + 0.5)/10000 AS avg_width,
                FLOOR(AVG(height)*10000 + 0.5)/10000 AS avg_height,
                CAST(8 AS INT) AS max_precision,
                CAST(3 AS INT) AS max_components
         FROM meta GROUP BY source ORDER BY source""",
    // WAV staging arithmetic replicated from doc_id: rate from the 5-way
    // case, channels = doc_id%2+1, 16-bit samples ⇒ blockAlign =
    // channels*2; n_samples and duration_ms are integer floor division,
    // matching the JVM Long arithmetic exactly.
    "mm_wav_meta" ->
      """WITH a AS (SELECT doc_id, source, strlen(text) AS b
                    FROM documents WHERE doc_id % 3 = 0),
            meta AS (SELECT source, CAST(b + 44 AS BIGINT) AS bytes,
                            CASE CAST(doc_id % 5 AS INT)
                                 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                 WHEN 2 THEN 22050 WHEN 3 THEN 32000
                                 ELSE 44100 END AS rate,
                            b // ((doc_id % 2 + 1) * 2) AS ns
                     FROM a),
            d AS (SELECT source, bytes, rate, ns, (ns * 1000) // rate AS dur
                  FROM meta)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_audio,
                CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                FLOOR(AVG(rate)*10000 + 0.5)/10000 AS avg_rate,
                CAST(SUM(ns) AS BIGINT) AS total_samples,
                CAST(MAX(dur) AS BIGINT) AS max_duration_ms
         FROM d GROUP BY source ORDER BY source""",
    // The staged-GIF model in SQL: frame count and per-frame sub-block
    // lengths are pure doc_id arithmetic; data bytes need one unnest over
    // range(frames) per gif.
    "mm_gif_meta" ->
      """WITH g AS (SELECT doc_id, source,
                           CASE WHEN doc_id % 2 = 0 THEN '89a' ELSE '87a' END AS version,
                           (doc_id * 3) % 500 + 10 AS w,
                           (doc_id * 7) % 300 + 10 AS h,
                           CASE WHEN doc_id % 4 = 1 THEN 0
                                ELSE (1 << CAST((doc_id % 8) + 1 AS INT)) END AS gct,
                           1 + doc_id % 4 AS frames
                    FROM documents WHERE doc_id % 3 = 0),
            fj AS (SELECT doc_id, unnest(range(frames)) AS j FROM g),
            db AS (SELECT doc_id,
                          CAST(SUM(2 + (doc_id * 13 + j * 7) % 200
                                     + (doc_id * 11 + j * 3) % 150) AS BIGINT) AS data_bytes
                   FROM fj GROUP BY 1)
         SELECT source, version, CAST(COUNT(*) AS BIGINT) AS n_gifs,
                CAST(SUM(w * h) AS BIGINT) AS px_sum,
                CAST(MAX(gct) AS INT) AS max_colors,
                CAST(SUM(frames) AS BIGINT) AS frames_total,
                CAST(SUM(db.data_bytes) AS BIGINT) AS data_total
         FROM g JOIN db USING (doc_id)
         GROUP BY source, version ORDER BY source, version""",
    // MP4 staging arithmetic replicated from doc_id: brand from the
    // (id/3)%3 case, timescale from the id%5 case, duration u64-range for
    // v1 rows (id%6==0); bytes = strlen + ftyp(20) + top-level free
    // (24 when id%9==0 — largesize form — else 16) + moov header+child
    // free (8+12=20) + mvhd (120 for v1, else 108) + mdat header (8);
    // duration_ms is integer floor division, matching the JVM Long
    // arithmetic exactly.
    "mm_mp4_meta" ->
      """WITH v AS (SELECT doc_id, source, strlen(text) AS b
                    FROM documents WHERE doc_id % 3 = 0),
            m AS (SELECT source,
                         CAST(b + 20 + CASE WHEN doc_id % 9 = 0 THEN 24 ELSE 16 END
                                + 20 + CASE WHEN doc_id % 6 = 0 THEN 120 ELSE 108 END
                                + 8 AS BIGINT) AS bytes,
                         CASE CAST((doc_id // 3) % 3 AS INT)
                              WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
                              ELSE 'avc1' END AS brand,
                         CASE CAST(doc_id % 5 AS INT)
                              WHEN 0 THEN 600 WHEN 1 THEN 1000 WHEN 2 THEN 90000
                              WHEN 3 THEN 44100 ELSE 24 END AS ts,
                         CASE WHEN doc_id % 6 = 0
                              THEN 4294967296 + (doc_id * 37) % 1000000
                              ELSE (doc_id * 37) % 100000 + 1 END AS dur
                  FROM v)
         SELECT source, brand, CAST(COUNT(*) AS BIGINT) AS n_video,
                CAST(SUM(bytes) AS BIGINT) AS total_bytes,
                FLOOR(AVG(ts)*10000 + 0.5)/10000 AS avg_timescale,
                CAST(MAX(dur) AS BIGINT) AS max_duration,
                CAST(MAX((dur * 1000) // ts) AS BIGINT) AS max_duration_ms
         FROM m GROUP BY source, brand ORDER BY source, brand""",
    "mm_resize_plan" ->
      """WITH meta AS (SELECT doc_id,
                              CASE WHEN doc_id % 4 = 0 THEN (doc_id % 600) + 20
                                   WHEN doc_id % 4 = 1 THEN ((doc_id * 7) % 640) + 16
                                   WHEN doc_id % 4 = 2 THEN ((doc_id * 5) % 512) + 16
                                   ELSE (strlen(text) % 640) + 16 END AS width,
                              CASE WHEN doc_id % 4 = 0 THEN ((doc_id * 3) % 400) + 20
                                   WHEN doc_id % 4 = 1 THEN ((doc_id * 13) % 360) + 16
                                   WHEN doc_id % 4 = 2 THEN ((doc_id * 11) % 384) + 16
                                   ELSE ((strlen(text) * 7) % 480) + 16 END AS height
                       FROM documents)
         SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
                CAST(FLOOR(width * LEAST(224.0 / width, 224.0 / height)) AS INT) AS out_w,
                CAST(FLOOR(height * LEAST(224.0 / width, 224.0 / height)) AS INT) AS out_h
         FROM meta ORDER BY doc_id"""
  ) ++ pixelOracles

  // The pixel/sample oracles recompute every statistic from the SAME
  // closed-form value model the staging wrote (pxByte / pcmSample), via a
  // lateral range() cross join — ~200 cells per image, ~60 samples per
  // stream, trivial at oracle scale. Spark, by contrast, only ever sees
  // the BYTES: the match proves the decode.
  /** The staged-JPEG coefficient model recomputed closed-form — shared
    * by the baseline gate and the mixed baseline+progressive gate (the
    * progressive scan script ends at Al=0, so both decode to the same
    * model): per block b, DC = ((id·31 + b·17) mod 128 − 64)
    * dequantized by q(0); AC nonzero on the stride-23 lattice with the
    * ±[1,15] value rule, dequantized by q(u) = 1 + (u·7 + id) mod 16. */
  private def jpegCoeffsSql: String =
    """WITH img AS (SELECT doc_id, source,
                             CAST(8 * (1 + (doc_id % 4)) AS BIGINT) AS w,
                             CAST(8 * (1 + ((doc_id // 3) % 3)) AS BIGINT) AS h
                      FROM documents WHERE doc_id % 3 = 0),
            blk AS (SELECT i.doc_id, i.source, i.w, i.h, bs.b
                    FROM img i,
                         LATERAL (SELECT unnest(range((i.w // 8) * (i.h // 8))) AS b) bs),
            dc AS (SELECT doc_id, source, b,
                          ((doc_id*31 + b*17) % 128 - 64) * (1 + (doc_id % 16)) AS dcd
                   FROM blk),
            ac AS (SELECT k.doc_id, k.source, k.b, us.u,
                          (CASE WHEN (us.u + k.b + k.doc_id) % 23 = 0 THEN
                             (CASE WHEN ((k.doc_id + us.u*3 + k.b*7) % 30 - 15) >= 0
                                   THEN ((k.doc_id + us.u*3 + k.b*7) % 30 - 15) + 1
                                   ELSE ((k.doc_id + us.u*3 + k.b*7) % 30 - 15) END)
                           ELSE 0 END)
                          * (1 + ((us.u*7 + k.doc_id) % 16)) AS acd
                   FROM blk k,
                        LATERAL (SELECT unnest(range(1, 64)) AS u) us),
            per AS (SELECT d.doc_id, d.source,
                           COUNT(*) AS n_blocks,
                           SUM(d.dcd) AS dc_sum,
                           SUM(d.b * 64 * d.dcd) AS dc_moment
                    FROM dc d GROUP BY d.doc_id, d.source),
            pera AS (SELECT doc_id, SUM(ABS(acd)) AS ac_abs,
                            SUM(CASE WHEN acd <> 0 THEN 1 ELSE 0 END) AS nz,
                            SUM((b * 64 + u) * acd) AS ac_moment
                     FROM ac GROUP BY doc_id)
         SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_img,
                CAST(SUM(p.n_blocks) AS BIGINT) AS n_blocks,
                CAST(SUM(p.dc_sum) AS BIGINT) AS dc_total,
                CAST(SUM(a.ac_abs) AS BIGINT) AS ac_abs_total,
                CAST(SUM(a.nz) AS BIGINT) AS nz_total,
                CAST(SUM(p.dc_moment + a.ac_moment) AS BIGINT) AS moment_total
         FROM per p JOIN pera a USING (doc_id)
         GROUP BY p.source ORDER BY p.source"""

  /** The banded candidates of one 64-bit hash table: each row of `from`
    * (with `cols`, h_hi and h_lo) once per band, `ck` the band, `cv` its
    * value. */
  private def bandedSql(cols: String, from: String, bands: Seq[HammingBands.Band]): String =
    s"""SELECT $cols, h_hi, h_lo, k.range AS ck,
               ${HammingBands.duckCaseSql(bands, "k.range")} AS cv
        FROM $from, range(${bands.length}) k"""

  /** Hamming distance of the 64-bit hashes in rows `a` and `b`. */
  private def hamSql(a: String, b: String): String =
    s"bit_count(xor($a.h_hi, $b.h_hi)) + bit_count(xor($a.h_lo, $b.h_lo))"

  /** The perceptual-hash dedup audit over the CTE `hash` (id, source,
    * h_hi, h_lo): band-collided pairs within t = bands − 1 bits (the
    * t+1-band layouts guarantee recall at t), then per source the image
    * audit `ia` (its body given: source, n_img, hash_checksum,
    * moment_sum) left-joined to the pair audit. */
  private def hammingAuditSql(bands: Seq[HammingBands.Band], ia: String): String =
    s"""ch AS (${bandedSql("id, source", "hash", bands)}),
            pr AS (SELECT DISTINCT a.id AS da, b.id AS db, a.source AS src,
                          ${hamSql("a", "b")} AS ham
                   FROM ch a JOIN ch b ON a.ck = b.ck AND a.cv = b.cv AND a.id < b.id
                   WHERE ${hamSql("a", "b")} <= ${bands.length - 1}),
            ia AS ($ia),
            pa AS (SELECT src AS source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                          CAST(SUM(ham) AS BIGINT) AS hamming_sum,
                          CAST(SUM(da*31 + db) AS BIGINT) AS pair_checksum
                   FROM pr GROUP BY src)
         SELECT ia.source, ia.n_img, ia.hash_checksum, ia.moment_sum,
                COALESCE(pa.n_pairs, 0) AS n_pairs,
                COALESCE(pa.hamming_sum, 0) AS hamming_sum,
                COALESCE(pa.pair_checksum, 0) AS pair_checksum
         FROM ia LEFT JOIN pa USING (source) ORDER BY ia.source"""

  /** The incremental probe of batch hashes `bhash` against the corpus
    * hashes `corpus` (both id, h_hi, h_lo): band-collided (corpus, batch)
    * pairs within t = bands − 1 bits. */
  private def bandProbeSql(bands: Seq[HammingBands.Band], corpus: String): String =
    s"""cch AS (${bandedSql("id", corpus, bands)}),
            bch AS (${bandedSql("id", "bhash", bands)})
          SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id,
                 CAST(${hamSql("c", "b")} AS BIGINT) AS ham
          FROM cch c JOIN bch b ON c.ck = b.ck AND c.cv = b.cv
          WHERE ${hamSql("c", "b")} <= ${bands.length - 1}
          ORDER BY batch_id, corpus_id"""

  /** A staged image fixture's closed-form pixel model. `px` are the
    * per-pixel columns over (i.doc_id, xs.x, ys.y); a palette model
    * gives them as index `k` and maps k to r, g, b in `rgb`; `tlLuma`
    * is the integer luma of the top-left pixel over doc_id. */
  private case class PixelModel(px: String, rgb: Option[String], tlLuma: String)

  /** The BMP/PPM/PNG model: each channel affine in (id, x, y) mod 251. */
  private val RgbAffine = PixelModel(
    """(i.doc_id*31 + xs.x*7 + ys.y*13) % 251 AS r,
       (i.doc_id*31 + xs.x*7 + ys.y*13 + 101) % 251 AS g,
       (i.doc_id*31 + xs.x*7 + ys.y*13 + 202) % 251 AS b""",
    None,
    """(299*((doc_id*31) % 251) + 587*((doc_id*31 + 101) % 251)
       + 114*((doc_id*31 + 202) % 251)) // 1000""")

  /** The staged-GIF model composed closed-form: palette index
    * k(x,y) = (id·31 + (x÷5)·7 + y·13) mod 256 (the x÷5 runs are the
    * KwKwK forcing), channels = three affine rules over k mod 251 —
    * exactly what the staging wrote through a REAL LZW compressor and
    * Spark re-derived by decompressing real bytes. */
  private val GifPalette = PixelModel(
    "(i.doc_id*31 + (xs.x // 5)*7 + ys.y*13) % 256 AS k",
    Some("""(k*3 + doc_id) % 251 AS r,
            (k*5 + doc_id*2) % 251 AS g,
            (k*7 + doc_id*3) % 251 AS b"""),
    """(299*((((doc_id*31) % 256)*3 + doc_id) % 251)
       + 587*((((doc_id*31) % 256)*5 + doc_id*2) % 251)
       + 114*((((doc_id*31) % 256)*7 + doc_id*3) % 251)) // 1000""")

  /** Per-source pixel totals of the images kept by `keep` (a doc_id
    * predicate), each `w` × `h` (SQL over doc_id) under `model`: pixel
    * count, channel sums, the raster-order red moment and the top-left
    * luma, recomputed from the value model the staging wrote. */
  private def pixelTotalsSql(w: String, h: String, keep: String, model: PixelModel): String = {
    val rgb = model.rgb.fold("")(c =>
      s"""ch AS (SELECT doc_id, source, w, h, x, y,
                          $c
                   FROM px),""")
    s"""WITH img AS (SELECT doc_id, source,
                             CAST($w AS BIGINT) AS w,
                             CAST($h AS BIGINT) AS h
                      FROM documents WHERE $keep),
            px AS (SELECT i.doc_id, i.source, i.w, i.h, xs.x, ys.y,
                          ${model.px}
                   FROM img i,
                        LATERAL (SELECT unnest(range(i.w)) AS x) xs,
                        LATERAL (SELECT unnest(range(i.h)) AS y) ys),
            $rgb
            per_doc AS (SELECT doc_id, source, MAX(w*h) AS n_px,
                               SUM(r) AS r_sum, SUM(g) AS g_sum, SUM(b) AS b_sum,
                               SUM((y*w + x) * r) AS r_moment
                        FROM ${if (model.rgb.isEmpty) "px" else "ch"} GROUP BY doc_id, source),
            tl AS (SELECT doc_id,
                          ${model.tlLuma} AS tl_luma
                   FROM img)
         SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_img,
                CAST(SUM(p.n_px) AS BIGINT) AS n_px,
                CAST(SUM(p.r_sum) AS BIGINT) AS r_total,
                CAST(SUM(p.g_sum) AS BIGINT) AS g_total,
                CAST(SUM(p.b_sum) AS BIGINT) AS b_total,
                CAST(SUM(p.r_moment) AS BIGINT) AS moment_total,
                CAST(SUM(t.tl_luma) AS BIGINT) AS tl_luma_total
         FROM per_doc p JOIN tl t USING (doc_id)
         GROUP BY p.source ORDER BY p.source"""
  }

  private def pixelOracles: Map[String, String] = Map(
    // The whole pipeline recomputed closed-form: the shard/sample model
    // (8 shards, 4+f%3 samples, img = 3·((f·5+i·7) mod 9)), the staged-
    // PNG pixel model per distinct image, the per-site member and decode
    // audits, and the dedup over the SAME fingerprint key Spark groups
    // on — never a byte parsed.
    "mm_wds_pipeline" ->
      s"""WITH sh AS (SELECT unnest(range(8)) AS f),
            smp AS (SELECT sh.f, us.i, CAST(sh.f*100 + us.i AS BIGINT) AS key,
                           CAST(3 * ((sh.f*5 + us.i*7) % 9) AS BIGINT) AS img
                    FROM sh, LATERAL (SELECT unnest(range(4 + sh.f % 3)) AS i) us),
            mem AS (SELECT 's' || CAST(f % 4 AS VARCHAR) AS site,
                           CAST(2 * COUNT(*) AS BIGINT) AS n_members,
                           CAST(COUNT(*) AS BIGINT) AS n_png
                    FROM smp GROUP BY 1),
            imgs AS (SELECT DISTINCT img FROM smp),
            dims AS (SELECT img, CAST(((img*3) % 15) + 3 AS BIGINT) AS w,
                            CAST(((img*13) % 10) + 2 AS BIGINT) AS h
                     FROM imgs),
            px AS (SELECT d.img, d.w, d.h, xs.x, ys.y,
                          (d.img*31 + xs.x*7 + ys.y*13) % 251 AS r,
                          (d.img*31 + xs.x*7 + ys.y*13 + 101) % 251 AS g,
                          (d.img*31 + xs.x*7 + ys.y*13 + 202) % 251 AS b
                   FROM dims d,
                        LATERAL (SELECT unnest(range(d.w)) AS x) xs,
                        LATERAL (SELECT unnest(range(d.h)) AS y) ys),
            stat AS (SELECT img, MAX(w) AS w, MAX(h) AS h, MAX(w*h) AS n_px,
                            SUM(r) AS r_sum, SUM(g) AS g_sum, SUM(b) AS b_sum,
                            SUM((y*w + x) * r) AS r_moment
                     FROM px GROUP BY img),
            tl AS (SELECT img, (299*((img*31) % 251) + 587*((img*31 + 101) % 251)
                                + 114*((img*31 + 202) % 251)) // 1000 AS tl_luma
                   FROM imgs),
            dec AS (SELECT 's' || CAST(s.f % 4 AS VARCHAR) AS site,
                           'd' || CAST(s.f AS VARCHAR) || '/w' ||
                             CAST(s.key AS VARCHAR) || '.png' AS name,
                           t.w, t.h, t.n_px, t.r_sum, t.g_sum, t.b_sum,
                           t.r_moment, l.tl_luma
                    FROM smp s JOIN stat t ON s.img = t.img
                               JOIN tl l ON s.img = l.img),
            deca AS (SELECT site, CAST(COUNT(*) AS BIGINT) AS n_decoded,
                            CAST(SUM(n_px) AS BIGINT) AS n_px,
                            CAST(SUM(r_sum) AS BIGINT) AS r_total,
                            CAST(SUM(r_moment) AS BIGINT) AS moment_total
                     FROM dec GROUP BY site),
            canon AS (SELECT w, h, r_sum, g_sum, b_sum, r_moment,
                             MIN(name) AS cname, COUNT(*) AS n_copies,
                             MAX(tl_luma) AS tl_luma
                      FROM dec GROUP BY 1, 2, 3, 4, 5, 6),
            deda AS (SELECT d.site, CAST(COUNT(*) AS BIGINT) AS n_uniq,
                            CAST(SUM(c.n_copies - 1) AS BIGINT) AS n_dups_dropped,
                            CAST(SUM(${graft.functions.PortableHash.h60pSql("c.cname")}) AS BIGINT) AS canon_checksum,
                            CAST(SUM(c.r_sum*3 + c.g_sum*5 + c.b_sum*7
                                     + c.w*c.h + c.tl_luma) AS BIGINT) AS feat_checksum
                     FROM canon c JOIN dec d ON c.cname = d.name
                     GROUP BY d.site)
          SELECT m.site, m.n_members, m.n_png,
                 a.n_decoded, a.n_px, a.r_total, a.moment_total,
                 CAST(COALESCE(d.n_uniq, 0) AS BIGINT) AS n_uniq,
                 CAST(COALESCE(d.n_dups_dropped, 0) AS BIGINT) AS n_dups_dropped,
                 CAST(COALESCE(d.canon_checksum, 0) AS BIGINT) AS canon_checksum,
                 CAST(COALESCE(d.feat_checksum, 0) AS BIGINT) AS feat_checksum
          FROM mem m JOIN deca a USING (site) LEFT JOIN deda d USING (site)
          ORDER BY m.site""",
    // The aHash model replayed closed-form: block means from the mosaic
    // arithmetic (the ±3 column-parity ripple cancels exactly over every
    // 8-wide block, so no per-pixel range is needed — only the moment
    // carries the constant −6144 parity term, derived in MediaPipeline),
    // then hash packing, the t+1 (9-band) hamming banding, the verify
    // and the same per-source audits.
    "mm_ahash_dedup" ->
      s"""WITH $ahashCorpusHashCte,
            ${hammingAuditSql(HammingBands.ahash,
              "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_img, " +
                "CAST(SUM(h_hi*3 + h_lo*5) AS BIGINT) AS hash_checksum, " +
                "CAST(SUM(moment) AS BIGINT) AS moment_sum FROM hash GROUP BY source")}""",

    // The ingest gate replayed: corpus hashes from the shared CTE, batch
    // hashes from the BATCH value model (id%10==7: the corpus blocks +
    // variant deltas + one extra ±90 edit on block (fam+4)%64; id%10==4:
    // the transposed-layout base, no deltas), both banded with the same
    // t+1 layout, hamming ≤ 8 on band-collided (corpus, batch) pairs.
    "mm_ahash_incremental" ->
      s"""WITH $ahashCorpusHashCte,
            bbase AS (SELECT id, b.range AS bi,
                             (((id//4)*37 + bi*11 + (bi*bi)%7) % 200) + 23 AS bb,
                             (((id//4)*37 + ((bi%8)*8 + bi//8)*11
                               + (((bi%8)*8 + bi//8)*((bi%8)*8 + bi//8))%7) % 200) + 23 AS tb
                      FROM (SELECT doc_id AS id FROM documents
                            WHERE doc_id%10 = 4 OR doc_id%10 = 7) bi2, range(64) b),
            bblk AS (SELECT id, bi,
                            CASE WHEN id%10 = 7 THEN
                              bb + CASE WHEN (id%4) >= 1 AND bi = ((id//4)+17) % 64
                                        THEN CASE WHEN bb < 128 THEN 90 ELSE -90 END ELSE 0 END
                                 + CASE WHEN (id%4) >= 2 AND bi = ((id//4)+34) % 64
                                        THEN CASE WHEN bb < 128 THEN 90 ELSE -90 END ELSE 0 END
                                 + CASE WHEN (id%4) >= 3 AND bi = ((id//4)+51) % 64
                                        THEN CASE WHEN bb < 128 THEN 90 ELSE -90 END ELSE 0 END
                                 + CASE WHEN bi = ((id//4)+4) % 64
                                        THEN CASE WHEN bb < 128 THEN 90 ELSE -90 END ELSE 0 END
                            ELSE tb END AS bm
                     FROM bbase),
            bgm AS (SELECT id, SUM(bm)//64 AS gmean FROM bblk GROUP BY id),
            bhash AS (SELECT bblk.id,
                             CAST(SUM(CASE WHEN bi < 32 AND bm >= gmean
                                           THEN (CAST(1 AS BIGINT) << (31 - bi)) ELSE 0 END) AS BIGINT) AS h_hi,
                             CAST(SUM(CASE WHEN bi >= 32 AND bm >= gmean
                                           THEN (CAST(1 AS BIGINT) << (63 - bi)) ELSE 0 END) AS BIGINT) AS h_lo
                      FROM bblk JOIN bgm ON bblk.id = bgm.id GROUP BY bblk.id),
            ${bandProbeSql(HammingBands.ahash, "hash")}""",

    // Block means from the photometric model, then the SAME separable
    // integer DCT (dct8Sql is generated from the Dct8 array), median by
    // exact rank under the (value, index) total order, and the banded
    // pair join. The moment closed form matches the ahash fixture's
    // geometry (same 64×64 mosaic layout and ripple).
    "mm_phash_dedup" -> {
      def D(u: String, x: String) = graft.multimodal.MediaPipeline.dct8Sql(u, x)
      s"""WITH img AS (SELECT doc_id AS id, source FROM documents),
            bb AS (SELECT id, source, b.range AS bi,
                          ((((id//4)*37 + b.range*11 +
                             (((id//4) + b.range)*((id//4) + b.range)) % 97) % 200) + 23) AS pb
                   FROM img, range(64) b),
            blk AS (SELECT id, source, bi,
                           pb - 6 + ((id%4)*(pb - 122) + 300) // 50 + 3*(id%4) AS bm
                    FROM bb),
            mo AS (SELECT id, CAST(SUM(bm * (512*(bi%8) + 32768*(bi//8) + 14624)) - 6144 AS BIGINT) AS moment
                   FROM blk GROUP BY id),
            tt AS (SELECT id, source, bi%8 AS x, dv.range AS v,
                          SUM(bm * ${D("dv.range", "bi//8")}) AS t
                   FROM blk, range(8) dv GROUP BY 1, 2, 3, 4),
            cf AS (SELECT id, source, du.range AS u, v,
                          SUM(t * ${D("du.range", "x")}) AS c
                   FROM tt, range(8) du GROUP BY 1, 2, 3, 4),
            md AS (SELECT id, c AS med FROM
                     (SELECT id, c, ROW_NUMBER() OVER (PARTITION BY id
                        ORDER BY c, u*8 + v) AS rk
                      FROM cf WHERE NOT (u = 0 AND v = 0))
                   WHERE rk = 32),
            hash AS (SELECT cf.id, ANY_VALUE(cf.source) AS source,
                            CAST(SUM(CASE WHEN u*8 + v BETWEEN 1 AND 31 AND c > med
                                          THEN (CAST(1 AS BIGINT) << (31 - (u*8 + v))) ELSE 0 END) AS BIGINT) AS h_hi,
                            CAST(SUM(CASE WHEN u*8 + v >= 32 AND c > med
                                          THEN (CAST(1 AS BIGINT) << (63 - (u*8 + v))) ELSE 0 END) AS BIGINT) AS h_lo
                     FROM cf JOIN md ON cf.id = md.id GROUP BY cf.id),
            ${hammingAuditSql(HammingBands.phash,
              "SELECT h.source, CAST(COUNT(*) AS BIGINT) AS n_img, " +
                "CAST(SUM(h.h_hi*3 + h.h_lo*5) AS BIGINT) AS hash_checksum, " +
                "CAST(SUM(m.moment) AS BIGINT) AS moment_sum " +
                "FROM hash h JOIN mo m ON h.id = m.id GROUP BY h.source")}"""
    },

    // The pHash ingest gate replayed: corpus hashes from the photometric
    // model, batch hashes from the BATCH value model (id%10==7: the
    // corpus block value re-contrasted ×55/50 — the nonneg-dividend
    // form mirrors MediaPipeline.phashBatchPxValue; id%10==4: the
    // transposed-layout base, no variant deltas), both through the same
    // integer-DCT chain and t+1 banding, hamming ≤ 6 on band-collided
    // (corpus, batch) pairs.
    "mm_phash_incremental" ->
      s"""WITH cbb AS (SELECT doc_id AS id, b.range AS bi,
                          ((((doc_id//4)*37 + b.range*11 +
                             (((doc_id//4) + b.range)*((doc_id//4) + b.range)) % 97) % 200) + 23) AS pb
                   FROM documents, range(64) b),
            cblk AS (SELECT id, bi,
                            pb - 6 + ((id%4)*(pb - 122) + 300) // 50 + 3*(id%4) AS bm
                     FROM cbb),
            ${phashChainSql("c", "cblk")},
            bbb AS (SELECT id, b.range AS bi,
                           ((((id//4)*37 + b.range*11 +
                              (((id//4) + b.range)*((id//4) + b.range)) % 97) % 200) + 23) AS pb,
                           ((((id//4)*37 + ((b.range%8)*8 + b.range//8)*11 +
                              (((id//4) + ((b.range%8)*8 + b.range//8))
                               *((id//4) + ((b.range%8)*8 + b.range//8))) % 97) % 200) + 23) AS tb
                    FROM (SELECT doc_id AS id FROM documents
                          WHERE doc_id%10 = 4 OR doc_id%10 = 7) bi2, range(64) b),
            bblk AS (SELECT id, bi,
                            CASE WHEN id%10 = 7 THEN
                              (pb - 6 + ((id%4)*(pb - 122) + 300) // 50 + 3*(id%4)) - 10
                                + (5*((pb - 6 + ((id%4)*(pb - 122) + 300) // 50 + 3*(id%4)) - 122) + 500) // 50
                            ELSE tb END AS bm
                     FROM bbb),
            ${phashChainSql("b", "bblk")},
            ${bandProbeSql(HammingBands.phash, "chash")}""",

    "mm_bmp_pixels" -> pixelTotalsSql("(doc_id % 13) + 3", "((doc_id * 3) % 11) + 2", "doc_id % 4 = 0", RgbAffine),
    "mm_ppm_pixels" -> pixelTotalsSql("((doc_id * 5) % 14) + 3", "((doc_id * 7) % 12) + 2", "doc_id % 4 = 2", RgbAffine),
    "mm_resize_exec" ->
      """WITH img AS (SELECT doc_id, source,
                             CAST((doc_id % 13) + 3 AS BIGINT) AS w,
                             CAST(((doc_id * 3) % 11) + 2 AS BIGINT) AS h
                      FROM documents WHERE doc_id % 4 = 0),
            th AS (SELECT i.doc_id, i.source,
                          (i.doc_id*31 + ((xs.x * i.w) // 4)*7
                           + ((ys.y * i.h) // 4)*13) % 251 AS r,
                          (i.doc_id*31 + ((xs.x * i.w) // 4)*7
                           + ((ys.y * i.h) // 4)*13 + 101) % 251 AS g,
                          (i.doc_id*31 + ((xs.x * i.w) // 4)*7
                           + ((ys.y * i.h) // 4)*13 + 202) % 251 AS b,
                          ys.y*4 + xs.x AS pos
                   FROM img i,
                        LATERAL (SELECT unnest(range(4)) AS x) xs,
                        LATERAL (SELECT unnest(range(4)) AS y) ys),
            per AS (SELECT doc_id, source, SUM(r) AS r_s, SUM(g) AS g_s,
                           SUM(b) AS b_s, SUM(pos * r) AS m_s
                    FROM th GROUP BY doc_id, source)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_img,
                CAST(SUM(r_s) AS BIGINT) AS thumb_r,
                CAST(SUM(g_s) AS BIGINT) AS thumb_g,
                CAST(SUM(b_s) AS BIGINT) AS thumb_b,
                CAST(SUM(m_s) AS BIGINT) AS thumb_moment
         FROM per GROUP BY source ORDER BY source""",
    "mm_png_pixels" -> pixelTotalsSql("((doc_id * 3) % 15) + 3", "((doc_id * 13) % 10) + 2", "doc_id % 3 = 0", RgbAffine),
    "mm_gif_pixels" -> pixelTotalsSql("((doc_id * 5) % 33) + 8", "((doc_id * 11) % 25) + 6", "doc_id % 3 = 0", GifPalette),
    // The staged-MP4 sample-table model recomputed closed-form: n
    // samples with sizes 100 + (id·13 + i·31) mod 900, a two-run stts
    // (split a = 1 + id mod (n−1)), 1..3 chunk offsets, media timescale
    // 12288 + id mod 1000. stsc: uniform q = n DIV (c+1) per leading
    // chunk, remainder last → sample i lives in chunk LEAST(i DIV q,
    // c−1); the moment weights each chunk's byte sum by its 0-based
    // index. ctts: present iff (id/3) mod 5 < 3, version ((id/3) mod 5)
    // mod 2, two runs split at a2 = 1 + (id/3) mod (n−1), offsets o1 =
    // id mod 300 and o2 = 200 + id mod 100 (v0) / −(100 + id mod 100)
    // (v1 — the SIGNED case); the moment is the closed triangular form
    // of Σ i·off_i.
    "mm_mp4_samples" ->
      """WITH v AS (SELECT doc_id, source,
                           CAST(5 + (doc_id % 7) * 3 AS BIGINT) AS n,
                           CAST(1 + ((doc_id // 3) % 3) AS BIGINT) AS c,
                           CAST(12288 + doc_id % 1000 AS BIGINT) AS ts
                    FROM documents WHERE doc_id % 3 = 0),
            sp AS (SELECT doc_id, 1 + doc_id % (n - 1) AS a,
                          512 + doc_id % 100 AS d1, 1024 + doc_id % 200 AS d2, n
                   FROM v),
            smp AS (SELECT k.doc_id, k.source, us.i,
                           100 + (k.doc_id*13 + us.i*31) % 900 AS sz,
                           LEAST(us.i // GREATEST(1, k.n // (k.c + 1)), k.c - 1) AS chunk_j
                    FROM v k, LATERAL (SELECT unnest(range(k.n)) AS i) us),
            chk AS (SELECT k.doc_id, js.j,
                           4096 + js.j * (65536 + k.doc_id % 50000) AS off
                    FROM v k, LATERAL (SELECT unnest(range(k.c)) AS j) js),
            per AS (SELECT s.doc_id, s.source, COUNT(*) AS n_samples,
                           SUM(s.sz) AS bytes, MAX(s.sz) AS mx,
                           SUM(s.i * s.sz) AS mom,
                           SUM(s.chunk_j * s.sz) AS stsc_mom
                    FROM smp s GROUP BY s.doc_id, s.source),
            perc AS (SELECT doc_id, COUNT(*) AS n_chunks, SUM(off) AS off_sum
                     FROM chk GROUP BY doc_id),
            cx AS (SELECT v.doc_id,
                          CASE WHEN (v.doc_id // 3) % 5 < 3 THEN 1 ELSE 0 END AS present,
                          ((v.doc_id // 3) % 5) % 2 AS ver,
                          1 + (v.doc_id // 3) % (v.n - 1) AS a2,
                          v.doc_id % 300 AS o1, v.n
                   FROM v),
            ct AS (SELECT doc_id, present,
                          CASE WHEN ver = 0 THEN 200 + doc_id % 100
                               ELSE -(100 + doc_id % 100) END AS o2,
                          a2, o1, n
                   FROM cx),
            cagg AS (SELECT doc_id, present,
                            CASE WHEN present = 1
                                 THEN a2 * o1 + (n - a2) * o2 ELSE 0 END AS csum,
                            CASE WHEN present = 1
                                 THEN o1 * (a2 * (a2 - 1) // 2)
                                    + o2 * (n * (n - 1) // 2 - a2 * (a2 - 1) // 2)
                                 ELSE 0 END AS cmom
                     FROM ct)
         SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_video,
                CAST(SUM(p.n_samples) AS BIGINT) AS samples_total,
                CAST(SUM(p.bytes) AS BIGINT) AS bytes_total,
                CAST(MAX(p.mx) AS INT) AS max_sample,
                CAST(SUM(sp.a * sp.d1 + (sp.n - sp.a) * sp.d2) AS BIGINT) AS dur_units_total,
                CAST(SUM(v.ts) AS BIGINT) AS ts_sum,
                CAST(SUM(pc.n_chunks) AS BIGINT) AS chunks_total,
                CAST(SUM(pc.off_sum) AS BIGINT) AS chunk_off_total,
                CAST(SUM(p.mom) AS BIGINT) AS moment_total,
                CAST(SUM(p.stsc_mom) AS BIGINT) AS stsc_moment_total,
                CAST(SUM(ca.present) AS BIGINT) AS n_ctts,
                CAST(SUM(ca.csum) AS BIGINT) AS ctts_sum_total,
                CAST(SUM(ca.cmom) AS BIGINT) AS ctts_moment_total
         FROM per p
         JOIN sp USING (doc_id)
         JOIN v USING (doc_id)
         JOIN perc pc USING (doc_id)
         JOIN cagg ca USING (doc_id)
         GROUP BY p.source ORDER BY p.source""",
    // The staged-fMP4 model recomputed closed-form (m = doc_id/3, the
    // staged-residue index): F = 2 + m%3 fragments of 3 + (m+f)%4
    // samples; per-sample trun durations present iff (m+f) even, sizes
    // iff (m+2f)≡0 (3); tfhd duration override iff (m+f)≡0 (3), size
    // override iff (m+f)≡1; trex defaults 500+id%100 / 300+id%200.
    // Effective values follow trun>tfhd>trex; the global sample index
    // is a ROW_NUMBER window over (f,i); tfdt is the windowed prefix
    // sum of per-fragment durations; data_offset is the closed moof
    // size (16 mfhd + tfhd 16+4·overrides + tfdt 16/20 by version m%2
    // + trun 20+4·sc·present + traf/moof headers) + 8.
    "mm_mp4_fragments" ->
      """WITH v AS (SELECT doc_id, source, doc_id // 3 AS m,
                           CAST(2 + (doc_id // 3) % 3 AS BIGINT) AS nf,
                           CAST(24000 + doc_id % 1000 AS BIGINT) AS ts,
                           CAST(500 + doc_id % 100 AS BIGINT) AS dtrex,
                           CAST(300 + doc_id % 200 AS BIGINT) AS strex
                    FROM documents WHERE doc_id % 3 = 0),
            frag AS (SELECT v.doc_id, v.source, v.m, v.ts, v.dtrex, v.strex,
                            fs.f, 3 + (v.m + fs.f) % 4 AS sc,
                            ((v.m + fs.f) % 2 = 0) AS durp,
                            ((v.m + 2*fs.f) % 3 = 0) AS sizep,
                            ((v.m + fs.f) % 3 = 0) AS tdurp,
                            ((v.m + fs.f) % 3 = 1) AS tsizep,
                            600 + (v.doc_id + fs.f*7) % 100 AS dtfhd,
                            400 + (v.doc_id + fs.f*11) % 150 AS stfhd
                     FROM v, LATERAL (SELECT unnest(range(v.nf)) AS f) fs),
            smp AS (SELECT g.doc_id, g.source, g.f, us.i,
                           CASE WHEN g.sizep
                                THEN 100 + (g.doc_id*7 + g.f*13 + us.i*29) % 500
                                WHEN g.tsizep THEN g.stfhd ELSE g.strex END AS esz,
                           CASE WHEN g.durp
                                THEN 256 + (g.doc_id + g.f*5 + us.i*3) % 128
                                WHEN g.tdurp THEN g.dtfhd ELSE g.dtrex END AS edur
                    FROM frag g, LATERAL (SELECT unnest(range(g.sc)) AS i) us),
            smpg AS (SELECT doc_id, source, esz, edur,
                            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f, i) - 1 AS gi
                     FROM smp),
            perfrag AS (SELECT doc_id, f, SUM(edur) AS fdur
                        FROM smp GROUP BY doc_id, f),
            tfdt AS (SELECT doc_id,
                            COALESCE(SUM(fdur) OVER (PARTITION BY doc_id ORDER BY f
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS basetime
                     FROM perfrag),
            tfdts AS (SELECT doc_id, SUM(basetime) AS tfdt_sum FROM tfdt GROUP BY doc_id),
            doff AS (SELECT g.doc_id,
                            SUM(40 + (16 + CASE WHEN g.tdurp THEN 4 ELSE 0 END
                                         + CASE WHEN g.tsizep THEN 4 ELSE 0 END)
                                   + (CASE WHEN g.m % 2 = 0 THEN 16 ELSE 20 END)
                                   + (20 + 4*g.sc*((CASE WHEN g.durp THEN 1 ELSE 0 END)
                                                 + (CASE WHEN g.sizep THEN 1 ELSE 0 END)))) AS off_sum
                     FROM frag g GROUP BY g.doc_id),
            per AS (SELECT doc_id, source, COUNT(*) AS n_samples,
                           SUM(esz) AS bytes, SUM(edur) AS dur,
                           SUM(gi * esz) AS mom
                    FROM smpg GROUP BY doc_id, source)
         SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_video,
                CAST(SUM(v.nf) AS BIGINT) AS frags_total,
                CAST(SUM(v.nf * (v.nf + 1) // 2) AS BIGINT) AS seq_total,
                CAST(SUM(p.n_samples) AS BIGINT) AS samples_total,
                CAST(SUM(p.bytes) AS BIGINT) AS bytes_total,
                CAST(SUM(p.dur) AS BIGINT) AS dur_units_total,
                CAST(SUM(p.mom) AS BIGINT) AS moment_total,
                CAST(SUM(t.tfdt_sum) AS BIGINT) AS tfdt_total,
                CAST(SUM(o.off_sum) AS BIGINT) AS data_off_total,
                CAST(SUM(v.ts) AS BIGINT) AS ts_sum
         FROM per p
         JOIN v USING (doc_id)
         JOIN tfdts t USING (doc_id)
         JOIN doff o USING (doc_id)
         GROUP BY p.source ORDER BY p.source""",
    "mm_jpeg_coeffs" -> jpegCoeffsSql,
    // Identical SQL on purpose: the progressive re-encoding must be
    // result-invariant — only the entropy layout differs.
    "mm_jpeg_coeffs_progressive" -> jpegCoeffsSql,
    // The staged-MP3 model recomputed closed-form: F = 4 + id%6 VBR
    // frames, bitrate index 1 + (id + j·5) mod 14 into the MPEG-1
    // Layer III table, sample rate keyed on (id/3) mod 3 (staged ids
    // are the %3==1 class), frame length 144000·kbps DIV sr + padding,
    // tag length 130 + id mod 200, duration the 1152-samples-per-frame
    // floor arithmetic. r15 depth: ID3 version 3 + (id/3) mod 2, Xing
    // VBR header present iff ((id/3)/2) even — its frame is 64 kbps
    // unpadded — and the 100-entry TOC recomputed from windowed prefix
    // sums over [Xing frame] ++ audio frames (entry i = offset of frame
    // (i·F')//100 of F' total frames, scaled to 0..255 over the total).
    "mm_mp3_frames" ->
      s"""WITH v AS (SELECT doc_id, source,
                           CAST(4 + doc_id % 6 AS BIGINT) AS f,
                           CAST(([44100, 48000, 32000])[1 + (doc_id // 3) % 3] AS BIGINT) AS sr,
                           CAST(130 + doc_id % 200 AS BIGINT) AS taglen,
                           't' || CAST(doc_id AS VARCHAR) AS title
                    FROM documents WHERE doc_id % 3 = 1),
            x AS (SELECT doc_id, sr,
                         CAST(3 + (doc_id // 3) % 2 AS BIGINT) AS ver,
                         CASE WHEN ((doc_id // 3) // 2) % 2 = 0 THEN 1 ELSE 0 END AS hasx,
                         144000 * 64 // sr AS xlen
                  FROM v),
            fr AS (SELECT v.doc_id, v.sr, j.j,
                          ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320])
                            [CAST(1 + (v.doc_id + j.j * 5) % 14 AS INT)] AS kbps,
                          (v.doc_id + j.j) % 2 AS pad
                   FROM v, LATERAL (SELECT unnest(range(v.f)) AS j) j),
            per AS (SELECT doc_id, COUNT(*) AS nf,
                           SUM(144000 * kbps // sr + pad) AS bytes,
                           SUM(kbps) AS kbps_sum, SUM(pad) AS padded
                    FROM fr GROUP BY doc_id),
            allf AS (SELECT doc_id, CAST(0 AS BIGINT) AS k, xlen AS len
                     FROM x WHERE hasx = 1
                     UNION ALL
                     SELECT fr.doc_id, fr.j + 1 AS k,
                            144000 * fr.kbps // fr.sr + fr.pad AS len
                     FROM fr JOIN x USING (doc_id) WHERE x.hasx = 1),
            offs AS (SELECT doc_id, k, len,
                            COALESCE(SUM(len) OVER (PARTITION BY doc_id ORDER BY k
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off,
                            SUM(len) OVER (PARTITION BY doc_id) AS total,
                            COUNT(*) OVER (PARTITION BY doc_id) AS nall
                     FROM allf),
            tocidx AS (SELECT d.doc_id, (i.i * d.nall) // 100 AS k
                       FROM (SELECT DISTINCT doc_id, nall FROM offs) d,
                            LATERAL (SELECT unnest(range(100)) AS i) i),
            toc AS (SELECT t.doc_id, SUM((o.off * 256) // o.total) AS toc_sum
                    FROM tocidx t JOIN offs o ON t.doc_id = o.doc_id AND t.k = o.k
                    GROUP BY t.doc_id)
         SELECT v.source, CAST(COUNT(*) AS BIGINT) AS n_audio,
                CAST(SUM(p.nf) AS BIGINT) AS frames_total,
                CAST(SUM(p.bytes) AS BIGINT) AS bytes_total,
                CAST(SUM(p.kbps_sum) AS BIGINT) AS kbps_total,
                CAST(SUM(p.padded) AS BIGINT) AS padded_total,
                CAST(SUM(v.f * 1152 * 1000 // v.sr) AS BIGINT) AS dur_ms_total,
                CAST(SUM(v.sr) AS BIGINT) AS sr_sum,
                CAST(SUM(v.taglen) AS BIGINT) AS id3_total,
                CAST(SUM(${graft.functions.PortableHash.h60pSql("v.title")}) AS BIGINT) AS title_checksum,
                CAST(SUM(x.ver) AS BIGINT) AS ver_sum,
                CAST(SUM(x.hasx) AS BIGINT) AS n_vbr,
                CAST(SUM(COALESCE(tc.toc_sum, 0)) AS BIGINT) AS toc_total,
                CAST(SUM(CASE WHEN x.hasx = 1 THEN v.doc_id % 101 ELSE 0 END) AS BIGINT) AS quality_total
         FROM v JOIN per p USING (doc_id)
         JOIN x USING (doc_id)
         LEFT JOIN toc tc USING (doc_id)
         GROUP BY v.source ORDER BY v.source""",
    // The staged stss model recomputed closed-form: present iff
    // (id/3) even with stride k = 2 + (id/3)%3 → sync numbers 1 + j·k
    // (1-based, ceil(n/k) of them); absent files take the §8.6.2
    // default (every sample sync). Bytes re-derive the stsz size model
    // at the 0-based index snum-1.
    "mm_mp4_keyframes" ->
      """WITH v AS (SELECT doc_id, source,
                           CAST(5 + (doc_id % 7) * 3 AS BIGINT) AS n,
                           ((doc_id // 3) % 2 = 0) AS present,
                           CAST(2 + (doc_id // 3) % 3 AS BIGINT) AS k
                    FROM documents WHERE doc_id % 3 = 0),
            sync AS (SELECT v.doc_id, v.source, v.present,
                            CASE WHEN v.present THEN 1 + j.j * v.k
                                 ELSE 1 + j.j END AS snum
                     FROM v, LATERAL (SELECT unnest(range(
                            CASE WHEN v.present THEN (v.n + v.k - 1) // v.k
                                 ELSE v.n END)) AS j) j),
            per AS (SELECT doc_id, source,
                           MAX(CASE WHEN present THEN 1 ELSE 0 END) AS has,
                           COUNT(*) AS nsync, SUM(snum) AS ssum,
                           SUM(100 + (doc_id*13 + (snum-1)*31) % 900) AS sbytes
                    FROM sync GROUP BY doc_id, source)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_video,
                CAST(SUM(has) AS BIGINT) AS n_with_stss,
                CAST(SUM(nsync) AS BIGINT) AS sync_total,
                CAST(SUM(ssum) AS BIGINT) AS sync_sum_total,
                CAST(SUM(sbytes) AS BIGINT) AS sync_bytes_total
         FROM per GROUP BY source ORDER BY source""",
    // The PCM sample model re-windowed: 16-frame blocks, per-window
    // Σ s² over both channels, w·E_w moment over the window index.
    "mm_wav_energy" ->
      """WITH a AS (SELECT doc_id, source, CAST((doc_id % 50) + 10 AS BIGINT) AS n,
                           CAST(((doc_id // 4) % 2) + 1 AS BIGINT) AS ch
                    FROM documents WHERE doc_id % 4 = 1),
            s AS (SELECT a.doc_id, a.source, i.i,
                         ((a.doc_id*7 + i.i*31 + c.c*17) % 65521) - 32760 AS smp
                  FROM a,
                       LATERAL (SELECT unnest(range(a.n)) AS i) i,
                       LATERAL (SELECT unnest(range(a.ch)) AS c) c),
            win AS (SELECT doc_id, source, i // 16 AS w, SUM(smp*smp) AS e
                    FROM s GROUP BY doc_id, source, i // 16),
            per AS (SELECT doc_id, source, COUNT(*) AS nw, SUM(e) AS etot,
                           MAX(e) AS emax, SUM(w * e) AS emom
                    FROM win GROUP BY doc_id, source)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_audio,
                CAST(SUM(nw) AS BIGINT) AS windows_total,
                CAST(SUM(etot) AS BIGINT) AS energy_total,
                CAST(MAX(emax) AS BIGINT) AS max_window_energy,
                CAST(SUM(emom) AS BIGINT) AS moment_total
         FROM per GROUP BY source ORDER BY source""",
    // Frames × channels recomputed closed-form: ch = ((id/4) mod 2) + 1
    // (mono AND stereo both staged), sample(i, c) adds the c·17 term
    // that vanishes on channel 0; mom0/mom1 are the frame-position-
    // weighted per-channel moments that make interleave order fatal.
    // The IMA recurrence replayed in SQL: state (running sample sum,
    // predictor, step index) packed as ((sum+2^23)*65536 + (pred+32768))
    // *89 + idx into one BIGINT, folded over the closed-form nibble list
    // with the spec's bit-serial diff (step>>3 plus bit-conditional step
    // fractions — NOT the multiplicative (2m+1)·step/8 approximation,
    // which is not bit-equal) and both clamps. The header predictor is
    // the block's sample 0, exactly as the decoder counts it.
    "mm_wav_adpcm" -> {
      val steps = s"[${graft.multimodal.MediaPipeline.AdpcmStep.mkString(", ")}]"
      val adj = s"[${graft.multimodal.MediaPipeline.AdpcmIndexAdjust.mkString(", ")}]"
      val OFF = 8388608L // 2^23 >> max |sum| of 129 samples x 32768
      // State-extraction and transition fragments, interpolated so the
      // lambda is one expression (list_reduce's contract). The step and
      // index tables ride as per-row COLUMNS (st/aj, one cross-joined
      // constant row) captured by the lambda — inlining the 89-entry
      // literal at its four use sites instead re-materializes it per
      // element evaluation and measured 4.6× slower.
      val idxS = "(x % 89)"
      val predS = "(((x // 89) % 65536) - 32768)"
      val sumS = s"(((x // 89) // 65536) - $OFF)"
      val stepS = s"(st[$idxS + 1])"
      val diffS = s"(($stepS >> 3) + (CASE WHEN (y & 4) != 0 THEN $stepS ELSE 0 END) + " +
        s"(CASE WHEN (y & 2) != 0 THEN ($stepS >> 1) ELSE 0 END) + " +
        s"(CASE WHEN (y & 1) != 0 THEN ($stepS >> 2) ELSE 0 END))"
      val predRawS = s"($predS + (CASE WHEN (y & 8) != 0 THEN -$diffS ELSE $diffS END))"
      val pred2S = s"(LEAST(32767, GREATEST(-32768, $predRawS)))"
      val idx2S = s"(LEAST(88, GREATEST(0, $idxS + aj[(y & 7) + 1])))"
      val sum2S = s"($sumS + $pred2S)"
      s"""WITH a AS (SELECT doc_id, source, CAST(1 + doc_id % 3 AS BIGINT) AS nb
                     FROM documents WHERE doc_id % 2 = 0),
            blk AS (SELECT a.doc_id, a.source, b.b,
                           ((a.doc_id * 37 + b.b * 101) % 65536) - 32768 AS pred0,
                           (a.doc_id * 13 + b.b * 7) % 89 AS idx0,
                           list_transform(range(128),
                             i -> (a.doc_id * 7 + b.b * 11 + i * i * 3) % 16) AS nibs,
                           tb.st AS st, tb.aj AS aj
                    FROM a, LATERAL (SELECT unnest(range(a.nb)) AS b) b
                    CROSS JOIN (SELECT $steps AS st, $adj AS aj) tb),
            folded AS (SELECT doc_id, source, b,
                              list_reduce(
                                list_prepend(((pred0 + $OFF) * 65536 + (pred0 + 32768)) * 89 + idx0, nibs),
                                (x, y) -> (($sum2S + $OFF) * 65536 + ($pred2S + 32768)) * 89 + $idx2S) AS f
                       FROM blk),
            per AS (SELECT doc_id, source,
                           ((f // 89) // 65536) - $OFF AS sum_b,
                           ((f // 89) % 65536) - 32768 AS pred_b,
                           b
                    FROM folded)
          SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_audio,
                 CAST(COUNT(*) AS BIGINT) AS n_blocks,
                 CAST(COUNT(*) * 129 AS BIGINT) AS n_samples,
                 CAST(SUM(sum_b) AS BIGINT) AS s_sum,
                 CAST(SUM((b + 1) * pred_b) AS BIGINT) AS pred_moment
          FROM per GROUP BY source ORDER BY source"""
    },
    // Replays the closed-form FLAC sample model (flacPcmSample) — the
    // decoder owes EXACT samples because FLAC is lossless by spec.
    "mm_flac_pcm" ->
      """WITH a AS (SELECT doc_id, source, CAST(1 + doc_id % 2 AS BIGINT) AS ch
                    FROM documents WHERE doc_id % 3 = 0),
            s AS (SELECT a.doc_id, a.source, a.ch, f.f, c.c, n.n,
                         CASE ((a.doc_id + f.f + c.c) % 5)
                           WHEN 0 THEN ((a.doc_id*7 + f.f*3 + c.c*11) % 4001) - 2000
                           WHEN 1 THEN 2 * (((a.doc_id*5 + f.f*13 + c.c*7 + n.n*31) % 16000) - 8000)
                           WHEN 2 THEN ((a.doc_id*11 + f.f*17 + c.c*23 + n.n*n.n*3) % 2001) - 1000
                           WHEN 3 THEN ((a.doc_id + c.c) % 500) + n.n*2 + ((n.n + f.f) % 3)
                           ELSE ((a.doc_id*13 + f.f*7 + c.c*3) % 800) + n.n * (2 + a.doc_id % 3) + (n.n % 2)
                         END AS smp
                  FROM a,
                       LATERAL (SELECT unnest(range(3)) AS f) f,
                       LATERAL (SELECT unnest(range(a.ch)) AS c) c,
                       LATERAL (SELECT unnest(range(64)) AS n) n)
         SELECT source,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_audio,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_md5_ok,
                CAST(COUNT(DISTINCT CASE WHEN ch = 2 THEN doc_id END) AS BIGINT) AS n_stereo,
                CAST(COUNT(DISTINCT doc_id) * 3 AS BIGINT) AS n_frames,
                CAST(COUNT(*) AS BIGINT) AS total_samples,
                CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,
                CAST(SUM(smp*smp) AS BIGINT) AS sum_sq,
                CAST(MAX(smp) AS INT) AS max_s,
                CAST(MIN(smp) AS INT) AS min_s,
                CAST(SUM((c + 1) * (f * 64 + n + 1) * smp) AS BIGINT) AS moment_total
         FROM s GROUP BY source ORDER BY source""",

    // The channel-0 sample model (c=0 ⇒ the c·17 term vanishes) crossed
    // with the SAME literal twiddle table (cos16Sql), squares in
    // HUGEINT, floor-div on the non-negative power only.
    "mm_audio_dft" -> {
      def ct(e: String) = MediaPipeline.cos16Sql(e)
      def pe6(xk: String, yk: String) =
        s"CAST((CAST($xk AS HUGEINT)*$xk + CAST($yk AS HUGEINT)*$yk) // 1000000 AS BIGINT)"
      s"""WITH a AS (SELECT doc_id, source, CAST((doc_id % 50) + 10 AS BIGINT) AS n
                     FROM documents WHERE doc_id % 4 = 1),
            s AS (SELECT a.doc_id, a.source, i.i,
                         ((a.doc_id*7 + i.i*31) % 65521) - 32760 AS smp
                  FROM a, LATERAL (SELECT unnest(range(a.n)) AS i) i),
            b AS (SELECT doc_id, source, COUNT(*) AS n_frames,
                         SUM(smp * ${ct("(i) % 16")}) AS x1,
                         SUM(smp * ${ct("(i + 12) % 16")}) AS y1,
                         SUM(smp * ${ct("(2*i) % 16")}) AS x2,
                         SUM(smp * ${ct("(2*i + 12) % 16")}) AS y2,
                         SUM(smp * ${ct("(3*i) % 16")}) AS x3,
                         SUM(smp * ${ct("(3*i + 12) % 16")}) AS y3
                  FROM s GROUP BY 1, 2),
            p AS (SELECT doc_id, source, n_frames, x1, x2, x3,
                         ${pe6("x1", "y1")} AS p1,
                         ${pe6("x2", "y2")} AS p2,
                         ${pe6("x3", "y3")} AS p3
                  FROM b)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_audio,
                CAST(SUM(n_frames) AS BIGINT) AS total_frames,
                CAST(SUM(x1) AS BIGINT) AS sum_x1, CAST(SUM(p1) AS BIGINT) AS sum_p1,
                CAST(SUM(x2) AS BIGINT) AS sum_x2, CAST(SUM(p2) AS BIGINT) AS sum_p2,
                CAST(SUM(x3) AS BIGINT) AS sum_x3, CAST(SUM(p3) AS BIGINT) AS sum_p3,
                CAST(SUM(CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dom1,
                CAST(SUM(CASE WHEN NOT (p1 >= p2 AND p1 >= p3) AND p2 >= p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dom2,
                CAST(SUM(CASE WHEN NOT (p1 >= p2 AND p1 >= p3) AND NOT (p2 >= p3) THEN 1 ELSE 0 END) AS BIGINT) AS n_dom3
         FROM p GROUP BY source ORDER BY source"""
    },

    "mm_wav_pcm" ->
      """WITH a AS (SELECT doc_id, source, CAST((doc_id % 50) + 10 AS BIGINT) AS n,
                           CAST(((doc_id // 4) % 2) + 1 AS BIGINT) AS ch
                    FROM documents WHERE doc_id % 4 = 1),
            s AS (SELECT a.doc_id, a.source, a.ch, i.i, c.c,
                         ((a.doc_id*7 + i.i*31 + c.c*17) % 65521) - 32760 AS smp
                  FROM a,
                       LATERAL (SELECT unnest(range(a.n)) AS i) i,
                       LATERAL (SELECT unnest(range(a.ch)) AS c) c),
            per AS (SELECT doc_id, source, MIN(ch) AS ch, COUNT(*) AS n_samples,
                           SUM(ABS(smp)) AS sum_abs, SUM(smp*smp) AS sum_sq,
                           MAX(smp) AS max_s, MIN(smp) AS min_s,
                           SUM(CASE WHEN c = 0 THEN i * smp ELSE 0 END) AS mom0,
                           SUM(CASE WHEN c = 1 THEN i * smp ELSE 0 END) AS mom1
                    FROM s GROUP BY doc_id, source)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_audio,
                CAST(SUM(CASE WHEN ch = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_stereo,
                CAST(SUM(n_samples) AS BIGINT) AS total_samples,
                CAST(SUM(sum_abs) AS BIGINT) AS sum_abs,
                CAST(SUM(sum_sq) AS BIGINT) AS sum_sq,
                CAST(MAX(max_s) AS INT) AS max_s,
                CAST(MIN(min_s) AS INT) AS min_s,
                CAST(SUM(mom0) AS BIGINT) AS mom0_total,
                CAST(SUM(mom1) AS BIGINT) AS mom1_total
         FROM per GROUP BY source ORDER BY source"""
  )
}
